"""Tests: delta reads, stratified sampling, HLL sketch bounds, and the
public ``sample`` surface: the fluent DataFrame extension."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.errors import PlanError
from ballista_extensions_spark.io import load_table
from ballista_extensions_spark.operators import (
    install_dataframe_extensions,
    sample,
    sample_op,
)
from ballista_extensions_spark.operators.sample import sample_by
from ballista_extensions_spark.sources import read_delta
from ballista_extensions_spark.sources.delta import delta_supported


def _write_delta_commit(log_dir, version, actions):
    import json
    import os

    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")


_DELTA_SCHEMA_JSON = {
    "type": "struct",
    "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "val", "type": "string", "nullable": True, "metadata": {}},
    ],
}


def _make_delta_table(spark, root):
    """Hand-write a two-commit Delta table per the public protocol:
    commit 0 adds part-0 (ids 0..4) and part-1 (ids 5..9); commit 1
    REMOVES part-1 and adds part-2 (ids 10..14)."""
    import json
    import os

    parts = {
        "part-0.parquet": [(i, f"v{i}") for i in range(5)],
        "part-1.parquet": [(i, f"v{i}") for i in range(5, 10)],
        "part-2.parquet": [(i, f"v{i}") for i in range(10, 15)],
    }
    for name, rows in parts.items():
        spark.createDataFrame(rows, "id long, val string").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(root, "_stage", name))
        # move the single part file to the delta data path
        stage = os.path.join(root, "_stage", name)
        [pf] = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.replace(os.path.join(stage, pf), os.path.join(root, name))
    log = os.path.join(root, "_delta_log")
    meta = {
        "metaData": {
            "id": "test-table",
            "schemaString": json.dumps(_DELTA_SCHEMA_JSON),
            "partitionColumns": [],
            "format": {"provider": "parquet", "options": {}},
            "configuration": {},
        }
    }
    _write_delta_commit(
        log,
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            meta,
            {"add": {"path": "part-0.parquet", "dataChange": True}},
            {"add": {"path": "part-1.parquet", "dataChange": True}},
        ],
    )
    _write_delta_commit(
        log,
        1,
        [
            {"remove": {"path": "part-1.parquet", "dataChange": True}},
            {"add": {"path": "part-2.parquet", "dataChange": True}},
        ],
    )


def test_delta_log_reader_roundtrip(spark, tmp_path_factory):
    """The minimal log reader replays add/remove actions: latest version
    sees parts 0+2 (part-1 was removed), versionAsOf 0 time-travels to
    parts 0+1, and a missing version raises."""
    root = str(tmp_path_factory.mktemp("delta") / "tbl")
    _make_delta_table(spark, root)
    latest = read_delta(spark, root)
    assert {r.id for r in latest.collect()} == set(range(5)) | set(
        range(10, 15)
    )
    assert latest.columns == ["id", "val"]
    v0 = read_delta(spark, root, version=0)
    assert {r.id for r in v0.collect()} == set(range(10))
    with pytest.raises(ValueError, match="version 7 does not exist"):
        read_delta(spark, root, version=7)


def test_delta_log_reader_partitioned(spark, tmp_path_factory):
    """Partition columns live in add.partitionValues, not the files —
    the reader must reconstruct them with the declared type."""
    import json
    import os

    root = str(tmp_path_factory.mktemp("delta") / "ptbl")
    os.makedirs(os.path.join(root, "k=1"), exist_ok=True)
    os.makedirs(os.path.join(root, "k=2"), exist_ok=True)
    for k in (1, 2):
        stage = os.path.join(root, "_stage", str(k))
        spark.createDataFrame(
            [(k * 10 + i, f"v{i}") for i in range(3)], "id long, val string"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        [pf] = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        os.replace(
            os.path.join(stage, pf), os.path.join(root, f"k={k}", "part.parquet")
        )
    schema = {
        "type": "struct",
        "fields": _DELTA_SCHEMA_JSON["fields"]
        + [{"name": "k", "type": "integer", "nullable": True, "metadata": {}}],
    }
    _write_delta_commit(
        os.path.join(root, "_delta_log"),
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "ptbl",
                    "schemaString": json.dumps(schema),
                    "partitionColumns": ["k"],
                    "format": {"provider": "parquet", "options": {}},
                    "configuration": {},
                }
            },
            {
                "add": {
                    "path": "k=1/part.parquet",
                    "partitionValues": {"k": "1"},
                    "dataChange": True,
                }
            },
            {
                "add": {
                    "path": "k=2/part.parquet",
                    "partitionValues": {"k": "2"},
                    "dataChange": True,
                }
            },
        ],
    )
    df = read_delta(spark, root)
    assert df.columns == ["id", "val", "k"]
    got = {(r.id, r.k) for r in df.collect()}
    assert got == {(10 + i, 1) for i in range(3)} | {
        (20 + i, 2) for i in range(3)
    }
    assert dict(df.dtypes)["k"] == "int"


def test_delta_log_reader_rejects_v2_features(spark, tmp_path_factory):
    """minReaderVersion > 1 (column mapping / deletion vectors) must
    fail loudly, never silently mis-read."""
    import json

    root = str(tmp_path_factory.mktemp("delta") / "v2tbl")
    _write_delta_commit(
        f"{root}/_delta_log",
        0,
        [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "x",
                    "schemaString": json.dumps(_DELTA_SCHEMA_JSON),
                    "partitionColumns": [],
                }
            },
        ],
    )
    if delta_supported(spark):
        pytest.skip("delta available in this deployment")
    with pytest.raises(NotImplementedError, match="minReaderVersion"):
        read_delta(spark, root)


def test_delta_log_reader_checkpoint(spark, tmp_path_factory):
    """Replay starts from the newest parquet checkpoint <= target: the
    pre-checkpoint JSON commits can even be absent (compacted away),
    and later commits apply on top of the checkpoint state."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path_factory.mktemp("delta") / "ctbl")
    _make_delta_table(spark, root)
    log = os.path.join(root, "_delta_log")
    # checkpoint at version 0 holds commit 0's state (parts 0+1) in the
    # protocol's columnar action layout; then delete commit 0's json to
    # prove the reader starts from the checkpoint
    ckpt_schema = pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [("path", pa.string()), ("dataChange", pa.bool_())]
                ),
            ),
        ]
    )
    ckpt = pa.Table.from_pylist(
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "test-table",
                    "schemaString": json.dumps(_DELTA_SCHEMA_JSON),
                    "partitionColumns": [],
                }
            },
            {"add": {"path": "part-0.parquet", "dataChange": True}},
            {"add": {"path": "part-1.parquet", "dataChange": True}},
        ],
        schema=ckpt_schema,
    )
    pq.write_table(ckpt, os.path.join(log, f"{0:020d}.checkpoint.parquet"))
    os.remove(os.path.join(log, f"{0:020d}.json"))
    got = {r.id for r in read_delta(spark, root).collect()}
    assert got == set(range(5)) | set(range(10, 15))
    assert {r.id for r in read_delta(spark, root, version=0).collect()} == set(
        range(10)
    )


def test_delta_not_a_table_raises(spark):
    if delta_supported(spark):
        pytest.skip("delta available in this deployment")
    with pytest.raises(FileNotFoundError, match="_delta_log"):
        read_delta(spark, "/tmp/never-a-delta-table")


class TestSampleBy:
    def test_validation(self, spark, sf_dir):
        c = load_table(spark, sf_dir, "customer")
        with pytest.raises(PlanError, match="at least one"):
            sample_by(c, "c_mktsegment", {})
        with pytest.raises(PlanError, match="must be in"):
            sample_by(c, "c_mktsegment", {"BUILDING": 1.2})
        with pytest.raises(PlanError, match="negative"):
            sample_by(c, "c_mktsegment", {"BUILDING": 0.5}, seed=-3)

    def test_strata_fractions(self, spark, sf_dir):
        c = load_table(spark, sf_dir, "customer")
        frac = {"BUILDING": 0.5, "MACHINERY": 0.2}
        got = sample_by(c, "c_mktsegment", frac, seed=1)
        counts = {
            r.c_mktsegment: r.n
            for r in got.groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()
        }
        base = {
            r.c_mktsegment: r.n
            for r in c.groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()
        }
        # unlisted strata are dropped entirely
        assert set(counts) <= set(frac)
        for k, f in frac.items():
            n, kept = base[k], counts.get(k, 0)
            sigma = math.sqrt(n * f * (1 - f))
            assert abs(kept - n * f) < 6 * sigma + 1

    def test_deterministic(self, spark, sf_dir):
        c = load_table(spark, sf_dir, "customer")
        a = sorted(r.c_custkey for r in sample_by(c, "c_mktsegment", {"BUILDING": 0.4}, 9).collect())
        b = sorted(r.c_custkey for r in sample_by(c, "c_mktsegment", {"BUILDING": 0.4}, 9).collect())
        assert a == b


def test_sketch_error_bound(spark, sf_dir):
    from ballista_extensions_spark.queries import get_queries

    rows = get_queries()["sketch_distinct_users"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        rel_err = abs(r.approx_users - r.exact_users) / max(r.exact_users, 1)
        assert rel_err < 0.1, f"{r.event_type}: {rel_err}"


def test_fluent_extension_injection(spark, sf_dir):
    """The reference's DataFrameExt trait pattern as monkey-patched
    methods (SURVEY.md §2 Tier D), imported from the package's public
    ``operators`` surface: ``df.bx_sample`` and ``df.transform(sample_op)``
    keep exactly the rows ``sample`` keeps and share its validation."""
    install_dataframe_extensions()
    l = load_table(spark, sf_dir, "lineitem")
    assert l.bx_sample(1.0).count() == l.count()
    with pytest.raises(PlanError):
        l.bx_sample(1.5)
    got = l.bx_sample(0.3, 5).count()
    assert got == l.bx_sample(0.3, 5).count()
    want = sorted(sample(l, 0.5, 7).collect())
    assert sorted(l.bx_sample(0.5, 7).collect()) == want
    assert sorted(l.transform(sample_op(0.5, 7)).collect()) == want
    assert 0 < len(want) < l.count()
    with pytest.raises(PlanError, match="greater than 1"):
        l.bx_sample(fraction=1.5)


def test_table_cache_invalidation(spark, sf_dir):
    """invalidate_table_cache drops scan handles so in-place rewrites
    are picked up on the next load (io.py documents the immutable-input
    assumption; this is the escape hatch)."""
    from ballista_extensions_spark import io as bio

    a = bio.load_table(spark, sf_dir, "nation")
    assert bio.load_table(spark, sf_dir, "nation") is a
    bio.invalidate_table_cache(sf_dir)
    b = bio.load_table(spark, sf_dir, "nation")
    assert b is not a
    bio.invalidate_table_cache()
    assert bio.load_table(spark, sf_dir, "nation") is not b
