"""Source/sink round-trips: CSV dialects, NDJSON, parquet partitioning,
Arrow IPC, compression codecs; Avro gated on classpath presence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.sources import (
    avro_supported,
    read_any,
    write_any,
)


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.createDataFrame(
        [(1, "a,comma", 1.5), (2, 'b"quote', -2.0), (3, None, 0.0)],
        ["id", "s", "v"],
    )


def _roundtrip(spark, df, fmt, path, **kw):
    write_any(df, fmt, path, **kw)
    back = read_any(spark, fmt, path)
    assert back.count() == df.count()
    return back


def test_csv_roundtrip_dialect(spark, small_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("csv") / "data")
    back = _roundtrip(spark, small_df, "csv", path)
    got = {r.id: r.s for r in back.collect()}
    assert got[1] == "a,comma"
    assert got[2] == 'b"quote'


def test_csv_custom_delimiter(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("csv2")
    p = d / "t.csv"
    p.write_text("id|name\n1|x\n2|y\n# trailer\n")
    df = read_any(spark, "csv", str(p), delimiter="|", comment="#")
    rows = {r.id: r.name for r in df.collect()}
    assert rows == {1: "x", 2: "y"}


def test_ndjson_roundtrip(spark, small_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("json") / "data")
    back = _roundtrip(spark, small_df, "json", path)
    assert set(back.columns) == {"id", "s", "v"}


def test_parquet_partitioned_pruning(spark, sf_dir, tmp_path_factory):
    from ballista_extensions_spark.io import load_table

    path = str(tmp_path_factory.mktemp("pq") / "orders")
    o = load_table(spark, sf_dir, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    write_any(o, "parquet", path, partition_by=["status"])
    back = read_any(spark, "parquet", path).filter(F.col("status") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the status predicate must land in PartitionFilters
    assert "PartitionFilters: [" in plan
    assert back.count() > 0


@pytest.mark.parametrize("codec", ["gzip", "bzip2", "none"])
def test_csv_compression(spark, small_df, tmp_path_factory, codec):
    """Text-codec coverage via Spark's own writers (proto GZIP/BZIP2);
    XZ goes through the executor-side lzma path (tests below), ZSTD
    through parquet's codec."""
    path = str(tmp_path_factory.mktemp(f"c_{codec}") / "data")
    write_any(small_df, "csv", path, compression=codec)
    assert read_any(spark, "csv", path).count() == 3


def test_parquet_zstd(spark, small_df, tmp_path_factory):
    """ZSTD via parquet's own codec (independent of Hadoop natives)."""
    path = str(tmp_path_factory.mktemp("c_pq_zstd") / "data")
    write_any(small_df, "parquet", path, compression="zstd")
    assert read_any(spark, "parquet", path).count() == 3


def test_arrow_ipc_roundtrip(spark, small_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("arrow") / "t.arrow")
    write_any(small_df.fillna({"s": ""}), "arrow", path)
    back = read_any(spark, "arrow", path)
    assert back.count() == 3
    assert set(back.columns) == {"id", "s", "v"}


def test_arrow_ipc_multipartition(spark, tmp_path_factory):
    """Executor-side IPC write: a multi-partition frame produces one part
    file per non-empty partition (no driver materialization) and
    round-trips values exactly; empty partitions write nothing."""
    from ballista_extensions_spark.sources.formats import (
        read_arrow_ipc,
        write_arrow_ipc,
    )

    path = str(tmp_path_factory.mktemp("arrow_mp") / "t_dir")
    df = spark.range(0, 1000).repartition(7).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS v", "CONCAT('r', id) AS s"
    )
    n_files = write_arrow_ipc(df, path)
    assert 1 <= n_files <= 7
    back = read_arrow_ipc(spark, path)
    assert back.rdd.getNumPartitions() >= 1
    assert sorted(r.id for r in back.collect()) == list(range(1000))
    assert back.schema == df.schema


def test_arrow_ipc_empty_frame(spark, tmp_path_factory):
    """Zero-row frames round-trip through the _schema.arrow sidecar."""
    from ballista_extensions_spark.sources.formats import (
        read_arrow_ipc,
        write_arrow_ipc,
    )

    path = str(tmp_path_factory.mktemp("arrow_empty") / "t_dir")
    df = spark.range(0, 10).filter("id < 0").selectExpr("id", "CAST(id AS STRING) AS s")
    write_arrow_ipc(df, path)
    back = read_arrow_ipc(spark, path)
    assert back.count() == 0
    assert back.schema == df.schema


def test_avro_roundtrip(spark, small_df, tmp_path_factory):
    """Avro via spark-avro when on the classpath, else via the
    spec-conformant pure-Python OCF codec — either way the format is
    actually exercised, nulls included."""
    path = str(tmp_path_factory.mktemp("avro") / "data")
    write_any(small_df, "avro", path)
    back = read_any(spark, "avro", path)
    assert sorted(
        (r["id"], r["s"], r["v"]) for r in back.collect()
    ) == sorted((r["id"], r["s"], r["v"]) for r in small_df.collect())


def test_avro_py_golden_bytes(tmp_path_factory):
    """Reader validated against hand-assembled spec bytes (zigzag varint
    + length-prefixed strings + null-union indices), not just against our
    own writer."""
    import json as _json

    from ballista_extensions_spark.sources import avro_py as A

    schema = {
        "type": "record",
        "name": "topLevelRecord",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    meta = _json.dumps(schema).encode()
    sync = b"0123456789abcdef"
    # zigzag: 1 -> 0x02, -2 -> 0x03, 150 -> 0xAC 0x02
    body = bytes([0x02]) + bytes([0x02]) + bytes([0x02]) + b"x"  # (1, "x")
    body += bytes([0x03]) + bytes([0x00])  # (-2, null)
    block = bytes([0x04]) + A._zigzag_encode(len(body)) + body + sync
    header = (
        b"Obj\x01"
        + bytes([0x04])  # 2 metadata entries
        + A._zigzag_encode(len(b"avro.schema")) + b"avro.schema"
        + A._zigzag_encode(len(meta)) + meta
        + A._zigzag_encode(len(b"avro.codec")) + b"avro.codec"
        + A._zigzag_encode(len(b"null")) + b"null"
        + bytes([0x00])
        + sync
    )
    p = str(tmp_path_factory.mktemp("avro_golden") / "g.avro")
    with open(p, "wb") as f:
        f.write(header + block)
    gen = A.read_container(p)
    assert next(gen)["fields"][0]["name"] == "a"
    assert list(gen) == [{"a": 1, "s": "x"}, {"a": -2, "s": None}]


def test_avro_py_types_roundtrip(spark, tmp_path_factory):
    """Pure-Python path: all supported types (incl. timestamp/date
    logical types, arrays, deflate codec) survive a write/read cycle."""
    import datetime as dt

    from ballista_extensions_spark.sources.avro_py import read_avro, write_avro

    rows = [
        (1, 3.5, True, b"\x01\x02", dt.datetime(2024, 5, 1, 12, 30, 0),
         dt.date(2024, 5, 1), [1, 2, 3], "héllo"),
        (-(2**40), None, False, None, None, None, [], None),
    ]
    schema = (
        "a long, d double, b boolean, bin binary, ts timestamp, "
        "dt date, arr array<long>, s string"
    )
    df = spark.createDataFrame(rows, schema).repartition(3)
    path = str(tmp_path_factory.mktemp("avro_types") / "t")
    write_avro(df, path, codec="deflate")
    back = read_avro(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_bad_compression_rejected(small_df):
    with pytest.raises(ValueError, match="compression"):
        write_any(small_df, "csv", "/tmp/never", compression="snappy7")


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unknown format"):
        read_any(spark, "orc2", "/tmp/never")


def test_xz_csv_roundtrip(spark, small_df, tmp_path_factory):
    """XZ via the executor-side lzma path (no Hadoop natives needed):
    per-partition .xz part files, read back one task per file."""
    path = str(tmp_path_factory.mktemp("c_xz") / "data")
    write_any(small_df, "csv", path, compression="xz")
    import glob

    assert glob.glob(path + "/*.csv.xz")
    back = read_any(spark, "csv", path)
    assert back.count() == 3
    assert set(back.columns) == set(small_df.columns)


def test_xz_json_roundtrip(spark, small_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("j_xz") / "data")
    write_any(small_df, "json", path, compression="xz")
    back = read_any(spark, "json", path)
    assert back.count() == 3
    assert sorted(r["id"] for r in back.collect()) == sorted(
        r["id"] for r in small_df.collect()
    )


def test_parquet_schema_evolution_merge(spark, tmp_path_factory):
    """Schema evolution across parquet parts: mergeSchema unifies old
    (2-col) and new (3-col) writers, null-filling the missing column —
    the append-only table evolution every long-lived pipeline hits."""
    base = str(tmp_path_factory.mktemp("evolve") / "docs")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], ["doc_id", "text"]
    ).write.parquet(base + "/batch=1")
    spark.createDataFrame(
        [(3, "gamma", "en")], ["doc_id", "text", "lang"]
    ).write.parquet(base + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        base + "/batch=1", base + "/batch=2"
    )
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    rows = {r.doc_id: r for r in merged.collect()}
    assert rows[1].lang is None and rows[3].lang == "en"


def test_json_corrupt_record_modes(spark, tmp_path_factory):
    """Malformed-input policy for NDJSON ingestion: PERMISSIVE keeps the
    broken line in _corrupt_record, DROPMALFORMED silently drops it,
    FAILFAST raises — the three contracts an ingest job chooses from."""
    import pytest as _pt
    from pyspark.sql import types as T

    d = tmp_path_factory.mktemp("corrupt")
    p = str(d / "data.json")
    with open(p, "w") as f:
        f.write('{"doc_id": 1, "text": "good"}\n')
        f.write("{NOT JSON AT ALL\n")
        f.write('{"doc_id": 2, "text": "also good"}\n')
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    permissive = spark.read.schema(schema).json(p)
    bad = permissive.filter(F.col("_corrupt_record").isNotNull()).collect()
    assert len(bad) == 1 and "NOT JSON" in bad[0]._corrupt_record
    assert permissive.count() == 3
    dropped = (
        spark.read.schema(
            T.StructType(schema.fields[:2])
        ).option("mode", "DROPMALFORMED").json(p)
    )
    assert dropped.count() == 2
    with _pt.raises(Exception, match="(?i)malformed|FAILFAST"):
        spark.read.schema(
            T.StructType(schema.fields[:2])
        ).option("mode", "FAILFAST").json(p).collect()
