"""The streaming replays' fixed cost (queries/streaming_replay.py): the
slices are staged in one scan of the input, and checkpoint renames fork
no ``readlink`` (io._REQUIRED_CONFS names the FileSystem-based
checkpoint manager). A restart from a checkpoint that manager wrote
reads its state back."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.io import load_table
from ballista_extensions_spark.queries.streaming_replay import (
    _replay,
    _thirds,
    _write_ordered_slices,
)
from ballista_extensions_spark.streaming.ops import dedup_stream

_EVENTS = "event_id long, ts timestamp, user_id long, event_type string"


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )


def test_ordered_slices_one_scan(spark, sf_dir, tmp_path):
    """One file per slice, strictly increasing mtimes, the dedup
    replays' redelivery tagging equal to the union-of-filters slices
    ``[s0, s1 + s0, s2 + s1]``, and a schema-only file for an empty
    slice (slice 3 here: no row is tagged 3)."""
    e = _events(spark, sf_dir)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _write_ordered_slices(_thirds(e, "event_id", redeliver=True), 4, in_dir)

    names = sorted(os.listdir(in_dir))
    assert names == [f"slice{k:05d}.parquet" for k in range(4)]
    paths = [os.path.join(in_dir, n) for n in names]
    mtimes = [os.path.getmtime(p) for p in paths]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes

    s0, s1, s2 = (
        e.filter(F.pmod(F.col("event_id"), F.lit(3)) == k) for k in range(3)
    )
    want = [s0, s1.unionAll(s0), s2.unionAll(s1)]
    for p, w in zip(paths, want):
        got = spark.read.parquet(p)
        assert got.columns == e.columns
        assert _rows(got) == _rows(w)
    empty = spark.read.parquet(paths[3])
    assert empty.columns == e.columns and empty.count() == 0


def test_ordered_slices_reject_split_slice(spark, sf_dir, tmp_path):
    """A slice staged as more than one file cannot be one micro-batch."""
    e = _events(spark, sf_dir).limit(6)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        with pytest.raises(RuntimeError, match="needs exactly one"):
            _write_ordered_slices(_thirds(e, "event_id"), 3, in_dir)
    finally:
        spark.conf.set(key, old)


def test_dedup_restart_reads_checkpointed_state(spark, sf_dir, tmp_path):
    """Stop after slices 0-1, add slice 2, restart from the same
    checkpoint: the sink equals an uninterrupted run's. Slice 2 re-ships
    slice 1's rows, so only state deltas written before the restart and
    read back after it keep those rows out of batch 2."""
    e = _events(spark, sf_dir)
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    _write_ordered_slices(_thirds(e, "event_id", redeliver=True), 3, staged)
    slices = sorted(os.listdir(staged))

    def run(root, names):
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir, exist_ok=True)
        for n in names:  # copy2 keeps the ordered mtimes
            shutil.copy2(os.path.join(staged, n), in_dir)
        return _replay(
            spark,
            in_dir,
            _EVENTS,
            os.path.join(root, "out"),
            lambda s: dedup_stream(s, watermark="3650 days"),
        )

    whole = _rows(run(str(tmp_path / "whole"), slices))
    restarted = str(tmp_path / "restarted")
    run(restarted, slices[:2])
    assert _rows(run(restarted, slices[2:])) == whole
    state = os.path.join(restarted, "ckpt", "state")
    deltas = {f for _, _, fs in os.walk(state) for f in fs if f.endswith(".delta")}
    assert {"2.delta", "3.delta"} <= deltas


_FORKS = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from ballista_extensions_spark.queries import registry, streaming_replay
from ballista_extensions_spark.session import get_session

streaming_replay._STAGE_ROOT = sys.argv[3]
spark = get_session("fork-count")
for log in sys.argv[4:]:  # count only the replays' forks
    open(log, "w").close()
for name in ("streaming_dedup_replay", "streaming_sigstore_replay"):
    registry.QUERIES[name](spark, sys.argv[2]).collect()
spark.stop()
print("DONE")
"""


def test_replays_fork_no_readlink(sf_dir, tmp_path):
    """With a logging ``readlink`` first on PATH, two replays (a Spark
    state store and a persisted store) fork it zero times. ``chmod``
    forks (RawLocalFileSystem.setPermission without libhadoop) are
    reported, not gated."""
    from ballista_extensions_spark.queries.registry import REPO_ROOT

    shims = tmp_path / "bin"
    shims.mkdir()
    logs = {}
    for tool in ("readlink", "chmod"):
        real = shutil.which(tool)
        assert real, tool
        logs[tool] = tmp_path / f"{tool}.log"
        shim = shims / tool
        shim.write_text(
            f'#!/bin/sh\necho "$*" >> {logs[tool]}\nexec {real} "$@"\n'
        )
        shim.chmod(0o755)
    env = {
        **os.environ,
        "PATH": f"{shims}{os.pathsep}{os.environ.get('PATH', '')}",
        "SPARK_GRAFT_CPUS": "2",
    }
    out = subprocess.run(
        [sys.executable, "-c", _FORKS, REPO_ROOT, sf_dir,
         str(tmp_path / "stage"), *map(str, logs.values())],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert "DONE" in out.stdout, out.stderr[-3000:]
    forks = {t: p.read_text().splitlines() for t, p in logs.items()}
    assert forks["readlink"] == [], json.dumps(
        {"readlink": len(forks["readlink"]), "chmod": len(forks["chmod"]),
         "first": forks["readlink"][:3]}
    )
    print(f"chmod forks across both replays: {len(forks['chmod'])}")
