"""The streaming replays' fixed cost (queries/streaming_replay.py): the
slices are staged by one single-task job over the input, state
partitions are sized from the staged files' footers, checkpoint renames
fork no ``readlink`` (io._REQUIRED_CONFS names the FileSystem-based
checkpoint manager) and no written file forks ``chmod`` (the session's
``file:`` FileSystem). A restart from a checkpoint that manager wrote
reads its state back, and a restart of the media replay's
first-occurrence sink reads its own committed output back."""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ballista_extensions_spark.io import load_table
from ballista_extensions_spark.operators.multimodal import docs_png_dhash
from ballista_extensions_spark.queries import registry, streaming_replay
from ballista_extensions_spark.queries.streaming_replay import (
    _drain,
    _replay,
    _thirds,
    _write_ordered_slices,
)
from ballista_extensions_spark.streaming.ops import dedup_stream
from ballista_extensions_spark.streaming.sinks import first_occurrence_sink

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
    ``[s0, s1 + s0, s2 + s1]``, a schema-only file for an empty slice
    (slice 3 here: no row is tagged 3), and footer row counts equal to
    the slices' read-back counts."""
    e = _events(spark, sf_dir)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    rows = _write_ordered_slices(
        _thirds(e, "event_id", redeliver=True), 4, in_dir
    )

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
    assert rows == [spark.read.parquet(p).count() for p in paths]
    assert rows[3] == 0


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


def _restart_matches_whole(tmp_path, tagged, replay):
    """Stage ``tagged``'s three slices; run ``replay(root, in_dir)`` over
    all of them in one root, and over slices 0-1 then, restarted from
    the same checkpoint, slice 2 in another. Assert both leave the same
    rows; return the restarted root and those rows."""
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    _write_ordered_slices(tagged, 3, staged)
    slices = sorted(os.listdir(staged))

    def run(root, names):
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir, exist_ok=True)
        for n in names:  # copy2 keeps the ordered mtimes
            shutil.copy2(os.path.join(staged, n), in_dir)
        return _rows(replay(root, in_dir))

    whole = run(str(tmp_path / "whole"), slices)
    restarted = str(tmp_path / "restarted")
    run(restarted, slices[:2])
    assert run(restarted, slices[2:]) == whole
    return restarted, whole


def test_dedup_restart_reads_checkpointed_state(spark, sf_dir, tmp_path):
    """Stop after slices 0-1, add slice 2, restart from the same
    checkpoint: the sink equals an uninterrupted run's. Slice 2 re-ships
    slice 1's rows, so only state deltas written before the restart and
    read back after it keep those rows out of batch 2."""
    restarted, _ = _restart_matches_whole(
        tmp_path,
        _thirds(_events(spark, sf_dir), "event_id", redeliver=True),
        lambda root, in_dir: _replay(
            spark,
            in_dir,
            _EVENTS,
            os.path.join(root, "out"),
            lambda s: dedup_stream(s, watermark="3650 days"),
        ),
    )
    state = os.path.join(restarted, "ckpt", "state")
    deltas = {f for _, _, fs in os.walk(state) for f in fs if f.endswith(".delta")}
    assert {"2.delta", "3.delta"} <= deltas


def test_media_restart_reads_committed_output(spark, sf_dir, tmp_path):
    """The media replay's chain (fingerprints into first_occurrence_sink)
    stopped after slices 0-1 and restarted from the same checkpoint with
    slice 2 leaves the sink an uninterrupted run leaves. Slice 2
    re-ships slice 1's rows, so only the output committed before the
    restart keeps their fingerprints out of batch 2; no state store is
    written."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def replay(root, in_dir):
        out = os.path.join(root, "out")
        got = _drain(
            spark,
            in_dir,
            "doc_id long, text string",
            first_occurrence_sink(out, "dhash", "id"),
            lambda s: docs_png_dhash(s.repartition("doc_id")),
        )
        return spark.read.schema(got).parquet(out)

    restarted, whole = _restart_matches_whole(
        tmp_path, _thirds(docs, "doc_id", redeliver=True), replay
    )
    assert {r[2] for r in whole} == {0, 1, 2}
    assert not os.path.exists(os.path.join(restarted, "ckpt", "state"))


class _RunIds(StreamingQueryListener):
    """Records the run id of every streaming query started while it is
    attached; a micro-batch's jobs carry that run id as their group."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def test_dedup_replay_job_budget(spark, sf_dir, tmp_path, monkeypatch):
    """Calling streaming_dedup_replay submits four jobs: one staging job
    of one single-task stage (no exchange), then one job per
    micro-batch. No job counts the events to size the state."""
    monkeypatch.setattr(streaming_replay, "_STAGE_ROOT", str(tmp_path))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    runs = _RunIds()
    spark.streams.addListener(runs)
    sc.setJobGroup("dedup-replay-jobs", "streaming_dedup_replay job budget")
    try:
        registry.QUERIES["streaming_dedup_replay"](spark, sf_dir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # jobs post async
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.streams.removeListener(runs)

    def stages(job):
        return [tracker.getStageInfo(s) for s in tracker.getJobInfo(job).stageIds]

    staging = list(tracker.getJobIdsForGroup("dedup-replay-jobs"))
    assert len(staging) == 1, staging
    [stage] = stages(staging[0])
    assert stage.numTasks == 1, stage
    assert len(runs.run_ids) == 1, runs.run_ids
    batches = list(tracker.getJobIdsForGroup(runs.run_ids[0]))
    assert len(batches) == 3, batches
    names = [s.name for j in staging + batches for s in stages(j)]
    assert not [n for n in names if n.startswith("count")], names


class _Staged(Exception):
    """Stops a replay once its slices are staged."""


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_state_parts_from_footers(spark, sf_dir, sf, tmp_path, monkeypatch):
    """The dedup and heavy_hitters replays size their state from the
    staged slices' footer counts; at parallelism 2, 4 and 32
    that gives the partition counts the former count()-derived sizing
    gave (its formulas are the reference here)."""
    d = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), sf)
    if not os.path.isdir(d):
        pytest.skip(f"no {sf} test data beside {sf_dir}")
    n_ev = load_table(spark, d, "events").count()
    batch_ev = math.ceil(2 * n_ev / 3)
    # (keys, rows, python_op) as sized from count() before footer sizing
    reference = {
        "streaming_dedup_replay": (batch_ev, batch_ev, False),
        "streaming_heavy_hitters_replay": (16, math.ceil(n_ev / 3), True),
    }
    state_parts = streaming_replay._state_parts
    calls = []

    def record(*args, **kwargs):
        calls.append((args[1:], kwargs))
        return state_parts(*args, **kwargs)

    def stop(*args, **kwargs):
        raise _Staged

    monkeypatch.setattr(streaming_replay, "_STAGE_ROOT", str(tmp_path))
    monkeypatch.setattr(streaming_replay, "_state_parts", record)
    monkeypatch.setattr(streaming_replay, "_replay", stop)
    for name, (keys, rows, python_op) in reference.items():
        calls.clear()
        with pytest.raises(_Staged):
            registry.QUERIES[name](spark, d)
        [(args, kwargs)] = calls
        for dp in (2, 4, 32):
            monkeypatch.setattr(
                streaming_replay, "default_parallelism", lambda _s, dp=dp: dp
            )
            got = state_parts(spark, *args, **kwargs)
            want = state_parts(spark, keys, rows=rows, python_op=python_op)
            assert got == want, (name, sf, dp, args, kwargs)


_FORKS = r"""
import os, sys
sys.path.insert(0, sys.argv[1])
from ballista_extensions_spark.io import ensure_engine_confs
from ballista_extensions_spark.queries import registry, streaming_replay
from ballista_extensions_spark.session import get_session

streaming_replay._STAGE_ROOT = sys.argv[3]
spark = get_session("fork-count")
# once per session, the driver's and the executor's fetch of the shipped
# package zip each chmod it a+x (FileUtil.chmod, no FileSystem involved):
# ship it and run a task before counting
ensure_engine_confs(spark)
spark.range(1).count()
for log in sys.argv[4:]:  # count only the replays' forks
    open(log, "w").close()
for name in ("streaming_dedup_replay", "streaming_sigstore_replay"):
    registry.QUERIES[name](spark, sys.argv[2]).collect()
spark.stop()
print("DONE")
"""


def test_replays_fork_no_readlink(sf_dir, tmp_path):
    """With logging ``readlink`` and ``chmod`` shims first on PATH, two
    replays (a Spark state store and a persisted store) fork neither.
    ``readlink`` stays out through the FileSystem-based checkpoint
    manager; ``chmod`` (RawLocalFileSystem.setPermission without
    libhadoop, once per file and directory written) through the session's
    ``file:`` FileSystem, jvm/NoForkLocalFileSystem.java."""
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
    assert forks == {"readlink": [], "chmod": []}, json.dumps(
        {t: {"forks": len(f), "first": f[:3]} for t, f in forks.items()}
    )
