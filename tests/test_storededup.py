"""Store-backed streaming dedup (streaming/storededup.py): restart
survivability by construction (every batch reads its state from disk),
at-least-once idempotency (re-running a batch overwrites only its own
subdir), and dedup-at-ingest accept/reject routing."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.streaming.sinks import (
    committed_before,
    read_batches,
)
from ballista_extensions_spark.streaming.storededup import (
    phash_store_dedup_sink,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, dhash long")


def _pairs(spark, store_dir):
    return {
        (r["stored_id"], r["new_id"], r["hamming"], r["phase"])
        for r in spark.read.option("recursiveFileLookup", "true")
        .schema("stored_id long, new_id long, hamming long, phase long")
        .parquet(os.path.join(store_dir, "pairs"))
        .collect()
    }


@pytest.fixture()
def store_dir(tmp_path):
    return str(tmp_path / "store")


def test_cross_batch_state_comes_from_disk(spark, store_dir):
    """Batch 1 must match batch 0's accepted items even though each
    fn call builds its store handle from scratch — the state lives
    only on disk."""
    rng = np.random.default_rng(3)
    far = [int(v) for v in
           rng.integers(-(1 << 63), 1 << 63, size=6, dtype=np.int64)]
    fn = phash_store_dedup_sink(store_dir, threshold=6)
    fn(_mk(spark, [(1, far[0]), (2, far[1])]), 0)
    # batch 1: dup of item 1 (hamming 2), dup of item 2 (exact), fresh
    fn(_mk(spark, [(10, far[0] ^ 0b101), (11, far[1]), (12, far[2])]), 1)
    got = _pairs(spark, store_dir)
    assert got == {(1, 10, 2, 1), (2, 11, 0, 1)}
    # rejected dups are NOT in the store; the fresh item is
    members = {
        r["id"]
        for r in read_batches(
            spark, os.path.join(store_dir, "members"), "id long, h long"
        ).collect()
    }
    assert members == {1, 2, 12}
    # batch 2 matches the batch-1 ACCEPTED item -> state accumulated
    fn(_mk(spark, [(20, far[2])]), 2)
    assert (12, 20, 0, 2) in _pairs(spark, store_dir)


def test_rerun_of_a_batch_is_idempotent(spark, store_dir):
    """foreachBatch is at-least-once: re-delivering batch 1 must leave
    pairs, members and banded state exactly as after the first run."""
    rng = np.random.default_rng(5)
    far = [int(v) for v in
           rng.integers(-(1 << 63), 1 << 63, size=4, dtype=np.int64)]
    fn = phash_store_dedup_sink(store_dir, threshold=6)
    fn(_mk(spark, [(1, far[0])]), 0)
    b1 = [(10, far[0]), (11, far[1])]
    fn(_mk(spark, b1), 1)
    pairs_once = _pairs(spark, store_dir)
    members_path = os.path.join(store_dir, "members")
    members_once = sorted(
        (r["id"], r["h"])
        for r in read_batches(
            spark, members_path, "id long, h long"
        ).collect()
    )
    fn(_mk(spark, b1), 1)  # redelivery
    assert _pairs(spark, store_dir) == pairs_once == {(1, 10, 0, 1)}
    assert sorted(
        (r["id"], r["h"])
        for r in read_batches(
            spark, members_path, "id long, h long"
        ).collect()
    ) == members_once
    # banded state stays one row per (distinct hash, band)
    banded = read_batches(
        spark, os.path.join(store_dir, "banded"),
        "h long, band int, slice long",
    ).collect()
    assert len(banded) == len({r["h"] for r in banded}) * 8

    # a store table that exists but cannot be read raises rather than
    # probing as an empty store
    bad = store_dir + "_bad"
    os.makedirs(os.path.join(bad, "members", "__batch_id=0"))
    with open(
        os.path.join(bad, "members", "__batch_id=0", "part-0.parquet"), "wb"
    ) as f:
        f.write(b"not parquet")
    with pytest.raises(Exception):
        phash_store_dedup_sink(bad, threshold=6)(_mk(spark, b1), 1)


def test_bootstrap_empty_store(spark, store_dir):
    """Batch 0 against an empty store: distinct-content items are all
    accepted with no pairs."""
    far_a, far_b = 42, -(1 << 60) + 7  # hamming >> 6
    fn = phash_store_dedup_sink(store_dir, threshold=6)
    fn(_mk(spark, [(1, far_a), (2, far_b)]), 0)
    assert _pairs(spark, store_dir) == set()
    members = read_batches(
        spark, os.path.join(store_dir, "members"), "id long, h long"
    ).count()
    assert members == 2


def test_intra_batch_duplicates_are_found_and_not_compacted(
    spark, store_dir
):
    """Code-review r11 regression: duplicates arriving WITHIN one
    micro-batch must be paired (earlier id survives as stored_id) and
    the later items must NOT be compacted into the store."""
    rng = np.random.default_rng(11)
    far = [int(v) for v in
           rng.integers(-(1 << 63), 1 << 63, size=4, dtype=np.int64)]
    fn = phash_store_dedup_sink(store_dir, threshold=6)
    # batch 0: ids 1 and 2 share a hash, 3 is near (hamming 2) of 1,
    # 4 is distinct
    b0 = [(1, far[0]), (2, far[0]), (3, far[0] ^ 0b11), (4, far[1])]
    fn(_mk(spark, b0), 0)
    got = _pairs(spark, store_dir)
    assert got == {(1, 2, 0, 0), (1, 3, 2, 0), (2, 3, 2, 0)}
    members = {
        r["id"]
        for r in read_batches(
            spark, os.path.join(store_dir, "members"), "id long, h long"
        ).collect()
    }
    assert members == {1, 4}  # 2 and 3 rejected, never compacted
    # batch 1: a dup of the REJECTED item's content still matches the
    # surviving representative from the store
    fn(_mk(spark, [(10, far[0])]), 1)
    assert (1, 10, 0, 1) in _pairs(spark, store_dir)
    assert (2, 10, 0, 1) not in _pairs(spark, store_dir)


# ---- sigstore (text MinHash) sink: the r12 mirror ----

from ballista_extensions_spark.streaming.storededup import (  # noqa: E402
    sigstore_dedup_sink,
)


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _jpairs(spark, store_dir):
    return {
        (r["stored_id"], r["new_id"], round(r["jaccard"], 6), r["phase"])
        for r in spark.read.option("recursiveFileLookup", "true")
        .schema("stored_id long, new_id long, jaccard double, phase long")
        .parquet(os.path.join(store_dir, "pairs"))
        .collect()
    }


def _sig_corpus():
    uniq = lambda p: " ".join(f"{p}{i}" for i in range(12))  # noqa: E731
    a, b, c = uniq("a"), uniq("b"), uniq("c")
    return a, b, c


def test_sigstore_cross_batch_state_from_disk(spark, store_dir):
    a, b, c = _sig_corpus()
    fn = sigstore_dedup_sink(store_dir, threshold=0.35)
    fn(_mkdocs(spark, [(1, a), (2, b)]), 0)
    assert _jpairs(spark, store_dir) == set()
    # batch 1: exact text dup of stored 1, near-dup of stored 2
    # (shares all but the last shingles), and fresh content
    near_b = b + " tail"
    fn(_mkdocs(spark, [(10, a), (11, near_b), (12, c)]), 1)
    got = _jpairs(spark, store_dir)
    assert (1, 10, 1.0, 1) in got
    assert any(p[:2] == (2, 11) and p[3] == 1 for p in got)
    # rejected dups never compacted: batch 2 dup of 10's content still
    # matches the ORIGINAL representative, not 10
    fn(_mkdocs(spark, [(20, a)]), 2)
    got = _jpairs(spark, store_dir)
    assert (1, 20, 1.0, 2) in got
    assert not any(p[0] == 10 for p in got)
    # the accepted fresh item is probe-able store content
    fn(_mkdocs(spark, [(30, c)]), 3)
    assert (12, 30, 1.0, 3) in _jpairs(spark, store_dir)


def test_sigstore_redelivery_is_idempotent(spark, store_dir):
    a, b, _ = _sig_corpus()
    fn = sigstore_dedup_sink(store_dir, threshold=0.35)
    fn(_mkdocs(spark, [(1, a)]), 0)
    b1 = [(10, a), (11, b)]
    fn(_mkdocs(spark, b1), 1)
    pairs_once = _jpairs(spark, store_dir)
    sets_once = sorted(
        r["doc"]
        for r in read_batches(
            spark, os.path.join(store_dir, "sets"),
            "doc long, shset array<string>",
        ).collect()
    )
    fn(_mkdocs(spark, b1), 1)  # at-least-once redelivery
    assert _jpairs(spark, store_dir) == pairs_once == {(1, 10, 1.0, 1)}
    assert sorted(
        r["doc"]
        for r in read_batches(
            spark, os.path.join(store_dir, "sets"),
            "doc long, shset array<string>",
        ).collect()
    ) == sets_once == [1, 11]


def test_sigstore_intra_batch_and_frozen_stop(spark, store_dir):
    a, b, _ = _sig_corpus()
    b0 = [(1, a), (2, a), (3, a)]
    b1 = [(10, a), (11, b), (12, b)]
    fn = sigstore_dedup_sink(store_dir, threshold=0.35, max_df=2)
    # batch 0: intra-batch dup (earlier id survives) + a shingle set
    # heavy enough (df 3 > max_df 2) to enter the FROZEN stop list
    fn(_mkdocs(spark, b0), 0)
    got = _jpairs(spark, store_dir)
    # a's shingles are stopped at bootstrap -> the three copies have
    # EMPTY capped sets: no pairs, nothing banded
    assert got == set()
    # batch 1: content 'a' is invisible under the frozen stop (no
    # postings survive), content 'b' is fresh and accepted
    fn(_mkdocs(spark, b1), 1)
    got = _jpairs(spark, store_dir)
    assert got == {(11, 12, 1.0, 1)}  # intra pair on the fresh content

    # a bootstrap write that crashed leaves stop/__batch_id=0 holding
    # only a _temporary tree: not committed, so the redelivered batch 0
    # bootstraps and the store ends as after the uninterrupted run
    crashed = store_dir + "_crashed"
    attempt = os.path.join(
        crashed, "stop", "__batch_id=0", "_temporary", "0", "task_0"
    )
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-0.parquet"), "wb") as f:
        f.write(b"partial")
    assert not committed_before(os.path.join(crashed, "stop"), 1)
    fn = sigstore_dedup_sink(crashed, threshold=0.35, max_df=2)
    fn(_mkdocs(spark, b0), 0)
    assert committed_before(os.path.join(crashed, "stop"), 1)
    fn(_mkdocs(spark, b1), 1)
    assert _jpairs(spark, crashed) == got

    def sets(d):
        return sorted(
            (r["doc"], sorted(r["shset"]), r["__batch_id"])
            for r in read_batches(
                spark, os.path.join(d, "sets"),
                "doc long, shset array<string>",
            ).collect()
        )

    assert sets(crashed) == sets(store_dir)


def test_sigstore_empty_frozen_stop_is_not_rebootstrapped(
    spark, store_dir
):
    """Code-review r12: a committed-but-EMPTY stop list (no heavy
    shingles in the bootstrap batch) is valid frozen state; later
    batches must NOT re-bootstrap and freeze a stop from their own
    postings — the rule is a committed stop write, not row count."""
    a, b, _ = _sig_corpus()
    fn = sigstore_dedup_sink(store_dir, threshold=0.35, max_df=2)
    fn(_mkdocs(spark, [(1, a)]), 0)  # stop frozen EMPTY (df 1 <= 2)
    # batch 1: 4 copies of fresh content — df 4 > max_df WITHIN the
    # batch; under the frozen empty stop they must still pair up
    # (a re-bootstrap would stop their shingles and find nothing)
    fn(_mkdocs(spark, [(10, b), (11, b), (12, b), (13, b)]), 1)
    got = _jpairs(spark, store_dir)
    assert {(x, y) for x, y, _, p in got if p == 1} == {
        (x, y) for x in (10, 11, 12) for y in (11, 12, 13) if x < y
    }


def test_sigstore_reused_id_is_not_compacted_twice(spark, store_dir):
    """Code-review r12: an id the store already holds signatures for
    must not gain a second shset row (first-wins, the phashstore
    compaction contract) — duplicate rows would fan out every later
    verification join on that id."""
    a, b, c = _sig_corpus()
    fn = sigstore_dedup_sink(store_dir, threshold=0.35)
    fn(_mkdocs(spark, [(7, a)]), 0)
    fn(_mkdocs(spark, [(7, b)]), 1)  # id reuse, dissimilar content
    sets = read_batches(
        spark, os.path.join(store_dir, "sets"),
        "doc long, shset array<string>",
    ).collect()
    assert [r["doc"] for r in sets] == [7]  # exactly one row
    # and it is the FIRST occurrence's content: textX pairs, textY not
    fn(_mkdocs(spark, [(20, a), (21, b)]), 2)
    got = _jpairs(spark, store_dir)
    assert (7, 20, 1.0, 2) in got
    assert not any(p[:2] == (7, 21) for p in got)


def test_reading_store_state_starts_no_job(spark, store_dir):
    """The store's state as of before batch 2, and a probe plan over
    it, are built from named-schema reads: no Spark job runs until an
    action (a read that infers its schema runs one per table)."""
    from ballista_extensions_spark.operators.phashstore import (
        PHashStore,
        _probe_members,
    )

    fn = phash_store_dedup_sink(store_dir, threshold=6)
    fn(_mk(spark, [(1, 42)]), 0)
    fn(_mk(spark, [(2, 1 << 40)]), 1)
    batch = _mk(spark, [(3, 42)]).select("id", F.col("dhash").alias("h"))
    sc = spark.sparkContext
    sc.setJobGroup("store-state-read", "store state read")
    try:
        store = PHashStore(
            members=read_batches(
                spark, os.path.join(store_dir, "members"),
                "id long, h long", before=2,
            ),
            banded=read_batches(
                spark, os.path.join(store_dir, "banded"),
                "h long, band int, slice long", before=2,
            ),
            bands=8,
        )
        _probe_members(store, batch, 6).schema  # analyzed, not run
        jobs = sc.statusTracker().getJobIdsForGroup("store-state-read")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


# ------------------------------------------------------- semdedup sink


def _mkv(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _vpairs(spark, store_dir):
    return {
        (r["stored_id"], r["new_id"], r["phase"])
        for r in spark.read.option("recursiveFileLookup", "true")
        .schema("stored_id long, new_id long, cosine double, phase long")
        .parquet(os.path.join(store_dir, "pairs"))
        .collect()
    }


def _sem_fixture():
    """4-dim corpus under a 2-cell quantizer: axis-aligned groups so
    cell routing and cosine matches are hand-checkable."""
    from ballista_extensions_spark.operators.annstore import (
        train_centroids,
    )

    cents = ((1.0, 0.0, 0.0, 0.0), (0.0, 1.0, 0.0, 0.0))
    a = [1.0, 0.05, 0.0, 0.0]     # cell 0
    b = [0.05, 1.0, 0.0, 0.0]     # cell 1
    return cents, a, b


def test_semdedup_sink_cross_batch_state_from_disk(spark, store_dir):
    from ballista_extensions_spark.streaming.storededup import (
        semdedup_store_sink,
    )

    cents, a, b = _sem_fixture()
    fn = semdedup_store_sink(store_dir, cents, tau=0.9)
    fn(_mkv(spark, [(1, a), (2, b)]), 0)
    # batch 1: near-copy of 1 (same cell 0, cos ~1), orthogonal fresh
    a2 = [0.99, 0.06, 0.0, 0.0]
    c = [0.0, 0.05, 1.0, 0.0]     # cell 1 (closer to e2? no: dot-wise
    # nearest centroid by L2: c is far from both; argmin still routes
    # deterministically), cosine vs b ~0.05 -> accepted
    fn(_mkv(spark, [(10, a2), (11, c)]), 1)
    got = _vpairs(spark, store_dir)
    assert (1, 10, 1) in got
    assert all(p[1] != 11 for p in got)
    # accepted members on disk: 1, 2, 11 (10 rejected)
    members = read_batches(
        spark, os.path.join(store_dir, "members"),
        "vec_id long, embedding array<double>, cell int",
    )
    assert {r["vec_id"] for r in members.collect()} == {1, 2, 11}


def test_semdedup_sink_redelivery_is_idempotent(spark, store_dir):
    from ballista_extensions_spark.streaming.storededup import (
        semdedup_store_sink,
    )

    cents, a, b = _sem_fixture()
    fn = semdedup_store_sink(store_dir, cents, tau=0.9)
    fn(_mkv(spark, [(1, a), (2, b)]), 0)
    a2 = [0.99, 0.06, 0.0, 0.0]
    fn(_mkv(spark, [(10, a2)]), 1)
    before_pairs = _vpairs(spark, store_dir)
    before_members = {
        (r["vec_id"], r["cell"])
        for r in read_batches(
            spark, os.path.join(store_dir, "members"),
            "vec_id long, embedding array<double>, cell int",
        ).collect()
    }
    fn(_mkv(spark, [(10, a2)]), 1)  # at-least-once redelivery
    assert _vpairs(spark, store_dir) == before_pairs
    after_members = {
        (r["vec_id"], r["cell"])
        for r in read_batches(
            spark, os.path.join(store_dir, "members"),
            "vec_id long, embedding array<double>, cell int",
        ).collect()
    }
    assert after_members == before_members


def test_semdedup_sink_intra_batch_keep_first(spark, store_dir):
    from ballista_extensions_spark.streaming.storededup import (
        semdedup_store_sink,
    )

    cents, a, b = _sem_fixture()
    fn = semdedup_store_sink(store_dir, cents, tau=0.9)
    a3 = [0.98, 0.04, 0.0, 0.0]
    fn(_mkv(spark, [(5, a), (6, a3), (7, b)]), 0)
    got = _vpairs(spark, store_dir)
    assert (5, 6, 0) in got          # earlier id survives
    members = read_batches(
        spark, os.path.join(store_dir, "members"),
        "vec_id long, embedding array<double>, cell int",
    )
    assert {r["vec_id"] for r in members.collect()} == {5, 7}
    with pytest.raises(ValueError, match="tau"):
        semdedup_store_sink(store_dir, cents, tau=0.0)


def test_semdedup_sink_probe_is_cell_equijoin_no_cartesian(
    spark, store_dir, tmp_path
):
    """The SemDeDup scale contract holds inside the sink: the
    store-vs-batch pairwise stage is an equi-join on cell, never a
    cartesian product."""
    from ballista_extensions_spark.operators.annstore import assign_cells
    from ballista_extensions_spark.operators.similarity import (
        dot_sql,
        norm_sql,
    )
    from ballista_extensions_spark.plans import executed_plan
    from ballista_extensions_spark.streaming.storededup import (
        semdedup_store_sink,
    )

    cents, a, b = _sem_fixture()
    fn = semdedup_store_sink(store_dir, cents, tau=0.9)
    fn(_mkv(spark, [(1, a), (2, b)]), 0)
    store = read_batches(
        spark, os.path.join(store_dir, "members"),
        "vec_id long, embedding array<double>, cell int",
        before=1,
    )
    batch = assign_cells(_mkv(spark, [(10, a)]), cents)
    s = store.select(
        F.col("vec_id").alias("__id_a"),
        F.col("embedding").alias("__va"),
        F.expr(norm_sql("embedding")).alias("__na"),
        "cell",
    )
    bb = batch.select(
        F.col("vec_id").alias("__id_b"),
        F.col("embedding").alias("__vb"),
        F.expr(norm_sql("embedding")).alias("__nb"),
        "cell",
    )
    cos = F.expr(dot_sql("__va", "__vb")) / (F.col("__na") * F.col("__nb"))
    plan = executed_plan(
        s.join(bb, "cell").filter(cos >= F.lit(0.9))
    )
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def _dropped_accumulator_lines(spark, run):
    """``run()``'s result and the DAGScheduler's lines about task
    results for accumulators the driver has already dropped. A thread
    asks the driver JVM for a full GC every 100 ms while ``run`` runs,
    so a dropped plan's metrics are collected before late tasks
    finish; the log is read through an in-memory appender."""
    import threading
    import time

    jvm = spark._jvm
    log4j = jvm.org.apache.logging.log4j
    text = jvm.java.io.StringWriter()
    appender = (
        log4j.core.appender.WriterAppender.newBuilder()
        .setName("accumulator-capture")
        .setTarget(text)
        .setLayout(
            log4j.core.layout.PatternLayout.newBuilder()
            .withPattern("%p %c %m%n")
            .build()
        )
        .build()
    )
    appender.start()
    logger = log4j.LogManager.getLogger(
        "org.apache.spark.scheduler.DAGScheduler"
    )
    logger.addAppender(appender)
    done = threading.Event()

    def collect_garbage() -> None:
        while not done.is_set():
            jvm.System.gc()
            time.sleep(0.1)

    gc_thread = threading.Thread(target=collect_garbage, daemon=True)
    gc_thread.start()
    try:
        result = run()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        done.set()
        gc_thread.join(timeout=30)
        logger.removeAppender(appender)
        appender.stop()
    assert not gc_thread.is_alive()
    lines = [
        ln for ln in text.toString().splitlines()
        if "non-existent accumulator" in ln
        or "Failed to update accumulator" in ln
    ]
    return result, lines


def test_phash_replay_reports_no_dropped_accumulators(
    spark, sf_dir, tmp_path, monkeypatch
):
    """No task of the phash-store replay reports SQL metrics of a plan
    the driver has already dropped. The replay's sink once wrapped its
    materialized batch in a second lazy checkpoint inside the probe and
    the intra-batch pairs; the concurrent jobs of one write raced it,
    and late tasks then updated garbage-collected accumulators."""
    from ballista_extensions_spark.queries import registry, streaming_replay

    monkeypatch.setattr(streaming_replay, "_STAGE_ROOT", str(tmp_path))
    pairs, lines = _dropped_accumulator_lines(
        spark,
        lambda: registry.QUERIES["streaming_phash_store_replay"](spark, sf_dir),
    )
    assert pairs.count() > 0
    assert lines == [], lines[:4]


@pytest.mark.parametrize(
    "query",
    [
        "image_near_dup_phash",
        "image_contamination_check",
        "image_signature_store_incremental",
    ],
)
def test_members_queries_report_no_dropped_accumulators(spark, sf_dir, query):
    """The batch callers of ``imagedup._members``: its members are
    materialized before the query's concurrent broadcast-build jobs
    start, so none of their tasks reports metrics of a dropped plan."""
    from ballista_extensions_spark.queries import registry

    def run() -> None:
        df = registry.QUERIES[query](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    _, lines = _dropped_accumulator_lines(spark, run)
    assert lines == [], lines[:4]
