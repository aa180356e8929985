"""Structured Streaming tests: file source -> windowed/sessionized/
deduped streams -> memory sink, compared against batch twins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.streaming import (
    dedup_stream,
    hourly_rollup_stream,
    sessionize_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as a plain-µs parquet dir usable by readStream."""
    from ballista_extensions_spark.io import load_table

    path = str(tmp_path_factory.mktemp("stream") / "events")
    load_table(spark, sf_dir, "events").coalesce(1).write.parquet(path)
    return path


@pytest.fixture(scope="module")
def events_stream(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    return spark.readStream.schema(schema).parquet(events_dir)


def _run_to_memory(sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if name == "dedup_sink" else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_hourly_rollup_matches_batch(spark, events_stream, events_dir):
    q = _run_to_memory(hourly_rollup_stream(events_stream), "rollup_sink")
    try:
        got = {
            (r.hour, r.event_type): (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM rollup_sink").collect()
        }
        batch = spark.read.parquet(events_dir)
        expect = {
            (r.hour, r.event_type): (r.n_events, r.total_value)
            for r in batch.groupBy(
                F.date_trunc("hour", "ts").alias("hour"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .collect()
        }
        assert got == expect
    finally:
        q.stop()


def test_sessionize_stream(spark, events_stream, events_dir):
    q = _run_to_memory(sessionize_stream(events_stream), "sess_sink")
    try:
        rows = spark.sql("SELECT * FROM sess_sink").collect()
        assert len(rows) > 0
        for r in rows:
            assert r.session_end >= r.session_start
        # every event lands in exactly one session
        total = sum(r.n_events for r in rows)
        assert total == spark.read.parquet(events_dir).count()
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark, events_stream, events_dir):
    """Stream-stream interval join equals the same join computed in
    batch over the full dataset."""
    from ballista_extensions_spark.streaming.ops import view_purchase_join_stream

    q = (
        view_purchase_join_stream(events_stream)
        .writeStream.format("memory")
        .queryName("ssj_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            (r.view_id, r.purchase_id)
            for r in spark.sql("SELECT view_id, purchase_id FROM ssj_sink").collect()
        }
        e = spark.read.parquet(events_dir)
        v = e.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("vu"), F.col("ts").alias("vts"),
            F.col("event_id").alias("view_id"),
        )
        p = e.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
            F.col("event_id").alias("purchase_id"),
        )
        expect = {
            (r.view_id, r.purchase_id)
            for r in v.join(
                p,
                (F.col("vu") == F.col("pu"))
                & (F.col("pts") >= F.col("vts"))
                & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 10 MINUTES")),
            ).collect()
        }
        assert got == expect
        assert len(got) > 0
    finally:
        q.stop()


def test_idempotent_foreachbatch_sink(spark, events_dir, tmp_path_factory):
    """Replaying a batch id overwrites its partition instead of
    duplicating rows — the exactly-once sink contract."""
    from ballista_extensions_spark.streaming.sinks import idempotent_parquet_sink

    out = str(tmp_path_factory.mktemp("sink") / "out")
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    sink = idempotent_parquet_sink(out)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    q.stop()
    first = spark.read.parquet(out)
    n = first.count()
    assert n == spark.read.parquet(events_dir).count()
    batch_ids = [r[0] for r in first.select("__batch_id").distinct().collect()]
    # simulate a retry of batch 0: same data, same id -> same row count
    replay = spark.read.parquet(events_dir)
    sink(replay, batch_ids[0])
    assert spark.read.parquet(out).count() == n


def test_idempotent_sink_engine_replay(spark, events_dir, tmp_path_factory):
    """End-to-end exactly-once: run the stream to completion with a
    checkpoint, then delete the last batch's commit marker and restart —
    Structured Streaming itself re-invokes foreachBatch for that batch
    (the crash-between-write-and-commit scenario), and the partition
    overwrite makes the replay a no-op: same rows, same content."""
    import os
    import shutil

    from ballista_extensions_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    root = tmp_path_factory.mktemp("sink_replay")
    out = str(root / "out")
    ckpt = str(root / "ckpt")
    schema = spark.read.parquet(events_dir).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(events_dir)
        q = (
            stream.writeStream.foreachBatch(idempotent_parquet_sink(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    first = spark.read.parquet(out)
    n = first.count()
    content = {tuple(r) for r in first.drop("__batch_id").collect()}
    assert n == spark.read.parquet(events_dir).count()

    # inject the failure: the batch committed its writes but not its
    # checkpoint marker -> on restart the engine MUST replay it
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    # the checksum sidecar must go with it, or the replayed commit's
    # rename-into-place fails on the local filesystem
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    shutil.rmtree(os.path.join(ckpt, "__spark_metadata"), ignore_errors=True)

    run_once()
    replayed = spark.read.parquet(out)
    assert replayed.count() == n
    assert {tuple(r) for r in replayed.drop("__batch_id").collect()} == content


def test_idempotent_sink_replaces_only_its_batch(
    spark, events_dir, tmp_path_factory
):
    """A repeated batch id with different rows replaces exactly that
    batch's directory: the other batches' files stay byte-identical,
    and no dynamic-partition staging directory is left behind."""
    import os

    from ballista_extensions_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    out = str(tmp_path_factory.mktemp("sink_batches") / "out")
    events = spark.read.parquet(events_dir).select("event_id", "event_type")
    k = F.pmod(F.col("event_id"), F.lit(3))
    thirds = [events.filter(k == b) for b in range(3)]
    sink = idempotent_parquet_sink(out)
    for b, batch in enumerate(thirds):
        sink(batch, b)

    def files(batch_id):
        d = os.path.join(out, f"__batch_id={batch_id}")
        return {f: open(os.path.join(d, f), "rb").read() for f in os.listdir(d)}

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    kept = {b: files(b) for b in (0, 2)}
    redo = events.filter(F.col("event_id") % 7 == 0)
    sink(redo, 1)

    assert {b: files(b) for b in (0, 2)} == kept
    got = spark.read.parquet(out)
    for b, want in enumerate([thirds[0], redo, thirds[2]]):
        batch = got.filter(F.col("__batch_id") == b).drop("__batch_id")
        assert rows(batch) == rows(want), b
    staging = [
        d for _, ds, _ in os.walk(out) for d in ds if d.startswith(".spark-staging")
    ]
    assert staging == []


def test_dedup_stream_drops_dupes(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    base = spark.read.parquet(events_dir).limit(100)
    import tempfile

    dup_dir = tempfile.mkdtemp(prefix="dupstream")
    base.union(base).coalesce(1).write.mode("overwrite").parquet(dup_dir)
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    q = _run_to_memory(dedup_stream(stream), "dedup_sink")
    try:
        n = spark.sql("SELECT count(DISTINCT event_id) AS n FROM dedup_sink").collect()[0].n
        total = spark.sql("SELECT count(*) AS n FROM dedup_sink").collect()[0].n
        assert total == n == 100  # duplicates within watermark removed
    finally:
        q.stop()


def test_enrich_stream_matches_batch(spark, events_stream, events_dir):
    """Stream-static join: per-batch enrichment against a dimension
    equals the batch join, row for row."""
    from ballista_extensions_spark.streaming import enrich_stream

    dim = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.concat(F.lit("segment_"), (F.col("id") % 5)).alias("segment"),
    )
    sdf = enrich_stream(events_stream, dim, "user_id", "left").select(
        "event_id", "user_id", "segment"
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.event_id, r.user_id, r.segment)
        for r in spark.sql("SELECT * FROM enrich_sink").collect()
    }
    batch = spark.read.parquet(events_dir).join(dim, "user_id", "left")
    want = {
        (r.event_id, r.user_id, r.segment)
        for r in batch.select("event_id", "user_id", "segment").collect()
    }
    assert got == want


def test_mg_summary_stream_exact_when_uncompacted(spark, events_stream, events_dir):
    """With counters far above the stream's cardinality nothing compacts:
    the merged shard summaries ARE the exact per-item counts."""
    from ballista_extensions_spark.streaming import mg_summary_stream

    out = mg_summary_stream(events_stream, "event_type", shards=8,
                            counters=1024)
    q = (
        out.writeStream.format("memory")
        .queryName("mg_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["item"]: (r["cnt"], r["err"])
        for r in spark.sql("SELECT * FROM mg_sink").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {k: v[0] for k, v in got.items()} == want
    assert all(err == 0 for _, err in got.values())


def test_mg_summary_stream_bounds_under_compaction(spark, tmp_path_factory):
    """Tiny counters force compaction: every emitted count stays a lower
    bound, the dominant item survives in its shard, and its lb+err
    bracket covers the true count."""
    from ballista_extensions_spark.streaming import mg_summary_stream

    path = str(tmp_path_factory.mktemp("mgstream") / "items")
    # skewed synthetic: 'hot' 500x, 100 singletons
    rows = [("hot",)] * 500 + [(f"cold{i}",) for i in range(100)]
    spark.createDataFrame(rows, "w string").coalesce(1).write.parquet(path)
    stream = spark.readStream.schema("w string").parquet(path)
    out = mg_summary_stream(stream, "w", shards=4, counters=2)
    q = (
        out.writeStream.format("memory")
        .queryName("mg_sink2")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.sql("SELECT * FROM mg_sink2").collect()
    by_item = {r["item"]: r for r in emitted}
    assert "hot" in by_item
    hot = by_item["hot"]
    assert hot["cnt"] <= 500 <= hot["cnt"] + hot["err"]
    # every emitted count is a valid lower bound (cold items are 1x)
    for r in emitted:
        true = 500 if r["item"] == "hot" else 1
        assert r["cnt"] <= true


def test_locf_gapfill_stream_carries_across_batches(spark, tmp_path_factory):
    """Two micro-batches (maxFilesPerTrigger=1); series 'a' has buckets
    in both, so the gap spanning the batch boundary must be filled from
    STATE, not from within-batch data."""
    from ballista_extensions_spark.streaming import locf_gapfill_stream

    base = tmp_path_factory.mktemp("locf")
    d = str(base / "in")
    # file 1: a@[0, 60], b@[0]; file 2: a@[300], b@[120]
    spark.createDataFrame(
        [("a", 0, 1.0), ("a", 60, 2.0), ("b", 0, 9.0)],
        "s string, b long, v double",
    ).coalesce(1).write.parquet(d)
    spark.createDataFrame(
        [("a", 300, 5.0), ("b", 120, 7.0)], "s string, b long, v double"
    ).coalesce(1).write.mode("append").parquet(d)
    stream = (
        spark.readStream.schema("s string, b long, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = locf_gapfill_stream(stream, "s", "b", "v", step_seconds=60)
    q = (
        out.writeStream.format("memory")
        .queryName("locf_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["series"], r["bucket"]): (r["value"], r["is_gap"])
        for r in spark.sql("SELECT * FROM locf_sink").collect()
    }
    # series a: dense 0..300, gaps 120/180/240 carry 2.0 regardless of
    # which micro-batch the neighbors arrived in
    assert got[("a", 0)] == (1.0, False)
    assert got[("a", 60)] == (2.0, False)
    assert got[("a", 120)] == (2.0, True)
    assert got[("a", 180)] == (2.0, True)
    assert got[("a", 240)] == (2.0, True)
    assert got[("a", 300)] == (5.0, False)
    # series b: gap at 60 carries 9.0
    assert got[("b", 60)] == (9.0, True)
    assert got[("b", 120)] == (7.0, False)
    assert len(got) == 9


def test_locf_gapfill_stream_matches_batch_twin(spark, events_dir, tmp_path_factory):
    """Single-batch convergence: streamed dense axis == the batch
    operator's buckets for the same per-bucket aggregate."""
    from ballista_extensions_spark.operators.timeseries import (
        time_bucket_gapfill,
    )
    from ballista_extensions_spark.streaming import locf_gapfill_stream

    ev = spark.read.parquet(events_dir)
    per = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bkt")
    ).agg(F.avg("value").alias("v"))
    src = str(tmp_path_factory.mktemp("locfb") / "in")
    per.select(
        "event_type", F.unix_timestamp("bkt").alias("b"), "v"
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("event_type string, b long, v double")
        .parquet(src)
    )
    out = locf_gapfill_stream(stream, "event_type", "b", "v", 3600)
    q = (
        out.writeStream.format("memory")
        .queryName("locf_twin_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["series"], r["bucket"]): round(r["value"], 9)
        for r in spark.sql("SELECT * FROM locf_twin_sink").collect()
    }
    want_df = time_bucket_gapfill(
        ev,
        ts_col="ts",
        series_cols=["event_type"],
        aggs=[F.avg("value").alias("v")],
        bucket="hour",
        locf_cols=["v"],
    )
    want = {
        (r["event_type"], int(r["bucket"].timestamp())): round(r["v"], 9)
        for r in want_df.collect()
    }
    assert got == want


def _first_occurrences(spark, root, schema, batches, key, id_col):
    """Stream ``batches`` (lists of rows), one file per micro-batch in
    order, through ``first_occurrence_sink`` and return the sink's rows
    as ``{(key, id, batch_id)}`` with its column types."""
    import os

    from ballista_extensions_spark.queries.streaming_replay import (
        _drain,
        _write_ordered_slices,
    )
    from ballista_extensions_spark.streaming.sinks import (
        first_occurrence_sink,
    )

    d, out = str(root / "in"), str(root / "out")
    os.makedirs(d)
    rows = [(*r, k) for k, batch in enumerate(batches) for r in batch]
    tagged = spark.createDataFrame(rows, f"{schema}, __k int")
    _write_ordered_slices(tagged, len(batches), d)
    _drain(spark, d, schema, first_occurrence_sink(out, key, id_col))
    got = spark.read.parquet(out)
    assert got.columns == [key, id_col, "__batch_id"]
    return {tuple(r) for r in got.collect()}, dict(got.dtypes)


def test_first_occurrence_sink_cross_batch(spark, tmp_path_factory):
    """Within a batch the min id of a key is its first occurrence; a
    key an earlier micro-batch committed is suppressed in later ones."""
    got, _ = _first_occurrences(
        spark,
        tmp_path_factory.mktemp("firstocc"),
        "id long, k long",
        # batch 0: key 10 (ids 3, 1), key 20 (id 2); batch 1: key 10
        # again (id 7), key 30 (id 5)
        [[(3, 10), (1, 10), (2, 20)], [(7, 10), (5, 30)]],
        "k",
        "id",
    )
    assert got == {
        (10, 1, 0),  # batch-min of key 10; ids 3 and 7 are repeats
        (20, 2, 0),
        (30, 5, 1),
    }


def test_first_occurrence_sink_string_key_and_id(spark, tmp_path_factory):
    """Non-long keys (string URLs, digests) and ids keep their types
    through the sink's output and its state read."""
    got, dtypes = _first_occurrences(
        spark,
        tmp_path_factory.mktemp("firstocc_str"),
        "id string, url string",
        [
            [("b", "http://x"), ("a", "http://x"), ("c", "http://y")],
            [("d", "http://x"), ("e", "http://z")],
        ],
        "url",
        "id",
    )
    assert dtypes == {"url": "string", "id": "string", "__batch_id": "int"}
    assert got == {
        ("http://x", "a", 0),  # lexicographic batch-min
        ("http://y", "c", 0),
        ("http://z", "e", 1),  # "d" is a later-batch repeat
    }


def _sink_rows(spark, out):
    from collections import Counter

    return Counter(tuple(r) for r in spark.read.parquet(out).collect())


def test_first_occurrence_sink_null_key(spark, tmp_path):
    """NULL is one key, as in a ``PARTITION BY``: it keeps its batch
    min once, and a later NULL is a repeat."""
    from ballista_extensions_spark.streaming.sinks import (
        first_occurrence_sink,
    )

    out = str(tmp_path / "out")
    sink = first_occurrence_sink(out, "k", "id")
    schema = "id long, k long"
    sink(spark.createDataFrame([(2, None), (1, None), (3, 5)], schema), 0)
    sink(spark.createDataFrame([(0, None), (6, 5), (7, 8)], schema), 1)
    assert _sink_rows(spark, out) == {
        (None, 1, 0): 1,  # batch-min of the NULL key
        (5, 3, 0): 1,
        (8, 7, 1): 1,  # ids 0 (NULL) and 6 (key 5) are repeats
    }


def test_first_occurrence_sink_redelivery(spark, tmp_path):
    """An at-least-once redelivery of batch 1 probes only what batches
    before it committed and overwrites only its own directory: running
    it twice leaves identical rows. A state directory that exists but
    cannot be read raises rather than reading as empty."""
    import os

    from ballista_extensions_spark.streaming.sinks import (
        first_occurrence_sink,
    )

    out = str(tmp_path / "out")
    sink = first_occurrence_sink(out, "k", "id")
    schema = "id long, k long"
    b0 = spark.createDataFrame([(1, 10), (2, 20)], schema)
    b1 = spark.createDataFrame([(3, 10), (4, 30), (5, 30)], schema)
    sink(b0, 0)
    sink(b1, 1)
    once = _sink_rows(spark, out)
    assert once == {(10, 1, 0): 1, (20, 2, 0): 1, (30, 4, 1): 1}
    sink(b1, 1)
    assert _sink_rows(spark, out) == once

    bad = str(tmp_path / "bad")
    os.makedirs(os.path.join(bad, "__batch_id=0"))
    with open(os.path.join(bad, "__batch_id=0", "part-0.parquet"), "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception):
        first_occurrence_sink(bad, "k", "id")(b1, 1)


def test_state_parts_sizing(spark):
    """Stateful stages derive their pinned partition count from keyed
    work, clamped to [1, default_parallelism] (r18: each stateful task
    costs ~0.5-0.7 s of fixed setup regardless of data, so partitions
    must track keys/rows, never sit at the core count)."""
    from ballista_extensions_spark.io import default_parallelism
    from ballista_extensions_spark.queries.streaming_replay import (
        _STATE_GROUPS_PER_TASK,
        _STATE_ROWS_PER_TASK,
        _state_parts,
    )

    dp = default_parallelism(spark)
    # few keys -> one task; never more tasks than keys
    assert _state_parts(spark, 1) == 1
    assert _state_parts(spark, 5, rows=10_000) <= 5
    # python ops split by the per-group budget
    assert _state_parts(spark, 4 * _STATE_GROUPS_PER_TASK) == min(dp, 4)
    # JVM ops ignore the group budget, split by rows only
    assert _state_parts(
        spark, 10 * _STATE_GROUPS_PER_TASK, rows=100, python_op=False
    ) == 1
    assert _state_parts(
        spark,
        10**9,
        rows=3 * _STATE_ROWS_PER_TASK,
        python_op=False,
    ) == min(dp, 3)
    # production-sized batches clamp to the session's parallelism
    assert _state_parts(spark, 10**9, rows=10**9) == dp
