"""Driver-checkable streaming replays (VERDICT r6 directive #7).

The streaming twins (streaming/frequent.py, streaming/gapfill.py) were
pytest-only by nature of the ``queries()`` contract — a registry entry
must be a (spark, sf_dir) -> DataFrame callable with a DuckDB oracle.
These two queries close that gap: each one replays a MULTI-batch
bounded stream (maxFilesPerTrigger=1 over files with strictly
increasing modification times, so micro-batch order is deterministic)
through the stateful streaming operator via foreachBatch into the
idempotent parquet sink, then returns the final table for the driver's
oracle comparison. Cross-batch state carry is therefore part of what
the oracle verifies: a gap spanning a micro-batch boundary must be
filled from state, and shard summaries must accumulate across batches,
for the result to hash-match the one-shot SQL answer.

Determinism discipline: the heavy-hitter replay sizes its Misra–Gries
counters so compaction can never trigger at any tested SF (distinct
user_ids per shard is orders of magnitude below the compaction
threshold), making the summaries EXACT counts — and it still verifies
``err == 0`` loudly rather than assuming it. The gapfill replay feeds
per-bucket aggregates in time order (the operator's input contract)
and uses the same decimal-average discipline as the batch twin so the
carried values are bit-identical to the oracle's.

Scale posture: the replay pattern is the production shape — bounded
state per group (two scalars per series; ``counters`` pairs per
shard), offset-replay sources, exactly-once sink idempotent per batch
id. The temp-dir staging here exists only to give the driver a
deterministic bounded stream; a real deployment points the same code
at a live source.

Fixed cost: a replay should pay for its micro-batches and little else.
Each one stages its slices in ONE scan of its input (rows tagged with
their slice, ``_write_ordered_slices``), runs the stream through one
helper (``_drain``), and reads a parquet sink back with a named schema
(no footer-inference job). Checkpoint files are renamed into place by
the FileSystem-based checkpoint manager (``io._REQUIRED_CONFS``), which
forks no process per rename.
"""

from __future__ import annotations

import math
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from ballista_extensions_spark.io import default_parallelism, load_table
from ballista_extensions_spark.queries.analytics7 import _DHASH_CTE
from ballista_extensions_spark.queries.registry import register
from ballista_extensions_spark.streaming.sinks import idempotent_parquet_sink

_STAGE_ROOT = "/tmp/bx_stream_replay"

#: Stateful-stage sizing constants. A stateful stage's partition count
#: is PINNED by the checkpoint at first batch — AQE cannot coalesce it
#: — and each stateful task carries a fixed setup cost (state-store
#: provider load + commit; for the Python operators additionally the
#: Arrow state-server handshake) measured at ~0.5-0.7 s REGARDLESS of
#: data (probe: a 3-batch LOCF stream over 3k rows burned ~67 s of
#: executor CPU at 32 state partitions vs ~6.5 s at 8, identical
#: output). So state parallelism must derive from the stream's keyed
#: work, never sit at a constant tuned to the core count (guide §2):
#: a task should hold enough GROUPS to amortize the fixed cost against
#: the ~1-2 ms per-group kernel-call overhead of the Python state
#: runner, and enough ROWS that huge batches still fan out to the full
#: cluster. Production-sized batches clamp both terms to the session's
#: parallelism; the env overrides exist for cluster re-tuning.
_STATE_GROUPS_PER_TASK = int(
    os.environ.get("SPARK_GRAFT_STATE_GROUPS_PER_TASK", "512")
)
_STATE_ROWS_PER_TASK = int(
    os.environ.get("SPARK_GRAFT_STATE_ROWS_PER_TASK", "65536")
)


def _state_parts(
    spark: SparkSession,
    keys: int,
    rows: int | None = None,
    python_op: bool = True,
) -> int:
    """Stateful-stage partition count for a stream whose per-batch
    keyed state holds ``keys`` distinct groups over ``rows`` input
    rows: enough tasks that no task exceeds the per-task group/row
    budgets, never more tasks than groups (idle fixed-cost tasks),
    clamped to the session's parallelism. The per-group budget only
    applies to Python state operators (``applyInPandasWithState``
    makes one kernel call per group); JVM stateful operators pay
    nanoseconds per group, so only the rows budget sizes them."""
    keys = max(int(keys), 1)
    want = math.ceil(keys / _STATE_GROUPS_PER_TASK) if python_op else 1
    if rows is not None:
        want = max(want, math.ceil(max(int(rows), 1) / _STATE_ROWS_PER_TASK))
    return max(1, min(default_parallelism(spark), keys, want))


@contextmanager
def _stream_shuffle_parts(spark: SparkSession, n: int | None):
    """Scope ``spark.sql.shuffle.partitions`` around a stream's start +
    awaitTermination (the stateful stage's partition count is captured
    into the checkpoint at first batch). The replay queries run their
    streams to completion before returning, so the set/restore cannot
    race another query's planning."""
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(int(n)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _stage_dir(name: str, sf_dir: str) -> str:
    """Deterministic per-(query, sf) staging dir, wiped on entry so
    reruns never accumulate or mix state."""
    key = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(_STAGE_ROOT, name, key)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _thirds(df: DataFrame, key: str, redeliver: bool = False) -> DataFrame:
    """Tag each row with its slice ``__k = pmod(key, 3)``. With
    ``redeliver`` the rows of slices 0 and 1 ALSO go out with the next
    slice (one exploded row per delivery), so slice 1 re-ships slice 0
    and slice 2 re-ships slice 1: cross-batch duplicates for the dedup
    replays."""
    k = F.pmod(F.col(key), F.lit(3))
    if redeliver:
        k = F.explode(F.when(k < 2, F.array(k, k + 1)).otherwise(F.array(k)))
    return df.withColumn("__k", k)


def _write_ordered_slices(tagged: DataFrame, n: int, in_dir: str) -> None:
    """Stage slices ``0..n-1`` of ``tagged`` (its ``__k`` column names
    each row's slice; a null tag belongs to no slice) as one parquet
    file each, ``__k`` dropped, with strictly increasing mtimes:
    FileStreamSource orders files oldest-first, so with
    maxFilesPerTrigger=1 micro-batch k replays slice k exactly.

    One scan, one Spark job: ``tagged`` is read once and
    hash-repartitioned on ``__k``, so all rows of a slice land in one
    reduce task and ``partitionBy`` emits exactly one parquet file per
    slice; the files then move into ``in_dir`` with the ordered mtimes.
    Callers tag rows with expressions (``_thirds``) rather than passing
    one filtered DataFrame per slice, whose union would scan the input
    once per slice. An empty slice is staged as a schema-only file so
    batch k still exists."""
    base = os.path.getmtime(in_dir)
    stage = in_dir + ".stage"
    tagged.repartition(F.col("__k")).write.mode("overwrite").partitionBy(
        "__k"
    ).parquet(stage)
    for k in range(n):
        d = os.path.join(stage, f"__k={k}")
        p = os.path.join(in_dir, f"slice{k:05d}.parquet")
        if not os.path.isdir(d):
            # empty slice (degenerate corpora only; never at tested SFs)
            d = d + ".empty"
            tagged.drop("__k").limit(0).coalesce(1).write.parquet(d)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        if len(files) != 1:
            # hash partitioning sends every row of a key to one reduce
            # task -> one file; anything else means the staging write no
            # longer guarantees slice = file
            raise RuntimeError(
                f"slice {k} staged as {len(files)} files; "
                "micro-batch replay needs exactly one"
            )
        shutil.move(os.path.join(d, files[0]), p)
        os.utime(p, (base + 100 * k, base + 100 * k))
    shutil.rmtree(stage, ignore_errors=True)


def _drain(
    spark: SparkSession,
    in_dir: str,
    schema: str,
    sink,
    transform=None,
    output_mode: str = "append",
    shuffle_parts: int | None = None,
) -> StructType:
    """Replay the staged slices in ``in_dir`` one file per micro-batch
    through ``transform`` (if given) into the foreachBatch ``sink``
    until every slice is committed, checkpointing beside ``in_dir``;
    return the schema of the stream the sink received. Every replay
    starts and finishes its stream here."""
    with _stream_shuffle_parts(spark, shuffle_parts):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )
        if transform is not None:
            stream = transform(stream)
        q = (
            stream.writeStream.outputMode(output_mode)
            .foreachBatch(sink)
            .option(
                "checkpointLocation",
                os.path.join(os.path.dirname(in_dir), "ckpt"),
            )
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        q.stop()
    if not finished:
        # A timed-out replay has committed only SOME micro-batches; its
        # sink or store would read as a silently-partial (wrong) result.
        # Fail loudly instead.
        raise TimeoutError(
            "streaming replay did not finish within 300s; output under "
            f"{os.path.dirname(in_dir)} is partial and must not be graded"
        )
    return stream.schema


def _replay(
    spark: SparkSession,
    in_dir: str,
    schema: str,
    out_dir: str,
    transform,
    output_mode: str = "append",
    shuffle_parts: int | None = None,
) -> DataFrame:
    """``_drain`` into the idempotent parquet sink at ``out_dir`` and
    read it back. The read names its schema (the stream's plus the
    int ``__batch_id`` partition column that discovery would infer), so
    no footer-inference job runs."""
    got = _drain(
        spark,
        in_dir,
        schema,
        idempotent_parquet_sink(out_dir),
        transform,
        output_mode,
        shuffle_parts,
    )
    got.add("__batch_id", IntegerType())
    return spark.read.schema(got).parquet(out_dir)


@register(
    "streaming_gapfill_replay",
    oracle="""
    WITH per AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(value) AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    bounds AS (
      SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
      FROM per GROUP BY 1),
    spine AS (
      SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS bucket
      FROM bounds),
    j AS (
      SELECT s.event_type, s.bucket, p.v
      FROM spine s LEFT JOIN per p
        ON p.event_type = s.event_type AND p.bucket = s.bucket)
    SELECT event_type AS series, bucket,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS UNBOUNDED PRECEDING) AS value,
           v IS NULL AS is_gap
    FROM j
    """,
)
def streaming_gapfill_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch streaming LOCF gapfill, oracle-checked: hourly avg
    value per event type streams through locf_gapfill_stream in three
    time-ordered micro-batches; the dense (series, bucket, value,
    is_gap) output must equal the one-shot SQL spine+carry — gaps that
    span micro-batch boundaries are filled from applyInPandasWithState
    state, which is exactly what the hash comparison proves."""
    from ballista_extensions_spark.streaming.gapfill import (
        locf_gapfill_stream,
    )

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    per = e.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
        .cast("long")
        .alias("bucket"),
    ).agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("value").cast("double")
        ).alias("v")
    )

    stage = _stage_dir("gapfill", sf_dir)
    in_dir = os.path.join(stage, "in")
    os.makedirs(in_dir)
    # materialize the per-bucket aggregate ONCE: the boundary probe and
    # the staging write below otherwise each re-instantiate the whole
    # events aggregation (guide §2.4)
    per = per.localCheckpoint()
    # three contiguous time slices -> in-order buckets per series across
    # batches (the operator's input contract); boundaries from the
    # GLOBAL bucket range so every series' slices line up. The series
    # count rides the same 1-row probe: LOCF state parallelism IS the
    # series cardinality (O(1) state per series), so the stateful
    # stage's pinned partition count derives from it (guide §2).
    lo, hi, n_series = per.agg(
        F.min("bucket"), F.max("bucket"), F.count_distinct("event_type")
    ).first()
    cut1 = lo + (hi - lo) // 3
    cut2 = lo + 2 * (hi - lo) // 3
    b = F.col("bucket")
    _write_ordered_slices(
        per.withColumn(
            "__k", F.when(b <= cut1, 0).when(b <= cut2, 1).otherwise(2)
        ),
        3,
        in_dir,
    )
    sink = _replay(
        spark,
        in_dir,
        "event_type string, bucket long, v double",
        os.path.join(stage, "out"),
        lambda s: locf_gapfill_stream(s, "event_type", "bucket", "v", 3600),
        shuffle_parts=_state_parts(
            spark, n_series, rows=(hi - lo) // 3600 + n_series
        ),
    )
    return sink.select("series", "bucket", "value", "is_gap")


@register(
    "streaming_dedup_replay",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-batch streaming exact dedup, oracle-checked: the event
    stream replays in three micro-batches with CROSS-BATCH duplicates
    injected (batch 2 re-ships a copy of batch 1's rows, batch 3 of
    batch 2's), through dropDuplicatesWithinWatermark on event_id. The
    watermark horizon is set beyond the corpus time range so dedup
    state spans the whole replay — a duplicate arriving a batch later
    than its original MUST be dropped from state, which is exactly
    what the one-row-per-event_id oracle verifies. (A production
    deployment sets a finite horizon to bound state; the oracle-exact
    contract here needs the unbounded-within-replay form, and the
    bounded form's late-drop behavior is pytest-covered in
    tests/test_streaming.py.)"""
    from ballista_extensions_spark.streaming.ops import dedup_stream

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    stage = _stage_dir("dedup", sf_dir)
    in_dir = os.path.join(stage, "in")
    os.makedirs(in_dir)
    # dupes cross batches: slices [s0, s1 + s0, s2 + s1]
    _write_ordered_slices(_thirds(e, "event_id", redeliver=True), 3, in_dir)
    # dedup state keys = event_ids seen, ∝ batch rows (biggest batch =
    # 2/3 of the corpus after the duplicate injection) — derive the
    # pinned state-partition count from rows (the operator is a JVM
    # stateful op: no per-group Python call, so the rows budget alone
    # sizes it — guide §2)
    n_batch = math.ceil(2 * e.count() / 3)
    parts = _state_parts(spark, n_batch, rows=n_batch, python_op=False)
    sink = _replay(
        spark,
        in_dir,
        "event_id long, ts timestamp, user_id long, event_type string",
        os.path.join(stage, "out"),
        lambda s: dedup_stream(s, watermark="3650 days"),
        shuffle_parts=parts,
    )
    return sink.select("event_id", "user_id", "event_type")


@register(
    "streaming_heavy_hitters_replay",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY 1
    ORDER BY cnt DESC, item
    LIMIT 50
    """,
)
def streaming_heavy_hitters_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-batch streaming Misra–Gries heavy hitters, oracle-checked:
    the event stream replays through mg_summary_stream in three
    micro-batches; per-shard summaries accumulate in state across
    batches, and the final top-50 users by event count must equal the
    one-shot GROUP BY. Counters are sized so compaction cannot trigger
    (distinct users per shard << 4*counters at any tested SF), making
    the summaries exact counts — verified loudly (err must be 0), not
    assumed."""
    from ballista_extensions_spark.streaming.frequent import (
        mg_summary_stream,
    )

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    n_ev = e.count()
    stage = _stage_dir("heavy", sf_dir)
    in_dir = os.path.join(stage, "in")
    os.makedirs(in_dir)
    _write_ordered_slices(_thirds(e, "event_id"), 3, in_dir)
    sink = _replay(
        spark,
        in_dir,
        "event_id long, user_id long",
        os.path.join(stage, "out"),
        lambda s: mg_summary_stream(s, "user_id", shards=16, counters=1024),
        output_mode="update",
        # Misra–Gries state keys ARE the 16 shards (more state
        # partitions than shards is pure fixed-cost tasks); batch rows
        # re-fan it out toward the full cluster at production batch
        # sizes (guide §2)
        shuffle_parts=_state_parts(spark, 16, rows=math.ceil(n_ev / 3)),
    )
    # update-mode emissions: the LAST batch that touched a shard carries
    # its current full summary; earlier emissions for that shard are
    # superseded. Window partitioned by shard (16 rows' worth of groups).
    from pyspark.sql.window import Window

    latest = sink.withColumn(
        "__maxb",
        F.max("__batch_id").over(Window.partitionBy("shard")),
    ).filter(F.col("__batch_id") == F.col("__maxb"))
    bad = latest.filter(F.col("err") > 0).count()
    if bad:
        raise RuntimeError(
            f"{bad} summary rows carry nonzero decrement error; counters "
            "were sized for exactness — data cardinality grew past the "
            "compaction threshold"
        )
    return (
        latest.select("item", "cnt")
        .orderBy(F.desc("cnt"), F.asc("item"))
        .limit(50)
    )


@register(
    "streaming_media_dedup_replay",
    oracle=f"""
    WITH {_DHASH_CTE}
    SELECT media_id, dhash FROM (
      SELECT doc_id AS media_id, dhash,
             ROW_NUMBER() OVER (PARTITION BY dhash
                                ORDER BY doc_id % 3, doc_id) AS rn
      FROM dh) WHERE rn = 1
    """,
)
def streaming_media_dedup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-batch streaming MEDIA dedup-at-ingest, oracle-checked: the
    documents stream replays in three micro-batches with CROSS-BATCH
    duplicates injected (batch 2 re-ships batch 1's rows, batch 3
    batch 2's — the streaming_dedup_replay protocol), and each batch
    runs the full multimodal chain INSIDE the stream: PNG encode
    (multimodal.docs_as_png_media), real codec decode + 64-bit dHash
    (operators/imagedup.py:image_dhash), then
    streaming/stateful.py:stream_first_occurrence keyed on the
    PERCEPTUAL hash — 8 B of state per distinct fingerprint holding the
    min doc_id seen. Only first occurrences survive; a payload whose
    fingerprint was seen in an EARLIER micro-batch must be suppressed
    from state or the sink holds ~2x rows and the hash comparison
    fails — cross-batch state carry is exactly what the oracle
    verifies. The oracle recomputes every document's dHash from the
    PNG fixture arithmetic (the image_dhash_fingerprints CTE) and
    keeps one survivor per fingerprint in STREAM order — argmin by
    (doc_id % 3, doc_id), i.e. earliest batch then the operator's
    within-batch min-id tiebreak — so real perceptual collisions
    (present at sf0.1) resolve identically in both engines and the
    in-stream decode->hash chain is verified bit-for-bit too. Scale:
    this is dedup-at-ingest for a multimodal crawl — mapInPandas
    stages are narrow per-batch passes; state is one long per
    fingerprint; repeats route out of the pipeline at the earliest
    possible stage instead of costing downstream decode/storage."""
    from ballista_extensions_spark.operators.multimodal import (
        docs_png_dhash,
    )
    from ballista_extensions_spark.streaming.stateful import (
        stream_first_occurrence,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = _stage_dir("media_dedup", sf_dir)
    in_dir = os.path.join(stage, "in")
    os.makedirs(in_dir)
    # dupes cross batches: slices [s0, s1 + s0, s2 + s1]
    _write_ordered_slices(_thirds(d, "doc_id", redeliver=True), 3, in_dir)

    # state keys = distinct fingerprints ∝ batch rows (biggest batch =
    # 2/3 of the docs after the duplicate injection); the CODEC pass
    # keeps the session's full parallelism via an explicit repartition
    # count below — only the fixed-cost stateful stage shrinks
    dp = default_parallelism(spark)
    n_batch = math.ceil(2 * d.count() / 3)
    parts = _state_parts(spark, n_batch, rows=n_batch)

    def transform(stream: DataFrame) -> DataFrame:
        # fused PNG encode -> decode -> dHash (r17, guide §4.1): same
        # chain, one Python pass, payload never re-crosses the boundary.
        # repartition first: each micro-batch arrives as ONE file = ONE
        # partition, so without it the whole encode->hash chain runs on
        # a single task per batch (guide §2: the codec pass is the
        # batch's compute; spread it over the cluster, then the
        # stateful op re-shuffles by dhash as before)
        hashes = docs_png_dhash(stream.repartition(dp, "doc_id")).select(
            F.col("id").alias("doc_id"), "dhash"
        )
        return stream_first_occurrence(hashes, "dhash", "doc_id")

    sink = _replay(
        spark,
        in_dir,
        "doc_id long, text string",
        os.path.join(stage, "out"),
        transform,
        shuffle_parts=parts,
    )
    return sink.filter(F.col("is_first")).select(
        F.col("doc_id").alias("media_id"), "dhash"
    )


@register(
    "streaming_phash_store_replay",
    oracle=f"""
    WITH {_DHASH_CTE},
    b AS (SELECT doc_id, dhash, doc_id % 3 AS k FROM dh),
    intra AS (
      -- within-batch pairs: earlier id is the surviving representative
      SELECT x.doc_id AS stored_id, y.doc_id AS new_id,
             CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming,
             CAST(x.k AS BIGINT) AS phase
      FROM b x JOIN b y ON x.k = y.k AND x.doc_id < y.doc_id
      WHERE bit_count(xor(x.dhash, y.dhash)) <= 6),
    acc0 AS (
      SELECT doc_id, dhash FROM b WHERE k = 0
        AND doc_id NOT IN (SELECT new_id FROM intra WHERE phase = 0)),
    p1 AS (
      SELECT s.doc_id AS stored_id, n.doc_id AS new_id,
             CAST(bit_count(xor(s.dhash, n.dhash)) AS BIGINT) AS hamming,
             CAST(1 AS BIGINT) AS phase
      FROM acc0 s JOIN b n ON n.k = 1
      WHERE bit_count(xor(s.dhash, n.dhash)) <= 6),
    acc1 AS (
      SELECT doc_id, dhash FROM b WHERE k = 1
        AND doc_id NOT IN (SELECT new_id FROM intra WHERE phase = 1)
        AND doc_id NOT IN (SELECT new_id FROM p1)),
    store2 AS (
      SELECT doc_id, dhash FROM acc0
      UNION ALL SELECT doc_id, dhash FROM acc1),
    p2 AS (
      SELECT s.doc_id AS stored_id, n.doc_id AS new_id,
             CAST(bit_count(xor(s.dhash, n.dhash)) AS BIGINT) AS hamming,
             CAST(2 AS BIGINT) AS phase
      FROM store2 s JOIN b n ON n.k = 2
      WHERE bit_count(xor(s.dhash, n.dhash)) <= 6)
    SELECT stored_id, new_id, hamming, phase FROM intra
    UNION ALL SELECT stored_id, new_id, hamming, phase FROM p1
    UNION ALL SELECT stored_id, new_id, hamming, phase FROM p2
    """,
)
def streaming_phash_store_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTART-SURVIVABLE streaming media dedup, oracle-checked: where
    streaming_media_dedup_replay keeps its fingerprint state in the
    Spark state store (dies with the checkpoint), this replay keeps it
    in the persisted perceptual-hash store
    (streaming/storededup.py + operators/phashstore.py): the documents
    stream replays in three micro-batches (doc_id % 3 = 0, 1, 2), each
    batch runs PNG encode -> real codec decode -> 64-bit dHash INSIDE
    the stream, then foreachBatch rebuilds the store handle FROM DISK,
    finds duplicate pairs BOTH against the store (banded pigeonhole
    candidates over DISTINCT hashes + exact Hamming verification,
    threshold 6) AND within the batch itself (earlier id survives —
    the stream_first_occurrence convention lifted to near-dups), and
    compacts the surviving items back to disk as that batch's
    append-only increment. No in-memory state crosses micro-batch
    boundaries, so a process restart between any two batches changes
    nothing — by construction. The oracle replays all three rounds'
    intra-batch pairs plus both store-probe rounds including the
    cascaded accept/reject routing at each boundary, so a hash match
    proves the dedup-at-ingest decisions AND the cross-restart store
    semantics bit-exactly. Scale: probe cost per batch is the
    phashstore plan (∝ increment x bucket collisions); ingest appends
    only the increment's members and never-seen banded hashes."""
    from ballista_extensions_spark.operators.multimodal import (
        docs_png_dhash,
    )
    from ballista_extensions_spark.streaming.storededup import (
        phash_store_dedup_sink,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = _stage_dir("phash_store_dedup", sf_dir)
    in_dir = os.path.join(stage, "in")
    os.makedirs(in_dir)
    _write_ordered_slices(_thirds(d, "doc_id"), 3, in_dir)
    store_dir = os.path.join(stage, "store")
    # fused PNG encode -> decode -> dHash (r17, guide §4.1): one
    # Python pass; the encoded payload never re-crosses the boundary.
    # repartition first: one file per trigger = one partition, so the
    # codec pass would otherwise run single-task per batch (guide §2)
    _drain(
        spark,
        in_dir,
        "doc_id long, text string",
        phash_store_dedup_sink(store_dir, threshold=6),
        lambda s: docs_png_dhash(s.repartition("doc_id")),
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("stored_id long, new_id long, hamming long, phase long")
        .parquet(os.path.join(store_dir, "pairs"))
    )


def _sigstore_oracle() -> str:
    from ballista_extensions_spark.queries.analytics6 import (
        _TOKS,
        _shingles_sql,
    )

    return f"""
    WITH sh AS (
      SELECT doc_id, {_shingles_sql(_TOKS)} AS s FROM documents),
    post AS (SELECT doc_id, unnest(s) AS tok FROM sh),
    stop AS (
      -- frozen at bootstrap: batch 0's own postings, df > 100
      SELECT tok FROM post WHERE doc_id % 3 = 0
      GROUP BY tok HAVING COUNT(*) > 100),
    cap AS (
      SELECT doc_id, doc_id % 3 AS k, tok FROM post p
      WHERE NOT EXISTS (SELECT 1 FROM stop WHERE stop.tok = p.tok)),
    sz AS (SELECT doc_id, COUNT(*) AS sz FROM cap GROUP BY doc_id),
    j AS (
      SELECT a.doc_id AS da, a.k AS ka, b.doc_id AS db, b.k AS kb,
             CAST(COUNT(*) AS DOUBLE) AS i
      FROM cap a JOIN cap b ON a.tok = b.tok
        AND (a.k < b.k OR (a.k = b.k AND a.doc_id < b.doc_id))
      GROUP BY a.doc_id, a.k, b.doc_id, b.k),
    jac AS (
      SELECT da, ka, db, kb, i / (sa.sz + sb.sz - i) AS jaccard
      FROM j JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
      WHERE i / (sa.sz + sb.sz - i) >= 0.35),
    intra AS (
      SELECT da AS stored_id, db AS new_id, jaccard,
             CAST(ka AS BIGINT) AS phase
      FROM jac WHERE ka = kb),
    acc0 AS (
      SELECT doc_id FROM sh WHERE doc_id % 3 = 0
        AND doc_id NOT IN (SELECT new_id FROM intra WHERE phase = 0)),
    p1 AS (
      SELECT da AS stored_id, db AS new_id, jaccard
      FROM jac WHERE ka = 0 AND kb = 1
        AND da IN (SELECT doc_id FROM acc0)),
    acc1 AS (
      SELECT doc_id FROM sh WHERE doc_id % 3 = 1
        AND doc_id NOT IN (SELECT new_id FROM intra WHERE phase = 1)
        AND doc_id NOT IN (SELECT new_id FROM p1)),
    p2 AS (
      SELECT da AS stored_id, db AS new_id, jaccard
      FROM jac WHERE kb = 2 AND ka < 2
        AND ((ka = 0 AND da IN (SELECT doc_id FROM acc0))
          OR (ka = 1 AND da IN (SELECT doc_id FROM acc1))))
    SELECT stored_id, new_id, jaccard, phase FROM intra
    UNION ALL SELECT stored_id, new_id, jaccard, CAST(1 AS BIGINT) FROM p1
    UNION ALL SELECT stored_id, new_id, jaccard, CAST(2 AS BIGINT) FROM p2
    """


@register("streaming_sigstore_replay", oracle=_sigstore_oracle())
def streaming_sigstore_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTART-SURVIVABLE streaming TEXT dedup, oracle-checked — the
    MinHash sigstore twin of streaming_phash_store_replay (VERDICT r11
    directive #6): the documents stream replays in three micro-batches
    (doc_id % 3 = 0, 1, 2) through streaming/storededup.py's
    sigstore_dedup_sink. Batch 0 bootstraps the store and FREEZES the
    stop list from its own postings (sigstore's build-time contract);
    every batch rebuilds the store handle FROM DISK (partition-pruned
    to batch < k), finds near-dup pairs against the store AND within
    itself (banded MinHash candidates, EXACT df-capped 3-gram Jaccard
    >= 0.35 verification, earlier id survives), and compacts accepted
    signatures back as its append-only increment. No in-memory state
    crosses micro-batch boundaries, so a process restart between any
    two batches changes nothing — and at-least-once redelivery of a
    batch overwrites only its own partitions while probing the store
    as of BEFORE itself (idempotence pytest:
    tests/test_storededup.py). The oracle replays the frozen stop,
    all three intra rounds and both cascaded store-probe rounds with
    exact Jaccard, so a hash match proves banding recall 1.0 on this
    corpus, bit-exact verification AND the cross-restart accept/reject
    routing. Scale: candidate cost per batch ∝ batch × bucket
    collisions (only batch band rows drive the join); writes ∝ the
    increment."""
    from ballista_extensions_spark.streaming.storededup import (
        sigstore_dedup_sink,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = _stage_dir("sigstore_dedup", sf_dir)
    in_dir = os.path.join(stage, "in")
    os.makedirs(in_dir)
    _write_ordered_slices(_thirds(d, "doc_id"), 3, in_dir)
    store_dir = os.path.join(stage, "store")
    _drain(
        spark,
        in_dir,
        "doc_id long, text string",
        sigstore_dedup_sink(store_dir, threshold=0.35),
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema(
            "stored_id long, new_id long, jaccard double, phase long"
        )
        .parquet(os.path.join(store_dir, "pairs"))
    )


def _semdedup_oracle() -> str:
    from ballista_extensions_spark.queries.analytics11 import (
        _SEM_DIM,
        _SEM_LISTS,
        _SEM_TAU,
    )

    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        "list_transform(list_zip({a}, {b}), s -> s[1] * s[2])), "
        "(acc, x) -> acc + x)"
    )
    return f"""
    WITH cents AS (
      SELECT j AS cell,
             list_transform(generate_series(0, {_SEM_DIM - 1}), d ->
               CAST(((j * 1009 + d * 9176 + j * d * 31) % 2001) - 1000
                    AS DOUBLE) / 1000.0) AS c
      FROM generate_series(0, {_SEM_LISTS - 1}) t(j)),
    base AS (SELECT vec_id, vec_id % 3 AS k,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
    dist AS (
      SELECT base.vec_id, cents.cell,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(list_zip(base.v, cents.c),
                              s -> (s[1] - s[2]) * (s[1] - s[2]))),
               (acc, x) -> acc + x) AS dd
      FROM base CROSS JOIN cents),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dd, cell) AS rn
        FROM dist) WHERE rn = 1),
    n AS (
      SELECT b.vec_id, b.k, a.cell, b.v,
             sqrt({dot.format(a="b.v", b="b.v")}) AS nrm
      FROM base b JOIN assign a USING (vec_id)),
    cosall AS (
      SELECT * FROM (
        SELECT a.vec_id AS ida, a.k AS ka, b.vec_id AS idb, b.k AS kb,
               {dot.format(a="a.v", b="b.v")} / (a.nrm * b.nrm) AS cosine
        FROM n a JOIN n b ON a.cell = b.cell
          AND (a.k < b.k OR (a.k = b.k AND a.vec_id < b.vec_id)))
      WHERE cosine >= {_SEM_TAU}),
    intra AS (
      SELECT ida AS stored_id, idb AS new_id, cosine,
             CAST(ka AS BIGINT) AS phase
      FROM cosall WHERE ka = kb),
    acc0 AS (
      SELECT vec_id FROM n WHERE k = 0
        AND vec_id NOT IN (SELECT new_id FROM intra WHERE phase = 0)),
    p1 AS (
      SELECT ida AS stored_id, idb AS new_id, cosine
      FROM cosall WHERE ka = 0 AND kb = 1
        AND ida IN (SELECT vec_id FROM acc0)),
    acc1 AS (
      SELECT vec_id FROM n WHERE k = 1
        AND vec_id NOT IN (SELECT new_id FROM intra WHERE phase = 1)
        AND vec_id NOT IN (SELECT new_id FROM p1)),
    p2 AS (
      SELECT ida AS stored_id, idb AS new_id, cosine
      FROM cosall WHERE kb = 2 AND ka < 2
        AND ((ka = 0 AND ida IN (SELECT vec_id FROM acc0))
          OR (ka = 1 AND ida IN (SELECT vec_id FROM acc1))))
    SELECT stored_id, new_id, cosine, phase FROM intra
    UNION ALL SELECT stored_id, new_id, cosine, CAST(1 AS BIGINT) FROM p1
    UNION ALL SELECT stored_id, new_id, cosine, CAST(2 AS BIGINT) FROM p2
    """


@register("streaming_semdedup_replay", oracle=_semdedup_oracle())
def streaming_semdedup_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RESTART-SURVIVABLE streaming SEMANTIC dedup, oracle-checked —
    the third store sink (VERDICT r12 directive #2), completing the
    text (sigstore) / media (phashstore) / embedding triad: the
    embeddings stream replays in three micro-batches (vec_id % 3 =
    0, 1, 2) through streaming/storededup.py's semdedup_store_sink
    under the FROZEN 16-cell integer-lattice quantizer
    (annstore.lattice_centroids — the oracle regenerates the exact
    doubles). Every batch rebuilds the cell-partitioned member store
    FROM DISK (batch < k partition prune), assigns its vectors in one
    codegen'd pass, finds semantic-duplicate pairs by EXACT cosine
    (tau 0.4) against the store AND within itself via ONE equi-join on
    cell (never a cartesian — the SemDeDup scale contract,
    plan-asserted in tests/test_storededup.py), and compacts accepted
    members back as its cell-partitioned append-only increment. No
    in-memory state crosses micro-batch boundaries — a process restart
    between any two batches changes nothing, and an at-least-once
    redelivery of batch k overwrites only its own partitions while
    probing the store as of BEFORE itself (idempotence pytest). The
    oracle replays lattice assignment, all three intra rounds and both
    cascaded store-probe rounds with exact left-fold cosine
    arithmetic, so a hash match proves cell routing, every cosine to
    the last bit AND the cross-restart accept/reject cascade. Scale:
    probe reads only the batch's cells' files (partition filter);
    writes ∝ the increment's accepted members."""
    from ballista_extensions_spark.operators.annstore import (
        lattice_centroids,
    )
    from ballista_extensions_spark.queries.analytics11 import (
        _SEM_DIM,
        _SEM_LISTS,
        _SEM_TAU,
    )
    from ballista_extensions_spark.streaming.storededup import (
        semdedup_store_sink,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    stage = _stage_dir("semdedup_store", sf_dir)
    in_dir = os.path.join(stage, "in")
    os.makedirs(in_dir)
    _write_ordered_slices(_thirds(e, "vec_id"), 3, in_dir)
    store_dir = os.path.join(stage, "store")
    _drain(
        spark,
        in_dir,
        "vec_id long, embedding array<double>",
        semdedup_store_sink(
            store_dir, lattice_centroids(_SEM_LISTS, _SEM_DIM), tau=_SEM_TAU
        ),
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("stored_id long, new_id long, cosine double, phase long")
        .parquet(os.path.join(store_dir, "pairs"))
    )
