"""Store-backed streaming media dedup — the restart-survivable form.

``stateful.stream_first_occurrence`` keeps dedup state in the Spark
state store, which lives and dies with the streaming checkpoint. This
module instead keeps the state in the persisted perceptual-hash store
(:mod:`operators.phashstore` layout, path-backed): every micro-batch
builds a FRESH store handle purely from disk, finds duplicates both
AGAINST the store and WITHIN the batch itself, routes every duplicate
pair to the sink, and compacts the surviving items back to disk.
Nothing survives in memory between batches — by construction, a
process restart between any two micro-batches changes nothing, which
is exactly the property VERDICT r10 #8 asked the streaming path to
gain.

Dedup semantics per batch (the stream_first_occurrence convention
lifted to near-dups): an item is REJECTED iff it matches stored
content (any hamming ≤ threshold pair with the store) or an
earlier-id item of its own batch; intra-batch pairs report the
earlier id in the ``stored_id`` column (it is the surviving
representative). Rejected items are never compacted, but every pair
they participate in is recorded.

Layout under ``store_dir`` (append-only, one subdir per committed
batch so foreachBatch's at-least-once delivery is idempotent — a
re-run of batch k overwrites ONLY ``.../batch=k`` and probes the
store as of ``batch < k``, never its own prior output):

- ``members/batch=k/`` — accepted (id, h) rows of batch k
- ``banded/batch=k/``  — (h, band, slice) rows of batch k's
  never-seen-before hashes (the store's distinct-hash discipline)
- ``pairs/batch=k/``   — (stored_id, new_id, hamming, phase) findings

Scale: the probe is the phashstore plan (banded pigeonhole candidates
over DISTINCT hashes + exact verification) and every per-batch write
is ∝ the increment — accepted members directly, banded rows only for
hashes the store's (small) distinct-hash table has never seen. The
path-backed store trades the bucketed tables' exchange-free store
side for restart-by-construction — a production deployment points the
same code at the bucketed-table store and compacts on a cadence
instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _read_or_empty(
    spark: SparkSession,
    path: str,
    schema: str,
    before_batch: int | None = None,
) -> DataFrame:
    """Parquet read of a ``batch=k`` partition tree; empty frame with
    the right schema ONLY when the directory does not exist yet
    (bootstrap — no batch has ever committed). A directory that exists
    but cannot be read must FAIL, not silently present an empty store:
    probing an empty store accepts every duplicate and compaction
    would corrupt the state permanently. ``before_batch`` restricts to
    partitions ``batch < before_batch`` — the store state as of BEFORE
    that batch, which is what makes an at-least-once redelivery of
    batch k exactly idempotent, and is a plain partition-prune at
    scale."""
    if not os.path.isdir(path):
        return spark.createDataFrame([], schema)
    if not any(
        f.endswith(".parquet")
        for _, _, files in os.walk(path)
        for f in files
    ):
        # dir exists (a prior run created it) but holds no data files
        # — walk errors propagate rather than masquerading as empty
        return spark.createDataFrame([], schema)
    df = spark.read.parquet(path)  # discovers the `batch` partition col
    if before_batch is not None:
        df = df.filter(F.col("batch") < before_batch)
    return df.drop("batch")


def _committed_before(path: str, before_batch: int) -> bool:
    """True iff some partition ``batch=j`` with ``j < before_batch``
    holds committed data files. This is the bootstrap sentinel for
    state that may be LEGITIMATELY EMPTY (a frozen stop list with no
    heavy shingles): row-count emptiness would conflate 'committed
    empty' with 'never committed' and re-bootstrap on every batch
    (code-review r12)."""
    if not os.path.isdir(path):
        return False
    for d in os.listdir(path):
        if not d.startswith("batch="):
            continue
        try:
            j = int(d.split("=", 1)[1])
        except ValueError:
            continue
        if j < before_batch and any(
            f.endswith(".parquet") or f == "_SUCCESS"
            for _, _, files in os.walk(os.path.join(path, d))
            for f in files
        ):
            return True
    return False


def _commit_pairs(
    pairs: DataFrame, pairs_dir: str, batch_id: int, id_col: str
) -> DataFrame:
    """Write a batch's duplicate pairs, tagged with ``phase``, to
    ``pairs/batch=k`` FIRST, then derive the batch's rejects (distinct
    ``new_id`` as ``id_col``) from the committed files: one job instead
    of localCheckpoint + write (r17), and on an at-least-once
    redelivery the read-back sees exactly this batch's own (just
    rewritten) pairs."""
    path = os.path.join(pairs_dir, f"batch={batch_id}")
    tagged = pairs.withColumn("phase", F.lit(batch_id).cast("long"))
    tagged.write.mode("overwrite").parquet(path)
    return (
        pairs.sparkSession.read.schema(tagged.schema)
        .parquet(path)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )


def sigstore_dedup_sink(
    store_dir: str,
    *,
    threshold: float = 0.35,
    n: int = 3,
    max_df: int = 100,
    bands: int = 64,
    rows_per_band: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch function: restart-survivable streaming TEXT dedup —
    the MinHash signature-store mirror of :func:`phash_store_dedup_sink`
    (VERDICT r11 directive #6). Each micro-batch (columns ``doc_id``,
    ``text``) rebuilds the :mod:`operators.sigstore` state purely from
    disk, finds near-duplicate pairs against the store AND within the
    batch (banded candidates, exact df-capped Jaccard verification,
    earlier id survives), routes every pair to the sink, and compacts
    the surviving signatures back as that batch's append-only
    increment.

    The stop list follows sigstore's frozen-at-build contract: the
    FIRST batch ever committed computes it from its own postings
    (df > max_df) and writes it once; every later batch signs under
    that frozen list (no corpus rescan). Layout under ``store_dir``
    mirrors the phash sink — ``stop|bands|sets|pairs/batch=k/`` — so
    an at-least-once redelivery of batch k overwrites only its own
    partitions and reads the store as of ``batch < k``: idempotent by
    construction. Scale: candidate cost ∝ batch × bucket collisions
    (only BATCH band rows drive the join); per-batch writes ∝ the
    increment's accepted signatures."""
    from ballista_extensions_spark.operators.dedup import (
        _band_explode,
        _minhash_sig_aggs,
        _verify_capped_jaccard,
        _word_postings,
    )
    from ballista_extensions_spark.operators.sigstore import (
        SignatureStore,
    )

    stop_dir = os.path.join(store_dir, "stop")
    bands_dir = os.path.join(store_dir, "bands")
    sets_dir = os.path.join(store_dir, "sets")
    pairs_dir = os.path.join(store_dir, "pairs")

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(
            F.col(id_col).alias(id_col), F.col(text_col)
        )
        # non-distinct postings: every consumer below is
        # duplicate-insensitive (countDistinct df, collect_set,
        # MinHash min), so the set-semantics distinct would be a whole
        # extra exchange of the posting payload per batch (r17)
        raw = _word_postings(batch, text_col, id_col, n, distinct=False)
        if not _committed_before(stop_dir, batch_id):
            # bootstrap: freeze the stop list from the first committed
            # batch's own postings (sigstore's build-time contract); a
            # redelivery of this batch recomputes it identically. The
            # sentinel is PARTITION EXISTENCE, not row count — a
            # committed stop with zero heavy shingles is a valid
            # frozen state, not a reason to re-bootstrap. The raw
            # postings are checkpointed so the bootstrap batch
            # tokenizes ONCE (stop agg + signature agg both read the
            # materialized postings — r17 job-count optimization).
            # df = countDistinct(doc) over the non-distinct postings —
            # exactly the document frequency the distinct+count pair
            # computed, in one partially-aggregated shuffle.
            raw = raw.localCheckpoint()
            (
                raw.groupBy("s")
                .agg(F.count_distinct("doc").alias("df_s"))
                .filter(F.col("df_s") > max_df)
                .select("s")
                .write.mode("overwrite")
                .parquet(os.path.join(stop_dir, f"batch={batch_id}"))
            )
        # the frozen stop as of AFTER any bootstrap this batch did —
        # reading it back off disk (instead of carrying the lazy
        # bootstrap plan) keeps the cap join a small parquet scan
        stop = _read_or_empty(
            spark, stop_dir, "s string", before_batch=batch_id + 1
        )
        capped = raw.join(stop, "s", "left_anti")
        # ONE shuffle produces BOTH the capped sets and the MinHash
        # signatures (guide §2.3 "aggregate before you shuffle" /
        # §2.4 two operations keyed the same way share one exchange):
        # the pre-r17 sink materialized bands and sets separately, so
        # every micro-batch tokenized and capped its documents twice.
        num_hashes = bands * rows_per_band
        grouped = (
            capped.select("doc", "s", F.xxhash64("s").alias("h"))
            .groupBy("doc")
            .agg(
                F.collect_set("s").alias("shset"),
                *_minhash_sig_aggs(num_hashes),
            )
            .localCheckpoint()
        )
        bsets = grouped.select("doc", "shset")
        bbands = _band_explode(grouped, bands, rows_per_band).select(
            "doc", F.xxhash64("band_id", "band_hash").alias("bkey")
        )
        store = SignatureStore(
            bands=_read_or_empty(
                spark, bands_dir, "doc long, bkey long",
                before_batch=batch_id,
            ),
            sets=_read_or_empty(
                spark, sets_dir, "doc long, shset array<string>",
                before_batch=batch_id,
            ),
            stop=stop,
        )
        # ONE candidate union + ONE distinct + ONE verification join
        # (r17, guide §2.4): store-probe candidates (stored doc_a vs
        # batch doc_b — id sets disjoint by the store's first-wins
        # compaction) and intra-batch candidates (doc_a < doc_b, both
        # batch ids) cannot overlap, so distinct-then-union equals
        # union-then-distinct and a single _verify_capped_jaccard pass
        # over the unioned candidates replaces the pre-r17 pair of
        # verify joins (2 repartitions + 4 set joins -> 1 + 2). This
        # is ingest_against_store's exact candidate/verify arithmetic,
        # fused with the intra pass; pair values are bit-identical.
        nb = bbands.select(F.col("doc").alias("doc_b"), "bkey")
        store_cands = (
            store.bands.select(F.col("doc").alias("doc_a"), "bkey")
            .join(nb, "bkey")
            .select("doc_a", "doc_b")
        )
        intra_cands = (
            bbands.select(F.col("doc").alias("doc_a"), "bkey")
            .join(nb, "bkey")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        cands = store_cands.unionByName(intra_cands).distinct()
        all_sets = store.sets.unionByName(bsets)
        pairs = _verify_capped_jaccard(
            cands, all_sets, threshold, spark
        ).select(
            F.col("doc_a").alias("stored_id"),
            F.col("doc_b").alias("new_id"),
            "jaccard",
        )
        rejects = _commit_pairs(pairs, pairs_dir, batch_id, "doc")
        # first-wins id guard (the phashstore compaction contract,
        # code-review r12): a doc id the store already holds signatures
        # for must not be compacted a second time — duplicate shset
        # rows would fan out every later verification join on that id.
        # Ids whose first occurrence produced NO signatures (empty
        # capped set) hold no store state to collide with.
        #
        # Both keep writes read only the grouped checkpoint, the pairs
        # read-back and store partitions batch < batch_id — the
        # batch=k overwrite can never delete a file these plans read
        # (static partition prune), so no checkpoint-before-write is
        # needed.
        stored_ids = store.sets.select("doc")
        keep_bands = (
            bbands.join(rejects, "doc", "left_anti")
            .join(stored_ids, "doc", "left_anti")
        )
        keep_sets = (
            bsets.join(rejects, "doc", "left_anti")
            .join(stored_ids, "doc", "left_anti")
        )
        keep_bands.write.mode("overwrite").parquet(
            os.path.join(bands_dir, f"batch={batch_id}")
        )
        keep_sets.write.mode("overwrite").parquet(
            os.path.join(sets_dir, f"batch={batch_id}")
        )

    return fn


def semdedup_store_sink(
    store_dir: str,
    centroids,
    *,
    tau: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch function: restart-survivable streaming SEMANTIC
    dedup — the third store sink (VERDICT r12 directive #2), mirroring
    :func:`sigstore_dedup_sink` (text) and :func:`phash_store_dedup_sink`
    (media) over the SemDeDup/ANN-store machinery
    (operators/semdedup.py + annstore.py). Each micro-batch (columns
    ``vec_id``, ``embedding``) rebuilds the cell-partitioned member
    store purely from disk (``batch < k`` partition prune), assigns
    the increment under the FROZEN quantizer (one codegen'd narrow
    pass), finds semantic-duplicate pairs by exact cosine BOTH against
    the store and within the batch — pairwise work is ONE equi-join on
    ``cell``, never a cartesian, the SemDeDup scale contract — routes
    every pair to the sink (earlier item survives:
    stream_first_occurrence's min-id convention lifted to cosine
    space), and compacts the accepted members back as that batch's
    append-only increment, partitioned by cell (the inverted-file
    layout, so the NEXT batch's probe prunes to its own cells).

    Layout under ``store_dir`` mirrors the siblings —
    ``members|pairs/batch=k/`` — so an at-least-once redelivery of
    batch k overwrites only its own partitions and probes the store as
    of ``batch < k``: idempotent by construction. Scale: probe cost ∝
    batch x cell occupancy (the store scan reads only the batch's
    cells' files via partition pruning); writes ∝ the increment's
    accepted members; nothing ever rescans or rewrites the store."""
    from ballista_extensions_spark.operators.annstore import assign_cells
    from ballista_extensions_spark.operators.similarity import (
        as_double,
        dot_sql,
        norm_sql,
    )

    members_dir = os.path.join(store_dir, "members")
    pairs_dir = os.path.join(store_dir, "pairs")
    if not (0.0 < tau <= 1.0):
        raise ValueError(f"semdedup sink: tau must be in (0, 1], got {tau}")

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        assigned = assign_cells(
            batch_df.select(
                F.col(id_col), F.expr(as_double(vec_col)).alias(vec_col)
            ),
            centroids,
            id_col=id_col,
            vec_col=vec_col,
        ).localCheckpoint()
        # bounded driver state (≤ n_lists ints): the batch's own cells,
        # pushed into the store scan as a partition filter
        batch_cells = sorted(
            r[0] for r in assigned.select("cell").distinct().collect()
        )
        store = _read_or_empty(
            spark,
            members_dir,
            f"{id_col} long, {vec_col} array<double>, cell int",
            before_batch=batch_id,
        ).filter(F.col("cell").isin(batch_cells))
        b = assigned.select(
            F.col(id_col).alias("__id_b"),
            F.col(vec_col).alias("__vb"),
            F.expr(norm_sql(vec_col)).alias("__nb"),
            "cell",
        )
        s = store.select(
            F.col(id_col).alias("__id_a"),
            F.col(vec_col).alias("__va"),
            F.expr(norm_sql(vec_col)).alias("__na"),
            "cell",
        )
        cos = F.expr(dot_sql("__va", "__vb")) / (
            F.col("__na") * F.col("__nb")
        )
        # ONE cell equi-join probes the store AND the batch itself
        # (r17, guide §2.4): the store side and the batch-as-probe side
        # union into one left input (store rows pair with every batch
        # row of the cell, batch rows only with larger batch ids — the
        # __st flag keeps the two conditions apart), so the batch rows
        # cross a single exchange instead of driving two separate
        # joins. Pair values are bit-identical to the pre-r17 pair of
        # joins; still never a cartesian.
        a2 = b.select(
            F.col("__id_b").alias("__id_a"),
            F.col("__vb").alias("__va"),
            F.col("__nb").alias("__na"),
            "cell",
        )
        probe = s.withColumn("__st", F.lit(True)).unionByName(
            a2.withColumn("__st", F.lit(False))
        )
        # the accepted write reads only the assigned checkpoint, the
        # just-committed pairs and store partitions batch < batch_id —
        # the batch=k overwrite can never delete a file its plan reads
        # (static partition prune), so no checkpoint-before-write.
        pairs = (
            probe.join(b, "cell")
            .filter(
                (F.col("__st") | (F.col("__id_a") < F.col("__id_b")))
                & (cos >= F.lit(float(tau)))
            )
            .select(
                F.col("__id_a").alias("stored_id"),
                F.col("__id_b").alias("new_id"),
                cos.alias("cosine"),
            )
        )
        rejects = _commit_pairs(pairs, pairs_dir, batch_id, id_col)
        accepted = assigned.join(rejects, id_col, "left_anti")
        accepted.write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(members_dir, f"batch={batch_id}")
        )

    return fn


def phash_store_dedup_sink(
    store_dir: str, *, threshold: int = 6, bands: int = 8
):
    """foreachBatch function: find duplicate pairs of each hashed
    micro-batch (columns ``id``, ``dhash``) against the path-backed
    store AND within the batch, then compact the surviving items in.
    Returns the callable for ``writeStream.foreachBatch``."""
    from ballista_extensions_spark.operators.imagedup import (
        _band_slices,
        _members,
        _validate_banding,
        phash_near_dup_pairs,
    )
    from ballista_extensions_spark.operators.phashstore import (
        PHashStore,
        probe_phash_store,
    )

    members_dir = os.path.join(store_dir, "members")
    banded_dir = os.path.join(store_dir, "banded")
    pairs_dir = os.path.join(store_dir, "pairs")

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        width, mask = _validate_banding(threshold, bands)
        # the whole point: the store handle is rebuilt from DISK every
        # batch — no in-memory state crosses micro-batch boundaries
        store = PHashStore(
            members=_read_or_empty(
                spark, members_dir, "id long, h long",
                before_batch=batch_id,
            ),
            banded=_read_or_empty(
                spark, banded_dir, "h long, band int, slice long",
                before_batch=batch_id,
            ),
            bands=bands,
        )
        batch = _members(batch_df, "id", "dhash").localCheckpoint()
        store_pairs = probe_phash_store(
            store, batch, threshold=threshold, hash_col="h"
        )
        # within-batch duplicates: the earlier id is the survivor and
        # reports as stored_id (stream_first_occurrence's min-id
        # convention lifted to near-dups)
        intra_pairs = phash_near_dup_pairs(
            batch, threshold=threshold, bands=bands, hash_col="h"
        ).select(
            F.col("id_a").alias("stored_id"),
            F.col("id_b").alias("new_id"),
            "hamming",
        )
        # dedup-at-ingest: any item that matched stored content or an
        # earlier batch item is REJECTED; the increments are computed
        # directly (∝ batch), never by subtracting the grown store.
        rejects = _commit_pairs(
            store_pairs.unionByName(intra_pairs), pairs_dir, batch_id, "id"
        )
        # members first, banded second, both straight to disk: each
        # plan reads only the batch checkpoint, the just-committed
        # pairs/members files and store partitions batch < batch_id,
        # so the batch=k overwrites can never delete files the plans
        # still need (static partition prune) — the pre-r17
        # checkpoint-before-write pair of jobs is unnecessary.
        accepted = batch.join(rejects, "id", "left_anti")
        accepted.write.mode("overwrite").parquet(
            os.path.join(members_dir, f"batch={batch_id}")
        )
        accepted_rb = spark.read.schema("id long, h long").parquet(
            os.path.join(members_dir, f"batch={batch_id}")
        )
        fresh_h = (
            accepted_rb.select("h")
            .distinct()
            .join(store.banded.select("h").distinct(), "h", "left_anti")
        )
        _band_slices(fresh_h, width, mask, bands).write.mode(
            "overwrite"
        ).parquet(os.path.join(banded_dir, f"batch={batch_id}"))

    return fn
