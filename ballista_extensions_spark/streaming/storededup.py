"""Store-backed streaming near-duplicate dedup, restart-survivable.

``sinks.first_occurrence_sink`` drops exact repeats of a key against
its own committed output. This module keeps near-duplicate state in
the persisted perceptual-hash store
(:mod:`operators.phashstore` layout, path-backed): every micro-batch
builds a FRESH store handle purely from disk, finds duplicates both
AGAINST the store and WITHIN the batch itself, routes every duplicate
pair to the sink, and compacts the surviving items back to disk.
Nothing survives in memory between batches — by construction, a
process restart between any two micro-batches changes nothing, which
is exactly the property VERDICT r10 #8 asked the streaming path to
gain.

Dedup semantics per batch (first_occurrence_sink's min-id convention
lifted to near-dups): an item is REJECTED iff it matches stored
content (any hamming ≤ threshold pair with the store) or an
earlier-id item of its own batch; intra-batch pairs report the
earlier id in the ``stored_id`` column (it is the surviving
representative). Rejected items are never compacted, but every pair
they participate in is recorded.

Layout under ``store_dir``: one table per directory, each in the
per-batch layout of :mod:`streaming.sinks` (``write_batch`` /
``read_batches``), so foreachBatch's at-least-once delivery is
idempotent — a re-run of batch N overwrites ONLY
``<table>/__batch_id=N`` and probes the store as of ``__batch_id <
N``, never its own prior output:

- ``members/`` — accepted (id, h) rows of each batch
- ``banded/``  — (h, band, slice) rows of each batch's
  never-seen-before hashes (the store's distinct-hash discipline)
- ``pairs/``   — (stored_id, new_id, hamming, phase) findings

Scale: the probe is the phashstore plan (banded pigeonhole candidates
over DISTINCT hashes + exact verification) and every per-batch write
is ∝ the increment — accepted members directly, banded rows only for
hashes the store's (small) distinct-hash table has never seen. The
path-backed store trades the bucketed tables' exchange-free store
side for restart-by-construction; the bucketed form is the batch
store (``build_phash_store``/``build_signature_store`` with a
``table_prefix``), which these sinks neither read nor write.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballista_extensions_spark.streaming.sinks import (
    committed_before,
    read_batches,
    write_batch,
)


def _commit_pairs(
    pairs: DataFrame, pairs_dir: str, batch_id: int, id_col: str
) -> DataFrame:
    """Write a batch's duplicate pairs, tagged with ``phase``, to
    ``pairs/__batch_id=N`` FIRST, then derive the batch's rejects
    (distinct ``new_id`` as ``id_col``) from the committed files: one
    job instead of localCheckpoint + write (r17), and on an
    at-least-once redelivery the read-back sees exactly this batch's
    own (just rewritten) pairs."""
    tagged = pairs.withColumn("phase", F.lit(batch_id).cast("long"))
    write_batch(tagged, pairs_dir, batch_id)
    return (
        read_batches(
            pairs.sparkSession, pairs_dir, tagged.schema, batch_id=batch_id
        )
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
    mirrors the phash sink — ``stop|bands|sets|pairs/__batch_id=N/``
    — so an at-least-once redelivery of batch N overwrites only its
    own directories and reads the store as of ``__batch_id < N``:
    idempotent by construction. Scale: candidate cost ∝ batch ×
    bucket collisions (only BATCH band rows drive the join); per-batch
    writes ∝ the increment's accepted signatures."""
    from ballista_extensions_spark.operators.dedup import (
        _verify_capped_jaccard,
        _word_postings,
    )
    from ballista_extensions_spark.operators.sigstore import (
        _fused_sets_and_bands,
        _stop_list,
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
        if not committed_before(stop_dir, batch_id):
            # bootstrap: freeze the stop list from the first committed
            # batch's own postings (sigstore's build-time contract); a
            # redelivery of this batch recomputes it identically. The
            # rule is a committed write (``_SUCCESS``), not row count —
            # a committed stop with zero heavy shingles is a valid
            # frozen state, not a reason to re-bootstrap. The raw
            # postings are checkpointed so the bootstrap batch
            # tokenizes ONCE (stop agg + signature agg both read the
            # materialized postings — r17 job-count optimization).
            raw = raw.localCheckpoint()
            write_batch(_stop_list(raw, max_df), stop_dir, batch_id)
        # the frozen stop as of AFTER any bootstrap this batch did —
        # reading it back off disk (instead of carrying the lazy
        # bootstrap plan) keeps the cap join a small parquet scan
        stop = read_batches(spark, stop_dir, "s string", before=batch_id + 1)
        bsets, bbands = _fused_sets_and_bands(
            raw.join(stop, "s", "left_anti"), bands, rows_per_band
        )
        store_bands = read_batches(
            spark, bands_dir, "doc long, bkey long", before=batch_id
        )
        store_sets = read_batches(
            spark, sets_dir, "doc long, shset array<string>", before=batch_id
        ).select("doc", "shset")
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
            store_bands.select(F.col("doc").alias("doc_a"), "bkey")
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
        all_sets = store_sets.unionByName(bsets)
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
        # read-back and store batches before batch_id — the
        # __batch_id=N overwrite can never delete a file these plans
        # read (static partition prune), so no checkpoint-before-write
        # is needed.
        gone = rejects.unionByName(store_sets.select("doc"))
        write_batch(bbands.join(gone, "doc", "left_anti"), bands_dir, batch_id)
        write_batch(bsets.join(gone, "doc", "left_anti"), sets_dir, batch_id)

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
    ``vec_id``, ``embedding``) rebuilds the member store purely from
    disk (``__batch_id < N`` partition prune), assigns the increment
    under the FROZEN quantizer (one codegen'd narrow pass), finds
    semantic-duplicate pairs by exact cosine BOTH against the store and
    within the batch — pairwise work is ONE equi-join on ``cell``,
    never a cartesian, the SemDeDup scale contract — routes every pair
    to the sink (earlier item survives: first_occurrence_sink's min-id
    convention lifted to cosine space), and compacts the accepted
    members back as that batch's append-only increment, its rows
    sorted by cell so the NEXT batch's pushed-down ``cell IN (...)``
    filter skips the pages of other cells.

    Layout under ``store_dir`` mirrors the siblings —
    ``members|pairs/__batch_id=N/`` — so an at-least-once redelivery
    of batch N overwrites only its own directories and probes the
    store as of ``__batch_id < N``: idempotent by construction. Scale:
    probe cost ∝ batch x cell occupancy; writes ∝ the increment's
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
        # pushed into the store scan as a literal filter
        batch_cells = sorted(
            r[0] for r in assigned.select("cell").distinct().collect()
        )
        store = read_batches(
            spark,
            members_dir,
            f"{id_col} long, {vec_col} array<double>, cell int",
            before=batch_id,
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
        # just-committed pairs and store batches before batch_id — the
        # __batch_id=N overwrite can never delete a file its plan reads
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
        write_batch(
            accepted.sortWithinPartitions("cell"), members_dir, batch_id
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
        _member_near_dup_pairs,
        _members,
        _validate_banding,
    )
    from ballista_extensions_spark.operators.phashstore import (
        PHashStore,
        _fresh_banded,
        _probe_members,
    )

    members_dir = os.path.join(store_dir, "members")
    banded_dir = os.path.join(store_dir, "banded")
    pairs_dir = os.path.join(store_dir, "pairs")
    _validate_banding(threshold, bands)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the whole point: the store handle is rebuilt from DISK every
        # batch — no in-memory state crosses micro-batch boundaries
        store = PHashStore(
            members=read_batches(
                spark, members_dir, "id long, h long", before=batch_id
            ),
            banded=read_batches(
                spark, banded_dir, "h long, band int, slice long",
                before=batch_id,
            ),
            bands=bands,
        )
        # the batch's members, materialized once by _members; the probe
        # and the intra-batch pairs read them as they are, since a
        # second lazy checkpoint over them would be raced by the
        # write's concurrent jobs, whose late tasks then report SQL
        # metrics of a plan the driver has already dropped
        batch = _members(batch_df, "id", "dhash")
        store_pairs = _probe_members(store, batch, threshold)
        # within-batch duplicates: the earlier id is the survivor and
        # reports as stored_id (first_occurrence_sink's min-id
        # convention lifted to near-dups)
        intra_pairs = _member_near_dup_pairs(batch, threshold, bands).select(
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
        # pairs/members files and store batches before batch_id, so
        # the __batch_id=N overwrites can never delete files the plans
        # still need (static partition prune) — the pre-r17
        # checkpoint-before-write pair of jobs is unnecessary.
        write_batch(
            batch.join(rejects, "id", "left_anti"), members_dir, batch_id
        )
        accepted = read_batches(
            spark, members_dir, "id long, h long", batch_id=batch_id
        )
        write_batch(_fresh_banded(store, accepted), banded_dir, batch_id)

    return fn
