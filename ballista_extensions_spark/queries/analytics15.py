"""Round-15 queries: sequence packing (operators/packing.py), the
shard read-side/epoch-replay contract, curriculum shard ordering, and
the byte-level pretokenizer (VERDICT r14 directives #2, #3, #5, #7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballista_extensions_spark.io import ensure_parallelism, load_table
from ballista_extensions_spark.queries.audits import check_rows, register_audit
from ballista_extensions_spark.queries.registry import register

#: packing parameters for the graded query — context length small
#: enough that sf0.001 (~2.7k BPE tokens) already yields several
#: sequences and sf0.1 (~271k) a few hundred, exercising both the
#: many-docs-per-sequence and the doc-spans-sequences directions
_PACK_LEN = 1024
_PACK_SEED = 20260816


def _packing_oracle() -> str:
    from ballista_extensions_spark.operators.bpe_stream import (
        FROZEN_STREAM_MERGES,
        chain_cte_duckdb,
    )
    from ballista_extensions_spark.operators.packing import (
        PACKING_SELECT_DUCKDB,
        packing_ctes_duckdb,
    )
    from ballista_extensions_spark.operators.shards import (
        manifest_ctes_duckdb,
    )

    chain = chain_cte_duckdb(
        FROZEN_STREAM_MERGES,
        from_sql="(SELECT doc_id, text FROM documents "
        "WHERE text IS NOT NULL)",
    )
    # capacity is irrelevant to packing — the manifest CTE chain is
    # reused only for its ranked CTE (seeded order + running totals)
    return f"""
    WITH {chain},
    bpedocs AS (
      SELECT d.doc_id, d.text,
             CAST((length(c.s) - length(replace(c.s, ' ', ''))) / 2
                  AS BIGINT) AS bpe_tokens
      FROM documents d JOIN __bpe_chain c ON c.doc_id = d.doc_id
      WHERE d.text IS NOT NULL),
    {manifest_ctes_duckdb(1 << 40, _PACK_SEED, "bpedocs",
                          cost_sql="bpe_tokens + 1")},
    {packing_ctes_duckdb(_PACK_LEN)}
    {PACKING_SELECT_DUCKDB.format(L=_PACK_LEN)}
    """


@register("sequence_packing_manifest", oracle=_packing_oracle())
def sequence_packing_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trainer-ready sequence packing (operators/packing.py, VERDICT
    r14 directive #2): the frozen-vocab BPE token stream of every
    document (+1 EOS sentinel each), concatenated in the seeded shard
    order and cut into fixed 1024-token training sequences — one
    manifest row per sequence with its document count, boundary count,
    rank range, order-sensitive boundary hash, and padding waste
    (nonzero only on the tail). The oracle replays the ENTIRE
    composition: the staged merge chain for every document's token
    count, the seeded shuffle + fused rank/cumsum, and the span
    arithmetic, bit-for-bit. Scale: arithmetic over ranked_stream
    (one range shuffle) + a span explode that multiplies rows by
    spans-per-doc (output rows = n_docs + n_sequences, never
    per-token) + one map-side-combined groupBy."""
    from ballista_extensions_spark.operators.bpe_stream import (
        FROZEN_STREAM_MERGES,
        bpe_stream_token_counts,
    )
    from ballista_extensions_spark.operators.packing import (
        pack_sequences_manifest,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    counts = bpe_stream_token_counts(d, FROZEN_STREAM_MERGES).select(
        "doc_id", (F.col("n_tokens") + 1).alias("bpe_cost")
    )
    with_cost = d.select("doc_id", "text").join(counts, "doc_id")
    return pack_sequences_manifest(
        with_cost, _PACK_LEN, _PACK_SEED, cost_col="bpe_cost"
    )


_REPLAY_CHECKS = [
    "read_back_matches_manifest",
    "rank_sequential_within_shard",
    "shards_tile_global_ranks",
    "resume_is_partition_pruned",
    "resume_replays_manifest_tail",
    "epoch_content_set_equal",
    "epoch_order_differs",
]


@register_audit("shard_replay_audit", _REPLAY_CHECKS)
def shard_replay_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard READ-side / epoch-replay contract (VERDICT r14
    directive #3) — the write path round-trips in pytest; this audit
    proves the trainer handoff as driver-hash-checkable rows:

    - read_back_matches_manifest: the manifest aggregation recomputed
      from the rows READ BACK off disk equals the manifest written
      beside them (the manifest describes the bytes, not a parallel
      reconstruction);
    - rank_sequential_within_shard: every shard's ranks are contiguous
      (max - min + 1 == count) — the trainer replays intra-shard order
      by sorting one file;
    - shards_tile_global_ranks: consecutive shards continue the global
      rank sequence with no gap or overlap (O(shards) driver state);
    - resume_is_partition_pruned: resuming from a (shard, rank)
      checkpoint plans a parquet scan whose PartitionFilters prune
      shard_id — history shard directories are never read, the I/O
      contract that makes mid-epoch restart ∝ remainder, not corpus;
    - resume_replays_manifest_tail: the resumed stream's
      order-sensitive hash equals the same hash over the assignment
      tail (rank > checkpoint) recomputed from the corpus — the
      resumed order IS the manifest order's tail;
    - epoch_content_set_equal / epoch_order_differs: two epoch seeds
      hold the identical document SET (order-insensitive hash equal)
      in different orders (order-sensitive hash differs) — per-epoch
      reshuffling without data loss.

    Scale note: per-row evidence is aggregated distributively (hash
    aggregates + O(shards) collects); like every *_contract_audit this
    is fixed_evidence — the replay scaffolding (write + read back)
    dominates and is flat in row count."""
    import os
    import shutil
    import tempfile

    from ballista_extensions_spark.operators.shards import (
        SHARD_PRIME as P,
        assign_training_shards,
        manifest_agg,
        write_training_shards,
    )

    from concurrent.futures import ThreadPoolExecutor

    from ballista_extensions_spark.operators.shards import (
        position_weight_sql,
    )

    cap, seed_a, seed_b = 1536, 21, 22
    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    order_hash = F.expr(
        f"CAST(SUM((doc_hash * {position_weight_sql()}) % {P}) % {P}"
        " AS BIGINT)"
    )
    set_hash = F.expr(f"CAST(SUM(doc_hash) % {P} AS BIGINT)")
    out = tempfile.mkdtemp(prefix="bx_shard_replay_")
    try:
        # ONE checkpointed range shuffle for seed_a: the write AND the
        # epoch-a hash aggregation read the same assignment (r17 —
        # previously assign_training_shards(seed_a) re-derived the
        # whole doc frame for the epoch hashes)
        assigned_a = assign_training_shards(d, cap, seed_a)
        # epoch-b is independent of everything the write produces: run
        # its hash aggregation on a driver thread so its jobs back-fill
        # the write's straggler tail (guide §2.6)
        with ThreadPoolExecutor(max_workers=1) as pool:
            fut_b = pool.submit(
                lambda: assign_training_shards(d, cap, seed_b)
                .agg(set_hash.alias("s"), order_hash.alias("o"))
                .collect()[0]
            )
            man = write_training_shards(
                d, out, cap, seed_a, assigned=assigned_a
            )
            man_rows = [tuple(r) for r in man.orderBy("shard_id").collect()]
            shards = spark.read.parquet(os.path.join(out, "shards"))

            re_man = manifest_agg(
                shards.select(
                    "doc_id", "n_tokens", "doc_hash", "rank", "shard_id"
                )
            )
            re_rows = re_man.collect()  # ordered by shard_id
            read_back = [tuple(r) for r in re_rows] == man_rows
            rb = fut_b.result()

        # rank spans come straight off the read-back manifest rows
        # (min_rank/max_rank/n_docs ARE lo/hi/n) — the separate
        # groupBy-collect job this replaced aggregated the same
        # read-back bytes a second time (r17)
        spans = [
            {
                "shard_id": r["shard_id"],
                "lo": r["min_rank"],
                "hi": r["max_rank"],
                "n": r["n_docs"],
            }
            for r in re_rows
        ]  # O(shards) driver state
        contiguous = all(r["hi"] - r["lo"] + 1 == r["n"] for r in spans)
        tiles = (
            bool(spans)
            and spans[0]["lo"] == 1
            and all(
                b["lo"] == a["hi"] + 1 for a, b in zip(spans, spans[1:])
            )
        )

        # resume checkpoint: the boundary after a middle shard — two
        # scalars a trainer would persist, read off the manifest. Never
        # the LAST shard (a <=2-shard corpus would make the resumed
        # frame empty and false-fail the tail check — code-review r15);
        # a 1-shard corpus has no resumable boundary, so those checks
        # degrade to the full-stream comparison at ck_rank = 0.
        mid = spans[min(len(spans) // 2, len(spans) - 2)] if len(spans) > 1 else None
        ck_shard = int(mid["shard_id"]) if mid is not None else -1
        ck_rank = int(mid["hi"]) if mid is not None else 0
        # same shards frame as the read-back check — a fresh
        # read.parquet here re-listed all shard directories (r17); the
        # filter still plans the partition-pruned scan the audit asserts
        resumed = shards.filter(F.col("shard_id") > ck_shard)
        try:
            plan = resumed._jdf.queryExecution().executedPlan().toString()
        except Exception:
            # Spark Connect: no client-side JVM plan object — fall back
            # to the string form of explain (same PartitionFilters
            # evidence; io.py anticipates Connect the same way)
            import contextlib
            import io as _io

            buf = _io.StringIO()
            with contextlib.redirect_stdout(buf):
                resumed.explain(True)
            plan = buf.getvalue()
        pruned = (
            "PartitionFilters" in plan
            and "shard_id" in plan.split("PartitionFilters", 1)[1][:200]
        )
        tail_hash = F.expr(
            f"CAST(SUM(CASE WHEN rank > {ck_rank} THEN "
            f"(doc_hash * {position_weight_sql()}) % {P} ELSE 0 END) "
            f"% {P} AS BIGINT)"
        )
        got_tail = resumed.agg(order_hash.alias("h")).collect()[0]["h"]
        # epoch-a set/order hashes AND the expected tail hash come out
        # of ONE pass over the SAME checkpointed assignment the shards
        # were written from (the three separate aggregations — and the
        # full re-derivation of the seed_a assignment — were the
        # audit's main fixed cost)
        ra = assigned_a.agg(
            set_hash.alias("s"),
            order_hash.alias("o"),
            tail_hash.alias("t"),
        ).collect()[0]
        tail_ok = got_tail == ra["t"] and got_tail is not None
        set_equal = ra["s"] == rb["s"] and ra["s"] is not None
        order_differs = ra["o"] != rb["o"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return check_rows(
        spark,
        {
            "read_back_matches_manifest": read_back,
            "rank_sequential_within_shard": contiguous,
            "shards_tile_global_ranks": tiles,
            "resume_is_partition_pruned": pruned,
            "resume_replays_manifest_tail": tail_ok,
            "epoch_content_set_equal": set_equal,
            "epoch_order_differs": order_differs,
        },
    )


_CURR_CAP = 2048
_CURR_SEED = 20260815


def _curriculum_oracle() -> str:
    from ballista_extensions_spark.operators.qualityclassifier import (
        FROZEN_QUALITY_WEIGHTS,
        _weights_lit_duck,
        quality_logit_sql_duckdb,
    )
    from ballista_extensions_spark.operators.shards import (
        manifest_ctes_duckdb,
        manifest_select_duckdb,
    )

    qw_cte = (
        f"__qw_t AS (SELECT {_weights_lit_duck(FROZEN_QUALITY_WEIGHTS)} "
        f"AS __qw)"
    )
    logit = quality_logit_sql_duckdb("text", table_ref="__qw")
    mean_sql = (
        ",\n           CAST(SUM(qscore) AS DOUBLE) / 1000000.0 / COUNT(*)"
        "\n             AS mean_score"
    )
    return f"""
    WITH {qw_cte},
    q AS (
      SELECT doc_id, text,
             CAST(floor(({logit}) * 1000000.0) AS BIGINT) AS qscore
      FROM documents CROSS JOIN __qw_t
      WHERE text IS NOT NULL),
    {manifest_ctes_duckdb(_CURR_CAP, _CURR_SEED, "q",
                          carry_cols=("qscore",))},
    man AS ({manifest_select_duckdb(mean_sql, ordered=False)})
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY mean_score, shard_id)
                AS BIGINT) AS sched_pos,
           shard_id, n_docs, n_tokens, min_rank, max_rank,
           content_hash, mean_score
    FROM man
    ORDER BY sched_pos
    """


@register("curriculum_shard_schedule", oracle=_curriculum_oracle())
def curriculum_shard_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-curriculum shard ordering (VERDICT r14 directive #5):
    the shard manifest gains the shard's mean frozen-classifier logit,
    and shards are re-indexed ascending by it (easy -> hard curriculum
    schedule) while the WITHIN-shard seeded shuffle order is untouched
    (content hashes are the plain manifest's). The classifier score
    rides the shard writer's range shuffle as a carried payload column
    (carry_cols) — no second corpus-scale join. Cross-engine exactness:
    the per-doc logit double is bit-identical in both engines (the
    sequential HOF fold), but summing doubles across a shard is
    order-dependent and DuckDB's double->DECIMAL cast double-rounds on
    arbitrary values (unlike the <=2-digit money columns exact.py
    handles), so the curriculum key is the mean of MICRO-LOGITS —
    floor(logit * 1e6) as BIGINT, summed exactly, divided back in one
    deterministic double sequence. Quantization at 1e-6 is far below
    any meaningful quality difference between shards. The re-index is
    a rank over SHARD-COUNT rows (corpus_tokens / capacity —
    manifest-sized, one small task), never a corpus-scale sort."""
    from pyspark.sql.window import Window

    from ballista_extensions_spark.operators.qualityclassifier import (
        quality_logit_sql,
    )
    from ballista_extensions_spark.operators.shards import (
        assign_training_shards,
        manifest_agg,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    scored = d.select(
        "doc_id",
        "text",
        F.expr(
            f"CAST(floor(({quality_logit_sql('text')}) * 1000000.0) "
            "AS BIGINT)"
        ).alias("qscore"),
    )
    assigned = assign_training_shards(
        scored, _CURR_CAP, _CURR_SEED, carry_cols=("qscore",)
    )
    man = manifest_agg(
        assigned,
        (
            F.sum("qscore").cast("double")
            / F.lit(1000000.0)
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_score"),
    )
    return man.select(
        F.row_number()
        .over(Window.orderBy("mean_score", "shard_id"))
        .cast("long")
        .alias("sched_pos"),
        "shard_id",
        "n_docs",
        "n_tokens",
        "min_rank",
        "max_rank",
        "content_hash",
        "mean_score",
    ).orderBy("sched_pos")


def _pretok_class_pats() -> dict[str, str]:
    # raw patterns; engine-specific quoting applied at use sites
    return {
        "ws": r"^[ \t\n\r\f\x0B]+$",
        "word": r"^ ?\p{L}+$",
        "digit": r"^ ?\p{N}+$",
        "contr": r"^'(s|t|ll|ve|re|d|m)$",
    }


def _pretok_oracle() -> str:
    from ballista_extensions_spark.operators.pretokenize import (
        pretok_segments_sql_duckdb,
        seg_sig_sql_duckdb,
    )

    pats = _pretok_class_pats()

    def m(p: str) -> str:
        return p.replace("'", "''")

    counts = {
        k: f"len(list_filter(segs, s -> regexp_matches(s, '{m(p)}')))"
        for k, p in pats.items()
    }
    return f"""
    WITH segged AS (
      SELECT doc_id, {pretok_segments_sql_duckdb("text")} AS segs
      FROM documents WHERE text IS NOT NULL)
    SELECT doc_id,
           CAST(len(segs) AS BIGINT) AS n_segments,
           CAST({counts["word"]} AS BIGINT) AS n_words,
           CAST({counts["digit"]} AS BIGINT) AS n_digits,
           CAST({counts["contr"]} AS BIGINT) AS n_contractions,
           CAST(len(segs) - {counts["word"]} - {counts["digit"]}
                - {counts["contr"]} - {counts["ws"]} AS BIGINT)
             AS n_puncts,
           CAST({seg_sig_sql_duckdb("segs")} AS BIGINT) AS seg_sig
    FROM segged
    ORDER BY doc_id
    """


@register("bpe_byte_pretokenize_counts", oracle=_pretok_oracle())
def bpe_byte_pretokenize_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Byte-level (GPT-2 style) pre-tokenization over the corpus
    (operators/pretokenize.py, VERDICT r14 directive #7): per document
    the segment count, per-class counts (letter runs / digit runs /
    contraction suffixes / punctuation runs), and the order-sensitive
    segmentation signature (polyhash of the segment-length sequence —
    equal signatures mean equal BOUNDARIES, so the oracle grades the
    segmentation itself, not just totals). One codegen'd narrow
    projection, zero shuffle; the identical lookahead-free pattern
    runs in both engines (Java-regex/RE2 common subset)."""
    from ballista_extensions_spark.operators.pretokenize import (
        pretok_segments_sql_spark,
        seg_sig_sql_spark,
    )

    pats = _pretok_class_pats()

    def q(p: str) -> str:
        return p.replace("\\", "\\\\").replace("'", "\\'")

    counts = {
        k: f"size(filter(segs, s -> s RLIKE '{q(p)}'))"
        for k, p in pats.items()
    }
    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    segged = d.select(
        "doc_id", F.expr(pretok_segments_sql_spark("text")).alias("segs")
    )
    return segged.select(
        "doc_id",
        F.expr("size(segs)").cast("long").alias("n_segments"),
        F.expr(counts["word"]).cast("long").alias("n_words"),
        F.expr(counts["digit"]).cast("long").alias("n_digits"),
        F.expr(counts["contr"]).cast("long").alias("n_contractions"),
        F.expr(
            f"size(segs) - {counts['word']} - {counts['digit']} "
            f"- {counts['contr']} - {counts['ws']}"
        )
        .cast("long")
        .alias("n_puncts"),
        F.expr(seg_sig_sql_spark("segs")).cast("long").alias("seg_sig"),
    )


_PACK_AUDIT_CHECKS = [
    "lengths_match_manifest",
    "token_conservation",
    "id_range_valid",
    "eos_per_document",
    "stream_hash_equal",
    "padding_tail_only",
]


@register_audit("packing_contract_audit", _PACK_AUDIT_CHECKS)
def packing_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The emitted token-ID sequences against the graded packing
    manifest — proves `emit_packed_sequences` hands the trainer
    byte-for-byte the stream `sequence_packing_manifest` describes:

    - lengths_match_manifest: per-sequence (n_tokens, padding) equal
      the manifest's, full-outer join, zero mismatches;
    - token_conservation: Σ ids across sequences == Σ per-doc ids;
    - id_range_valid: every id in [0, EOS]; EOS = vocab size;
    - eos_per_document: EOS occurrences == document count (one
      sentinel per doc, none lost at sequence boundaries);
    - stream_hash_equal: the position-weighted stream hash computed
      from the SEQUENCES (position = seq_id*L + i) equals the same
      hash computed from the DOCUMENTS (position = start + i) — equal
      sums mean the concatenated ids are identical at every global
      position, the strongest order pin short of collecting the
      stream;
    - padding_tail_only: padding is nonzero only on the final
      sequence.

    All checks are distributed aggregates (HOF folds + joins); like
    every *_contract_audit this is fixed_evidence."""
    from ballista_extensions_spark.operators.bpe_stream import (
        FROZEN_STREAM_MERGES,
        bpe_stream_token_ids,
        token_vocab,
    )
    from ballista_extensions_spark.operators.packing import (
        emit_packed_sequences,
        pack_sequences_manifest,
    )
    from ballista_extensions_spark.operators.shards import (
        SHARD_PRIME as P,
        position_weight_sql,
        ranked_stream,
    )

    L, seed = _PACK_LEN, _PACK_SEED
    eos_id = len(token_vocab(FROZEN_STREAM_MERGES))
    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    seqs = emit_packed_sequences(
        d, FROZEN_STREAM_MERGES, L, seed
    ).localCheckpoint()

    # checkpoint the applier output: three consumers below (doc total,
    # ranked stream, manifest) would otherwise each re-run the
    # mapInPandas pass — the audit's main fixed cost
    ids = bpe_stream_token_ids(d, FROZEN_STREAM_MERGES).localCheckpoint(
        eager=False
    )
    joined = d.select("doc_id", "text").join(ids, "doc_id")
    ranked = ranked_stream(
        joined, seed, cost_col="n_ids", carry_cols=("ids",)
    )

    man = pack_sequences_manifest(
        joined, L, seed, cost_col="n_ids"
    ).select("seq_id", "n_tokens", "padding", F.lit(1).alias("m"))

    # one aggregate per evidence frame: the emitted sequences, the
    # per-document ids, the sequences-vs-manifest join and the ranked
    # document stream
    w_seq = position_weight_sql(f"(seq_id * {L} + i + 1)")
    srow = seqs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("ids")).alias("t"),
        F.min(F.expr("array_min(ids)")).alias("lo"),
        F.max(F.expr("array_max(ids)")).alias("hi"),
        F.sum(
            F.expr(f"size(filter(ids, x -> x = {eos_id}))")
        ).alias("eos"),
        F.max(F.when(F.col("padding") > 0, F.col("seq_id"))).alias(
            "padseq"
        ),
        F.sum(F.when(F.col("padding") > 0, 1).otherwise(0)).alias(
            "npad"
        ),
        F.max("seq_id").alias("maxseq"),
        (
            F.sum(
                F.expr(
                    f"aggregate(transform(ids, (x, i) -> "
                    f"((CAST(x AS BIGINT) + 1) * {w_seq}) % {P}), "
                    f"0L, (a, b) -> (a + b) % {P})"
                )
            )
            % P
        ).alias("h"),
    ).first()
    doc_tot = ids.agg(F.sum("n_ids").alias("t")).first()["t"]
    # seq_id is a grouping key on both sides, so each manifest row
    # appears once in the full-outer join and count("m") is its count
    jrow = (
        seqs.select("seq_id", "n_tokens", "padding")
        .join(man, ["seq_id", "n_tokens", "padding"], "full_outer")
        .agg(F.count(F.lit(1)).alias("rows"), F.count("m").alias("n_man"))
        .first()
    )
    lengths_ok = jrow["rows"] == srow["n"] == jrow["n_man"]
    conserved = int(srow["t"]) == int(doc_tot)
    id_range = srow["lo"] >= 0 and srow["hi"] == eos_id
    # the document count is taken over the input, not the applier's
    # output, so an applier that drops or duplicates a document fails
    eos_count = int(srow["eos"]) == d.count()
    pad_tail = int(srow["npad"] or 0) <= 1 and (
        srow["npad"] == 0 or srow["padseq"] == srow["maxseq"]
    )

    w_doc = position_weight_sql("(cum - n_tokens + i + 1)")
    h_doc = ranked.select(
        F.expr(
            f"aggregate(transform(ids, (x, i) -> "
            f"((CAST(x AS BIGINT) + 1) * {w_doc}) % {P}), "
            f"0L, (a, b) -> (a + b) % {P})"
        ).alias("h")
    ).agg((F.sum("h") % P).alias("h")).collect()[0]["h"]
    stream_ok = srow["h"] == h_doc and srow["h"] is not None

    return check_rows(
        spark,
        {
            "lengths_match_manifest": lengths_ok,
            "token_conservation": conserved,
            "id_range_valid": id_range,
            "eos_per_document": eos_count,
            "stream_hash_equal": stream_ok,
            "padding_tail_only": pad_tail,
        },
    )
