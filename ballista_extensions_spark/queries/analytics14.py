"""Round-14 queries: deterministic training-shard emission
(operators/shards.py), NFC normalization, and the cross-modality
curation funnel (VERDICT r13 directives #1, #6, #7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ballista_extensions_spark.io import ensure_parallelism, load_table
from ballista_extensions_spark.operators.shards import (
    manifest_oracle_sql,
    training_shard_manifest,
)
from ballista_extensions_spark.queries.audits import check_rows, register_audit
from ballista_extensions_spark.queries.registry import register

#: fixed shard parameters for the graded query — capacity small enough
#: that sf0.01 (~27k tokens) yields ~14 shards and sf0.1 (~271k) ~133,
#: so the manifest exercises boundary straddling at every sf
_SHARD_CAPACITY = 2048
_SHARD_SEED = 20260816


@register(
    "training_shard_manifest",
    oracle=manifest_oracle_sql(_SHARD_CAPACITY, _SHARD_SEED),
)
def training_shard_manifest_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic training-shard manifest over the documents
    corpus: seeded hash-shuffle global order (no sort — polynomial
    hash key + distributed rank), fixed-token-budget greedy shard
    assignment, and an order-sensitive per-shard content hash. The
    oracle replays rank, assignment, intra-shard order and hash
    bit-exactly in DuckDB. Scale: one range shuffle + O(partitions)
    driver offsets + one map-side-combined groupBy (see
    operators/shards.py module docstring)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return training_shard_manifest(d, _SHARD_CAPACITY, _SHARD_SEED)


#: mixed-Unicode suffixes cycled by doc_id — decomposed vs precomposed
#: Latin (2-byte), combining ring, Hangul jamo (composes under NFC),
#: 3-byte CJK and 4-byte supplementary (NFC-invariant), and the fi
#: ligature (NFC-invariant, NFKC would fold it — pins NFC-not-NFKC)
_NFC_MIX = [
    "café",            # precomposed e-acute (2-byte)
    "café",           # decomposed e + combining acute
    "ÅB",             # A + combining ring -> Å
    "가",         # Hangul jamo -> 가
    "漢字 \U0001f389\U0001d4b3",  # CJK + 4-byte astral, invariant
    "ﬁnal",            # fi ligature, NFC-invariant
]


def _nfc_mix_duckdb() -> str:
    lits = ", ".join("'" + s + "'" for s in _NFC_MIX)
    return f"[{lits}]"


@register(
    "text_nfc_normalize_stats",
    oracle=f"""
    WITH mixed AS (
      SELECT doc_id,
             text || ' ' || ({_nfc_mix_duckdb()})[CAST(doc_id % 6 AS INT) + 1]
               AS t
      FROM documents WHERE text IS NOT NULL),
    norm AS (
      SELECT doc_id, t, nfc_normalize(t) AS nfc FROM mixed)
    SELECT doc_id,
           CAST(length(t) AS BIGINT) AS n_chars_raw,
           CAST(length(nfc) AS BIGINT) AS n_chars_nfc,
           (t <> nfc) AS changed,
           md5(nfc) AS nfc_md5
    FROM norm
    """,
)
def text_nfc_normalize_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unicode NFC normalization stage (VERDICT r13 #6): per-document
    char counts before/after canonical composition, a changed flag,
    and an md5 content pin of the normalized text. The corpus is
    ASCII, so the fixture appends a deterministic mixed-Unicode suffix
    (decomposed/precomposed Latin, Hangul jamo, 3-byte CJK, 4-byte
    astral, ligature) cycled by doc_id — every NFC behavior class is
    exercised at every sf. Spark side is the Arrow-batched
    ``unicodedata.normalize`` pandas UDF
    (functions/udf.py:py_nfc_normalize); DuckDB's ``nfc_normalize`` is
    the exact oracle twin. Scale: one narrow mapInPandas projection —
    no shuffle, no driver state; wired as an optional pre-stage into
    exact_span_scrub and the BPE applier (nfc=True)."""
    from ballista_extensions_spark.functions.udf import py_nfc_normalize

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    mixed = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.element_at(
                F.array(*[F.lit(s) for s in _NFC_MIX]),
                (F.col("doc_id") % 6).cast("int") + 1,
            ),
        ).alias("t"),
    )
    norm = mixed.withColumn("nfc", py_nfc_normalize(F.col("t")))
    return norm.select(
        "doc_id",
        F.length("t").cast("long").alias("n_chars_raw"),
        F.length("nfc").cast("long").alias("n_chars_nfc"),
        (F.col("t") != F.col("nfc")).alias("changed"),
        F.md5(F.col("nfc").cast("binary")).alias("nfc_md5"),
    )


@register("bpe_tokenize_4k_vocab")
def bpe_tokenize_4k_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the FROZEN 4096-merge raw-stream BPE
    vocabulary (VERDICT r13 #3; operators/bpe_vocab4k.py, trained
    offline by tools/train_bpe4k.py — the freeze-at-train-time
    discipline of the classifier/DSIR models). Per-source doc count,
    symbol count, token count and compression ratio through the SAME
    Arrow-batched rank-priority applier as the 384-merge query — the
    plan is one scan of ``documents``, one mapInPandas projection that
    carries ``source`` through the Arrow pass (no join back on
    ``doc_id``) and a per-source aggregate, identical shape at any
    vocab size (the merge-rank dict is a broadcast closure constant;
    4096 ranks ~= 100 KB). Scale: the aggregate has one row per source
    (20 in the test data at every scale), so it is sorted in one task
    (``coalesce(1)`` above the aggregate's exchange, then
    ``sortWithinPartitions``), with no range-partitioning sample job
    or exchange: three jobs per call. Rows-only
    by design: DuckDB cannot replay 4096 sequential merges (the
    binder's 128-deep recursion cap — pinned by
    test_single_expression_chain_depth_failures); the applier's
    contract is hash-graded at 384 merges by bpe_contract_audit, and
    prefix stability (4k[:384] == frozen 384) is pytest-pinned."""
    from ballista_extensions_spark.operators.bpe_stream import (
        bpe_stream_token_counts,
    )
    from ballista_extensions_spark.operators.bpe_vocab4k import (
        FROZEN_STREAM_MERGES_4K,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    counts = bpe_stream_token_counts(
        d, FROZEN_STREAM_MERGES_4K, carry=("source",)
    )
    return (
        counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_symbols").cast("long").alias("n_symbols"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            (
                F.sum("n_symbols").cast("double")
                / F.sum("n_tokens").cast("double")
            ).alias("symbols_per_token"),
        )
        # at most one row per source (20 in the test data at every
        # scale): one task sorts them, with no range-partitioning
        # sample job and no extra exchange
        .coalesce(1)
        .sortWithinPartitions("source")
    )


def _mm_funnel_oracle() -> str:
    from ballista_extensions_spark.queries.analytics7 import _DHASH_CTE

    return f"""
    WITH {_DHASH_CTE},
    textdocs AS (
      SELECT doc_id, source, md5(text) AS h
      FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
    tgroups AS (
      SELECT h, MIN(doc_id) AS keep_id FROM textdocs GROUP BY h),
    tsurv AS (
      SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_survivors
      FROM tgroups g JOIN textdocs t ON t.doc_id = g.keep_id
      GROUP BY t.source),
    tdocs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM textdocs GROUP BY source),
    imgdocs AS (
      SELECT d2.doc_id, d2.source, dh.dhash
      FROM dh JOIN documents d2 ON d2.doc_id = dh.doc_id
      WHERE d2.text IS NOT NULL AND d2.doc_id % 2 = 1),
    igroups AS (
      SELECT dhash, MIN(doc_id) AS keep_id FROM imgdocs GROUP BY dhash),
    isurv AS (
      SELECT i.source, CAST(COUNT(*) AS BIGINT) AS n_survivors
      FROM igroups g JOIN imgdocs i ON i.doc_id = g.keep_id
      GROUP BY i.source),
    idocs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM imgdocs GROUP BY source)
    SELECT td.source, 'text' AS modality, td.n_docs,
           COALESCE(ts.n_survivors, 0) AS n_survivors
    FROM tdocs td LEFT JOIN tsurv ts ON ts.source = td.source
    UNION ALL
    SELECT id2.source, 'image' AS modality, id2.n_docs,
           COALESCE(isv.n_survivors, 0) AS n_survivors
    FROM idocs id2 LEFT JOIN isurv isv ON isv.source = id2.source
    ORDER BY source, modality
    """


@register("multimodal_curation_funnel", oracle=_mm_funnel_oracle())
def multimodal_curation_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-modality curation funnel (VERDICT r13 #7): ONE mixed
    binary corpus — even doc_ids ride as raw utf-8 text payloads, odd
    doc_ids as REAL encoded PNGs (multimodal.docs_as_png_media) —
    routed by magic-byte sniffing (multimodal.detect_media_kind, pure
    JVM codegen), then deduplicated per modality: the text path by
    exact content signature (md5 of the payload bytes — the sigstore
    key discipline), the image path by perceptual dHash computed by
    the REAL PNG decoder (operators/imagedup.py:image_dhash). Keep =
    globally-first doc_id per signature; the report is the per-source,
    per-modality funnel (n_docs routed vs n_survivors attributed to
    the keeper's source). The oracle replays the routing arithmetic,
    the PNG pixel tiling + dHash bit assembly, the md5 keys, and the
    keep-first attribution — hash-exact at sf0.01 AND sf0.1.

    Routing is binary here (png signature 0x89 'PNG' cannot occur in
    utf-8 text's first byte, so text never mis-routes; any non-png
    payload IS the text modality by construction) — the 6-way sniffer
    is separately graded by media_kind_routing. Routing is applied on
    each branch before the union, so the text side never pays the PNG
    encode pass.

    Scale: one pipeline, one SQL execution, no driver state, no join.
    Each Arrow-batched pass (PNG encode, decode+dHash) runs once per
    document and carries ``source`` through (``carry=("source",)``),
    so nothing joins back to ``documents`` on the id; only this Python
    branch is spread over the cores (``ensure_parallelism``, one
    round-robin exchange), while the JVM-only text branch reads the
    scan as it comes. Both modalities meet as ``(modality, media_id,
    source, key)`` rows under a single window exchange on
    ``(modality, key)`` that marks each key's keeper (``media_id ==
    min(media_id)``), and one map-side-combined per-(source, modality)
    aggregate counts docs and keepers. Exact because a keeper's own
    source is the source its survivor is attributed to; a NULL dHash
    (undecodable payload) groups as one key, as in the oracle's GROUP
    BY. The result has at most #sources x 2 rows (20 in the test data
    at every scale), so it is sorted in one task (``coalesce(1)`` above
    the aggregate's exchange, then ``sortWithinPartitions``) instead of
    by a range-partitioned global sort, which costs a sampling job and
    an exchange: four jobs per call."""
    from ballista_extensions_spark.operators.imagedup import image_dhash
    from ballista_extensions_spark.operators.multimodal import (
        detect_media_kind,
        docs_as_png_media,
    )

    docs = load_table(spark, sf_dir, "documents")
    text_sigs = (
        docs.filter(F.col("text").isNotNull() & (F.col("doc_id") % 2 == 0))
        .select(
            F.col("doc_id").alias("media_id"),
            "source",
            F.col("text").cast("binary").alias("payload"),
        )
        .filter(detect_media_kind("payload") != "png")
        .select(
            F.lit("text").alias("modality"),
            "media_id",
            "source",
            F.md5("payload").alias("key"),
        )
    )
    # only the image branch runs CPU-heavy per-row Python passes, so
    # only it is spread over the cores; the text branch is JVM-only
    png = docs_as_png_media(
        ensure_parallelism(docs).filter(
            F.col("text").isNotNull() & (F.col("doc_id") % 2 == 1)
        ),
        carry=("source",),
    )
    img_sigs = (
        image_dhash(
            png.filter(detect_media_kind("payload") == "png"),
            carry=("source",),
        )
        .select(
            F.lit("image").alias("modality"),
            F.col("id").alias("media_id"),
            "source",
            F.col("dhash").cast("string").alias("key"),
        )
    )
    keeper = F.min("media_id").over(Window.partitionBy("modality", "key"))
    return (
        text_sigs.unionByName(img_sigs)
        .withColumn("keep", (F.col("media_id") == keeper).cast("long"))
        .groupBy("source", "modality")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("keep"), F.lit(0))
            .cast("long")
            .alias("n_survivors"),
        )
        # at most #sources x 2 modalities rows (20 in the test data at
        # every scale): one task sorts them, with no range-partitioning
        # sample job and no extra exchange
        .coalesce(1)
        .sortWithinPartitions("source", "modality")
    )


_PIPE_K = 200
_PIPE_CAP = 1024
_PIPE_SEED = 7


def _pipeline_shards_oracle() -> str:
    from ballista_extensions_spark.operators.dsir import (
        FROZEN_DSIR_RATIOS,
        dsir_tables_cte_duckdb,
        feature_fold_sql_duckdb,
        words_sql_duckdb,
    )
    from ballista_extensions_spark.operators.qualityclassifier import (
        FROZEN_QUALITY_WEIGHTS,
        _weights_lit_duck,
        quality_logit_sql_duckdb,
    )
    from ballista_extensions_spark.operators.shards import (
        MANIFEST_SELECT_DUCKDB,
        manifest_ctes_duckdb,
    )

    qw_cte = (
        f"__qw_t AS (SELECT {_weights_lit_duck(FROZEN_QUALITY_WEIGHTS)} "
        f"AS __qw)"
    )
    gate = quality_logit_sql_duckdb("text", table_ref="__qw")
    fold = feature_fold_sql_duckdb("ws", FROZEN_DSIR_RATIOS, table_ref="__ratios")
    ws = words_sql_duckdb("text")
    return f"""
    WITH {dsir_tables_cte_duckdb()},
    {qw_cte},
    gated AS (
      SELECT doc_id, text FROM documents CROSS JOIN __qw_t
      WHERE text IS NOT NULL AND {gate} >= 0),
    grp AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keep_id
      FROM gated GROUP BY md5(text)),
    kept AS (
      SELECT g.doc_id AS doc_id, g.text AS text
      FROM gated g JOIN grp ON grp.keep_id = g.doc_id),
    w AS (SELECT doc_id, text, {ws} AS ws FROM kept),
    sel AS (
      SELECT doc_id, text FROM w CROSS JOIN __dsir_t
      ORDER BY {fold} DESC, doc_id LIMIT {_PIPE_K}),
    {manifest_ctes_duckdb(_PIPE_CAP, _PIPE_SEED, "sel")}
    {MANIFEST_SELECT_DUCKDB}
    """


@register("pretrain_pipeline_shards", oracle=_pipeline_shards_oracle())
def pretrain_pipeline_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pretraining-data pipeline as one graded query —
    quality gate (frozen classifier logit >= 0) -> exact content
    dedup (md5, keep-first) -> DSIR selection (top-k importance
    weight, TakeOrderedAndProject) -> deterministic training shards
    (seeded hash-shuffle + token-budget assignment + manifest). The
    oracle replays every stage INCLUDING both frozen models and the
    shard arithmetic bit-for-bit, so one hash attests the composed
    end-to-end pipeline a user would actually ship. Scale: each stage
    is its graded plan shape — narrow gate pass, hash groupBy + keeper
    equi-join, per-partition top-k (k rows to driver), one range
    shuffle with O(partitions) offsets; nothing is paid twice (text
    rides THROUGH the DSIR scoring via keep=, never re-joined)."""
    from ballista_extensions_spark.operators.dsir import dsir_logweights
    from ballista_extensions_spark.operators.qualityclassifier import (
        quality_logit_sql,
    )
    from ballista_extensions_spark.operators.shards import (
        training_shard_manifest,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    gated = d.filter(F.expr(quality_logit_sql("text")) >= 0).select(
        "doc_id", "text"
    )
    gated = gated.withColumn("h", F.md5(F.col("text").cast("binary")))
    keepers = gated.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    kept = (
        gated.join(keepers, gated["doc_id"] == keepers["keep_id"])
        .select("doc_id", "text")
    )
    sel = (
        dsir_logweights(kept, keep=("text",))
        .orderBy(F.col("logweight").desc(), F.col("doc_id"))
        .limit(_PIPE_K)
        .select("doc_id", "text")
    )
    return training_shard_manifest(sel, _PIPE_CAP, _PIPE_SEED)


_SHARD_AUDIT_CHECKS = [
    "same_seed_byte_identical",
    "different_seed_reshuffles",
    "rank_is_permutation",
    "greedy_assignment_exact",
    "capacity_overflow_bounded",
    "token_totals_conserved",
]


@register_audit("shard_contract_audit", _SHARD_AUDIT_CHECKS)
def shard_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard writer's contract as driver-hash-checkable rows (the
    sample_contract_audit pattern — claims the manifest oracle cannot
    express become constant-TRUE oracle rows):

    - same_seed_byte_identical: two independent manifest constructions
      at the same seed collect to identical rows;
    - different_seed_reshuffles: a different seed changes the
      content-hash sequence (the multiplicative ring scramble really
      permutes — the failure mode the first implementation had);
    - rank_is_permutation: ranks are exactly 1..n in (key, id) order;
    - greedy_assignment_exact: every shard_id equals
      exclusive_prefix DIV capacity replayed sequentially;
    - capacity_overflow_bounded: every shard's token sum is less than
      capacity + its own max document — the greedy contract's only
      permitted overflow (boundary-start placement itself is what
      greedy_assignment_exact replays);
    - token_totals_conserved: manifest token/doc totals equal the
      corpus totals (no row lost or double-assigned).

    Scale note (ADVICE r14): the per-row replay below collects the
    full assignment frame — this AUDIT is bench-scale-only evidence
    (grading data is sf<=0.1, ~60k docs). The operator under audit is
    itself bounded-driver-state; the sequential greedy replay is the
    one check that is inherently order-serial, which is exactly why
    it lives in a fixed_evidence audit rather than the operator.
    """
    from ballista_extensions_spark.operators.shards import (
        assign_training_shards,
        training_shard_manifest,
    )
    from ballista_extensions_spark.operators.shards import manifest_agg

    cap, seed = 1536, 11
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # ONE assignment pipeline serves both the per-row invariant checks
    # and (via manifest_agg, the manifest's own aggregation) manifest
    # A; manifest B is an INDEPENDENT full reconstruction — the
    # identity check is between two separately-executed pipelines, at
    # one pipeline less than building A from scratch too
    assigned = assign_training_shards(d, cap, seed)
    rows = assigned.orderBy("rank").collect()
    man_a = manifest_agg(assigned).collect()
    man_b = training_shard_manifest(d, cap, seed).collect()
    man_c = training_shard_manifest(d, cap, seed + 1).collect()
    same = [tuple(r) for r in man_a] == [tuple(r) for r in man_b]
    differs = [r["content_hash"] for r in man_a] != [
        r["content_hash"] for r in man_c
    ]
    n = len(rows)
    perm = [r["rank"] for r in rows] == list(range(1, n + 1)) and [
        (r["shuffle_key"], r["doc_id"]) for r in rows
    ] == sorted((r["shuffle_key"], r["doc_id"]) for r in rows)
    cum, greedy = 0, True
    shard_tokens: dict[int, int] = {}
    shard_maxdoc: dict[int, int] = {}
    for r in rows:
        if r["shard_id"] != cum // cap:
            greedy = False
        cum += r["n_tokens"]
        shard_tokens[r["shard_id"]] = (
            shard_tokens.get(r["shard_id"], 0) + r["n_tokens"]
        )
        shard_maxdoc[r["shard_id"]] = max(
            shard_maxdoc.get(r["shard_id"], 0), r["n_tokens"]
        )
    overflow_ok = all(
        t < cap + shard_maxdoc[s] for s, t in shard_tokens.items()
    )
    total_docs = sum(r["n_docs"] for r in man_a)
    total_tokens = sum(r["n_tokens"] for r in man_a)
    conserved = total_docs == n and total_tokens == cum

    return check_rows(
        spark,
        {
            "same_seed_byte_identical": same,
            "different_seed_reshuffles": differs,
            "rank_is_permutation": perm,
            "greedy_assignment_exact": greedy,
            "capacity_overflow_bounded": overflow_ok,
            "token_totals_conserved": conserved,
        },
    )


_INC_CAP = 2048
_INC_SEED1, _INC_SEED2 = 3, 4


def _inc_shards_oracle() -> str:
    from ballista_extensions_spark.operators.shards import (
        SHARD_PRIME as P,
        polyhash_sql_duckdb,
        position_weight_sql,
        seed_multiplier,
    )

    # history contributes ONLY two scalars — its epoch key never
    # appears here (the seed-1 ordering is irrelevant to the increment)
    k2 = f"(({polyhash_sql_duckdb('s')} + 1) * {seed_multiplier(_INC_SEED2)}) % {P}"
    dh = polyhash_sql_duckdb("d")
    return f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
               AS n_tokens,
             CAST(doc_id AS VARCHAR) AS s,
             CAST(doc_id AS VARCHAR) || ':' || text AS d
      FROM documents WHERE text IS NOT NULL),
    b1 AS (
      SELECT doc_id, n_tokens FROM base WHERE doc_id % 3 < 2),
    hist AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS r_off,
             CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS t_off
      FROM b1),
    b2 AS (
      SELECT doc_id, n_tokens, {k2} AS k, {dh} AS doc_hash
      FROM base WHERE doc_id % 3 = 2),
    ranked AS (
      SELECT b2.*, r_off, t_off,
             CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT)
               + r_off AS rank,
             CAST(SUM(n_tokens) OVER (ORDER BY k, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) + t_off AS cum
      FROM b2 CROSS JOIN hist),
    sharded AS (
      SELECT *, (cum - n_tokens) // {_INC_CAP} AS shard_id FROM ranked)
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(rank) AS BIGINT) AS min_rank,
           CAST(MAX(rank) AS BIGINT) AS max_rank,
           CAST(SUM((doc_hash * {position_weight_sql()}) % {P})
                % {P} AS BIGINT)
             AS content_hash
    FROM sharded
    GROUP BY shard_id
    ORDER BY shard_id
    """


@register("training_shards_incremental", oracle=_inc_shards_oracle())
def training_shards_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental shard emission (operators/shards.py:
    extend_training_shards) — the daily-increment discipline of the
    cross-run stores applied to the shard writer: batch 1 (doc_id%3 <
    2) is sharded and its manifest becomes the persisted state; batch
    2 (doc_id%3 = 2) is then sharded AGAINST that manifest — its own
    per-epoch seed, rank continuing after history's max rank, the
    running token total continuing the last partial shard — without
    re-reading or re-ranking history. Output is the increment's
    manifest rows. The oracle replays both epochs' key arithmetic and
    the offset continuation bit-for-bit. Scale: history contributes
    TWO scalars (max rank, token total) read off the manifest —
    ingest cost ∝ increment, never corpus; the same flat-ingest
    contract the sigstore/phashstore queries measure."""
    from ballista_extensions_spark.operators.shards import (
        extend_training_shards,
        training_shard_manifest,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    b1 = d.filter(F.col("doc_id") % 3 < 2)
    b2 = d.filter(F.col("doc_id") % 3 == 2)
    hist = training_shard_manifest(b1, _INC_CAP, _INC_SEED1)
    return extend_training_shards(b2, hist, _INC_CAP, _INC_SEED2)


_BPE_SHARD_CAP = 4096
_BPE_SHARD_SEED = 20260817


def _bpe_shards_oracle() -> str:
    from ballista_extensions_spark.operators.bpe_stream import (
        FROZEN_STREAM_MERGES,
        chain_cte_duckdb,
    )
    from ballista_extensions_spark.operators.shards import (
        MANIFEST_SELECT_DUCKDB,
        manifest_ctes_duckdb,
    )

    chain = chain_cte_duckdb(
        FROZEN_STREAM_MERGES,
        from_sql="(SELECT doc_id, text FROM documents "
        "WHERE text IS NOT NULL)",
    )
    return f"""
    WITH {chain},
    bpedocs AS (
      SELECT d.doc_id, d.text,
             CAST((length(c.s) - length(replace(c.s, ' ', ''))) / 2
                  AS BIGINT) AS bpe_tokens
      FROM documents d JOIN __bpe_chain c ON c.doc_id = d.doc_id
      WHERE d.text IS NOT NULL),
    {manifest_ctes_duckdb(_BPE_SHARD_CAP, _BPE_SHARD_SEED, "bpedocs",
                          cost_sql="bpe_tokens")}
    {MANIFEST_SELECT_DUCKDB}
    """


@register("training_shard_manifest_bpe", oracle=_bpe_shards_oracle())
def training_shard_manifest_bpe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Training shards budgeted in TOKENIZER tokens, not whitespace —
    what a real pretraining pipeline ships (shard budgets are BPE
    tokens): per-document counts from the Arrow-batched rank-priority
    applier at the frozen 384-merge vocabulary feed the shard writer's
    cost column. The oracle replays the ENTIRE composition — the
    staged 96-per-layer merge chain for every document's token count
    (rank-priority ≡ sequential for trainer-produced lists, itself
    hash-graded by bpe_contract_audit) AND the seeded shuffle + greedy
    assignment + content hash. Scale: one mapInPandas pass + one
    equi-join + the shard writer's one range shuffle."""
    from ballista_extensions_spark.operators.bpe_stream import (
        FROZEN_STREAM_MERGES,
        bpe_stream_token_counts,
    )
    from ballista_extensions_spark.operators.shards import (
        training_shard_manifest,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).filter(
        F.col("text").isNotNull()
    )
    counts = bpe_stream_token_counts(d, FROZEN_STREAM_MERGES).select(
        "doc_id", F.col("n_tokens").alias("bpe_tokens")
    )
    with_cost = d.select("doc_id", "text").join(counts, "doc_id")
    return training_shard_manifest(
        with_cost,
        _BPE_SHARD_CAP,
        _BPE_SHARD_SEED,
        cost_col="bpe_tokens",
    )
