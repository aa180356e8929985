"""Round-13 data-selection queries: DSIR importance resampling and
the hashed n-gram LM quality buckets (operators/dsir.py — Xie et al.
arXiv:2302.03169; Wenzek et al. arXiv:1911.00359 §4.3). Every query
is hash-graded: the frozen tables are literals, the in-engine
arithmetic is hash + left-fold dot product, and the DuckDB oracles
replay the identical fold bit-for-bit — except dsir_resample_gumbel
(xxhash64-derived Gumbel noise has no DuckDB twin; rows-only, its
invariants hash-graded by dsir_gumbel_audit's constant-TRUE oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballista_extensions_spark.io import ensure_parallelism, load_table
from ballista_extensions_spark.operators.dsir import (
    FROZEN_DSIR_RATIOS,
    ce_bucket_sql,
    dsir_logweights,
    dsir_select,
    dsir_tables_cte_duckdb,
    feature_fold_sql_duckdb,
    lm_ce_scores,
    lm_ce_sql_duckdb,
    n_feats_sql_duckdb,
    words_sql_duckdb,
)
from ballista_extensions_spark.queries.audits import check_rows, register_audit
from ballista_extensions_spark.queries.registry import register

# every oracle materializes the token array ONCE in a CTE and folds
# over the column reference — mirroring the operator's two-projection
# shape (and avoiding any per-element re-evaluation of the split)
_WS_DUCK = words_sql_duckdb("text")
# folds reference the frozen arrays through a 1-row CTE column
# (dsir_tables_cte_duckdb) instead of inline literals — DuckDB rebuilds
# an inline list literal per lambda element, which made each of these
# oracles cost 65-70 s at sf0.1 (VERDICT r13 #4); hoisted: ~50x faster,
# bit-identical (same fold order, same values)
_TBL = dsir_tables_cte_duckdb()
_FOLD_DUCK = feature_fold_sql_duckdb("ws", FROZEN_DSIR_RATIOS, table_ref="__ratios")
_NF_DUCK = n_feats_sql_duckdb("ws")
_CE_DUCK = lm_ce_sql_duckdb("ws", table_ref="__lp")

#: selection size for the hash-graded top-k queries — small enough
#: that TakeOrderedAndProject's driver-side merge is trivially bounded,
#: large enough to exercise cross-partition merging at every sf
_K_SELECT = 100


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_TBL},
    w AS (SELECT doc_id, {_WS_DUCK} AS ws FROM documents)
    SELECT doc_id,
           CAST({_NF_DUCK} AS BIGINT) AS n_feats,
           {_FOLD_DUCK} AS logweight
    FROM w CROSS JOIN __dsir_t
    """,
)
def dsir_importance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document DSIR importance log-weight under the frozen
    target/raw hashed bigram models (operators/dsir.py): ``Σ_f
    count_f(doc) · (log p_t(f) − log p_r(f))`` — the paper's §3
    estimator with the quality-gate slice as target. Two stacked
    narrow projections (tokenize ONCE into a materialized array
    column, then one struct-accumulator fold — plan-asserted single
    regexp_replace): cost ∝ corpus tokens, ZERO shuffle, no driver
    state, no UDF; the 1024-double ratio table rides the plan as one
    array literal. NULL/empty documents fold to weight 0.0 in both
    engines (no tokens — no evidence)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dsir_logweights(d)


@register(
    "dsir_select_topk",
    oracle=f"""
    WITH {_TBL},
    w AS (SELECT doc_id, {_WS_DUCK} AS ws FROM documents)
    SELECT doc_id,
           CAST({_NF_DUCK} AS BIGINT) AS n_feats,
           {_FOLD_DUCK} AS logweight
    FROM w CROSS JOIN __dsir_t
    ORDER BY logweight DESC, doc_id
    LIMIT {_K_SELECT}
    """,
)
def dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR selection step: top-k (k=100) documents by importance
    weight, ties broken by doc_id — the deterministic (zero-noise)
    limit of the paper's Gumbel resampling, which is what a
    reproducible curation pipeline actually ships. Spark plans the
    orderBy+limit as TakeOrderedAndProject: each partition keeps its
    local top-k and only k rows reach the driver — no global sort
    shuffle, the same plan at 100 TB."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dsir_select(d, _K_SELECT)


@register(
    "lm_ce_quality_buckets",
    oracle=f"""
    WITH {_TBL},
    w AS (SELECT doc_id, {_WS_DUCK} AS ws FROM documents),
    scored AS (
      SELECT doc_id, {_CE_DUCK} AS ce FROM w CROSS JOIN __dsir_t),
    bucketed AS (
      SELECT doc_id, ce, {ce_bucket_sql("ce")} AS bucket FROM scored)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(ce) AS min_ce,
           MAX(ce) AS max_ce
    FROM bucketed GROUP BY bucket
    """,
)
def lm_ce_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality buckets (Wenzek et al.
    §4.3): per-document cross-entropy under the frozen hashed-ngram
    target LM, bucketed by the frozen train-corpus tercile cutoffs
    (CCNet keeps 'head', optionally 'middle'). min/max are
    order-independent aggregates, so the hash never touches a
    shuffle-ordered double sum. Scale: one projection + one 3-group
    aggregation — map-side combined, shuffle carries 3 rows per
    partition."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    scored = lm_ce_scores(d)
    return scored.select(
        "doc_id", "ce", F.expr(ce_bucket_sql("ce")).alias("bucket")
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("ce").alias("min_ce"),
        F.max("ce").alias("max_ce"),
    )


@register(
    "dsir_selection_shift",
    oracle=f"""
    WITH {_TBL},
    w AS (
      SELECT doc_id, source, {_WS_DUCK} AS ws FROM documents),
    weighted AS (
      SELECT doc_id, source, {_FOLD_DUCK} AS logweight
      FROM w CROSS JOIN __dsir_t),
    selected AS (
      SELECT doc_id FROM weighted
      ORDER BY logweight DESC, doc_id LIMIT {_K_SELECT})
    SELECT w.source,
           CAST(COUNT(*) AS BIGINT) AS n_corpus,
           CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected
    FROM weighted w LEFT JOIN selected s ON s.doc_id = w.doc_id
    GROUP BY w.source
    """,
)
def dsir_selection_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resampling's distribution shift, the evidence table a
    curation run reports next to corpus_shift_by_source: per source,
    corpus size vs how many documents DSIR's top-k keeps. Plan
    shape: the k-row selection is BROADCAST back against the corpus
    (k = 100 rows however big the corpus), so the join adds
    no shuffle beyond the 1-per-source aggregation rows."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sel = dsir_select(d, _K_SELECT).select("doc_id")
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(sel.withColumn("sel", F.lit(1))), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_corpus"),
            F.sum(F.coalesce(F.col("sel"), F.lit(0)))
            .cast("long")
            .alias("n_selected"),
        )
    )


def _dsir_funnel_oracle() -> str:
    from ballista_extensions_spark.operators.qualityclassifier import (
        FROZEN_QUALITY_WEIGHTS,
        _weights_lit_duck,
        quality_logit_sql_duckdb,
    )
    from ballista_extensions_spark.queries.analytics10 import (
        _HTML_PAGE_SQL,
        _HTML_TEXT_SQL,
    )

    ws = words_sql_duckdb("txt")
    # both frozen tables hoisted into 1-row CTEs (VERDICT r13 #4):
    # the classifier gate walks every token of every extracted doc
    qw_cte = (
        f"__qw_t AS (SELECT {_weights_lit_duck(FROZEN_QUALITY_WEIGHTS)} "
        f"AS __qw)"
    )
    gate = quality_logit_sql_duckdb("txt", table_ref="__qw")
    return f"""
    WITH {_TBL},
    {qw_cte},
    urls AS (
      SELECT doc_id,
             'Site' || CAST(doc_id % 50 AS VARCHAR)
             || '.example.com/articles/'
             || CAST(doc_id % 100 AS VARCHAR) AS norm_host_path
      FROM documents),
    frontier AS (
      SELECT MIN(doc_id) AS doc_id
      FROM urls GROUP BY lower(norm_host_path)),
    survivors AS (
      SELECT d.doc_id AS doc_id, d.text AS text, d.source AS source
      FROM documents d JOIN frontier f ON f.doc_id = d.doc_id),
    pages AS (
      SELECT doc_id, source, {_HTML_PAGE_SQL} AS html FROM survivors),
    ex AS (
      SELECT doc_id, source, {_HTML_TEXT_SQL} AS txt,
             CAST(length({_HTML_TEXT_SQL}) AS DOUBLE)
               / CAST(length(html) AS DOUBLE) AS ratio
      FROM pages),
    gated AS (
      SELECT doc_id, source, txt, md5(txt) AS h
      FROM ex CROSS JOIN __qw_t
      WHERE ratio >= 0.5 AND length(txt) >= 100
        AND {gate} >= 0),
    kept AS (
      SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY h),
    keptdocs AS (
      SELECT g.doc_id AS doc_id, g.source AS source, g.txt AS txt
      FROM gated g JOIN kept k ON k.doc_id = g.doc_id),
    w AS (
      SELECT doc_id, source, {ws} AS ws FROM keptdocs)
    SELECT doc_id, source, {_FOLD_DUCK} AS logweight
    FROM w CROSS JOIN __dsir_t
    ORDER BY logweight DESC, doc_id
    LIMIT 50
    """


@register("curation_pipeline_dsir", oracle=_dsir_funnel_oracle())
def curation_pipeline_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the curation story: the full composed chain —
    frontier dedup, HTML extraction, rule gate, the frozen classifier
    gate, exact content dedup — and then DSIR selection over the
    SURVIVORS (top-50 by importance weight over the extracted text),
    i.e. frontier -> extract -> gate -> model gate -> dedup -> select,
    the stage order DCLM/CCNet pipelines run. One body:
    webprep.curation_kept_docs feeding dsir.dsir_logweights; the
    oracle replays every stage AND the fold bit-for-bit, so the hash
    proves the composed pipeline end-to-end with both frozen models
    inline. Scale: two hash aggregations (frontier, dedup) + narrow
    projections + TakeOrderedAndProject — no stage the funnel alone
    does not already pay."""
    from ballista_extensions_spark.operators.dsir import dsir_logweights
    from ballista_extensions_spark.operators.qualityclassifier import (
        quality_logit_sql,
    )
    from ballista_extensions_spark.operators.webprep import (
        curation_kept_docs,
        docs_fixture_frontier_key,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    survivors = curation_kept_docs(
        d,
        docs_fixture_frontier_key(),
        classifier_gate=F.expr(quality_logit_sql("txt")) >= 0,
    )
    # source rides THROUGH the scoring (keep=) — re-joining the scored
    # frame back to `survivors` would execute the whole funnel chain a
    # second time
    w = dsir_logweights(survivors, text_col="txt", keep=("source",))
    return (
        w.select("doc_id", "source", "logweight")
        .orderBy(F.col("logweight").desc(), F.col("doc_id"))
        .limit(50)
    )


@register(
    "dsir_token_budget_selection",
    oracle=f"""
    WITH {_TBL},
    w AS (
      SELECT doc_id,
             CAST(len(string_split_regex(text, '\\s+')) AS BIGINT)
               AS n_tokens,
             {_WS_DUCK} AS ws
      FROM documents WHERE text IS NOT NULL),
    scored AS (
      SELECT doc_id, n_tokens, {_FOLD_DUCK} AS logweight
      FROM w CROSS JOIN __dsir_t),
    ranked AS (
      SELECT doc_id, n_tokens, logweight,
             SUM(n_tokens) OVER (ORDER BY logweight DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored)
    SELECT doc_id, n_tokens, logweight
    FROM ranked WHERE cum <= 15000
    """,
)
def dsir_token_budget_selection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE pretraining selection semantics: 'give me the best 15k
    tokens by importance weight' — DSIR log-weights as the score,
    whitespace token counts as the cost, selected as the exact budget
    prefix under (logweight DESC, doc_id) order. Composition of the
    two scalable primitives: dsir_logweights (zero-shuffle scoring)
    feeding text.budget_prefix_select (min-max-normalized score
    histogram + boundary-band distributed prefix — exact incl. ties,
    no global sort, driver state <= 4096 buckets + 2 doubles). This
    is the selection form that replaces top-k when k is 'hundreds of
    millions of documents' — the oracle replays the running-total
    window semantics over the identical fold."""
    from ballista_extensions_spark.operators.dsir import dsir_logweights
    from ballista_extensions_spark.operators.text import (
        budget_prefix_select,
        tokens,
    )

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
    )
    # n_tokens is computed in the SAME pass and carried through the
    # scoring (keep=) — one scan, no self-join of the scored frame
    # back to the corpus
    with_cost = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        "text",
    )
    scored = dsir_logweights(with_cost, keep=("n_tokens",)).drop(
        "n_feats"
    )
    return budget_prefix_select(
        scored, 15000, cost_col="n_tokens", score_col="logweight"
    )


@register("dsir_resample_gumbel")
def dsir_resample_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paper's ACTUAL selection semantics: Gumbel-top-k importance
    RESAMPLING — sample k=100 documents without replacement with
    probability ∝ exp(logweight) via the Gumbel-max trick (top-k by
    ``logweight − ln(−ln(u))``, u hash-derived from (doc_id, seed);
    Kool et al. arXiv:1903.06059). Deterministic per seed but
    engine-specific (xxhash64 has no DuckDB twin) — rows-only graded,
    with every invariant hash-graded by dsir_gumbel_audit. Plan:
    narrow scoring + TakeOrderedAndProject, same as the argmax
    variant."""
    from ballista_extensions_spark.operators.dsir import (
        dsir_gumbel_select,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return dsir_gumbel_select(d, _K_SELECT, seed=42)


_GUMBEL_AUDIT_CHECKS = [
    "exact_k",
    "top_k_by_perturbed_key",
    "same_seed_deterministic",
    "different_seeds_differ",
    "argmax_overlap_band",
    "gumbel_noise_mean_band",
]


@register_audit("dsir_gumbel_audit", _GUMBEL_AUDIT_CHECKS)
def dsir_gumbel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gumbel resampler's contract as driver-hash-checkable rows
    (the sample_contract_audit pattern — rows-only ops get their
    guarantees graded through a constant-TRUE oracle):

    - exact_k: the sample has exactly k rows;
    - top_k_by_perturbed_key: min selected perturbed key >= max
      unselected perturbed key — the Gumbel-max-trick invariant that
      makes the top-k a without-replacement weighted sample;
    - same_seed_deterministic: two independent constructions select
      the identical id set (full-outer join, zero asymmetric rows);
    - different_seeds_differ: seeds 42 and 43 select different sets;
    - argmax_overlap_band: |sample ∩ argmax top-k| / k within
      [min(0.5, 2k/n), 0.95] — the lower bound is derived from corpus
      size (2x the k/n chance overlap of a weights-drowned uniform
      sampler), the upper rejects noise-drowned argmax reproduction;
      fixture margins: sf0.01 observes 0.64-0.65 vs lo 0.4, sf0.1
      observes 0.28-0.30 vs lo 0.04;
    - gumbel_noise_mean_band: corpus mean of (key − logweight) within
      Euler–Mascheroni γ ± 0.25 (>4σ slack at 500 docs) — the noise
      really is Gumbel(0,1)-shaped, not a constant or a bias.
    """
    from ballista_extensions_spark.operators.dsir import (
        dsir_gumbel_select,
        dsir_logweights,
        dsir_select,
        gumbel_key_col,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    k = _K_SELECT
    sel = dsir_gumbel_select(d, k, seed=42).select(
        "doc_id", "gumbel_key"
    ).localCheckpoint()
    sel_row = sel.agg(
        F.count(F.lit(1)).alias("n"), F.min("gumbel_key").alias("lo")
    ).first()

    perturbed = dsir_logweights(d).withColumn(
        "gumbel_key", gumbel_key_col("doc_id", 42)
    )
    unsel = perturbed.join(sel.select("doc_id"), "doc_id", "left_anti")
    hi_unsel = unsel.agg(F.max("gumbel_key").alias("m")).collect()[0]["m"]

    # determinism: every id must appear exactly twice across two
    # independent constructions (count-by-id beats a full-outer join
    # here: one aggregation, no null-matching subtleties)
    sel_again = dsir_gumbel_select(d, k, seed=42).select("doc_id")
    asym = (
        sel.select("doc_id")
        .unionByName(sel_again)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") != 2)
        .count()
    )

    other = dsir_gumbel_select(d, k, seed=43).select("doc_id")
    n_diff = (
        sel.select("doc_id")
        .unionByName(other)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") != 2)
        .count()
    )

    top = dsir_select(d, k).select("doc_id")
    n_overlap = sel.select("doc_id").join(top, "doc_id").count()
    # corpus-size-derived band (code-review r14: a fixed 0.02 floor IS
    # the pure-chance overlap k/n at sf0.1, so it rejected nothing):
    # a weights-drowned sampler (uniform random) overlaps ~k/n by
    # chance — require >= 2x chance, capped at 0.5 so the bound stays
    # below the weight-dominated regime at any n; a noise-drowned
    # sampler reproduces argmax, overlap ~= 1 — require <= 0.95.
    # Fixture margins: sf0.01/0.001 observe 0.64-0.65 vs lo 0.4;
    # sf0.1 observes 0.28-0.30 vs lo 0.04.
    corpus = perturbed.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("gumbel_key") - F.col("logweight")).alias("noise_mean"),
    ).first()
    overlap_lo = min(0.5, 2.0 * k / max(corpus["n"], 1))

    return check_rows(
        spark,
        {
            "exact_k": sel_row["n"] == k,
            # vacuously true when the corpus has <= k docs (unsel is
            # empty and agg(max) returns None)
            "top_k_by_perturbed_key": hi_unsel is None
            or sel_row["lo"] >= hi_unsel,
            "same_seed_deterministic": asym == 0,
            "different_seeds_differ": n_diff > 0,
            "argmax_overlap_band": overlap_lo <= n_overlap / k <= 0.95,
            "gumbel_noise_mean_band": abs(
                corpus["noise_mean"] - 0.5772156649
            )
            <= 0.25,
        },
    )
