"""Round-13 operator-surface queries (VERDICT r12 directives #1/#8):
the Arrow-batched rank-priority BPE applier at realistic vocab scale,
its hash-graded contract audit, and the tokenizer fertility table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballista_extensions_spark.io import ensure_parallelism, load_table
from ballista_extensions_spark.operators.bpe_stream import (
    FROZEN_STREAM_MERGES,
    chain_cte_duckdb,
    stream_string_sql,
    stream_string_sql_duckdb,
)
from ballista_extensions_spark.queries.analytics10 import (
    _HTML_PAGE_SQL,
    _HTML_TEXT_SQL,
)
from ballista_extensions_spark.queries.registry import register

# longest token the frozen vocabulary can produce — the token-count
# lower bound n_tokens >= ceil(n_symbols / _L_MAX) used by the audit
_L_MAX = max(len(x + y) for x, y in FROZEN_STREAM_MERGES)

_CHAIN_CTE = chain_cte_duckdb(FROZEN_STREAM_MERGES)
_STREAM_DUCK = stream_string_sql_duckdb("text")


@register(
    "bpe_tokenize_large_vocab",
    oracle=f"""
    WITH {_CHAIN_CTE},
    streams AS (
      SELECT doc_id, {_STREAM_DUCK} AS st FROM documents)
    SELECT c.doc_id,
           CAST(length(replace(s.st, '|', '')) AS BIGINT) AS n_symbols,
           CAST((length(c.s) - length(replace(c.s, ' ', ''))) / 2
                AS BIGINT) AS n_tokens
    FROM __bpe_chain c JOIN streams s ON s.doc_id = c.doc_id
    """,
)
def bpe_tokenize_large_vocab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production BPE applier (operators/bpe_stream.py — VERDICT
    r12 #1): the corpus tokenized with the FROZEN 384-merge raw-stream
    vocabulary via ONE Arrow-batched mapInPandas stage implementing
    true rank-priority merging with a broadcast merge-rank dict and
    per-chunk memoization — the plan shape whose cost does not grow a
    plan node per merge, unlike bpe_tokenize_counts' literal-replace
    chain (384 merges already break Spark's parser, Spark's Column
    converter AND DuckDB's binder as single expressions; module
    comment has the three measured failures). 384 merges is 4.3x the
    89-merge saturation bound of word-internal BPE on this corpus —
    reachable only because the vocabulary is SentencePiece-style
    (boundary-crossing merges, Kudo & Richardson 2018).

    The oracle replays the full 384-merge SEQUENTIAL chain as a staged
    CTE stack (96 merges per layer, under DuckDB's 128-deep binder
    cap), so a hash match proves the rank-priority applier equals the
    sequential chain document-by-document over the whole corpus — the
    equivalence that holds for trainer-produced merge lists and that
    bpe_contract_audit re-proves per-document Spark-side. Scale: no
    shuffle, no driver state; cost ∝ corpus bytes x applied merges."""
    from ballista_extensions_spark.operators.bpe_stream import (
        bpe_stream_token_counts,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return bpe_stream_token_counts(d, FROZEN_STREAM_MERGES)


@register(
    "bpe_contract_audit",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    {chain_cte_duckdb(FROZEN_STREAM_MERGES, from_sql="docs")},
    streams AS (
      SELECT doc_id, {_STREAM_DUCK} AS st FROM docs),
    per AS (
      SELECT c.doc_id,
             length(replace(s.st, '|', '')) AS n_symbols,
             CAST((length(c.s) - length(replace(c.s, ' ', ''))) / 2
                  AS BIGINT) AS n_tokens,
             replace(replace(c.s, ' ', ''), '|', '')
               = replace(s.st, '|', '') AS detok_ok
      FROM __bpe_chain c JOIN streams s ON s.doc_id = c.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_symbols) AS BIGINT) AS sum_symbols,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_chain_equal,
           CAST(SUM(CASE WHEN n_tokens <= n_symbols AND
                         n_tokens >= (n_symbols + {_L_MAX - 1}) // {_L_MAX}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bounds_ok,
           CAST(SUM(CASE WHEN detok_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_detok_ok,
           CAST(COUNT(*) AS BIGINT) AS n_repeat_equal
    FROM per
    """,
)
def bpe_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-graded contract audit for the rank-priority applier
    (VERDICT r12 #1b, the compression-stats audit pattern) on the
    doc_id % 5 stratum: (a) CHAIN-VS-APPLIER EQUALITY — Spark runs
    BOTH the mapInPandas applier and the staged sequential replace
    chain (operators/bpe_stream.py:chain_token_counts) and counts
    agreeing documents, while the oracle replays the chain and emits
    the stratum size: any rank-priority/sequential divergence is a
    driver-visible hash mismatch, never an assumption; (b) BOUNDS —
    n_tokens ∈ [ceil(n_symbols/{_L_MAX}), n_symbols] per doc (longest
    frozen token = {_L_MAX} symbols); (c) DETOKENIZATION ROUND-TRIP —
    concatenating the applier's tokens reproduces the normalized chunk
    stream exactly (the oracle replays the same identity on the chain
    output); (d) DETERMINISM — two independent applier runs agree on
    every document. Totals (sum_symbols, sum_tokens) pin the stratum's
    actual values, so the audit also hash-verifies the applier's
    numbers, not just its invariants."""
    from ballista_extensions_spark.operators.bpe_stream import (
        bpe_stream_token_counts,
        bpe_stream_tokens,
        chain_token_counts,
    )

    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
    ).filter(F.col("doc_id") % 5 == 0)
    app = bpe_stream_token_counts(d, FROZEN_STREAM_MERGES)
    app2 = bpe_stream_token_counts(d, FROZEN_STREAM_MERGES).select(
        "doc_id", F.col("n_tokens").alias("n_tokens_2")
    )
    chain = chain_token_counts(d, FROZEN_STREAM_MERGES)
    detok = (
        bpe_stream_tokens(d, FROZEN_STREAM_MERGES)
        .join(
            d.select(
                "doc_id",
                F.expr(stream_string_sql("text")).alias("st"),
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            (
                F.concat_ws("", F.col("tokens"))
                == F.replace(F.col("st"), F.lit("|"), F.lit(""))
            ).alias("detok_ok"),
        )
    )
    lo = (F.col("n_symbols") + F.lit(_L_MAX - 1)) / F.lit(_L_MAX)
    per = (
        app.join(chain, "doc_id")
        .join(app2, "doc_id")
        .join(detok, "doc_id")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_symbols").cast("long").alias("sum_symbols"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        F.sum(
            (F.col("n_tokens") == F.col("n_tokens_chain")).cast("int")
        ).cast("long").alias("n_chain_equal"),
        F.sum(
            (
                (F.col("n_tokens") <= F.col("n_symbols"))
                & (F.col("n_tokens") >= F.floor(lo))
            ).cast("int")
        ).cast("long").alias("n_bounds_ok"),
        F.sum(F.col("detok_ok").cast("int")).cast("long").alias(
            "n_detok_ok"
        ),
        F.sum(
            (F.col("n_tokens") == F.col("n_tokens_2")).cast("int")
        ).cast("long").alias("n_repeat_equal"),
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH {_CHAIN_CTE},
    per AS (
      SELECT d.doc_id, d.lang,
             len(list_filter(string_split(
               lower(regexp_replace(coalesce(d.text, ''),
                                    '[^a-zA-Z0-9]+', '#', 'g')), '#'),
               w -> w <> '')) AS n_words,
             CAST((length(c.s) - length(replace(c.s, ' ', ''))) / 2
                  AS BIGINT) AS n_tokens
      FROM documents d JOIN __bpe_chain c ON c.doc_id = d.doc_id)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE)
             AS fertility
    FROM per GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer fertility (tokens per word) per language — the
    standard tokenizer-eval table every pretraining pipeline reports
    (VERDICT r12 #8), computed with the SAME rank-priority applier as
    bpe_tokenize_large_vocab over the frozen 384-merge vocabulary.
    Fertility < 1 is reachable here because the raw-stream vocabulary
    merges across word boundaries (multi-word tokens); per-lang
    differences expose how the (single-corpus) vocabulary fits each
    slice. The oracle replays the staged sequential chain and the word
    count, aggregating exact BIGINTs before ONE double division per
    group — no cross-row float accumulation, so the hash is stable.
    Scale: one scan of ``documents``; ``n_words`` is computed before the
    applier, which carries it and ``lang`` through its Arrow pass (no
    join back on ``doc_id``), then one map-side-combined groupBy on
    lang (25ish groups)."""
    from ballista_extensions_spark.operators.bpe_stream import (
        bpe_stream_token_counts,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    words = (
        "size(filter(split(lower(regexp_replace(coalesce(text, ''), "
        "'[^a-zA-Z0-9]+', '#')), '#'), w -> w != ''))"
    )
    per = bpe_stream_token_counts(
        d.withColumn("n_words", F.expr(words).cast("long")),
        FROZEN_STREAM_MERGES,
        carry=("lang", "n_words"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        (
            F.sum("n_tokens").cast("double")
            / F.sum("n_words").cast("double")
        ).alias("fertility"),
    )


from ballista_extensions_spark.operators.qualityclassifier import (  # noqa: E402
    FROZEN_QUALITY_WEIGHTS,
    _weights_lit_duck,
    quality_logit_sql,
    quality_logit_sql_duckdb,
)

# classifier weights hoisted into a 1-row CTE (VERDICT r13 #4 —
# DuckDB rebuilds inline list literals per lambda element)
_QW_CTE = (
    f"__qw_t AS (SELECT {_weights_lit_duck(FROZEN_QUALITY_WEIGHTS)} "
    f"AS __qw)"
)
_LOGIT_DOC_DUCK = quality_logit_sql_duckdb("text", table_ref="__qw")


@register(
    "quality_classifier_scores",
    oracle=f"""
    WITH {_QW_CTE}
    SELECT doc_id,
           CAST(len(list_filter(string_split(lower(regexp_replace(
                coalesce(text, ''), '[^a-zA-Z0-9]+', '#', 'g')), '#'),
                w -> w <> '')) AS BIGINT) AS n_words,
           {_LOGIT_DOC_DUCK} AS logit,
           {_LOGIT_DOC_DUCK} >= 0 AS passes
    FROM documents CROSS JOIN __qw_t
    """,
)
def quality_classifier_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DCLM/CCNet-style quality-classifier gate (VERDICT r12 #3,
    operators/qualityclassifier.py): every document scored by the
    FROZEN hashed-bag-of-words linear model — per-token polynomial
    feature hash, one broadcast weight-array lookup, mean-pool, bias —
    and gated on logit >= 0. The frozen weights are the deterministic
    logistic-regression output of tools/train_quality_weights.py
    (distilling the Gopher/C4 stopword-density heuristic at 0.966
    train accuracy; pinned by pytest). The oracle replays the ENTIRE
    hash+dot arithmetic — char-fold token hash, left-fold weight sum,
    the one double division — so a hash match proves every score to
    the last bit. No sigmoid in the output: the gate thresholds the
    logit (monotone), keeping transcendentals out of the cross-engine
    hash. Scale: one codegen'd narrow pass, no shuffle, no UDF."""
    from ballista_extensions_spark.operators.qualityclassifier import (
        quality_scores,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return quality_scores(d)


@register(
    "crawl_curation_pipeline_classified",
    oracle=f"""
    WITH {_QW_CTE},
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
      SELECT doc_id, source, md5(txt) AS h
      FROM ex CROSS JOIN __qw_t
      WHERE ratio >= 0.5 AND length(txt) >= 100
        AND {quality_logit_sql_duckdb("txt", table_ref="__qw")} >= 0),
    kept AS (
      SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY h)
    SELECT g.source,
           CAST(COUNT(*) AS BIGINT) AS n_gated,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM gated g LEFT JOIN kept k ON k.doc_id = g.doc_id
    GROUP BY g.source
    """,
)
def crawl_curation_pipeline_classified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The crawl-curation funnel WITH the trained classifier stage
    enabled (VERDICT r12 #3's integration ask): same composed chain as
    crawl_curation_pipeline — frontier dedup, HTML extraction, the
    rule gate — plus the frozen hashed-BoW model gating on the
    EXTRACTED text (logit >= 0) before content dedup, exactly where
    DCLM/CCNet put their classifier (after boilerplate removal, before
    dedup bookkeeping). One body: webprep.crawl_curation_funnel with
    classifier_gate; the oracle replays all four rule stages AND the
    classifier's hash+dot arithmetic over the extracted text, so the
    hash proves the composed pipeline with the model inline. Scale:
    the classifier adds one codegen'd projection — no new shuffle."""
    from ballista_extensions_spark.operators.webprep import (
        crawl_curation_funnel,
        docs_fixture_frontier_key,
    )

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return crawl_curation_funnel(
        d,
        docs_fixture_frontier_key(),
        classifier_gate=F.expr(quality_logit_sql("txt")) >= 0,
    )
