"""DSIR: Data Selection with Importance Resampling (Xie et al.,
arXiv:2302.03169), plus the hashed n-gram LM quality scorer it builds
on (the CCNet perplexity-bucket stage, Wenzek et al. arXiv:1911.00359
§4.3) — the standard "pick pretraining data that looks like the target
corpus" selection stage.

The paper's estimator: featurize each document into hashed n-gram
counts (unigrams + bigrams, fixed bucket counts), fit two bag-of-
words models — p_target on a trusted slice, p_raw on the crawl — and
weight each document by ``log w(x) = Σ_f count_f(x) · (log p_t(f) −
log p_r(f))``; selection keeps the top-k by weight (the paper's
resampling uses Gumbel noise; the argmax/top-k variant is its
deterministic limit and is what we hash-grade — ties break by doc_id).

Engine discipline (the qualityclassifier.py pattern):

* The two distributions are FROZEN in source — trained offline by
  ``tools/train_dsir.py`` (deterministic: Laplace-smoothed counts on
  the sf0.01 corpus, target slice = documents passing the frozen
  quality gate, 6-decimal rounding is part of the contract) — so the
  only in-engine arithmetic is hash + left-fold dot product. No
  transcendentals in-engine: every ``log`` happened at train time in
  Python; the driver's DuckDB oracle replays the identical fold over
  the identical literals bit-for-bit.
* Feature hashing is the polynomial rolling hash (base 31 mod
  1000003) shared with the quality classifier, folded to B_UNI
  unigram + B_BI bigram buckets; a production deployment swaps in
  ``xxhash64`` one-lined (no DuckDB twin, so the oracle-checked form
  uses the polynomial).
* The ratio/logprob tables ride the plan as ONE array literal each
  (O(B) shipped once per task closure, never per row).

Scale: scoring is one narrow codegen'd projection — cost ∝ corpus
tokens, zero shuffle, zero driver state, no UDF. Selection is
``ORDER BY weight LIMIT k`` = TakeOrderedAndProject (per-partition
top-k, k rows to the driver — no global sort shuffle). At 100 TB the
frozen arrays stay KB-sized however large the corpus; only k and the
bucket counts are tuning knobs.

Reference parity note: the reference engine (milenkovicm/
ballista_extensions, src/physical/sample_exec.rs) stops at uniform
sampling; DSIR is the importance-weighted selection a training-data
pipeline layers on top (SURVEY.md training-pipeline tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .qualityclassifier import (
    _WORDS_DUCK,
    _WORDS_SQL,
    BASE,
    PRIME,
)

#: hashed feature buckets: unigrams land in [0, B_UNI), bigrams in
#: [B_UNI, B_UNI + B_BI) — one concatenated table per model
B_UNI = 512
B_BI = 512
N_BUCKETS = B_UNI + B_BI


def _poly(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * BASE + ord(ch)) % PRIME
    return acc


def uni_bucket(w: str) -> int:
    """Python mirror of the SQL unigram feature hash."""
    return _poly(w) % B_UNI


def bi_bucket(w1: str, w2: str) -> int:
    """Python mirror of the SQL bigram feature hash (bigram text is
    ``w1#w2`` — '#' cannot occur inside a token post-normalization)."""
    return B_UNI + _poly(w1 + "#" + w2) % B_BI


def py_words(text: str | None) -> list[str]:
    """Python mirror of the shared '#'-normalization split."""
    import re

    norm = re.sub(r"[^a-zA-Z0-9]+", "#", text or "").lower()
    return [w for w in norm.split("#") if w]


def py_feature_fold(text: str | None, table: tuple[float, ...]) -> float:
    """Python mirror of the in-engine fold: ONE left-fold in document
    order with interleaved contributions — for token i, add its
    unigram bucket, then (if i > 0) the bigram bucket with the
    previous token: ``((s + u_i) + b_i)``. This is the exact
    association order both SQL spellings use (the Spark fold carries
    (sum, prev) in a struct accumulator; the DuckDB oracle folds the
    interleaved contribution list), so tests assert bit-equality."""
    words = py_words(text)
    s = 0.0
    prev: str | None = None
    for w in words:
        s = s + table[uni_bucket(w)]
        if prev is not None:
            s = s + table[bi_bucket(prev, w)]
        prev = w
    return s


def py_n_feats(text: str | None) -> int:
    n = len(py_words(text))
    return n + max(n - 1, 0)


def _table_lit_spark(table: tuple[float, ...]) -> str:
    return (
        "array("
        + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in table)
        + ")"
    )


def _table_lit_duck(table: tuple[float, ...]) -> str:
    return (
        "["
        + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in table)
        + "]"
    )


# hash of one token/bigram string `t`, as a SQL fragment (engine forms
# of _poly): left-fold over characters, every intermediate < 2^63
_TOK_HASH_SPARK = (
    f"aggregate(transform(split(t, ''), c -> ascii(c)), 0L, "
    f"(a2, x) -> (a2 * {BASE} + x) % {PRIME})"
)


# bigram-text hash of the previous token carried in the accumulator
# ('prev#current' — '#' cannot occur inside a token)
_BI_HASH_SPARK = _TOK_HASH_SPARK.replace(
    "split(t, '')", "split(concat(acc.p, '#', t), '')"
)


def feature_fold_sql(words_sql: str, table: tuple[float, ...]) -> str:
    """Spark SQL fragment: Σ_f count_f(doc) · table[f] over hashed
    unigram+bigram features, given a WORDS-ARRAY expression (pass a
    materialized column reference, not the split expression — an
    indexed-lambda form that re-references the words expression
    per element re-evaluates the whole split per token, which round
    13 measured as a 60x quadratic blowup at sf0.1). ONE pass: the
    accumulator carries (running sum, previous token); each token
    adds its unigram bucket then its bigram-with-prev bucket — the
    shared scoring kernel for both the DSIR log-weight (table =
    frozen log ratios) and the LM cross-entropy (table = frozen
    log-probs)."""
    lit = _table_lit_spark(table)
    return (
        f"aggregate({words_sql}, "
        f"named_struct('s', CAST(0 AS DOUBLE), 'p', CAST(NULL AS STRING)), "
        f"(acc, t) -> named_struct('s', acc.s "
        f"+ element_at({lit}, CAST({_TOK_HASH_SPARK} % {B_UNI} AS INT) + 1) "
        f"+ CASE WHEN acc.p IS NULL THEN CAST(0 AS DOUBLE) "
        f"ELSE element_at({lit}, CAST({B_UNI} + {_BI_HASH_SPARK} "
        f"% {B_BI} AS INT) + 1) END, 'p', t), "
        f"acc -> acc.s)"
    )


def feature_fold_sql_duckdb(
    words_sql: str,
    table: tuple[float, ...],
    table_ref: str | None = None,
) -> str:
    """The identical fold in DuckDB spelling, given a words-array
    expression (the oracles materialize it in a CTE). DuckDB's
    list_reduce accumulator must match the element type, so instead
    of a struct accumulator the interleaved contribution list
    [u_1, u_2, b_2, u_3, b_3, ...] is built first and left-folded —
    ``((0 + u_1) + u_2) + b_2 ...``, the same association order as
    the Spark struct fold and the Python mirror.

    ``table_ref`` (VERDICT r13 #4): DuckDB re-materializes an INLINE
    list literal on every lambda-element evaluation, so the 1024-double
    table was being rebuilt twice per token (~65-70 s per oracle at
    sf0.1 — 47% of the whole DuckDB yardstick). Pass the name of a
    column holding the array (1-row CTE, CROSS JOINed) and the fold
    references it instead — measured ~50x faster, bit-identical
    results (same association order, same values)."""
    lit = table_ref if table_ref is not None else _table_lit_duck(table)
    contribs = (
        f"flatten(list_transform(generate_series(1, len({words_sql})), "
        f"i -> CASE WHEN i = 1 THEN "
        f"[{lit}[{_uni_hash_duck_at(words_sql, 'i')} + 1]] "
        f"ELSE [{lit}[{_uni_hash_duck_at(words_sql, 'i')} + 1], "
        f"{lit}[{B_UNI} + {_bi_hash_duck_at(words_sql, 'i')} + 1]] END))"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), {contribs}), "
        f"(acc, x) -> acc + x)"
    )


def _uni_hash_duck_at(words_sql: str, idx: str) -> str:
    """DuckDB: unigram bucket of words[idx] (poly hash, char fold)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, length({words_sql}[{idx}])), "
        f"j -> CAST(ascii({words_sql}[{idx}][j]) AS BIGINT))), "
        f"(a2, x) -> (a2 * {BASE} + x) % {PRIME}) % {B_UNI}"
    )


def _bi_hash_duck_at(words_sql: str, idx: str) -> str:
    """DuckDB: bigram bucket of words[idx-1] || '#' || words[idx]."""
    bt = f"({words_sql}[{idx} - 1] || '#' || {words_sql}[{idx}])"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, length({bt})), "
        f"j -> CAST(ascii({bt}[j]) AS BIGINT))), "
        f"(a2, x) -> (a2 * {BASE} + x) % {PRIME}) % {B_BI}"
    )


def words_sql(col_sql: str) -> str:
    """Spark SQL: the shared '#'-normalization token array of a text
    expression — materialize this ONCE (as a projected column) and
    fold over the column reference; every scorer below takes the
    words-array reference, never the raw text."""
    return _WORDS_SQL.format(col=col_sql)


def words_sql_duckdb(col_sql: str) -> str:
    """DuckDB spelling of :func:`words_sql` (oracle CTEs)."""
    return _WORDS_DUCK.format(col=col_sql)


def n_feats_sql(words_ref: str) -> str:
    """Spark SQL: unigram + bigram feature count, given a words-array
    reference."""
    return (
        f"(size({words_ref}) + greatest(size({words_ref}) - 1, 0))"
    )


def n_feats_sql_duckdb(words_ref: str) -> str:
    return f"(len({words_ref}) + greatest(len({words_ref}) - 1, 0))"


def _with_words(
    docs: DataFrame, text_col: str, id_col: str, *extra: str
) -> DataFrame:
    """Project (id, __ws [, extra...]) with the token array as a REAL
    column. Catalyst's CollapseProject keeps the intermediate
    projection because __ws is non-cheap and referenced more than
    once downstream — the split/regex runs once per document, not
    once per expression reference."""
    return docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.expr(words_sql(text_col)).alias("__ws"),
    )


def dsir_logweights(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ratios: tuple[float, ...] | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id[, keep...], n_feats, logweight): the DSIR importance
    log-weight of every document under the frozen target/raw hashed
    bigram models. Two stacked narrow projections (tokenize once,
    then fold), no shuffle. ``keep`` names input columns carried
    through the scoring — composition queries pass source/cost
    columns here instead of re-joining the scored frame back to its
    own input (which would execute the upstream chain twice)."""
    r = FROZEN_DSIR_RATIOS if ratios is None else ratios
    return _with_words(docs, text_col, id_col, *keep).select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.expr(n_feats_sql("__ws")).cast("long").alias("n_feats"),
        F.expr(feature_fold_sql("__ws", r)).alias("logweight"),
    )


def dsir_select(
    docs: DataFrame,
    k: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    ratios: tuple[float, ...] | None = None,
) -> DataFrame:
    """Top-k documents by importance weight (ties by doc_id) — the
    deterministic limit of the paper's Gumbel resampling. Spark plans
    this as TakeOrderedAndProject: per-partition top-k, k rows to the
    driver, no global sort shuffle."""
    if k < 1:
        raise ValueError(f"dsir_select: k must be >= 1, got {k}")
    w = dsir_logweights(
        docs, text_col=text_col, id_col=id_col, ratios=ratios
    )
    return w.orderBy(F.col("logweight").desc(), F.col(id_col)).limit(k)


def gumbel_key_col(
    id_col: str, seed: int, logweight_col: str = "logweight"
):
    """The Gumbel-perturbed selection key: ``logweight + G`` where
    ``G = -ln(-ln(u))`` and ``u ∈ (0,1)`` is derived deterministically
    from ``xxhash64(id, seed)`` (53 mantissa-safe bits, +0.5 offset so
    u is never 0 or 1). Deterministic per (id, seed); engine-specific
    (xxhash64 has no DuckDB twin), so queries built on it are
    rows-only graded and the contract audit hash-grades the
    invariants."""
    h = F.pmod(
        F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 53)
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 53))
    return F.col(logweight_col) - F.log(-F.log(u))


def dsir_gumbel_select(
    docs: DataFrame,
    k: int,
    *,
    seed: int = 42,
    text_col: str = "text",
    id_col: str = "doc_id",
    ratios: tuple[float, ...] | None = None,
) -> DataFrame:
    """The paper's ACTUAL resampling (Xie et al. §3): sampling without
    replacement with probability ∝ exp(logweight), via the Gumbel-max
    trick — top-k by ``logweight + Gumbel(0,1)`` IS a weighted sample
    without replacement (Kool et al. 2019, arXiv:1903.06059). The
    noise is hash-derived so the same (corpus, seed, k) always selects
    the same set — a reproducible stochastic pipeline, not a seedless
    one. Plan shape identical to dsir_select: narrow scoring +
    TakeOrderedAndProject."""
    if k < 1:
        raise ValueError(f"dsir_gumbel_select: k must be >= 1, got {k}")
    w = dsir_logweights(
        docs, text_col=text_col, id_col=id_col, ratios=ratios
    ).withColumn("gumbel_key", gumbel_key_col(id_col, seed))
    return w.orderBy(F.col("gumbel_key").desc(), F.col(id_col)).limit(k)


def lm_ce_scores(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    logprobs: tuple[float, ...] | None = None,
) -> DataFrame:
    """(doc_id, n_feats, ce): per-document cross-entropy under the
    frozen hashed-ngram target LM — the CCNet quality signal (their
    KenLM perplexity, re-based onto the hashed bigram model whose
    arithmetic both engines can replay). Empty documents score the
    OOV ceiling so they sort into the worst bucket, not the best."""
    lp = FROZEN_LM_LOGPROBS if logprobs is None else logprobs
    nf = n_feats_sql("__ws")
    fold = feature_fold_sql("__ws", lp)
    ceiling = -min(lp)
    return _with_words(docs, text_col, id_col).select(
        F.col(id_col),
        F.expr(nf).cast("long").alias("n_feats"),
        F.expr(
            f"CASE WHEN {nf} = 0 THEN CAST({ceiling!r} AS DOUBLE) "
            f"ELSE -({fold}) / CAST({nf} AS DOUBLE) END"
        ).alias("ce"),
    )


def lm_ce_sql_duckdb(
    words_ref: str,
    logprobs: tuple[float, ...] | None = None,
    table_ref: str | None = None,
) -> str:
    """DuckDB spelling of the per-document cross-entropy, given a
    words-array reference (materialize it in a CTE; ``table_ref``
    hoists the log-prob array — see feature_fold_sql_duckdb)."""
    lp = FROZEN_LM_LOGPROBS if logprobs is None else logprobs
    nf = n_feats_sql_duckdb(words_ref)
    fold = feature_fold_sql_duckdb(words_ref, lp, table_ref=table_ref)
    ceiling = -min(lp)
    return (
        f"CASE WHEN {nf} = 0 THEN CAST({ceiling!r} AS DOUBLE) "
        f"ELSE -({fold}) / CAST({nf} AS DOUBLE) END"
    )


def ce_bucket_sql(ce_sql: str, cutoffs: tuple[float, float] | None = None) -> str:
    """head/middle/tail bucket of a cross-entropy expression by the
    frozen train-corpus tercile cutoffs (CCNet §4.3 keeps the head,
    optionally the middle). Identical text works in both engines."""
    lo, hi = FROZEN_CE_CUTOFFS if cutoffs is None else cutoffs
    return (
        f"CASE WHEN {ce_sql} <= CAST({lo!r} AS DOUBLE) THEN 'head' "
        f"WHEN {ce_sql} <= CAST({hi!r} AS DOUBLE) THEN 'middle' "
        f"ELSE 'tail' END"
    )


# ---------------------------------------------------------------------
# Frozen models: tools/train_dsir.py on the sf0.01 corpus — regenerated
# and asserted identical by tests/test_dsir.py::test_frozen_tables_reproduce.
# Target slice = documents passing the frozen quality gate
# (qualityclassifier logit >= 0); raw = the whole corpus; Laplace
# smoothing; 6-decimal rounding is part of the contract.
FROZEN_DSIR_RATIOS: tuple[float, ...] = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.062255, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.044414, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.003565, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.001595, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.131786, 0.0, 0.115195, 0.0, 0.0, 0.042604, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.326081, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.009609, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.027358, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.053252, 0.0, 0.0, 0.0, -0.002564, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.077842, 0.0, -0.067529, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.044249, -0.019828, 0.0, 0.0, -0.051292, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.117318, 0.0, 0.0, 0.0, 0.0, -0.000735, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.062344, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.006874, -0.062262, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.051375, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.023684, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.062255, 0.0, 0.0, -0.088639, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.040983, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.003336, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.049384, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.046397, -0.030094, 0.0, 0.0, 0.0, 0.073584, 0.521975, 0.027064, -0.008654, 0.21292, -0.134055, -0.334384, -0.059947, -0.306347, -0.002789, 0.0, 0.0, -0.16173, 0.0, 0.0, -0.402892, 0.101172, -0.205129, -0.465412, -0.039744, 0.12693, -0.28309, 0.151362, 0.176442, -0.007891, -0.006458, 0.030204, 0.270295, -0.114014, 0.0, -0.120572, -0.155257, 0.1139, 0.035363, -0.035049, 0.038493, -0.102507, -0.025461, 0.172675, 0.118036, -0.151754, 0.227735, 0.027064, 0.0, 0.0, 0.135798, 0.030567, 0.157118, 0.109129, 0.0, 0.0, 0.045414, 0.004592, 0.118745, 0.032426, 0.027064, 0.0, 0.0, -0.18778, 0.163197, 0.237305, -0.142639, 0.227735, 0.043237, 0.063847, 0.0, -0.235838, -0.175258, 0.073584, -0.275058, 0.6332, 0.276525, 0.0, 0.0, -0.059947, 0.032426, 0.076629, 0.082369, -0.158682, -0.059947, 0.054463, -0.085053, 0.150774, -0.801884, -0.059947, -0.155257, 0.134209, -0.070997, -0.292569, -0.092737, 0.149774, -0.18778, 0.0, 0.073584, -0.104399, -0.13859, 0.258507, 0.065216, -0.096315, -0.124485, 0.317347, 0.217979, 0.126383, 0.049252, 0.041836, -0.124485, -0.273521, -0.045961, -0.13517, 0.218519, -0.33866, 0.097682, 0.0, -0.059947, -0.12894, -0.102507, 0.0, -0.077965, -0.14824, -0.242268, 0.0, -0.155257, 0.0, 0.016039, 0.108676, 0.0, -0.039744, -0.014996, -0.01035, 0.0, -0.227001, -0.051289, -0.059947, 0.0, 0.11651, 0.122375, 0.296728, 0.113325, -0.291749, 0.0, 0.070415, 0.020096, -0.12533, -0.305069, 0.069265, 0.0, -0.028198, -0.131406, 0.104192, 0.0, -0.059947, 0.008107, -0.164087, 0.0, 0.024136, -0.088934, 0.040137, -0.465412, 0.045414, 0.173668, -0.131406, -0.041598, 0.136763, 0.0, 0.065216, -0.388451, 0.038493, 0.040697, 0.064507, -0.009685, 0.000678, -0.043686, -0.002789, 0.018015, 0.067112, 0.0, -0.012545, -0.104399, 0.0, 0.185176, -0.340849, -0.208367, 0.111903, -0.059947, 0.099118, -0.029175, -0.560722, 0.334707, -0.347629, 0.0, -0.347629, 0.061414, -0.208367, 0.0, 0.094204, -0.22179, 0.211987, 0.065216, 0.096896, -0.155257, -0.536871, 0.000678, -0.185635, -0.119539, -0.059947, -0.256062, 0.094204, 0.0, 0.0, 0.008107, -0.242268, -0.013427, -0.074546, -0.022207, -0.049252, -0.146958, -0.148054, -0.014277, 0.01744, 0.108676, -0.094433, 0.281802, -0.148894, -0.110378, 0.0, 0.0, 0.0, 0.122375, 0.035363, -0.414119, -0.08464, -0.169762, 0.205756, 0.0, 0.6332, 0.211987, -0.004597, -0.071246, 0.0, 0.098057, 0.038493, 0.185176, -0.191874, 0.0, 0.086657, -0.169146, -0.088934, -0.110719, 0.0, 0.132425, 0.122375, -0.016144, 0.178945, -0.360052, 0.227735, -0.124485, -0.059947, 0.070673, -0.002789, 0.094204, 0.42348, 0.28836, 0.0, 0.0, -0.034629, -0.030094, -0.13999, 0.018525, -0.1485, -0.083477, 0.0, -0.465412, -0.083477, -0.193478, -0.097687, -0.052104, -0.149559, 0.38634, 0.030204, -0.059947, -0.04314, -0.020726, 0.0, -0.088934, 0.038493, 0.140724, 0.6332, 0.095346, 0.418089, -0.059947, 0.000678, -0.28309, -0.01665, 0.011512, 0.220668, -0.042555, -0.201597, 0.0, -0.123663, 0.0, -0.17773, 0.122375, -0.391304, 0.0, -0.1809, -0.030094, 0.018834, 0.0, 0.095808, -0.097687, 0.247538, 0.0, -0.07975, -0.172425, 0.314747, 0.057836, 0.0, 0.247538, 0.0, 0.094204, -0.011628, -0.059947, -0.059947, 0.05217, 0.0, 0.0, 0.113325, 0.073584, 0.022941, 0.0, -0.185827, 0.202417, 0.0, 0.361267, 0.054166, -0.031776, 0.0, 0.031025, 0.0, -0.227001, 0.200336, -0.13999, 0.083154, 0.032426, 0.163197, -0.205129, -0.090719, -0.120572, 0.122375, -0.026045, 0.0, 0.0, -0.004377, -0.07031, 0.358763, 0.186913, -0.214098, 0.419626, 0.002791, 0.300056, 0.0, 0.0, 0.0, 0.122375, -0.090719, -0.258798, 0.047942, 0.055122, 0.0, 0.0, 0.073584, -0.071508, -0.034629, 0.0, -0.033279, -0.342179, 0.092394, -0.092737, 0.099118, 0.113325, 0.0, -0.028198, -0.252319, 0.0, -0.114014, -0.227001, 0.0, 0.0, 0.109129, -0.016144, -0.059947, -0.101447, -0.054614, -0.130564, 0.0, -0.055033, 0.107934, -0.008654, -0.047368, -0.070997, 0.163197, 0.0, 0.171382, 0.055885, -0.149559, 0.0, 0.073584, 0.0, 0.351788, -0.498202, -0.001106, -0.214098, -0.093283, 0.163197, -0.445609, 0.0, 0.253711, 0.023435, -0.088385, 0.416977, -0.018885, 0.094204, 0.0, 0.081132, -0.465412, 0.122375, 0.0, 0.014161, 0.488018, 0.0, 0.057836, 0.102572, 0.195986, 0.099118, -0.008654, 0.039803, 0.0, -0.103432, -0.235838, 0.027064, 0.286924, -0.11124, -0.037474, 0.027064, -0.039328, 0.176442, -0.222466, 0.020592, -0.102872, -0.256657, -0.044199, 0.375371, -0.059947, -0.235838, 0.0, -0.094236, 0.0, 0.143652, -0.030959, 0.033144, -0.28309, -0.059947, -0.024856, 0.186913, 0.035363, 0.000157, 0.082023, 0.0, 0.107107, 0.053382, -0.048251, 0.100983, 0.270295, 0.207532, -0.013427, 0.048267, -0.427672, -0.059947, 0.0, 0.156276, 0.0, 0.136763, -0.370102, 0.0, -0.002789, 0.166177, 0.141303, 0.060681, 0.140724, -0.144504, -0.077646, -0.145889, 0.009046, 0.096399, 0.086657, 0.012812, 0.0, 0.0, 0.083154, -0.28309, 0.045414, -0.037641, -0.701801, -0.238639, 0.245435, 0.109952, -0.033279, 0.227735)
FROZEN_LM_LOGPROBS: tuple[float, ...] = (-9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.473876, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.484926, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.377567, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.445705, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.561087, -9.594173, -2.592928, -9.594173, -9.594173, -3.385583, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.167685, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.403858, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.484926, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.509674, -9.594173, -9.594173, -9.594173, -3.452136, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.493854, -9.594173, -3.452136, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.496099, -3.44357, -9.594173, -9.594173, -3.467304, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.505128, -9.594173, -9.594173, -9.594173, -9.594173, -3.389615, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.500603, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.456446, -3.476076, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.456446, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.428755, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.473876, -9.594173, -9.594173, -3.565895, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.426657, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.381567, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -3.437194, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -9.594173, -6.886123, -6.743713, -9.576926, -9.576926, -9.576926, -6.804337, -6.743713, -5.993407, -5.888047, -5.372233, -7.011977, -6.632487, -5.466052, -6.050566, -6.686554, -9.576926, -9.576926, -5.839256, -9.576926, -9.576926, -7.179031, -5.146109, -6.804337, -7.497485, -6.35805, -5.099589, -7.092019, -6.532404, -5.533875, -5.34282, -5.705725, -6.20963, -6.804337, -6.281089, -9.576926, -6.804337, -6.021578, -5.726778, -6.485884, -5.466052, -6.11119, -6.441432, -5.499389, -5.606634, -5.748285, -6.31883, -6.804337, -6.398872, -9.576926, -9.576926, -5.770264, -5.625682, -5.170207, -5.770264, -9.576926, -9.576926, -6.021578, -6.11119, -5.569593, -6.050566, -7.092019, -9.576926, -9.576926, -7.179031, -5.664903, -6.021578, -6.20963, -5.705725, -5.6451, -5.286467, -9.576926, -7.011977, -5.770264, -5.705725, -6.35805, -8.478314, -6.532404, -9.576926, -9.576926, -6.632487, -5.6451, -5.726778, -5.685106, -5.606634, -6.532404, -5.966008, -5.499389, -5.664903, -7.967488, -9.576926, -6.175729, -6.743713, -5.770264, -6.532404, -6.175729, -5.966008, -7.179031, -9.576926, -5.482581, -5.792736, -5.569593, -5.569593, -6.050566, -6.281089, -6.868876, -6.021578, -5.357418, -5.664903, -4.823336, -6.142939, -6.868876, -6.532404, -5.993407, -6.11119, -5.30026, -6.244722, -6.398872, -9.576926, -6.142939, -6.021578, -5.748285, -9.576926, -5.569593, -5.402539, -6.868876, -9.576926, -6.868876, -9.576926, -5.863354, -6.20963, -9.576926, -6.35805, -5.066067, -6.142939, -9.576926, -7.179031, -5.516483, -5.792736, -9.576926, -6.050566, -6.868876, -6.35805, -5.792736, -6.441432, -9.576926, -5.770264, -5.625682, -5.966008, -7.379701, -6.080418, -9.576926, -6.804337, -6.281089, -4.885578, -9.576926, -6.868876, -5.93934, -5.863354, -9.576926, -6.142939, -6.743713, -6.532404, -7.011977, -6.868876, -6.398872, -6.281089, -5.569593, -6.937869, -9.576926, -6.743713, -7.379701, -6.11119, -5.726778, -5.726778, -5.6451, -5.6451, -6.142939, -6.686554, -6.581194, -5.099589, -9.576926, -5.587942, -7.179031, -9.576926, -5.748285, -5.966008, -6.35805, -6.632487, -6.20963, -6.050566, -6.080418, -7.274341, -6.441432, -6.532404, -9.576926, -7.379701, -6.021578, -6.35805, -9.576926, -6.021578, -5.966008, -5.839256, -6.050566, -6.142939, -6.868876, -7.379701, -6.743713, -5.551574, -5.533875, -5.792736, -6.175729, -6.021578, -9.576926, -9.576926, -5.93934, -6.868876, -6.485884, -6.050566, -6.281089, -5.726778, -7.179031, -5.93934, -5.551574, -5.726778, -6.20963, -5.533875, -6.632487, -5.815726, -6.20963, -9.576926, -9.576926, -9.576926, -7.092019, -7.179031, -6.581194, -5.888047, -5.551574, -6.868876, -9.576926, -8.883779, -5.433791, -5.402539, -5.792736, -9.576926, -5.402539, -6.11119, -6.441432, -5.913364, -9.576926, -6.080418, -6.31883, -6.743713, -5.705725, -9.576926, -6.581194, -7.092019, -6.021578, -5.888047, -7.274341, -6.581194, -6.175729, -5.993407, -5.685106, -5.993407, -6.937869, -6.175729, -6.743713, -9.576926, -9.576926, -5.888047, -5.357418, -7.092019, -5.606634, -6.281089, -5.839256, -9.576926, -6.743713, -5.839256, -6.937869, -7.011977, -5.418043, -5.418043, -6.35805, -5.516483, -6.244722, -6.175729, -7.011977, -9.576926, -6.743713, -6.804337, -7.179031, -8.883779, -5.286467, -6.35805, -7.092019, -6.743713, -7.092019, -5.499389, -6.20963, -5.726778, -6.20963, -6.441432, -9.576926, -5.93934, -9.576926, -7.497485, -6.080418, -6.937869, -9.576926, -6.021578, -6.743713, -6.080418, -9.576926, -5.625682, -7.011977, -6.743713, -9.576926, -6.35805, -5.839256, -6.804337, -5.993407, -9.576926, -6.743713, -9.576926, -6.532404, -5.606634, -7.092019, -6.686554, -6.080418, -9.576926, -9.576926, -5.792736, -6.11119, -5.792736, -9.576926, -5.863354, -7.011977, -9.576926, -6.804337, -5.6451, -6.686554, -9.576926, -6.441432, -9.576926, -7.179031, -6.398872, -5.839256, -6.175729, -6.743713, -6.868876, -6.804337, -6.11119, -6.11119, -5.839256, -6.868876, -9.576926, -9.576926, -5.966008, -5.705725, -6.632487, -6.11119, -7.092019, -6.532404, -5.272861, -5.815726, -9.576926, -9.576926, -9.576926, -7.092019, -5.705725, -6.35805, -5.792736, -6.441432, -9.576926, -9.576926, -7.092019, -5.815726, -6.581194, -9.576926, -6.632487, -6.441432, -5.748285, -6.175729, -6.743713, -6.485884, -9.576926, -6.11119, -6.080418, -9.576926, -6.686554, -6.485884, -9.576926, -9.576926, -5.770264, -6.021578, -6.175729, -5.499389, -5.033631, -5.863354, -9.576926, -4.951953, -5.569593, -5.888047, -5.888047, -5.770264, -5.664903, -9.576926, -5.748285, -6.11119, -5.418043, -9.576926, -6.804337, -9.576926, -5.888047, -7.274341, -6.021578, -7.092019, -5.499389, -6.581194, -6.743713, -9.576926, -5.913364, -6.35805, -5.625682, -6.20963, -5.111018, -6.532404, -9.576926, -5.93934, -7.497485, -6.532404, -9.576926, -5.433791, -6.11119, -9.576926, -6.686554, -6.581194, -5.449792, -6.050566, -6.581194, -5.207478, -9.576926, -5.770264, -7.011977, -6.686554, -6.20963, -6.632487, -5.770264, -5.587942, -5.685106, -5.246193, -6.743713, -5.146109, -5.533875, -6.441432, -6.11119, -6.743713, -6.175729, -7.011977, -9.576926, -5.815726, -9.576926, -6.632487, -6.021578, -5.770264, -6.937869, -6.281089, -6.20963, -6.804337, -6.080418, -5.482581, -4.951953, -9.576926, -5.625682, -6.937869, -5.815726, -5.966008, -6.804337, -5.685106, -6.080418, -5.913364, -7.379701, -6.20963, -9.576926, -6.686554, -9.576926, -5.839256, -7.179031, -9.576926, -5.993407, -5.839256, -5.012578, -6.485884, -6.080418, -6.743713, -5.551574, -5.913364, -6.868876, -5.93934, -5.792736, -5.533875, -9.576926, -9.576926, -6.175729, -6.937869, -6.35805, -5.357418, -7.967488, -6.441432, -6.632487, -6.804337, -6.632487, -8.883779)
FROZEN_CE_CUTOFFS: tuple[float, float] = (4.618474, 4.659337)


def dsir_tables_cte_duckdb() -> str:
    """1-row CTE that materializes the frozen arrays ONCE per oracle
    query (VERDICT r13 #4): ``WITH {this}, ... FROM w CROSS JOIN
    __dsir_t`` and fold with ``table_ref='__ratios'`` /
    ``'__lp'``."""
    return (
        f"__dsir_t AS (SELECT {_table_lit_duck(FROZEN_DSIR_RATIOS)} "
        f"AS __ratios, {_table_lit_duck(FROZEN_LM_LOGPROBS)} AS __lp)"
    )
