"""Text-analysis operators for training-data pipelines.

All hot-path logic is JVM-side built-ins (split / higher-order array
functions / regexp) — no Python UDFs — so whole-stage codegen applies and
the ops scale linearly with no shuffle (they are narrow, per-row
transforms; reference analogy: narrow ops preserve partitioning like
SampleExec, src/physical/sample_exec.rs:55-57).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language marker lexicons for the heuristic language-ID.
#: Deterministic and oracle-expressible; precedence (tie-break) order is
#: the tuple order below.
LANG_MARKERS = (
    ("en", ("the", "a", "of", "and", "to", "in", "is")),
    ("de", ("der", "die", "das", "und", "ist", "nicht")),
    ("fr", ("le", "la", "les", "et", "est", "une")),
    ("es", ("el", "los", "las", "es", "una", "que")),
    ("zh", ("de5", "shi4", "bu4", "le5", "zai4", "he2")),
)

#: Stopwords used by the quality score (English-ish; the driver corpus is
#: English word salad).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

#: SQL fragment: whitespace tokenization of a column named `text`.
#: Matches DuckDB's string_split_regex(text, '\s+').
TOKENS_SQL = r"split({col}, '\\s+')"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (matches DuckDB string_split_regex).

    Contract: ``\\s`` here is Java-regex ASCII whitespace
    (``[ \\t\\n\\x0B\\f\\r]``), identical to RE2's ``\\s`` in the DuckDB
    oracle. It does NOT match Unicode spaces (U+0085 NEL, U+00A0 NBSP,
    U+2028, ...). Python references comparing against this function must
    split on ``[ \\t\\n\\r\\f\\v]+`` — Python ``re`` ``\\s`` is broader."""
    return F.split(text, r"\s+")


def normalize(text: Column) -> Column:
    """Canonical text form for dedup/fingerprinting: lowercase, trimmed,
    runs of whitespace collapsed."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def normalize_sql(col: str) -> str:
    """SQL fragment equivalent of :func:`normalize` (Spark dialect)."""
    return f"lower(trim(regexp_replace({col}, '\\\\s+', ' ')))"


def shingle_expr(toks_sql: str, n: int = 3) -> Column:
    """Word n-gram shingles over a SQL expression producing an
    array<string>; empty array when fewer than n tokens.

    Built as chained ``zip_with`` over ``slice``s rather than
    ``transform(sequence, i -> element_at(...))``: higher-order functions
    run interpreted (outside codegen) with no common-subexpression
    elimination, so an element_at-based lambda would re-evaluate
    ``toks_sql`` (typically a split()) per *element* — O(len^2) per row.
    The slice form evaluates it a constant number of times per row."""
    length = f"size({toks_sql}) - {n - 1}"
    acc = f"slice({toks_sql}, 1, {length})"
    for k in range(1, n):
        nxt = f"slice({toks_sql}, {k + 1}, {length})"
        acc = f"zip_with({acc}, {nxt}, (x, y) -> concat(x, ' ', y))"
    return F.expr(
        f"CASE WHEN size({toks_sql}) >= {n} THEN {acc} "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def token_count(text: Column) -> Column:
    """Number of whitespace-separated tokens."""
    return F.size(tokens(text)).cast("long")


#: BPE-style pre-tokenizer pattern (the GPT-2 shape, minus the
#: lookahead — kept to the common subset of Java regex and RE2 so the
#: exact same pattern runs in Spark and in the DuckDB oracle):
#: contraction suffixes | space-prefixed letter runs | space-prefixed
#: digit runs | space-prefixed punctuation runs | whitespace runs.
BPE_PATTERN = (
    r"'(?:s|t|ll|ve|re|d|m)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
    r"|\s+"
)


def bpe_tokens_sql(col: str) -> str:
    """SQL fragment (Spark dialect): BPE-ish pre-tokenization of ``col``.
    The merge step of a real BPE vocab is a lookup table, but the
    *segmentation* — which is what drives token counts for pipeline
    budgeting — is this regex. JVM-side regexp_extract_all, codegen'd,
    narrow; whitespace runs are matched (so the segmentation is total)
    but filtered out of the token list."""
    pat = BPE_PATTERN.replace("\\", "\\\\").replace("'", "\\'")
    return (
        f"filter(regexp_extract_all({col}, '{pat}', 0), "
        f"t -> t NOT RLIKE '^\\\\s+$')"
    )


def bpe_token_count_sql(col: str) -> str:
    """SQL fragment (Spark dialect) counting BPE-ish segments, excluding
    pure-whitespace matches (they separate segments, they aren't tokens)."""
    return f"size({bpe_tokens_sql(col)})"


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics: token/char counts, average token
    length, punctuation count, stopword ratio, distinct-token ratio and a
    composite quality score.

    All ratios divide exact integers in double, so results are
    bit-identical to any engine computing the same formula (no rounding
    needed — see functions/exact.py rationale).
    """
    toks = tokens(F.col(text_col))
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    tok_sql = TOKENS_SQL.format(col=text_col)
    d = df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.expr(
            f"aggregate(transform({tok_sql}, t -> length(t)), 0L, (a, x) -> a + x)"
        ).alias("sum_token_len"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '[.,!?;:]', 0)"))
        .cast("long")
        .alias("n_punct"),
        F.size(F.expr(f"filter({tok_sql}, t -> t IN ({stop_list}))"))
        .cast("long")
        .alias("n_stopwords"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    )
    nt = F.col("n_tokens").cast("double")
    return d.select(
        id_col,
        "n_chars",
        "n_tokens",
        (F.col("sum_token_len").cast("double") / nt).alias("avg_token_len"),
        "n_punct",
        (F.col("n_stopwords").cast("double") / nt).alias("stopword_ratio"),
        (F.col("n_distinct_tokens").cast("double") / nt).alias("distinct_ratio"),
        (
            (F.col("n_stopwords").cast("double") / nt) * 0.3
            + (F.col("n_distinct_tokens").cast("double") / nt) * 0.4
            + (F.least(F.col("n_tokens"), F.lit(100)).cast("double") / 100.0) * 0.3
        ).alias("quality_score"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language-ID: count marker-lexicon hits per language and
    take the argmax (ties broken by LANG_MARKERS order; 'und' =
    undetermined when no marker hits at all).

    NOTE: the driver corpus is synthetic English word salad for every
    ``lang`` label, so this op's contract is determinism + oracle parity,
    not label recovery (see tests/test_text.py).
    """
    tok_sql = TOKENS_SQL.format(col=text_col)
    cols = [F.col(id_col)]
    for code, markers in LANG_MARKERS:
        lst = ", ".join(f"'{w}'" for w in markers)
        cols.append(
            F.size(F.expr(f"filter({tok_sql}, t -> t IN ({lst}))"))
            .cast("long")
            .alias(f"hits_{code}")
        )
    d = df.select(*cols)
    hit_cols = [F.col(f"hits_{code}") for code, _ in LANG_MARKERS]
    mx = F.greatest(*hit_cols)
    pred = F.when(mx == 0, F.lit("und"))
    for code, _ in LANG_MARKERS:
        pred = pred.when(F.col(f"hits_{code}") == mx, F.lit(code))
    return d.select(
        id_col,
        pred.alias("lang_pred"),
        *[F.col(f"hits_{code}") for code, _ in LANG_MARKERS],
    )


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (lowercase hex in
    both Spark and DuckDB)."""
    return F.md5(normalize(text))


def fingerprint_rolling(text_col: str, prime: int = 1_000_000_007, base: int = 31) -> Column:
    """Polynomial rolling hash over the characters of the normalized text,
    mod a 31-bit prime. Every intermediate stays < 2^63, so the arithmetic
    is identical in any 64-bit-integer engine (no reliance on silent
    overflow wrap, which e.g. DuckDB rejects).

    JVM-side aggregate over sequence(1, length) — O(n) per row, narrow.
    """
    norm = normalize_sql(text_col)
    # Fold over split(norm, '') — NOT sequence(1, length) with
    # substring(norm, i, 1) in the lambda: an expression referenced
    # inside a higher-order lambda re-evaluates per ELEMENT, so the
    # normalize chain ran once per character and the hash was O(n²)
    # per document (doc_fingerprint benched 11.7 s at sf0.1 once the
    # round-12 noop materialization exposed it; 0.35 s after). With
    # the norm inside split() it evaluates once per row. split('')
    # yields [''] for the empty string and ascii('') = 0, which folds
    # to the same 0 the empty sequence produced.
    return F.expr(
        f"aggregate(transform(split({norm}, ''), c -> ascii(c)), 0L, "
        f"(acc, x) -> (acc * {base} + x) % {prime})"
    )


def chunk_documents(
    df: DataFrame,
    size: int = 200,
    overlap: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size character windows with
    ``overlap`` characters of context carry-over — the standard prep step
    before tokenize-and-embed or long-document training.

    Chunk starts are 1, 1+step, 1+2*step ... (step = size - overlap),
    generated while start <= max(len - overlap, 1); the final chunk may
    be shorter than ``size``. Output: (id, chunk_id, chunk_start,
    chunk_text, n_chunks).

    Scale: same codegen shape as the n-gram ops — explode a cheap int
    ``sequence`` of start positions, take ``substring`` in the
    post-Generate projection. Narrow (zero shuffles); n_chunks rides the
    same row via size() of the start sequence, not a second pass.
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    step = size - overlap
    starts = (
        f"sequence(1, greatest(length({text_col}) - {overlap}, 1), {step})"
    )
    return (
        df.filter(F.length(text_col) > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.size(F.expr(starts)).cast("long").alias("n_chunks"),
            F.posexplode(F.expr(starts)).alias("chunk_id", "start"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("start").cast("long").alias("chunk_start"),
            F.expr(f"substring({text_col}, start, {size})").alias("chunk_text"),
            "n_chunks",
        )
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token
    ratio, duplicate 2-gram / 3-gram fractions, and the frequency share
    of the single most common token. High duplicate-n-gram fractions and
    a dominant top token flag boilerplate / degenerate generations —
    the standard repetition filters of web-scale corpus curation
    (Rae et al. 2021 §A.1.1).

    Scale: entirely narrow, per-row array arithmetic inside one
    projection — zero shuffles, linear in corpus size. The n-gram arrays
    come from ``zip_with`` over slices of a MATERIALIZED token column
    (see :func:`shingle_expr` on why not transform(sequence(...))).
    top-token counting is O(distinct x tokens) per row — bounded by
    document length, the per-row cost a length cap (quality_filter
    upstream) already enforces in a real pipeline.

    Documents with fewer than 3 tokens are dropped (their trigram set is
    empty; the filters are meaningless there).

    ``keep`` carries extra payload columns through the projection so a
    caller that gates on the signals can filter INLINE in the same
    narrow pass instead of computing the stats separately and joining
    them back by id (r17: the join-back shape instantiated this whole
    per-row computation once per consumer subtree — guide §2.4).
    """
    d = df.select(
        F.col(id_col), *[F.col(c) for c in keep],
        tokens(F.col(text_col)).alias("toks"),
    ).filter(F.size("toks") >= 3)
    bi = "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y))"
    tri = (
        "zip_with(zip_with(slice(toks, 1, size(toks) - 2), slice(toks, 2, size(toks) - 2), (x, y) -> concat(x, ' ', y)), "
        "slice(toks, 3, size(toks) - 2), (x, y) -> concat(x, ' ', y))"
    )
    d = d.select(
        id_col,
        *keep,
        "toks",
        F.expr(bi).alias("bi"),
        F.expr(tri).alias("tri"),
    )
    n = F.size("toks").cast("double")
    return d.select(
        id_col,
        *keep,
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(F.col("toks"))).cast("double") / n).alias(
            "distinct_ratio"
        ),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(F.col("bi"))).cast("double")
            / F.size("bi").cast("double")
        ).alias("dup_bigram_frac"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(F.col("tri"))).cast("double")
            / F.size("tri").cast("double")
        ).alias("dup_trigram_frac"),
        (
            F.expr(
                "array_max(transform(array_distinct(toks), t -> size(filter(toks, x -> x = t))))"
            ).cast("double")
            / n
        ).alias("top_token_frac"),
    )


#: Unit separators for line_repetition_stats, in the Java-regex/RE2
#: common subset (both engines read these byte-identically; the
#: paragraph class is ``\s`` spelled out MINUS the engines' one
#: disagreement — RE2's ``\s`` lacks ``\x0B``).
#: Canonical PLAIN regex spellings (what the regex engine must see).
#: Both engine spellings derive from these — never re-spell inline
#: (the two-spelling drift a parity test on a single-line corpus
#: would not catch).
LINE_SEP_REGEX = r"\n"
PARA_SEP_REGEX = r"\n[ \t\n\x0B\f\r]*\n"
#: Edge-trim for units: ASCII whitespace minus ``\n`` (a unit can
#: never start/end with ``\n`` — it is the split boundary — but CRLF
#: text leaves edge ``\r``s, and space-only trim would keep tab-only
#: "content" lines alive).
UNIT_TRIM_REGEX = r"^[ \t\x0B\f\r]+|[ \t\x0B\f\r]+$"


def _sql_regex(plain: str) -> str:
    """Spark-SQL string-literal spelling of a plain regex: Spark
    literals process backslash escapes once, so each ``\\`` doubles.
    DuckDB literals process none — the plain spelling IS the DuckDB
    spelling."""
    return plain.replace("\\", "\\\\")


def line_repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style LINE/PARAGRAPH duplicate fractions per document —
    the structural half of the Rae et al. 2021 §A.1.1 repetition
    battery (:func:`repetition_stats` covers the token/n-gram half):
    the fraction of lines (paragraphs) that are repeats of an earlier
    identical line (paragraph), and the character-weighted versions of
    both. Boilerplate-heavy web text (nav bars, cookie banners,
    templated footers) shows high duplicate-LINE fractions even when
    token n-grams look diverse — the standard MassiveText/RefinedWeb
    filter thresholds are dup_line_frac > 0.30 and
    dup_line_char_frac > 0.20.

    Units: lines split on ``\\n``, paragraphs on blank-line runs
    (``PARA_SEP_REGEX`` — the whitespace class spelled explicitly so
    the Java-regex and RE2/DuckDB readings are byte-identical; bare
    ``\\s`` differs on ``\\x0B``, the pretokenizer's documented
    divergence). Every unit is edge-trimmed of ASCII whitespace
    (``UNIT_TRIM_REGEX`` — regex-based, NOT space-only ``trim``, so
    CRLF text behaves: a trailing ``\\r`` never distinguishes equal
    lines and a bare ``\\r`` "line" is empty, not content) and empty
    units dropped; the character totals count the TRIMMED units
    (numerator and denominator alike, so the fractions are
    well-defined on [0, 1]). A duplicate means an exact repeat of
    the full trimmed unit. No output column is ever NULL: a
    surviving line contains a non-whitespace character, that
    character survives in some paragraph unit too, so ``ps`` is
    non-empty whenever ``ls`` is.

    Scale: entirely narrow per-row array arithmetic in one projection
    — zero shuffles, linear in corpus bytes. The arrays are
    MATERIALIZED columns before the aggregate() folds (outer
    expressions inside HOF lambdas re-evaluate per element — see
    shingle_expr). Documents with no non-empty line are dropped.
    """
    units = (
        "filter(transform(split({col}, '{sep}'),"
        " x -> regexp_replace(x, '{trim}', '')),"
        " x -> length(x) > 0)"
    )
    # id aliased to doc_id so Spark output and the DuckDB twin agree
    # for ANY id_col, not just the default (ADVICE r16)
    d = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            units.format(
                col=text_col,
                sep=_sql_regex(LINE_SEP_REGEX),
                trim=_sql_regex(UNIT_TRIM_REGEX),
            )
        ).alias("ls"),
        F.expr(
            units.format(
                col=text_col,
                sep=_sql_regex(PARA_SEP_REGEX),
                trim=_sql_regex(UNIT_TRIM_REGEX),
            )
        ).alias("ps"),
    )
    d = d.filter(F.size("ls") > 0).select(
        "doc_id",
        "ls",
        "ps",
        F.array_distinct("ls").alias("ld"),
        F.array_distinct("ps").alias("pd"),
    )
    chars = "aggregate({a}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"

    def _frac(whole: str, dedup: str) -> Column:
        return (
            F.lit(1.0)
            - F.size(dedup).cast("double") / F.size(whole).cast("double")
        )

    def _char_frac(whole: str, dedup: str) -> Column:
        return F.lit(1.0) - (
            F.expr(chars.format(a=dedup)).cast("double")
            / F.expr(chars.format(a=whole)).cast("double")
        )

    return d.select(
        "doc_id",
        F.size("ls").cast("long").alias("n_lines"),
        F.size("ps").cast("long").alias("n_paragraphs"),
        _frac("ls", "ld").alias("dup_line_frac"),
        _char_frac("ls", "ld").alias("dup_line_char_frac"),
        _frac("ps", "pd").alias("dup_para_frac"),
        _char_frac("ps", "pd").alias("dup_para_char_frac"),
    )


def ngram_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Corpus-level novelty score per document: the fraction of the
    document's DISTINCT word n-gram shingles that appear in NO other
    document (global document frequency == 1). Low novelty means the
    document is stitched from corpus boilerplate even when no single
    near-duplicate partner exists — the cross-document complement of
    :func:`repetition_stats` (which only sees within-document repeats),
    and a standard dedup-adjacent quality signal for pretraining data.

    Returns (id, n_shingles, n_novel, novelty) for documents with at
    least ``n`` tokens (shorter ones have no shingles and no score).

    Scale: one shuffle keyed by shingle to compute document frequency
    (map-side partial agg), then the postings→df join arrives ALREADY
    hash-partitioned on the shingle from that aggregation, so Catalyst
    reuses the exchange instead of re-shuffling. Posting lists are
    never materialized per key (unlike the near-dup join there is no
    pairwise explosion — cost is linear in total distinct shingles).
    """
    tok_sql = TOKENS_SQL.format(col=text_col)
    posts = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingle_expr(tok_sql, n))).alias("__s"),
    )
    dfreq = posts.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    return (
        posts.join(dfreq, on="__s")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


def rare_token_fraction(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document rare-token fraction: the share of a document's
    tokens whose CORPUS frequency is below the corpus mean frequency
    (freq * vocab_size < total_tokens — pure integer arithmetic, so the
    threshold is exact in any engine). A cheap, fully deterministic
    stand-in for LM-perplexity quality scoring (CCNet-style): documents
    dominated by rare tokens are gibberish-heavy; documents with none
    are boilerplate.

    Scale: two map-side-combined aggregations (vocab build, per-doc
    roll-up) plus one broadcast join of the vocab table. The broadcast
    is safe for any bounded vocabulary (token->freq for a 100 TB web
    corpus is ~10^8 rows after the usual min-frequency floor — at that
    point drop the explicit broadcast and let AQE pick the join side, or
    pre-filter the vocab to the rare half before joining).
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").alias("freq"))
    totals = vocab.agg(
        F.sum("freq").alias("total"), F.count("*").alias("n_vocab")
    )
    flags = vocab.crossJoin(F.broadcast(totals)).select(
        "token",
        (F.col("freq") * F.col("n_vocab") < F.col("total")).alias("is_rare"),
    )
    per = (
        tok.join(F.broadcast(flags), "token")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("is_rare"), 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    return per.select(
        id_col,
        "n_tokens",
        "n_rare",
        (F.col("n_rare").cast("double") / F.col("n_tokens").cast("double")).alias(
            "rare_frac"
        ),
    )


def token_budget_select(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact: bool = True,
    buckets: int = 4096,
) -> DataFrame:
    """Select the best-scoring documents whose cumulative token count
    fits ``budget`` (score = distinct-token ratio; any scorer slots
    in). Documents with NULL text are excluded up front — they hold no
    tokens, and letting them through poisons BOTH paths (non-ANSI
    ``size(null)`` is -1, which breaks running totals and histogram
    invariants alike; ANSI NULLs would crash the bucket sort —
    code-review r12).

    exact=True: one global running-total window — a single-task sort,
    exact, fine to ~10^8 (id, score) rows.

    exact=False is the 100 TB path, row-identical to exact=True for
    EVERY input (round-12 fix: the old binary-search variant dropped
    the undecided boundary band, under-filling on ties — the sf0.001
    selfcheck caught it): ONE map-side-combined score-histogram
    aggregate (``buckets`` buckets, bounded driver state) finds the
    boundary bucket b* — everything in higher buckets fits outright,
    everything in lower buckets provably cannot be reached by the
    budget prefix — then only bucket b*'s rows are ordered
    ((score DESC, id), range-partitioned ``distributed_cumsum``, no
    single-task window) to fill the exact prefix. A corpus-sized
    boundary bucket means a corpus-sized near-tie block, which no
    budget-prefix contract can avoid ordering; the distributed prefix
    keeps even that case partition-parallel. Replaces the former
    ~24-sequential-probe binary search (one aggregate job per probe).
    """
    toks = tokens(F.col(text_col))
    scored = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("score"),
    )
    if exact:
        from pyspark.sql.window import Window

        w = Window.orderBy(F.col("score").desc(), F.col(id_col)).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return scored.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("long")
        ).filter(F.col("cum_tokens") <= budget)
    # Scale path. The scored frame is localCheckpoint'd so the
    # histogram pass and the final filters rescan a materialized
    # narrow projection, not the raw corpus (executor blocks are freed
    # by the context cleaner when the returned DataFrame is GC'd).
    from ballista_extensions_spark.operators.prefix import (
        distributed_cumsum,
    )

    scored = scored.localCheckpoint().withColumn(
        "__b",
        F.least(
            F.floor(F.col("score") * buckets).cast("long"),
            F.lit(buckets - 1),
        ),
    )
    return _histogram_prefix(scored, budget, id_col, "n_tokens", "score")


def _histogram_prefix(
    scored: DataFrame,
    budget: int,
    id_col: str,
    cost_col: str,
    score_col: str,
) -> DataFrame:
    """The shared boundary-bucket budget-prefix core over a
    materialized frame that already carries a monotone score-bucket
    column ``__b`` (higher bucket — never-lower score): one histogram
    collect (<= `buckets` rows of driver state), then only the
    boundary bucket's rows are ordered via the range-partitioned
    distributed prefix."""
    from ballista_extensions_spark.operators.prefix import (
        distributed_cumsum,
    )

    hist = {
        r["__b"]: r["m"]
        for r in scored.groupBy("__b")
        .agg(F.sum(cost_col).alias("m"))
        .collect()
    }  # <= `buckets` rows of driver state, independent of corpus size
    acc, bstar = 0, None
    for b in sorted(hist, reverse=True):
        if acc + hist[b] > budget:
            bstar = b
            break
        acc += hist[b]
    if bstar is None:
        # the whole corpus fits the budget
        return scored.select(id_col, cost_col, score_col)
    # bucket invariants: mass(__b > b*) = acc <= budget (accepted
    # outright); mass(__b >= b*) > budget, so nothing below b* can
    # ever be reached by the prefix — bucket b* is the complete
    # undecided band
    base = scored.filter(F.col("__b") > bstar)
    band = scored.filter(F.col("__b") == bstar)
    # running total over the band in (score DESC, id) order via the
    # range-partitioned distributed prefix — no single-task global
    # window even when the band degenerates to the whole corpus
    band_sel = (
        distributed_cumsum(
            band.withColumn("__ns", -F.col(score_col)),
            ["__ns", id_col],
            cost_col,
            out_col="__cum",
        )
        .filter(F.col("__cum") + F.lit(int(acc)) <= budget)
        .drop("__cum", "__ns")
    )
    return base.unionByName(band_sel).select(id_col, cost_col, score_col)


def budget_prefix_select(
    scored: DataFrame,
    budget: int,
    *,
    id_col: str = "doc_id",
    cost_col: str = "n_tokens",
    score_col: str = "score",
    buckets: int = 4096,
) -> DataFrame:
    """Budget-prefix selection over a PRE-SCORED frame with an
    arbitrary-range score (token_budget_select's scalable core,
    generalized): keep the best-scoring rows whose cumulative
    ``cost_col`` fits ``budget``, ties by (score DESC, id). The
    bucketing normalizes by the observed [min, max] — one extra
    2-double aggregate of driver state; any monotone bucketing
    preserves exactness because correctness comes from the
    boundary-band prefix, not the bucket boundaries. This is the form
    that selects 'the best 1T tokens by importance weight' at 100 TB:
    histogram + boundary band, no global sort, driver state <=
    buckets rows."""
    scored = scored.localCheckpoint()
    row = scored.agg(
        F.min(score_col).alias("lo"),
        F.max(score_col).alias("hi"),
        # NULL/NaN scores break the contract downstream in SILENT ways
        # (a NULL bucket key raises TypeError in the histogram sort; a
        # NaN makes hi > lo false and misorders the all-tie branch) —
        # fail fast here instead (code-review r13). Same aggregate
        # pass as min/max: no extra job.
        F.sum(
            F.when(
                F.col(score_col).isNull()
                | F.isnan(F.col(score_col).cast("double"))
                | (F.abs(F.col(score_col).cast("double")) == float("inf")),
                1,
            ).otherwise(0)
        ).alias("n_bad"),
    ).collect()[0]
    if row["n_bad"]:
        raise ValueError(
            f"budget_prefix_select: score_col {score_col!r} has "
            f"{row['n_bad']} NULL/NaN values; scores must be finite "
            f"and non-null"
        )
    if row["lo"] is None:
        return scored.select(id_col, cost_col, score_col)  # empty input
    lo, hi = float(row["lo"]), float(row["hi"])
    if hi > lo:
        b = F.least(
            F.floor(
                (F.col(score_col) - F.lit(lo))
                / F.lit(hi - lo)
                * buckets
            ).cast("long"),
            F.lit(buckets - 1),
        )
    else:
        b = F.lit(0).cast("long")  # degenerate: all-tie band
    return _histogram_prefix(
        scored.withColumn("__b", b), budget, id_col, cost_col, score_col
    )


def compression_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """(doc_id, n_bytes, n_compressed, compression_ratio) — the
    compression-ratio quality proxy production curation pipelines use
    (a DEFLATE ratio near 0 flags templated/repetitive boilerplate, a
    ratio near 1 flags high-entropy noise; natural prose sits in
    between, so both tails are filter candidates). zlib at a fixed
    level over the utf-8 bytes, Arrow-batched scalar pandas UDF
    (functions/udf.py:py_zlib_len) — the compressor is the one
    hot-path step Spark has no built-in for. Empty documents yield
    NULL ratio (no bytes to judge). Scale: narrow per-row pass, no
    shuffle, output co-partitioned with the input."""
    from ballista_extensions_spark.functions.udf import py_zlib_len

    nb = F.octet_length(F.col(text_col)).cast("long")
    out = df.select(
        F.col(id_col).alias("doc_id"),
        nb.alias("n_bytes"),
        py_zlib_len(F.col(text_col), level).alias("n_compressed"),
    )
    return out.withColumn(
        "compression_ratio",
        F.when(
            F.col("n_bytes") > 0,
            F.col("n_compressed").cast("double")
            / F.col("n_bytes").cast("double"),
        ),
    )
