"""Line/paragraph duplicate fractions (operators/text.py
line_repetition_stats) — the structural Gopher §A.1.1 signals — and
their DuckDB twin, kept here as the reference the Spark form matches."""

from __future__ import annotations

from ballista_extensions_spark.operators.text import (
    LINE_SEP_REGEX,
    PARA_SEP_REGEX,
    UNIT_TRIM_REGEX,
    line_repetition_stats,
)


def line_repetition_sql_duckdb(
    text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of ``line_repetition_stats`` — the SAME plain
    regex constants (RE2 reads the explicit classes identically to
    Java), same trim/drop/fold order, same double expression trees,
    for the r17 oracle. DuckDB string literals do not process
    backslash escapes, so the plain spellings are used verbatim;
    DuckDB's regexp_replace needs the explicit 'g' flag to match
    Spark's replace-all default."""
    chars = "list_sum(list_transform({a}, x -> length(x)))"

    def frac(whole: str, dedup: str) -> str:
        return (
            f"1.0 - CAST(len({dedup}) AS DOUBLE)"
            f" / CAST(len({whole}) AS DOUBLE)"
        )

    def char_frac(whole: str, dedup: str) -> str:
        return (
            f"1.0 - (CAST({chars.format(a=dedup)} AS DOUBLE)"
            f" / CAST({chars.format(a=whole)} AS DOUBLE))"
        )

    units = (
        "list_filter(list_transform("
        "regexp_split_to_array({col}, '{sep}'),"
        " x -> regexp_replace(x, '{trim}', '', 'g')),"
        " x -> length(x) > 0)"
    )
    ls_units = units.format(
        col=text_col, sep=LINE_SEP_REGEX, trim=UNIT_TRIM_REGEX
    )
    ps_units = units.format(
        col=text_col, sep=PARA_SEP_REGEX, trim=UNIT_TRIM_REGEX
    )
    return f"""
WITH raw AS (
  SELECT {id_col} AS doc_id,
         {ls_units} AS ls,
         {ps_units} AS ps
  FROM documents
  WHERE {text_col} IS NOT NULL
), arr AS (
  SELECT doc_id, ls, ps,
         list_distinct(ls) AS ld, list_distinct(ps) AS pd
  FROM raw WHERE len(ls) > 0
)
SELECT doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CAST(len(ps) AS BIGINT) AS n_paragraphs,
       {frac('ls', 'ld')} AS dup_line_frac,
       {char_frac('ls', 'ld')} AS dup_line_char_frac,
       {frac('ps', 'pd')} AS dup_para_frac,
       {char_frac('ps', 'pd')} AS dup_para_char_frac
FROM arr
"""


def _one(spark, text):
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    rows = line_repetition_stats(df).collect()
    return rows[0] if rows else None


def test_no_repeats(spark):
    r = _one(spark, "alpha\nbeta\ngamma")
    assert r["n_lines"] == 3 and r["n_paragraphs"] == 1
    assert r["dup_line_frac"] == 0.0
    assert r["dup_line_char_frac"] == 0.0
    assert r["dup_para_frac"] == 0.0
    assert r["dup_para_char_frac"] == 0.0


def test_line_repeats_counted_beyond_first(spark):
    # "spam" x3 + "unique": 2 of 4 lines are repeats; chars 4+4 of 18
    r = _one(spark, "spam\nspam\nspam\nunique")
    assert r["n_lines"] == 4
    assert abs(r["dup_line_frac"] - 0.5) < 1e-12
    assert abs(r["dup_line_char_frac"] - 8.0 / 18.0) < 1e-12


def test_paragraph_repeats(spark):
    # two identical paragraphs (multi-line), one distinct
    text = "a b\nc d\n\na b\nc d\n\nfresh here"
    r = _one(spark, text)
    assert r["n_paragraphs"] == 3
    assert abs(r["dup_para_frac"] - 1.0 / 3.0) < 1e-12
    # paragraphs keep interior newlines: "a b\nc d" repeats
    assert r["dup_para_char_frac"] > 0.0
    # lines: a b / c d / a b / c d / fresh here -> 2 of 5 duplicates
    assert abs(r["dup_line_frac"] - 2.0 / 5.0) < 1e-12


def test_trimming_and_empty_lines(spark):
    # trailing spaces trim to equal lines; blank lines never count
    r = _one(spark, "x  \nx\n\n\n   \ny")
    assert r["n_lines"] == 3
    assert abs(r["dup_line_frac"] - 1.0 / 3.0) < 1e-12


def test_crlf_lines_match_lf_lines(spark):
    """CRLF endings never distort the signal: trailing \\r trims
    away (so 'a\\r' duplicates 'a') and a bare '\\r' line is empty,
    not content."""
    r = _one(spark, "a\r\n\r\na")
    assert r["n_lines"] == 2
    assert abs(r["dup_line_frac"] - 0.5) < 1e-12
    # all-blank CRLF doc drops entirely
    df = spark.createDataFrame(
        [(0, "\r\n\r\n \r\n")], ["doc_id", "text"]
    )
    assert line_repetition_stats(df).collect() == []


def test_tab_only_lines_never_yield_null_fractions(spark):
    """The 0/0 guard: a tab-only 'line' is empty under the regex
    trim, so a doc like '\\n\\t\\n' drops instead of emitting NULL
    paragraph fractions; mixed docs keep every fraction non-NULL."""
    df = spark.createDataFrame(
        [(0, "\n\t\n"), (1, "\t\nreal\n\t")], ["doc_id", "text"]
    )
    rows = line_repetition_stats(df).collect()
    assert [r["doc_id"] for r in rows] == [1]
    for c in (
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
    ):
        assert rows[0][c] == 0.0


def test_whitespace_only_doc_dropped(spark):
    df = spark.createDataFrame(
        [(0, "\n  \n"), (1, None), (2, "keep")], ["doc_id", "text"]
    )
    rows = line_repetition_stats(df).collect()
    assert [r["doc_id"] for r in rows] == [2]


def _parity_check(spark, spark_df, duck_view_sql, duck_frame=None):
    import duckdb

    con = duckdb.connect()
    if duck_frame is not None:
        con.register("documents", duck_frame)
    else:
        con.execute(duck_view_sql)
    oracle = {
        r[0]: tuple(r[1:])
        for r in con.sql(line_repetition_sql_duckdb()).fetchall()
    }
    got = {
        r["doc_id"]: (
            r["n_lines"],
            r["n_paragraphs"],
            r["dup_line_frac"],
            r["dup_line_char_frac"],
            r["dup_para_frac"],
            r["dup_para_char_frac"],
        )
        for r in line_repetition_stats(spark_df).collect()
    }
    assert got == oracle and len(got) > 0


def test_duckdb_twin_parity(spark, documents, sf_dir):
    """The r17 oracle pre-proof: the DuckDB twin reproduces the Spark
    frame bit-exactly (counts AND doubles) over the real documents
    table — the unit regexes are in the Java/RE2 common subset and
    the double expression trees match."""
    _parity_check(
        spark,
        documents,
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')",
    )


def test_duckdb_twin_parity_multiline(spark):
    """The real documents are single-line word salad, so this fixture
    exercises the SPLITTING regexes: LF/CRLF endings, blank-line runs
    with interior whitespace, tab-only lines, repeated lines and
    paragraphs — the parity that would catch a drift between the two
    spellings of the separator/trim regexes."""
    import pandas as pd

    rows = [
        (0, "a b\nc d\n\na b\nc d\n\nfresh"),
        (1, "a\r\n\r\na\r\nb"),
        (2, "spam\nspam\n \t \nspam\n\x0b\nunique"),
        (3, "one\n\n\n\ntwo\n  \t\r\n\nthree"),
        (4, "\t\nreal\n\t"),
        (5, "x  \nx\n\n\n   \ny"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    _parity_check(spark, df, "", duck_frame=pdf)


def test_corpus_run_narrow_plan(spark, documents):
    """Runs over the real documents table; values in range and the
    plan stays exchange-free (narrow projection — the 100 TB shape)."""
    from ballista_extensions_spark import plans as P

    out = line_repetition_stats(documents)
    assert P.shuffle_exchanges(out) == 0
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        for c in (
            "dup_line_frac",
            "dup_line_char_frac",
            "dup_para_frac",
            "dup_para_char_frac",
        ):
            assert 0.0 <= r[c] <= 1.0
