"""Apply-side BPE (operators/bpe.py): the word-level trainer kept here,
its determinism + frozen constant reproduction, cross-engine scan-left replace parity on
adversarial overlap strings, and the token-count contract."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.operators import bpe as B


def train_bpe_merges(
    docs, n_merges: int, *, text_col: str = "text", vocab_cap: int = 50_000
) -> B.Merges:
    """Greedy word-level BPE training, the trainer ``B.FROZEN_MERGES``
    was frozen from: one distributed word-count aggregation, the top
    ``vocab_cap`` words by (count desc, word) collected, then a greedy
    loop whose pair-count ties break to the smallest pair."""
    from collections import Counter

    if n_merges < 1:
        raise ValueError(f"bpe: n_merges must be >= 1, got {n_merges}")
    norm = B._NORM_SQL.format(col=text_col)
    wc_rows = (
        docs.select(F.explode(F.split(F.expr(norm), "#")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(vocab_cap)
        .collect()
    )
    reps: dict[tuple[str, ...], int] = {}
    for r in wc_rows:
        reps[tuple(r["w"])] = reps.get(tuple(r["w"]), 0) + int(r["c"])
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for syms, c in reps.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new_reps: dict[tuple[str, ...], int] = {}
        for syms, c in reps.items():
            m = tuple(B._merge_word(syms, *best))
            new_reps[m] = new_reps.get(m, 0) + c
        reps = new_reps
    return tuple(merges)


def _py_apply(text: str, merges) -> list[str]:
    """Pure-Python reference: normalize, frame per word, apply each
    merge leftmost-first — the semantics both SQL chains must match."""
    import re

    norm = re.sub(r"[^a-zA-Z0-9]+", "#", text).lower()
    toks: list[str] = []
    for word in norm.split("#"):
        syms = tuple(word)
        for x, y in merges:
            syms = B._merge_word(syms, x, y)
        toks.extend(syms)
    return toks


@pytest.mark.parametrize(
    "text",
    [
        "a a a a",            # merge (a,a): odd/even run boundary
        "aaaa aaa aa a",      # nested runs: (a,a) then (aa,aa)
        "abab ababab",        # overlapping (a,b)/(b,a) chains
        "x!y?z  mixed CASE 42",
        "",
        "!!!",
    ],
)
def test_scan_left_parity_spark_duckdb_python(spark, text):
    merges = (("a", "a"), ("aa", "aa"), ("a", "b"), ("b", "a"))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got_spark = df.select(
        F.expr(B.bpe_segment_sql("text", merges)).alias("s")
    ).collect()[0]["s"]
    got_duck = duckdb.sql(
        "SELECT "
        + B.bpe_segment_sql_duckdb(f"'{text}'", merges)
    ).fetchone()[0]
    assert got_spark == got_duck
    toks = [t for t in got_spark.split(" ") if t not in ("", "#")]
    assert toks == _py_apply(text, merges)


def test_token_counts_hand_checked(spark):
    merges = (("a", "b"), ("ab", "c"))
    rows = [
        (1, "abc abx cab"),   # abc->1 tok; abx->ab,x=2; cab->c,ab=2
        (2, ""),
        (3, "ABC"),           # lowercased -> abc -> 1
        (4, "a-b-c"),         # separators block merges -> 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chars"], r["n_tokens"])
        for r in B.bpe_token_counts(df, merges).collect()
    }
    assert got == {1: (9, 5), 2: (0, 0), 3: (3, 1), 4: (3, 3)}


def test_frozen_merges_reproduce(spark):
    """The shipped constant IS the trainer's output on sf0.01 — the
    oracle replays these merges, so drift here would silently decouple
    query from oracle."""
    import os

    if not os.path.exists("/root/testdata/sf0.01/documents.parquet"):
        pytest.skip("sf0.01 testdata absent")
    from ballista_extensions_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    assert train_bpe_merges(docs, 32) == B.FROZEN_MERGES


def test_trainer_determinism_and_validation(spark):
    df = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    m1 = train_bpe_merges(df, 6)
    m2 = train_bpe_merges(df, 6)
    assert m1 == m2 and len(m1) == 6
    # (a,t) leads at 15 (cat/sat/mat); then (t,h)/(h,e) tie at 10 and
    # the lexicographically smaller (h,e) must win
    assert m1[0] == ("a", "t") and m1[1] == ("h", "e")
    with pytest.raises(ValueError, match="n_merges"):
        train_bpe_merges(df, 0)
    with pytest.raises(ValueError, match="illegal"):
        B.bpe_segment_sql("text", (("a", "b c"),))


def test_merge_exhaustion_stops_early(spark):
    """A corpus with fewer distinct adjacent pairs than n_merges must
    return only the realizable merges, not pad or loop."""
    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    m = train_bpe_merges(df, 50)
    assert m == (("a", "b"),)
