"""Raw-stream BPE (operators/bpe_stream.py): frozen-constant
reproduction, the word-internal saturation bound that motivates the
boundary-crossing vocabulary, heap-trainer vs naive-trainer
equivalence, rank-priority vs sequential-chain parity, cross-engine
chunking parity, the detokenization round-trip, and the pinned
single-expression depth failures that make the staged chain (and the
applier) necessary."""

from __future__ import annotations

import os
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.operators import bpe_stream as BS
from ballista_extensions_spark.operators.bpe import _merge_word


def _chain(seg_sql: str, merges) -> str:
    """The single-expression form the staged chain replaced: one
    nested ``replace`` per merge around the framed stream."""
    for x, y in merges:
        seg_sql = f"replace({seg_sql}, ' {x}  {y} ', ' {x}{y} ')"
    return seg_sql


def _naive_train(chunks_weighted, n_merges):
    """Reference trainer: full pair recount every iteration — the
    bpe.py loop lifted to chunks. The heap trainer must match it."""
    reps = {}
    for ch, w in chunks_weighted.items():
        reps[tuple(ch)] = reps.get(tuple(ch), 0) + w
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in reps.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        new = {}
        for syms, c in reps.items():
            m = tuple(_merge_word(syms, *best))
            new[m] = new.get(m, 0) + c
        reps = new
    return tuple(merges)


def _seq_apply(chunk, merges):
    """Sequential chain semantics: merge k everywhere before k+1."""
    toks = list(chunk)
    for x, y in merges:
        toks = _merge_word(toks, x, y)
    return toks


def _loop_rank_priority(chunk, ranks):
    """Reference applier: rescan every adjacent pair for the lowest
    rank, merge all its occurrences scan-left, repeat. The heap applier
    (BS._rank_priority_tokens) must equal it for ANY rank order."""
    toks = list(chunk)
    while len(toks) > 1:
        best_rank = None
        best = None
        for p in zip(toks, toks[1:]):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, p
        if best is None:
            break
        toks = _merge_word(toks, *best)
    return toks


def test_heap_trainer_matches_naive_reference(spark):
    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "the cat sat on the mat",
                "the cat ran off the mat and sat",
                "a cat and a mat and a hat",
                "on and on and on it sat",
            ]
            * 3
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = BS.train_stream_bpe(df, 40)
    chunks = Counter()
    for _, t in rows:
        for ch in BS._py_chunks(t):
            chunks[ch] += 1
    want = _naive_train(chunks, 40)
    assert got == want[: len(got)] and len(got) == min(40, len(want))


def test_trainer_determinism_and_validation(spark):
    df = spark.createDataFrame(
        [(i, "pack the stream, pack the chunk!") for i in range(4)],
        "doc_id long, text string",
    )
    assert BS.train_stream_bpe(df, 12) == BS.train_stream_bpe(df, 12)
    # prefix stability: k merges are the first k of a longer run
    assert BS.train_stream_bpe(df, 5) == BS.train_stream_bpe(df, 12)[:5]
    with pytest.raises(ValueError, match="n_merges"):
        BS.train_stream_bpe(df, 0)
    with pytest.raises(ValueError, match="illegal"):
        BS.chain_token_counts(df, (("a", "b c"),))
    with pytest.raises(ValueError, match="illegal"):
        BS.chain_cte_duckdb((("a|b", "c"),))


def test_frozen_stream_merges_reproduce(spark):
    """The shipped 384-merge constant IS the trainer's output on
    sf0.01 — the oracles replay these merges, so drift here would
    silently decouple query from oracle."""
    if not os.path.exists("/root/testdata/sf0.01/documents.parquet"):
        pytest.skip("sf0.01 testdata absent")
    from ballista_extensions_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    got = BS.train_stream_bpe(docs, 384)
    assert got == BS.FROZEN_STREAM_MERGES


def test_word_internal_bpe_saturates_below_stream_vocab(spark):
    """The motivation for boundary-crossing merges: word-internal BPE
    on this corpus exhausts its pair space far below 384 merges (every
    distinct word collapses to one token), while the raw-stream
    trainer reaches the full 384."""
    if not os.path.exists("/root/testdata/sf0.01/documents.parquet"):
        pytest.skip("sf0.01 testdata absent")
    from ballista_extensions_spark.io import load_table
    from test_bpe import train_bpe_merges

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    word_internal = train_bpe_merges(docs, 384)
    assert len(word_internal) < 128  # saturates (measured: 89)
    assert len(BS.FROZEN_STREAM_MERGES) == 384


def test_rank_priority_equals_sequential_on_trained_lists(spark):
    """The parity the large-vocab oracle rests on: for trainer-produced
    merge lists, rank-priority application equals the sequential
    chain. Checked over every chunk of several random corpora drawn
    from a small alphabet (worst case for overlapping merges)."""
    import random

    rng = random.Random(7)
    for trial in range(6):
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 5)))
            for _ in range(8)
        ]
        texts = [
            " ".join(rng.choice(words) for _ in range(rng.randint(3, 30)))
            for _ in range(40)
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        merges = BS.train_stream_bpe(df, 64)
        ranks = {p: i for i, p in enumerate(merges)}
        for t in texts:
            for ch in BS._py_chunks(t):
                assert BS._rank_priority_tokens(ch, ranks) == _seq_apply(
                    ch, merges
                ), (trial, ch)


def test_chunking_parity_spark_duckdb_python(spark):
    cases = [
        "",
        "   !!?  ",
        "one two three four five six seven eight",        # exactly 8
        "one two three four five six seven eight nine",   # 8 + 1
        "Mixed CASE 42 and-hyphens, plus.dots",
        "x" * 300,
        None,
    ]
    df = spark.createDataFrame(
        list(enumerate(cases)), "doc_id long, text string"
    )
    got_spark = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", F.expr(BS.stream_string_sql("text")).alias("s")
        ).collect()
    }
    for i, text in enumerate(cases):
        py = "|".join(BS._py_chunks(text or ""))
        lit = "NULL" if text is None else "'" + text.replace("'", "''") + "'"
        duck = duckdb.sql(
            f"SELECT {BS.stream_string_sql_duckdb(lit)}"
        ).fetchone()[0]
        assert got_spark[i] == py == duck, (i, text)


def test_applier_hand_checked_counts(spark):
    merges = (("a", "b"), ("ab", "#"), ("c", "#"))
    df = spark.createDataFrame(
        [
            (1, "ab c ab"),   # chunk "ab#c#ab#": ab,#,c,#,ab,# ->
                              # ab#(2 merges), c#, ab# -> 3 tokens
            (2, ""),
            (3, None),
            (4, "AB!ab"),     # "ab#ab#" -> ab#,ab# -> 2 tokens
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_symbols"], r["n_tokens"])
        for r in BS.bpe_stream_token_counts(df, merges).collect()
    }
    assert got == {1: (8, 3), 2: (0, 0), 3: (0, 0), 4: (6, 2)}
    # chain agrees
    ch = {
        r["doc_id"]: r["n_tokens_chain"]
        for r in BS.chain_token_counts(df, merges).collect()
    }
    assert ch == {1: 3, 2: 0, 3: 0, 4: 2}


def test_detok_round_trip_full_vocab(spark):
    """Encode -> concat(tokens) reproduces the normalized chunk stream
    for every document: tokenization is lossless down to
    normalization."""
    if not os.path.exists("/root/testdata/sf0.001/documents.parquet"):
        pytest.skip("testdata absent")
    from ballista_extensions_spark.io import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    toks = BS.bpe_stream_tokens(d, BS.FROZEN_STREAM_MERGES)
    stream = d.select(
        "doc_id", F.expr(BS.stream_string_sql("text")).alias("st")
    )
    bad = (
        toks.join(stream, "doc_id")
        .filter(
            F.concat_ws("", F.col("tokens"))
            != F.replace(F.col("st"), F.lit("|"), F.lit(""))
        )
        .count()
    )
    assert bad == 0


def test_single_expression_chain_depth_failures(spark):
    """Pin the DETERMINISTIC depth failure that makes the staged/
    applier forms the only portable ones: DuckDB's binder rejects the
    384-deep nested-replace past its 128 recursion cap, always. The
    Spark-side failures (parser TOO_COMPLEX, Column-API/JVM
    StackOverflow) are real but STACK-STATE-DEPENDENT in both
    directions — solo runs raise TOO_COMPLEX while a mid-suite JVM
    with different thread-stack headroom can even parse and run the
    same text — so they are observed, not asserted (round-13 flake:
    `pytest.raises` failed mid-suite because the expression
    succeeded)."""
    seg = _chain(
        BS._frame(BS.stream_string_sql("text"), "spark"),
        BS.FROZEN_STREAM_MERGES,
    )
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    try:
        df.selectExpr(f"{seg} AS s").collect()
        spark_outcome = "succeeded"  # deep-stack JVM can parse it
    except Exception as e:  # noqa: BLE001 — any failure class counts
        spark_outcome = f"failed: {type(e).__name__}"
    # observed, not asserted (env-dependent both ways — see docstring);
    # keep the outcome visible in the test log so the claim stays
    # checkable without flaking the suite
    print(f"spark 384-deep single-expression chain: {spark_outcome}")
    segd = _chain(
        BS._frame(BS.stream_string_sql_duckdb("'a b'"), "duck"),
        BS.FROZEN_STREAM_MERGES,
    )
    with pytest.raises(Exception, match="recursion depth|Binder|depth"):
        duckdb.sql(f"SELECT {segd}")
    # and the STAGED forms both bind/run fine on the same vocabulary
    assert BS.chain_token_counts(df, BS.FROZEN_STREAM_MERGES).count() == 1
    cte = BS.chain_cte_duckdb(
        BS.FROZEN_STREAM_MERGES, from_sql="(SELECT 1 AS doc_id, 'a b' AS text)"
    )
    assert (
        duckdb.sql(f"WITH {cte} SELECT COUNT(*) FROM __bpe_chain").fetchone()[0]
        == 1
    )


def test_memo_cache_consistency(spark):
    """Repeated chunks across documents must memoize to identical
    counts (two docs with the same text tokenize identically)."""
    df = spark.createDataFrame(
        [(i, "data pipeline scan row hash " * 4) for i in range(6)],
        "doc_id long, text string",
    ).coalesce(1)  # one task -> shared memo across all six docs
    rows = BS.bpe_stream_token_counts(
        df, BS.FROZEN_STREAM_MERGES
    ).collect()
    vals = {(r["n_symbols"], r["n_tokens"]) for r in rows}
    assert len(vals) == 1 and len(rows) == 6


def test_frozen_4k_prefix_and_reproduce(spark):
    """The shipped 4096-merge vocabulary (operators/bpe_vocab4k.py) IS
    the trainer's output on sf0.01, and greedy BPE's prefix stability
    holds: its first 384 merges equal FROZEN_STREAM_MERGES (VERDICT
    r13 #3 determinism pin)."""
    if not os.path.exists("/root/testdata/sf0.01/documents.parquet"):
        pytest.skip("sf0.01 testdata absent")
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators.bpe_vocab4k import (
        FROZEN_STREAM_MERGES_4K,
    )

    assert len(FROZEN_STREAM_MERGES_4K) == 4096
    assert FROZEN_STREAM_MERGES_4K[:384] == BS.FROZEN_STREAM_MERGES
    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    got = BS.train_stream_bpe(docs, 4096)
    assert got == FROZEN_STREAM_MERGES_4K


def test_trainer_driver_state_bounded(spark):
    """Driver memory is bounded by vocab_cap, not the corpus: the
    chunk table the greedy loop sees has at most vocab_cap units even
    when the corpus holds more distinct chunks."""
    if not os.path.exists("/root/testdata/sf0.01/documents.parquet"):
        pytest.skip("sf0.01 testdata absent")
    from ballista_extensions_spark.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    units, weights = BS.collect_chunk_table(docs, vocab_cap=100)
    assert len(units) == 100 and len(weights) == 100
    # and the loop still trains to the requested count on the capped
    # table (or exhausts honestly)
    merges = BS.greedy_merge_loop(units, weights, 64)
    assert len(merges) == 64


def test_heap_applier_equals_loop_reference(sf_dir):
    """The heap applier equals the rescan loop on every distinct chunk
    of the corpus under both frozen vocabularies, on seeded random
    merge lists whose ranks are shuffled (so a merge can create a pair
    of LOWER rank, which only round-by-round processing gets right),
    and on the edge cases."""
    import random

    import pyarrow.parquet as pq

    from ballista_extensions_spark.operators.bpe_vocab4k import (
        FROZEN_STREAM_MERGES_4K,
    )

    def check(chunk, ranks):
        assert BS._rank_priority_tokens(chunk, ranks) == _loop_rank_priority(
            chunk, ranks
        ), (chunk, ranks)

    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip("testdata absent")
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    chunks = {c for t in texts for c in BS._py_chunks(t or "")}
    assert len(chunks) > 1000
    for merges in (BS.FROZEN_STREAM_MERGES, FROZEN_STREAM_MERGES_4K):
        ranks = {p: i for i, p in enumerate(merges)}
        for c in chunks:
            check(c, ranks)

    rng = random.Random(2024)
    for _ in range(2000):
        alphabet = "abcd"[: rng.randint(1, 4)]
        toks = list(alphabet)
        merges = []
        for _ in range(rng.randint(1, 12)):
            x, y = rng.choice(toks), rng.choice(toks)
            merges.append((x, y))
            if x + y not in toks:
                toks.append(x + y)
        rng.shuffle(merges)
        ranks = {p: i for i, p in enumerate(merges)}
        for _ in range(4):
            n = rng.randint(0, 24)
            check("".join(rng.choice(alphabet) for _ in range(n)), ranks)

    aa = {("a", "a"): 0, ("aa", "aa"): 1}
    assert BS._rank_priority_tokens("", aa) == []
    assert BS._rank_priority_tokens("a", aa) == ["a"]
    assert BS._rank_priority_tokens("aaa", {("a", "a"): 0}) == ["aa", "a"]
    for n in range(10):
        check("a" * n, aa)
        check("a" * n, {("a", "a"): 0})
    assert BS._rank_priority_tokens("xyz#", aa) == list("xyz#")
    check("xaayaaaz", aa)


@pytest.mark.parametrize(
    "query,carried",
    [
        ("bpe_tokenize_4k_vocab", ("source",)),
        ("tokenizer_fertility_by_lang", ("lang",)),
    ],
)
def test_grouped_applier_queries_scan_documents_once(
    spark, sf_dir, documents, query, carried
):
    """The grouping columns ride the applier's Arrow pass: the executed
    plan scans ``documents`` once, has no join and one MapInPandas, and
    the grouping keys keep their input types."""
    from ballista_extensions_spark.queries import get_queries

    df = get_queries()[query](spark, sf_dir)
    assert df.collect()
    qe = df._jdf.queryExecution()
    assert "isFinalPlan=true" in qe.executedPlan().toString()
    final = qe.executedPlan().executedPlan().toString()  # AQE's final plan
    assert final.count("FileScan parquet") == 1
    assert "documents.parquet" in final
    assert "Join" not in final
    assert final.count("MapInPandas") == 1
    for c in carried:
        assert df.schema[c].dataType == documents.schema[c].dataType


def test_carried_columns_keep_types_and_values(spark, documents):
    """``carry`` returns the named columns unchanged: same types, and
    the same rows as joining the counts back to ``documents``."""
    d = documents.withColumn("n_words", F.size(F.split("text", " ")))
    carry = ("lang", "source", "n_chars", "n_words")
    got = BS.bpe_stream_token_counts(d, BS.FROZEN_STREAM_MERGES, carry=carry)
    assert got.columns == ["doc_id", "n_symbols", "n_tokens", *carry]
    for c in carry:
        assert got.schema[c].dataType == d.schema[c].dataType
    plain = BS.bpe_stream_token_counts(d, BS.FROZEN_STREAM_MERGES)
    assert plain.columns == ["doc_id", "n_symbols", "n_tokens"]
    want = plain.join(d.select("doc_id", *carry), "doc_id")
    assert sorted(got.collect()) == sorted(want.select(*got.columns).collect())
