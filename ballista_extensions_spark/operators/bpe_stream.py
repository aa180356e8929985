"""Raw-stream BPE at realistic vocab scale (VERDICT r12 directive #1).

``operators/bpe.py`` applies a frozen WORD-internal merge list as a
chain of JVM literal replaces — exact, zero-Python, but structurally
bounded: one plan-tree ``replace`` per merge means a real vocabulary
(thousands of merges) cannot ever fit the chain. This module is the
production-shaped applier: an Arrow-batched ``mapInPandas`` stage with
a BROADCAST merge-rank dict implementing true rank-priority merging —
a heap over each chunk's adjacent pairs makes the apply cost per chunk
O((length + applied merges) x log length) however many merges the
vocabulary holds, so the same code runs a 32-merge toy list and a
32k-merge production vocabulary identically.

Vocabulary model — why merges cross word boundaries here: the driver
corpus has only 31 distinct words, so word-internal BPE provably
saturates at 89 merges (every word becomes a single token and no
adjacent pair remains — ``tests/test_bpe_stream.py`` pins that bound).
Real tokenizers that want larger vocabularies than the word inventory
supports train WITHOUT whitespace pre-splitting — SentencePiece's BPE
(Kudo & Richardson 2018, arXiv:1808.06226, --split_by_whitespace=false)
treats the word-boundary symbol as an ordinary symbol so merges span
words and tokens become multi-word units. We do exactly that: the
normalized symbol stream is ``lower()`` text with every
non-alphanumeric run collapsed to ``#`` (operators/bpe.py's
normalization, but ``#`` is now a SYMBOL, not a split point).

Pre-tokenization unit = the CHUNK: the stream's word sequence cut into
disjoint runs of ``W_CHUNK`` words, each chunk carrying its interior
and trailing ``#`` joints (``"w1#w2#...#w8#"``). Train and apply share
the unit definition — merges never span chunks, the same contract as
GPT-2 BPE's "merges never span words", just with a wider unit. That
is what keeps BOTH sides scalable:

- **Training** stays the classic bounded-driver shape
  of word-level BPE: ONE distributed chunk-count aggregation
  (map-side combine, shuffle ∝ DISTINCT chunks), the top ``vocab_cap``
  chunks collected, then a greedy merge loop over that weighted dict —
  here with a lazy max-heap + inverted pair->unit index so each
  iteration touches only the units containing the chosen pair instead
  of rescanning the table (the loop stays ∝ driver state, never
  corpus). Deterministic: ties break to the lexicographically
  smallest pair, exactly the bpe.py contract.
- **Application** runs the heap applier once per distinct chunk inside
  each Arrow batch task (a per-task memo; on the driver corpus only
  ~5% of chunks repeat, so the applier's own cost is what matters),
  and the merge-rank dict rides the closure once per executor — the
  broadcast pattern.

Cross-engine verifiability: the framed-chain form of bpe.py
generalizes — frame every symbol char ``[a-z0-9#]`` as `` c `` with
chunks separated by a bare ``|``, then one literal scan-left
``replace`` per merge. The chain applies merges SEQUENTIALLY (merge k
everywhere before merge k+1) while the applier is rank-priority;
for trainer-produced merge lists these coincide (a pair learned at
rank i can only involve tokens created at ranks < i, so by the time
the chain reaches rank i every occurrence it can ever have exists) —
and the ``bpe_contract_audit`` query does not ASSUME that: it computes
chain-vs-applier equality Spark-side while the DuckDB oracle replays
the chain, so any divergence is a driver-visible hash mismatch, never
a silent assumption.
"""

from __future__ import annotations

import heapq
import re
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ballista_extensions_spark.operators.bpe import _merge_word

Merges = tuple[tuple[str, str], ...]

W_CHUNK = 8

# coalesce: a NULL text tokenizes to zero tokens (the applier's
# count_doc(None) contract) instead of poisoning the SQL chain to NULL
_NORM_SQL = (
    "lower(regexp_replace(coalesce({col}, ''), '[^a-zA-Z0-9]+', '#'))"
)
_NORM_DUCK = (
    "lower(regexp_replace(coalesce({col}, ''), '[^a-zA-Z0-9]+', '#', 'g'))"
)


def stream_chunks_sql(col: str) -> str:
    """Spark SQL: array of W_CHUNK-word chunk strings (interior +
    trailing ``#`` joints) — the shared pre-tokenization unit."""
    norm = _NORM_SQL.format(col=col)
    words = f"filter(split({norm}, '#'), w -> w != '')"
    return (
        f"CASE WHEN size({words}) = 0 THEN array() "
        f"ELSE transform(sequence(0, (size({words}) + {W_CHUNK - 1}) "
        f"div {W_CHUNK} - 1), i -> concat(array_join("
        f"slice({words}, i * {W_CHUNK} + 1, {W_CHUNK}), '#'), '#')) END"
    )


def stream_string_sql(col: str) -> str:
    """Spark SQL: the chunked stream as ONE string, chunks separated by
    a bare ``|`` (never a symbol, so no merge pattern can span it)."""
    return f"array_join({stream_chunks_sql(col)}, '|')"


def stream_string_sql_duckdb(col: str) -> str:
    """The identical chunked stream in DuckDB spelling."""
    norm = _NORM_DUCK.format(col=col)
    words = f"list_filter(string_split({norm}, '#'), w -> w <> '')"
    return (
        f"CASE WHEN len({words}) = 0 THEN '' "
        f"ELSE array_to_string(list_transform(generate_series(0, "
        f"(len({words}) + {W_CHUNK - 1}) // {W_CHUNK} - 1), "
        f"i -> array_to_string(list_slice({words}, i * {W_CHUNK} + 1, "
        f"i * {W_CHUNK} + {W_CHUNK}), '#') || '#'), '|') END"
    )


def _frame(stream_sql: str, engine: str) -> str:
    if engine == "spark":
        return f"regexp_replace({stream_sql}, '([a-z0-9#])', ' $1 ')"
    return f"regexp_replace({stream_sql}, '([a-z0-9#])', ' \\1 ', 'g')"


# How the 384-merge chain breaks every single-expression form — the
# measured evidence behind "the replace chain cannot reach production
# vocab sizes" (VERDICT r12 #1); the DuckDB failure is deterministic
# and pinned by tests/test_bpe_stream.py, the Spark ones are
# stack-state-dependent (observed on a fresh session; a JVM thread
# with more stack headroom can parse 384 — 32k remains far out of
# reach either way):
#   * Spark SQL text: FAILED_TO_PARSE_TOO_COMPLEX (SQLSTATE 54001)
#   * Spark Column API: java.lang.StackOverflowError converting the
#     384-deep node tree
#   * DuckDB: "Maximum recursion depth exceeded (Maximum: 128)" binding
# The chain is therefore only expressible STAGED — a bounded number of
# merges per projection/CTE layer, each layer materializing a plan
# barrier for the next. It exists here purely as the audit's
# independent re-derivation of the applier's output; the applier
# (bpe_stream_token_counts) is the form whose cost does not grow a
# plan node per merge.
_CHAIN_STAGE = 96


def _validate_merges(merges: Merges) -> None:
    for x, y in merges:
        for tok in (x, y):
            if not tok or any(ch in tok for ch in " '|"):
                raise ValueError(
                    f"bpe_stream: illegal merge symbol {tok!r}"
                )


def chain_token_counts(
    docs: DataFrame,
    merges: Merges,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens_chain): the SEQUENTIAL literal-replace chain,
    staged ``_CHAIN_STAGE`` merges per projection so no single
    expression exceeds engine depth limits (comment above). O(merges)
    plan nodes and O(merges) passes over every string — the shape that
    does NOT scale with vocabulary; the audit runs it next to the
    rank-priority applier to prove they agree."""
    _validate_merges(merges)
    framed = F.regexp_replace(
        F.expr(stream_string_sql(text_col)), "([a-z0-9#])", " $1 "
    )
    cur = docs.select(F.col(id_col), framed.alias("__s"))
    for g in range(0, len(merges), _CHAIN_STAGE):
        col = F.col("__s")
        for x, y in merges[g:g + _CHAIN_STAGE]:
            col = F.replace(col, F.lit(f" {x}  {y} "), F.lit(f" {x}{y} "))
        cur = cur.select(id_col, col.alias("__s"))
    spaces = F.length("__s") - F.length(
        F.replace(F.col("__s"), F.lit(" "), F.lit(""))
    )
    return cur.select(
        id_col, (spaces / 2).cast("long").alias("n_tokens_chain")
    )


def chain_cte_duckdb(
    merges: Merges,
    *,
    from_sql: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    out: str = "__bpe_chain",
) -> str:
    """DuckDB CTE stack replaying the identical staged chain — the
    oracle generator. Returns ``name AS (...), ... , <out> AS
    (SELECT id, s ...)`` to splice into a WITH clause; ``<out>`` has
    columns (id_col, s) where s is the fully merged framed stream.
    Stages of ``_CHAIN_STAGE`` merges keep every expression under
    DuckDB's 128-deep binder recursion cap."""
    _validate_merges(merges)
    framed = _frame(stream_string_sql_duckdb(text_col), "duck")
    ctes = [
        f"__bpe_s0 AS (SELECT {id_col}, {framed} AS s FROM {from_sql})"
    ]
    k = 0
    for g in range(0, len(merges), _CHAIN_STAGE):
        expr = "s"
        for x, y in merges[g:g + _CHAIN_STAGE]:
            expr = f"replace({expr}, ' {x}  {y} ', ' {x}{y} ')"
        k += 1
        ctes.append(
            f"__bpe_s{k} AS (SELECT {id_col}, {expr} AS s "
            f"FROM __bpe_s{k - 1})"
        )
    ctes.append(
        f"{out} AS (SELECT {id_col}, s FROM __bpe_s{k})"
    )
    return ",\n    ".join(ctes)


# ---------------------------------------------------------------- train


def _pair_bag(syms: list[str], w: int) -> Counter:
    c: Counter = Counter()
    for i in range(len(syms) - 1):
        c[(syms[i], syms[i + 1])] += w
    return c


def train_stream_bpe(
    docs: DataFrame,
    n_merges: int,
    *,
    text_col: str = "text",
    vocab_cap: int = 50_000,
) -> Merges:
    """Greedy raw-stream BPE training. Distributed part: ONE chunk-count
    aggregation (explode chunks -> count, map-side combined, shuffle ∝
    distinct chunks) capped at ``vocab_cap`` units by (count desc,
    chunk) — bounded driver state whatever the corpus size. Driver
    part: the greedy loop with a lazy max-heap over pair counts and a
    pair->units inverted index, so iteration k touches only units
    containing merge k's pair. Ties break to the lexicographically
    smallest pair (the bpe.py contract); same corpus -> same merges."""
    if n_merges < 1:
        raise ValueError(f"bpe_stream: n_merges must be >= 1, got {n_merges}")
    units, weights = collect_chunk_table(docs, text_col, vocab_cap)
    return greedy_merge_loop(units, weights, n_merges)


def collect_chunk_table(
    docs: DataFrame, text_col: str = "text", vocab_cap: int = 50_000
) -> tuple[list[list[str]], list[int]]:
    """The trainer's ONLY distributed stage: chunk-count aggregation
    (map-side combined, shuffle ∝ distinct chunks) capped at
    ``vocab_cap`` units by (count desc, chunk). Driver state is
    bounded by the cap whatever the corpus size — and is INDEPENDENT
    of n_merges, so the merge-count cost curve
    (tools/bpe_train_scale.py) measures this once and the greedy loop
    separately."""
    rows = (
        docs.select(
            F.explode(F.expr(stream_chunks_sql(text_col))).alias("ch")
        )
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("ch"))
        .limit(vocab_cap)
        .collect()
    )
    units: list[list[str]] = [list(r["ch"]) for r in rows]
    weights: list[int] = [int(r["c"]) for r in rows]
    return units, weights


def greedy_merge_loop(
    units: list[list[str]], weights: list[int], n_merges: int
) -> Merges:
    """Driver-side greedy loop over the weighted chunk table: lazy
    max-heap over pair counts + pair->units inverted index, so
    iteration k touches only units containing merge k's pair —
    measured ~linear in merges over the vocab-capped table
    (BASELINE.md r14). MUTATES ``units`` in place."""
    pair_count: Counter = Counter()
    pair_units: dict[tuple[str, str], set[int]] = {}
    for u, syms in enumerate(units):
        for p, w in _pair_bag(syms, weights[u]).items():
            pair_count[p] += w
            pair_units.setdefault(p, set()).add(u)
    # lazy max-heap: (-count, pair) entries; stale entries are skipped
    # when their recorded count no longer matches the live table
    heap = [(-c, p) for p, c in pair_count.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        neg, best = heapq.heappop(heap)
        cur = pair_count.get(best, 0)
        if cur <= 0:
            continue
        if -neg != cur:  # stale entry — reinsert at the live count
            heapq.heappush(heap, (-cur, best))
            continue
        merges.append(best)
        x, y = best
        touched: Counter = Counter()
        for u in sorted(pair_units.get(best, ())):
            syms = units[u]
            ok = any(
                syms[i] == x and syms[i + 1] == y
                for i in range(len(syms) - 1)
            )
            if not ok:  # stale index entry (pair vanished earlier)
                continue
            w = weights[u]
            before = _pair_bag(syms, w)
            units[u] = _merge_word(syms, x, y)
            after = _pair_bag(units[u], w)
            for p, c in before.items():
                touched[p] -= c
            for p, c in after.items():
                touched[p] += c
                pair_units.setdefault(p, set()).add(u)
        for p, d in touched.items():
            if d == 0:
                continue
            pair_count[p] += d
            if pair_count[p] > 0:
                heapq.heappush(heap, (-pair_count[p], p))
        pair_count[best] = 0
    return tuple(merges)


# ---------------------------------------------------------------- apply


def _rank_priority_tokens(
    chunk: str, ranks: dict[tuple[str, str], int]
) -> list[str]:
    """True rank-priority BPE over one chunk: repeatedly merge the
    lowest-rank adjacent pair present (all its occurrences, scan-left)
    until no trained pair remains — the GPT-2/SentencePiece apply
    loop, O((len + applied merges) x log len) regardless of vocabulary
    size.

    Symbols live in a doubly linked list over their start positions,
    with a min-heap of ``(rank, left position)`` for every ranked
    adjacent pair. Each round pops every entry of the current minimum
    rank in position order (so ``a a a`` under ``(a, a)`` becomes
    ``aa a``, the scan-left rule), skips stale entries and merges the
    rest in place; only after the round are the merged nodes' new
    pairs pushed. A merge can create a pair of LOWER rank in a list
    the trainer did not produce, and pushing it mid-round would merge
    it before the remaining occurrences of the current pair."""
    syms: list[str | None] = list(chunk)
    n = len(syms)
    nxt = list(range(1, n + 1))  # n = no right neighbour
    prv = list(range(-1, n - 1))  # -1 = no left neighbour
    get = ranks.get
    heap = [
        (r, i)
        for i, pair in enumerate(zip(syms, syms[1:]))
        if (r := get(pair)) is not None
    ]
    heapq.heapify(heap)
    while heap:
        rank = heap[0][0]
        merged: list[int] = []
        while heap and heap[0][0] == rank:
            i = heapq.heappop(heap)[1]
            j = nxt[i]
            if syms[i] is None or j == n or get((syms[i], syms[j])) != rank:
                continue  # stale: node absorbed or pair changed
            syms[i] += syms[j]
            syms[j] = None
            k = nxt[j]
            nxt[i] = k
            if k < n:
                prv[k] = i
            merged.append(i)
        for i in merged:
            p, k = prv[i], nxt[i]
            if p >= 0 and (r := get((syms[p], syms[i]))) is not None:
                heapq.heappush(heap, (r, p))
            if k < n and (r := get((syms[i], syms[k]))) is not None:
                heapq.heappush(heap, (r, i))
    return [s for s in syms if s is not None]


_NORM_RE = re.compile(r"[^a-zA-Z0-9]+")


def _words_to_chunks(words: list[str]) -> list[str]:
    return [
        "#".join(words[i * W_CHUNK:(i + 1) * W_CHUNK]) + "#"
        for i in range((len(words) + W_CHUNK - 1) // W_CHUNK)
    ]


def _py_chunks(text: str) -> list[str]:
    """The Python mirror of stream_chunks_sql — post-normalization the
    string is pure ASCII [a-z0-9#], where Python, Java and DuckDB
    regex/lower semantics cannot diverge."""
    norm = _NORM_RE.sub("#", text).lower()
    return _words_to_chunks([w for w in norm.split("#") if w])


def _py_pretok_chunks(text: str) -> list[str]:
    """Chunks over GPT-2-style pre-tokenized words
    (operators/pretokenize.py): finer boundaries than the bare ``#``
    splitter — contraction suffixes split off, letter and digit runs
    separate — feeding the same chunk machinery, so merges can never
    cross a pre-token boundary."""
    from ballista_extensions_spark.operators.pretokenize import (
        py_pretok_words,
    )

    return _words_to_chunks(py_pretok_words(text))


def bpe_stream_token_counts(
    docs: DataFrame,
    merges: Merges,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    nfc: bool = False,
    pretokenize: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Tokenize the corpus with the rank-priority applier: per document
    ``(doc_id, n_symbols, n_tokens, *carry)`` where n_symbols is the
    base symbol count (chunk chars incl. ``#`` joints) and n_tokens the
    BPE token count. ONE Arrow-batched mapInPandas stage — no shuffle,
    no driver state; the merge-rank dict (O(vocab) small) rides the
    task closure once per executor, and distinct chunks memoize within
    each task. Apply cost is O((symbols + applied merges) x log chunk
    length) per distinct chunk (:func:`_rank_priority_tokens`),
    independent of vocabulary size. This is the plan shape that
    survives a 32k-merge production vocabulary, unlike the
    literal-replace chain (module docstring).

    ``carry`` names ``docs`` columns passed through the same Arrow pass
    and returned with their input types, so a caller that groups by
    them needs no second scan of ``docs`` and no join back on the id.

    ``nfc=True`` canonicalizes the text (Unicode NFC,
    functions/udf.py:py_nfc_normalize) before chunking — real crawls
    mix decomposed/precomposed forms, which would otherwise tokenize
    identical-looking text differently. ``pretokenize=True`` pre-splits
    each document with the GPT-2-style byte-level pattern
    (operators/pretokenize.py) before the stream normalization —
    production tokenizer word boundaries (contractions split off,
    letter/digit runs separate) at identical plan shape and cost."""
    if nfc:
        from ballista_extensions_spark.functions.udf import py_nfc_normalize

        docs = docs.withColumn(text_col, py_nfc_normalize(F.col(text_col)))
    chunker = _py_pretok_chunks if pretokenize else _py_chunks
    ranks = {p: i for i, p in enumerate(merges)}
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_symbols", LongType()),
            StructField("n_tokens", LongType()),
        ]
        + [StructField(c, docs.schema[c].dataType) for c in carry]
    )

    def apply_batches(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}

        def count_doc(text: str | None) -> tuple[int, int]:
            if text is None:
                return 0, 0
            n_sym = 0
            n_tok = 0
            for ch in chunker(text):
                n_sym += len(ch)
                t = memo.get(ch)
                if t is None:
                    t = len(_rank_priority_tokens(ch, ranks))
                    memo[ch] = t
                n_tok += t
            return n_sym, n_tok

        for pdf in it:
            counted = [count_doc(t) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "n_symbols": [a for a, _ in counted],
                    "n_tokens": [b for _, b in counted],
                    **{c: pdf[c] for c in carry},
                }
            )

    return docs.select(id_col, text_col, *carry).mapInPandas(
        apply_batches, schema=out_schema
    )


def bpe_stream_tokens(
    docs: DataFrame,
    merges: Merges,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token ARRAYS (doc_id, tokens) from the same
    rank-priority applier — the form the detokenization round-trip
    consumes: ``concat_ws('', tokens)`` with ``#`` joints intact is
    exactly the normalized chunk stream, so encode -> decode is
    lossless down to normalization (tests/test_bpe_stream.py)."""
    ranks = {p: i for i, p in enumerate(merges)}
    out_schema = f"{id_col} long, tokens array<string>"

    def apply_batches(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}

        def toks_doc(text: str | None) -> list[str]:
            out: list[str] = []
            for ch in _py_chunks(text or ""):
                t = memo.get(ch)
                if t is None:
                    t = _rank_priority_tokens(ch, ranks)
                    memo[ch] = t
                out.extend(t)
            return out

        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "tokens": [toks_doc(t) for t in pdf[text_col]],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        apply_batches, schema=out_schema
    )


#: stream alphabet: chunks are lowercase alnum + the ``#`` joint
STREAM_BASE_SYMBOLS = "abcdefghijklmnopqrstuvwxyz0123456789#"


def token_vocab(merges: Merges) -> dict[str, int]:
    """Stable token-id space for a merge list: base symbols first
    (fixed order), then one id per merge in rank order — the id a
    token gets never changes when the vocabulary is EXTENDED (training
    more merges appends ids), which is what lets checkpointed training
    runs resume against a grown vocab. The EOS sentinel is the next id
    after the last merge (``len(vocab)``), reserved by convention."""
    vocab = {s: i for i, s in enumerate(STREAM_BASE_SYMBOLS)}
    base = len(vocab)
    for i, (x, y) in enumerate(merges):
        vocab[x + y] = base + i
    if len(vocab) != len(STREAM_BASE_SYMBOLS) + len(merges):
        raise ValueError(
            "token_vocab: merge list has colliding concatenations "
            "(two merges produce the same token string) — ids would "
            "silently collapse and the EOS id (= vocab size) would "
            f"collide: {len(vocab)} ids for "
            f"{len(STREAM_BASE_SYMBOLS)} base + {len(merges)} merges"
        )
    return vocab


def bpe_stream_token_ids(
    docs: DataFrame,
    merges: Merges,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    append_eos: bool = True,
) -> DataFrame:
    """Per-document token-ID arrays (doc_id, ids, n_ids) — the
    trainer-facing integer form of :func:`bpe_stream_tokens`: same
    Arrow-batched rank-priority applier, tokens mapped through
    :func:`token_vocab` inside the same pass (no second corpus scan),
    EOS id (= vocab size) appended per document when ``append_eos``.
    ``n_ids`` includes the EOS — exactly the packing cost column."""
    ranks = {p: i for i, p in enumerate(merges)}
    vocab = token_vocab(merges)
    eos = len(vocab)
    out_schema = f"{id_col} long, ids array<int>, n_ids long"

    def apply_batches(
        it: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[int]] = {}

        def ids_doc(text: str | None) -> list[int]:
            out: list[int] = []
            for ch in _py_chunks(text or ""):
                t = memo.get(ch)
                if t is None:
                    t = [
                        vocab[s]
                        for s in _rank_priority_tokens(ch, ranks)
                    ]
                    memo[ch] = t
                out.extend(t)
            if append_eos:
                out.append(eos)
            return out

        for pdf in it:
            ids = [ids_doc(t) for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64"),
                    "ids": ids,
                    "n_ids": [len(x) for x in ids],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        apply_batches, schema=out_schema
    )


def _parse_frozen(spec: str) -> Merges:
    return tuple(
        (x, y)
        for line in spec.strip().splitlines()
        for x, y in (pair.split(" ", 1) for pair in line.split("|") if pair)
    )


# Frozen 384-merge raw-stream vocabulary:
# train_stream_bpe(sf0.01 documents, n_merges=384, vocab_cap=50000) —
# regenerated and asserted byte-identical by
# tests/test_bpe_stream.py::test_frozen_stream_merges_reproduce, so the
# constant can never drift from the trainer. Stored compactly as
# "x y|x y|..." lines (symbols never contain ' ' or '|'); parsed once
# at import. The paired oracles replay these exact merges
# (queries/analytics12.py). 384 > the 89-merge saturation bound of
# word-internal BPE on this corpus — the vocabulary only reaches this
# size because boundary-crossing merges are allowed (module docstring).
FROZEN_STREAM_MERGES: Merges = _parse_frozen("""
# s|e r|e #|i n|o w|o r|er #|ow #|t #|a t|l u|a s|a r|p ar|n #|h #
y #|a #|g #|m er|s t|j o|jo in|h as|at c|b atc|c a|c o|c u|co lu
colu m|cu st|cust o|f i|fi l|fil t|a l|al l|m all|mer g|c t|ct or
e ctor|or d|v ector|l in|a b|ab l|d at|t abl|u p|a g|a lu|v alu|k e
a m|e am|r eam|in d|w ind|par k|g r|gr o|gro up|b i|q u|qu er|f as
t h|join #|#s mall|#s ca|#s l|colum n#|#s park|has h#|#s t|#st ream
r ow#|custo m|custom er#|batc h#|tabl e#|merg e#|dat a#|filt er#
ke y#|lin e#|ord er#|#s or|vector #|ag g#|quer y#|valu e#|wind ow#
group #|bi g#|par t#|fas t#|th e#|#spark #|#sca n#|#stream #|#sl ow#
#small #|#sor t#|filt er|r ow|batc h|custo mer|has h|merg e|ord er
valu e|lin e|wind ow|ag g|par t|bi g|dat a|#sor t|colum n|fas t
tabl e|ke y|th e|#sl ow|s ca|s l|#sca n|quer y|s mall|s or|sca n#
st ream|sor t#|sl ow#|small #|s park|stream #|spark #|merge# group#
table# hash#|customer# join#|batch# agg#|big# order#|hash #stream#
row# a#|fast# hash#|key# order#|part# filter#|table# column#
batch #scan#|data# data#|join# key#|line# window#|part #stream#
value# query#|window# a#|#small# join#|#spark# big#|hash# agg#
merge# hash#|row# customer#|filter #scan#|group# query#|key# filter#
part# column#|table# line#|value# table#|vector #small#
window #sort#|window# customer#|#small #small#|batch# column#
big# filter#|fast# a#|fast# agg#|group #stream#|line #slow#
order #small#|vector# agg#|vector# join#|window# query#
batch #stream#|big# column#|big# data#|column #spark#|data# column#
merge# column#|merge# order#|row# merge#|sl ow|table #stream#
value #slow#|window #scan#|window# hash#|#small #slow#
#small #stream#|a #slow#|column #slow#|customer #small#
customer# part#|data #slow#|fast# query#|filter #small#
filter# hash#|group# vector#|hash #scan#|key# hash#|row #small#
row# query#|value# batch#|value# column#|#slow #small#|#sort #slow#
#spark# batch#|#spark# line#|big# join#|d up|dup #|filter# query#
key# vector#|part# table#|row# vector#|table #scan#|the# the#
value# customer#|customer# vector#|join #sort#|join# group#
join# order#|join# vector#|key #stream#|key# line#|merge #small#
row #scan#|the #spark#|value# agg#|window# table#|#sort #sort#
#sort #stream#|a #sort#|agg #scan#|data# customer#|data# join#
fast# part#|filter #sort#|filter# agg#|join #scan#|key# agg#
merge# row#|part# merge#|query #scan#|query #small#|sca n
the# batch#|value# line#|value# order#|window# order#|a# vector#
agg #small#|agg# table#|batch# group#|big #sort#|customer #scan#
customer #slow#|group #scan#|group #small#|key #scan#|key# column#
merge# merge#|part #slow#|row #slow#|row #sort#|row# column#
the# order#|vector #spark#|window #slow#|window# filter#
#small #spark#|#spark #scan#|#spark #spark#|#spark# hash#|a# join#
agg #slow#|batch #small#|batch# line#|big #scan#|customer #sort#
data# fast#|data# hash#|fast #sort#|group# table#|join #slow#
line #spark#|merge #scan#|merge #stream#|part #sort#|row #spark#
row #stream#|row# agg#|row# line#|table #small#|the #sort#
#scan #stream#|#slow #sort#|#small #scan#|#sort #spark#
#stream #slow#|#stream #stream#|a #small#|a #stream#|a# table#
agg #stream#|batch #slow#|batch# customer#|batch# query#
big #stream#|customer# key#|data #scan#|fast #spark#|filter #slow#
group# agg#|hash #slow#|key# big#|line #stream#|merge #sort#
merge# customer#|part# order#|row# fast#|row# order#|the# column#
value #scan#|value #sort#|vector# query#|window# column#
#scan #scan#|#scan #slow#|#stream #scan#|a #scan#|batch# hash#
big #slow#|big# line#|customer #stream#|customer# order#|data# the#
fast# order#|filter #spark#|filter# column#|filter# data#
filter# fast#|join #spark#|join# line#|key #slow#|line #sort#
part #scan#|row# batch#|the# hash#|value #spark#|window# line#
#slow #slow#|agg #spark#|agg# column#|agg# order#|big #small#
big #spark#|customer# table#|data #spark#|data #stream#|fast #scan#
filter #stream#|group #slow#|group# column#|join# data#|line #scan#
line #small#|order #scan#|order #sort#|part# vector#|query# line#
row# hash#|row# key#|sor t
""")
