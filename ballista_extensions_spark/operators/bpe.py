"""Apply-side byte-pair encoding: TOKENIZE the whole corpus with a
frozen greedy merge list — the step every real
pretraining pipeline runs at full corpus scale (VERDICT r11 directive
#2; ``bpe_merge_candidates`` counts candidate pairs, this module
applies learned merges).

Design for 100 TB:

- **Training** (the trainer that reproduces ``FROZEN_MERGES`` lives in
  tests/test_bpe.py) is a bounded-driver-state pass, the classic BPE-trainer
  shape (Sennrich et al. 2016, arXiv:1508.07909): one distributed
  word-count aggregation (shuffle ∝ DISTINCT words, with map-side
  combine), the top ``vocab_cap`` words by (count desc, word) collected
  — vocabulary is sublinear in corpus size and the cap makes the
  driver state a constant — then the greedy merge loop runs over that
  weighted word dict in pure Python. Deterministic: ties on pair count
  break to the lexicographically smallest pair, so the same corpus
  always yields the same merge list.
- **Application** is pure JVM codegen'd string work, zero Python: each
  word is framed as double-space-separated symbols (``"abc"`` →
  ``" a  b  c "``), and each merge ``(x, y)`` is ONE literal
  ``replace(s, ' x  y ', ' xy ')``. Literal scan-left replace (find,
  replace, continue AFTER the replacement) is exactly BPE's
  leftmost-first greedy application — ``" a  a  a "`` becomes
  ``" aa  a "``, never ``" aa  aa "`` shifted — and Spark, DuckDB and
  Python ``str.replace`` all implement that same semantic, which is
  what lets the ``bpe_tokenize_counts`` oracle replay tokenization
  bit-for-bit. Word boundaries are ``#`` (every non-alphanumeric run),
  unframed so no ``' x  y '`` pattern can ever straddle two words.

Normalization order matters for engine parity: non-alphanumeric runs
are collapsed to ``#`` FIRST, then ``lower()`` runs over pure
ASCII — full-Unicode lowercasing corner cases can never diverge
between engines because no non-ASCII byte survives to the lower().
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Merges = tuple[tuple[str, str], ...]

# lower(ASCII-only) -> '#'-bounded words -> ' c ' framed symbols
_NORM_SQL = "lower(regexp_replace({col}, '[^a-zA-Z0-9]+', '#'))"
_FRAME_SQL = "regexp_replace(" + _NORM_SQL + r", '([a-z0-9])', ' $1 ')"
# DuckDB spells the same two regexps with \1 backrefs + the 'g' flag
_NORM_DUCK = "lower(regexp_replace({col}, '[^a-zA-Z0-9]+', '#', 'g'))"
_FRAME_DUCK = (
    "regexp_replace(" + _NORM_DUCK + r", '([a-z0-9])', ' \1 ', 'g')"
)


def _merge_word(syms: Sequence[str], x: str, y: str) -> list[str]:
    """Leftmost-first greedy merge of adjacent (x, y) — the
    str.replace / SQL-replace scan semantic the apply side uses, and
    the merge step of both trainers (this module's word trainer and
    operators/bpe_stream.py's chunk trainer)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == x and syms[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _chain_replaces(seg_sql: str, merges: Merges) -> str:
    for x, y in merges:
        for tok in (x, y):
            if not tok or any(ch in tok for ch in " #'"):
                raise ValueError(f"bpe: illegal merge symbol {tok!r}")
        seg_sql = f"replace({seg_sql}, ' {x}  {y} ', ' {x}{y} ')"
    return seg_sql


def bpe_segment_sql(col_sql: str, merges: Merges) -> str:
    """Spark SQL fragment: framed symbol string AFTER all merges.
    Each surviving token contributes exactly two spaces (its own
    leading + trailing), so ``(len - len(without spaces)) / 2`` is the
    token count."""
    return _chain_replaces(_FRAME_SQL.format(col=col_sql), merges)


def bpe_segment_sql_duckdb(col_sql: str, merges: Merges) -> str:
    """The identical chain in DuckDB spelling — the oracle generator."""
    return _chain_replaces(_FRAME_DUCK.format(col=col_sql), merges)


def _space_count(s_sql: str) -> str:
    return f"(length({s_sql}) - length(replace({s_sql}, ' ', '')))"


def bpe_token_counts(
    docs: DataFrame,
    merges: Merges,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a frozen merge list: per document, the
    base symbol count (alphanumeric chars) and the BPE token count
    after all merges. One narrow codegen'd projection — no shuffle, no
    Python, cost ∝ corpus bytes however many documents there are."""
    framed = _FRAME_SQL.format(col=text_col)
    seg = bpe_segment_sql(text_col, merges)
    return docs.select(
        F.col(id_col),
        (F.expr(_space_count(framed)) / 2).cast("long").alias("n_chars"),
        (F.expr(_space_count(seg)) / 2).cast("long").alias("n_tokens"),
    )


# Frozen merge list: word-level BPE training on sf0.01 documents
# (n_merges=32, vocab_cap=50000) — regenerated and asserted byte-identical
# by tests/test_bpe.py::test_frozen_merges_reproduce, so the constant can
# never drift from the trainer. The paired oracle replays these exact
# merges (queries/analytics11.py:bpe_tokenize_counts).
FROZEN_MERGES: Merges = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"),
)
