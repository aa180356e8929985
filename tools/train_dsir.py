"""Offline trainer for the frozen DSIR importance-ratio and hashed-LM
tables (operators/dsir.py).

DSIR (Xie et al. arXiv:2302.03169 §3): fit two hashed bag-of-ngrams
models — p_target on a trusted slice, p_raw on the whole crawl — and
freeze ``log p_t(f) − log p_r(f)`` per feature bucket. The trusted
slice here is the documents the frozen quality classifier passes
(logit >= 0), so DSIR selection tilts the corpus toward what the
trained gate considers clean — exactly the paper's setup with the
classifier corpus as target. Also freezes the target model's
log-probs (the CCNet-style LM quality signal) and its train-corpus
cross-entropy tercile cutoffs (head/middle/tail buckets).

Fully deterministic: Laplace-smoothed counts, fixed bucket counts,
6-decimal rounding (part of the contract — both engines compare the
identical literals). tests/test_dsir.py::test_frozen_tables_reproduce
pins the shipped constants to this script's output on sf0.01.

Usage: python tools/train_dsir.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ballista_extensions_spark.operators.dsir import (  # noqa: E402
    B_BI,
    B_UNI,
    N_BUCKETS,
    bi_bucket,
    py_n_feats,
    py_words,
    uni_bucket,
)
from ballista_extensions_spark.operators.qualityclassifier import (  # noqa: E402
    FROZEN_QUALITY_BIAS,
    FROZEN_QUALITY_WEIGHTS,
    hash_token,
)


def quality_passes(text: str) -> bool:
    """Python mirror of the frozen quality gate (logit >= 0)."""
    words = py_words(text)
    if not words:
        return FROZEN_QUALITY_BIAS >= 0
    s = 0.0
    for w in words:
        s += FROZEN_QUALITY_WEIGHTS[hash_token(w)]
    return FROZEN_QUALITY_BIAS + s / len(words) >= 0


def bucket_counts(texts: list[str]) -> list[int]:
    c = [0] * N_BUCKETS
    for t in texts:
        ws = py_words(t)
        for w in ws:
            c[uni_bucket(w)] += 1
        for a, b in zip(ws, ws[1:]):
            c[bi_bucket(a, b)] += 1
    return c


def logprobs(counts: list[int]) -> list[float]:
    """Laplace-smoothed per-bucket log-probs, unigram and bigram
    blocks normalized separately (each block is its own model)."""
    out = [0.0] * N_BUCKETS
    for lo, hi in ((0, B_UNI), (B_UNI, N_BUCKETS)):
        total = sum(counts[lo:hi]) + (hi - lo)
        for i in range(lo, hi):
            out[i] = math.log((counts[i] + 1) / total)
    return out


def main() -> None:
    import duckdb

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    texts = [
        r[0] or ""
        for r in duckdb.sql(
            f"SELECT text FROM read_parquet('{sf}/documents.parquet') "
            "ORDER BY doc_id"
        ).fetchall()
    ]
    target = [t for t in texts if quality_passes(t)]
    print(
        f"# corpus {len(texts)} docs, target slice {len(target)} "
        f"(frozen quality gate)"
    )
    c_raw = bucket_counts(texts)
    c_tgt = bucket_counts(target)
    lp_raw = logprobs(c_raw)
    lp_tgt = logprobs(c_tgt)
    # a bucket no corpus document ever hit carries no evidence either
    # way — zero its ratio rather than shipping the smoothing artifact
    # (target total < raw total would otherwise give every unseen
    # n-gram a POSITIVE boost)
    ratios = [
        0.0 if cr == 0 and ct == 0 else round(t - r, 6)
        for t, r, cr, ct in zip(lp_tgt, lp_raw, c_raw, c_tgt)
    ]
    lp_tgt_r = [round(v, 6) for v in lp_tgt]

    # train-corpus CE terciles under the FROZEN (rounded) target LM —
    # the head/middle/tail cutoffs; computed with the SAME interleaved
    # fold the engines run (py_feature_fold is the pinned mirror)
    from ballista_extensions_spark.operators.dsir import py_feature_fold

    ces = []
    for t in texts:
        n = py_n_feats(t)
        if n == 0:
            continue
        ces.append(-py_feature_fold(t, tuple(lp_tgt_r)) / n)
    ces.sort()
    lo = round(ces[len(ces) // 3], 6)
    hi = round(ces[(2 * len(ces)) // 3], 6)

    def fmt(vals):
        return "(" + ", ".join(repr(float(v)) for v in vals) + ")"

    print(f"# buckets: {B_UNI} unigram + {B_BI} bigram, Laplace smoothed")
    print(f"FROZEN_DSIR_RATIOS = {fmt(ratios)}")
    print(f"FROZEN_LM_LOGPROBS = {fmt(lp_tgt_r)}")
    print(f"FROZEN_CE_CUTOFFS = ({lo!r}, {hi!r})")


if __name__ == "__main__":
    main()
