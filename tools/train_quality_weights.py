"""Offline trainer for the frozen quality-classifier weights
(operators/qualityclassifier.py — VERDICT r12 directive #3).

DCLM/CCNet-style distillation: a hashed bag-of-words LOGISTIC
REGRESSION is fit to reproduce a rule-based quality signal — here the
Gopher/C4 stopword-density heuristic (docs whose stopword fraction is
below the corpus median are low-quality) — so the gate becomes ONE
broadcast weight array + a per-token hash instead of a rule cascade.
Fully deterministic: zero init, full-batch gradient descent, fixed
iteration count and learning rate; the same corpus always yields the
same weights, which is what lets
tests/test_qualityclassifier.py::test_frozen_weights_reproduce pin the
shipped constants to this script's output on sf0.01.

Usage: python tools/train_quality_weights.py [sf_dir]
Prints the frozen constants (weights rounded to 6 decimals — the
rounding is part of the contract; both engines compare the identical
literals).
"""

from __future__ import annotations

import re
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ballista_extensions_spark.operators.qualityclassifier import (  # noqa: E402
    BASE,
    N_FEATURES,
    PRIME,
    STOPWORDS,
    hash_token,
)


def featurize(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """tf-mean hashed features + stopword-median labels."""
    xs = np.zeros((len(texts), N_FEATURES))
    fracs = np.zeros(len(texts))
    for i, text in enumerate(texts):
        words = [
            w
            for w in re.sub(r"[^a-zA-Z0-9]+", "#", text or "")
            .lower()
            .split("#")
            if w
        ]
        if not words:
            continue
        for w in words:
            xs[i, hash_token(w)] += 1.0
        fracs[i] = sum(1 for w in words if w in STOPWORDS) / len(words)
        xs[i] /= len(words)
    ys = (fracs >= np.median(fracs)).astype(np.float64)
    return xs, ys


def train(xs: np.ndarray, ys: np.ndarray, *, iters: int = 2000,
          lr: float = 8.0) -> tuple[np.ndarray, float]:
    w = np.zeros(xs.shape[1])
    b = 0.0
    n = len(ys)
    for _ in range(iters):
        z = xs @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - ys
        w -= lr * (xs.T @ g) / n
        b -= lr * g.mean()
    return w, b


def main() -> None:
    import duckdb

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM read_parquet('{sf}/documents.parquet') "
            "ORDER BY doc_id"
        ).fetchall()
    ]
    xs, ys = featurize(texts)
    w, b = train(xs, ys)
    w = np.round(w, 6)
    b = round(float(b), 6)
    acc = float((((xs @ w + b) >= 0) == (ys == 1.0)).mean())
    print(f"# train accuracy vs stopword-median label: {acc:.3f}")
    print(f"FROZEN_QUALITY_BIAS = {b!r}")
    print(f"# hash: poly base={BASE} mod {PRIME} -> mod {N_FEATURES}")
    vals = ", ".join(repr(float(v)) for v in w)
    print(f"FROZEN_QUALITY_WEIGHTS = ({vals})")


if __name__ == "__main__":
    main()
