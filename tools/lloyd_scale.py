"""Standalone: distributed Lloyd refinement cost vs corpus size
(VERDICT r12 directive #5's exponent evidence).

One refinement iteration is one assign pass + one groupBy(cell) with
dim AVG aggregates (map-side combined) + one churn pass — cost should
be ~linear in corpus size (it IS the full-corpus pass, run once or
twice after sampled k-means), with driver state fixed at k x dim
doubles however large the corpus.

Usage: python tools/lloyd_scale.py [sf_dir] [factor]
"""

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators.annstore import (
        refine_centroids_distributed,
        train_centroids,
    )
    from ballista_extensions_spark.session import get_session

    spark = get_session("lloyd-scale")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    e = load_table(spark, sf, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    n = e.count()

    def amplify(df, k):
        out = df
        for i in range(1, k):
            out = out.unionByName(
                df.withColumn("vec_id", F.col("vec_id") + F.lit(i * n))
            )
        return out.repartition(64).localCheckpoint()

    results = {}
    for scale in (1, factor):
        corpus = amplify(e, scale)
        nc = corpus.count()
        cents = train_centroids(corpus, 16, seed=42)  # sampled, untimed
        ts = []
        for _ in range(2):
            t0 = time.time()
            refine_centroids_distributed(corpus, cents, iters=1)
            ts.append(time.time() - t0)
        results[scale] = (nc, min(ts))

    n1, t1 = results[1]
    nf, tf = results[factor]
    expo = math.log(tf / t1) / math.log(nf / n1) if tf > t1 else 0.0
    print("| corpus (vectors) | t_refine 1 Lloyd iter (s) |")
    print("|---|---|")
    print(f"| {n1} | {t1:.2f} |")
    print(f"| {nf} | {tf:.2f} |")
    print(f"# growth exponent vs corpus: {expo:.2f} "
          f"(1 = linear full-corpus pass; driver state fixed k x dim)")


if __name__ == "__main__":
    main()
