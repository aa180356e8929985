"""Standalone: semantic-dedup store probe cost vs STORE size with a
FIXED increment (VERDICT r12 directive #2's exponent evidence).

Builds the member store (the semdedup_store_sink on-disk layout: one
directory per batch, rows sorted by cell) at 1x and Nx corpus, then
times assigning + probing the SAME fixed 100-vector increment against
each via one batch of the sink. The store claim is 'probe cost ∝ batch
x cell occupancy, reads only the batch's cells via the pushed-down
cell filter' — t_probe should grow far sublinearly in store size
(occupancy per cell grows, page pruning holds; in production one
raises n_lists with the corpus so per-cell occupancy stays flat, the
SemDeDup contract).

Usage: python tools/semdedupstore_scale.py [sf_dir] [factor]
"""

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators.annstore import (
        lattice_centroids,
    )
    from ballista_extensions_spark.session import get_session
    from ballista_extensions_spark.streaming.storededup import (
        semdedup_store_sink,
    )

    spark = get_session("semdedupstore-scale")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    e = load_table(spark, sf, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    n = e.count()
    inc = e.filter(F.col("vec_id") % 50 == 0).limit(100).localCheckpoint()
    base = e.join(inc.select("vec_id"), "vec_id", "left_anti")
    cents = lattice_centroids(16, 64)

    def amplify(df, k):
        out = df
        for i in range(1, k):
            out = out.unionByName(
                df.withColumn("vec_id", F.col("vec_id") + F.lit(i * n))
            )
        return out.repartition(64).localCheckpoint()

    results = {}
    for scale in (1, factor):
        store_dir = f"/tmp/bx_semdedup_scale/{scale}"
        shutil.rmtree(store_dir, ignore_errors=True)
        os.makedirs(store_dir)
        fn = semdedup_store_sink(store_dir, cents, tau=0.4)
        corpus = amplify(base, scale)
        nc = corpus.count()
        fn(corpus, 0)  # store build — outside the timed window
        ts = []
        for rep in (1, 2):
            t0 = time.time()
            fn(inc, rep)  # probe + compact the FIXED increment
            ts.append(time.time() - t0)
        results[scale] = (nc, min(ts))

    n1, t1 = results[1]
    nf, tf = results[factor]
    expo = math.log(tf / t1) / math.log(nf / n1) if tf > t1 else 0.0
    print("| store size (vectors) | t_probe fixed 100-vec inc (s) |")
    print("|---|---|")
    print(f"| {n1} | {t1:.2f} |")
    print(f"| {nf} | {tf:.2f} |")
    print(f"# growth exponent vs store size: {expo:.2f} "
          f"(0 = flat, 1 = linear rescan)")


if __name__ == "__main__":
    main()
