"""Standalone: ANN-store ingest cost vs STORE size with a FIXED
increment (the BASELINE.md evidence for operators/annstore.py).

Builds the persisted cell-partitioned index at 1x and Nx corpus, then
times ingest (assign + append) of the SAME fixed 250-vector increment
against each. Ingest never reads the store — it appends the
increment's assigned rows into the existing cell directories — so
t_ingest should be FLAT in store size (exponent ~0). Also reports the
probe-scan fraction: bytes of files under the probed cells vs the
whole store (the inverted-file read reduction, ~n_probe/n_lists).
"""

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators import annstore as A
    from ballista_extensions_spark.session import get_session

    spark = get_session("annstore-scale")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    e = load_table(spark, sf, "embeddings")
    n = e.count()
    increment = (
        e.filter(F.col("vec_id") % 20 == 0).limit(250).localCheckpoint()
    )
    base = e.join(increment.select("vec_id"), "vec_id", "left_anti")
    cents = A.lattice_centroids(8, 64)

    def amplify(df, k):
        out = df
        for i in range(1, k):
            out = out.unionByName(
                df.withColumn("vec_id", F.col("vec_id") + F.lit(i * n))
            )
        return out.repartition(64)

    results = {}
    for scale in (1, factor):
        prefix = f"annscale_{scale}"
        for t in (f"{prefix}_assign", f"{prefix}_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        idx = A.build_ann_index(
            amplify(base, scale), cents, table_prefix=prefix
        )
        nc = idx.assignments.count()
        ts = []
        for _ in range(2):
            t0 = time.time()
            A.ingest_into_index(idx, increment)
            ts.append(time.time() - t0)
        # probe-scan fraction: bytes under 2 probed cells vs all cells
        all_files = idx.assignments.inputFiles()
        probed_files = idx.assignments.filter(
            F.col("cell").isin([0, 1])
        ).inputFiles()

        def _sz(files):
            return sum(
                os.path.getsize(f.replace("file:", "")) for f in files
            )

        frac = _sz(probed_files) / max(1, _sz(all_files))
        results[scale] = (nc, min(ts), frac)
        print(
            f"# store {nc} vectors: ingest of fixed 250-vec increment "
            f"min-of-2 = {min(ts):.2f}s; probe-scan fraction (2/8 "
            f"cells) = {frac:.2f}",
            file=sys.stderr,
        )
        for t in (f"{prefix}_assign", f"{prefix}_centroids"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    t1, tN = results[1][1], results[factor][1]
    print(
        f"| annstore_ingest_fixed_increment | {t1:.2f} | {tN:.2f} | "
        f"{math.log(tN / t1) / math.log(factor):.2f} |"
    )
    print(
        f"# probe-scan fraction at {factor}x: {results[factor][2]:.2f} "
        f"(full scan would be 1.00)"
    )


if __name__ == "__main__":
    main()
