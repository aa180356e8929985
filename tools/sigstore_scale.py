"""Standalone: ingest cost vs STORE size with a FIXED increment.

Builds the signature store at 1x and 10x corpus (store materialized
via eager localCheckpoint, outside the timed window), then times
batch-sign + ingest of the SAME fixed 250-doc increment against each.
The sigstore claim is 'per-increment cost never rescans the corpus':
no store-side shuffle (plan-asserted in tests); the store-side scan is
sequential IO, so t_ingest should grow far sublinearly in store size.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators import sigstore as SS
    from ballista_extensions_spark.session import get_session

    spark = get_session("sigstore-scale")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    docs = load_table(spark, sf, "documents")
    n = docs.count()
    increment = docs.filter(F.col("doc_id") % 20 == 0).limit(250)
    increment = increment.localCheckpoint()
    base = docs.join(increment.select("doc_id"), "doc_id", "left_anti")

    def amplify(df, k):
        out = df
        for i in range(1, k):
            out = out.unionByName(
                df.withColumn("doc_id", F.col("doc_id") + F.lit(i * n))
            )
        return out.repartition(64).localCheckpoint()

    results = {}
    for scale in (1, factor):
        corpus = amplify(base, scale)
        nc = corpus.count()
        store = SS.build_signature_store(corpus, max_df=100 * scale)
        # materialize the store OUTSIDE the timed window (it is a
        # write-once artifact in production)
        store = SS.SignatureStore(
            bands=store.bands.localCheckpoint(),
            sets=store.sets.localCheckpoint(),
            stop=store.stop.localCheckpoint(),
        )
        ts = []
        for _ in range(2):
            t0 = time.time()
            sig = SS.batch_signatures(store, increment)
            SS.ingest_against_store(store, sig, threshold=0.35).count()
            ts.append(time.time() - t0)
        results[scale] = (nc, min(ts))
        print(
            f"# store {nc} docs: ingest of fixed 250-doc increment "
            f"min-of-2 = {min(ts):.2f}s",
            file=sys.stderr,
        )
    import math

    t1, tN = results[1][1], results[factor][1]
    print(
        f"| sigstore_ingest_fixed_increment | {t1:.2f} | {tN:.2f} | "
        f"{math.log(tN / t1) / math.log(factor):.2f} |"
    )


if __name__ == "__main__":
    main()
