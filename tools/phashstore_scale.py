"""Standalone: perceptual-hash store probe cost vs STORE size with a
FIXED increment.

Builds the phash store at 1x and Nx corpus (store materialized via
eager localCheckpoint, outside the timed window), then times hashing +
probing the SAME fixed 250-doc media increment against each. The
store claim is 'per-increment cost never rescans the corpus': the
store side of both probe joins is pre-bucketed (plan-asserted in
tests/test_phashstore.py), so t_probe should grow far sublinearly in
store size.

Usage: python tools/phashstore_scale.py [sf_dir] [factor]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators import phashstore as PS
    from ballista_extensions_spark.operators.imagedup import image_dhash
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_png_media,
    )
    from ballista_extensions_spark.session import get_session

    spark = get_session("phashstore-scale")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    docs = load_table(spark, sf, "documents")
    n = docs.count()
    inc_docs = docs.filter(F.col("doc_id") % 20 == 0).limit(250)
    inc_docs = inc_docs.localCheckpoint()
    base = docs.join(inc_docs.select("doc_id"), "doc_id", "left_anti")

    def hash_media(d):
        return image_dhash(docs_as_png_media(d), id_col="media_id")

    def amplify(df, k):
        out = df
        for i in range(1, k):
            out = out.unionByName(
                df.withColumn("doc_id", F.col("doc_id") + F.lit(i * n))
            )
        return out.repartition(64).localCheckpoint()

    results = {}
    for scale in (1, factor):
        corpus_hashes = hash_media(amplify(base, scale)).localCheckpoint()
        nc = corpus_hashes.count()
        store = PS.build_phash_store(corpus_hashes, bands=8)
        store = PS.PHashStore(
            members=store.members.localCheckpoint(),
            banded=store.banded.localCheckpoint(),
            bands=store.bands,
        )
        ts = []
        for _ in range(2):
            t0 = time.time()
            inc_hashes = hash_media(inc_docs)
            PS.probe_phash_store(store, inc_hashes, threshold=6).count()
            ts.append(time.time() - t0)
        results[scale] = (nc, min(ts))

    n1, t1 = results[1]
    nf, tf = results[factor]
    import math

    expo = math.log(tf / t1) / math.log(nf / n1) if tf > t1 else 0.0
    print("| store size (items) | t_probe fixed 250-doc inc (s) |")
    print("|---|---|")
    print(f"| {n1} | {t1:.2f} |")
    print(f"| {nf} | {tf:.2f} |")
    print(f"# growth exponent vs store size: {expo:.2f} "
          f"(0 = flat, 1 = linear rescan)")


if __name__ == "__main__":
    main()
