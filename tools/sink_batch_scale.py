"""Standalone: streaming sinks' PER-BATCH cost vs BATCH SIZE
(VERDICT r15 directive #7). The store probes are measured flat vs
STORE size (sigstore_scale / phashstore_scale / semdedupstore_scale /
annstore_scale); this closes the other axis — how one micro-batch's
cost grows with the batch itself, for the four restart-survivable
sinks:

- sigstore_dedup_sink   (text MinHash store, foreachBatch)
- phash_store_dedup_sink (media perceptual-hash store, foreachBatch)
- semdedup_store_sink    (vector SemDeDup store, foreachBatch)
- first_occurrence_sink  (exact first occurrence per key, foreachBatch)

Protocol mirrors the scale_smoke tables: sf0.1 base, min-of-2 per
size, exponent = ln(t_big/t_small)/ln(size_big/size_small). Batches
are DISJOINT REAL document/vector slices (1% of the corpus vs ~99%),
not stamped copies — stamped copies would manufacture 100-member
duplicate clusters and measure an adversarial quadratic inside the
verify stage rather than batch-size scaling. Each foreachBatch fn is
invoked directly as batch_id=1 against a store seeded by a committed
batch 0 (the sinks' own redelivery idempotence makes repeat
invocations of batch 1 valid).

Usage: python tools/sink_batch_scale.py [sf_dir] [sink ...]
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.session import get_session

    spark = get_session("sink-batch-scale")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding"
    )
    seed_d = docs.filter(F.col("doc_id") % 100 == 0).localCheckpoint()
    small_d = docs.filter(F.col("doc_id") % 100 == 1).localCheckpoint()
    big_d = docs.filter(F.col("doc_id") % 100 != 0).localCheckpoint()
    seed_v = emb.filter(F.col("vec_id") % 100 == 0).localCheckpoint()
    small_v = emb.filter(F.col("vec_id") % 100 == 1).localCheckpoint()
    big_v = emb.filter(F.col("vec_id") % 100 != 0).localCheckpoint()
    sizes = {
        "d": (small_d.count(), big_d.count()),
        "v": (small_v.count(), big_v.count()),
    }
    print(
        f"# batches: docs {sizes['d'][0]} -> {sizes['d'][1]}, "
        f"vectors {sizes['v'][0]} -> {sizes['v'][1]}",
        file=sys.stderr,
    )

    root = tempfile.mkdtemp(prefix="sink_batch_scale_")

    def timed(fn, reset, reps: int = 2) -> float:
        # each rep runs against the SAME store state: the store dir is
        # restored from its post-seed snapshot before every rep, so
        # rep 2 never re-deletes rep 1's __batch_id=1 directories or
        # probes a differently-laid-out tree — min-of-reps measures
        # identical work (ADVICE r16)
        ts = []
        for _ in range(reps):
            reset()
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
        return min(ts)

    def run_foreach(name, make_sink, seed, small, big):
        d = os.path.join(root, name)
        snap = os.path.join(root, name + ".snap")
        sink = make_sink(d)
        sink(seed, 0)  # committed batch 0 seeds the store (untimed)
        shutil.copytree(d, snap)

        def reset():
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(snap, d)

        t_small = timed(lambda: sink(small, 1), reset)
        t_big = timed(lambda: sink(big, 1), reset)
        return t_small, t_big

    def _hash_media(d):
        from ballista_extensions_spark.operators.imagedup import (
            image_dhash,
        )
        from ballista_extensions_spark.operators.multimodal import (
            docs_as_png_media,
        )

        return image_dhash(docs_as_png_media(d)).select(
            "id", F.col("dhash")
        ).localCheckpoint()

    def sig_sink():
        from ballista_extensions_spark.streaming.storededup import (
            sigstore_dedup_sink,
        )

        return run_foreach(
            "sig",
            lambda p: sigstore_dedup_sink(p),
            seed_d, small_d, big_d,
        ) + ("d",)

    def phash_sink():
        from ballista_extensions_spark.streaming.storededup import (
            phash_store_dedup_sink,
        )

        # the sink contract is (id, dhash): hashing happens upstream
        # (its own batch-size curve is the multimodal smoke table)
        return run_foreach(
            "phash",
            lambda p: phash_store_dedup_sink(p),
            _hash_media(seed_d), _hash_media(small_d),
            _hash_media(big_d),
        ) + ("d",)

    def sem_sink():
        from ballista_extensions_spark.operators.annstore import (
            lattice_centroids,
        )
        from ballista_extensions_spark.streaming.storededup import (
            semdedup_store_sink,
        )

        cents = lattice_centroids(16, 64)
        return run_foreach(
            "sem",
            lambda p: semdedup_store_sink(p, cents, tau=0.4),
            seed_v, small_v, big_v,
        ) + ("v",)

    def first_occ():
        from ballista_extensions_spark.streaming.sinks import (
            first_occurrence_sink,
        )

        def keyed(d):
            return d.select("doc_id", F.md5("text").alias("key"))

        return run_foreach(
            "first",
            lambda p: first_occurrence_sink(p, "key", "doc_id"),
            keyed(seed_d), keyed(small_d), keyed(big_d),
        ) + ("d",)

    sinks = {
        "sigstore_dedup_sink": sig_sink,
        "phash_store_dedup_sink": phash_sink,
        "semdedup_store_sink": sem_sink,
        "first_occurrence_sink": first_occ,
    }
    print("| sink | t_small (s) | t_big (s) | exponent |")
    print("|---|---|---|---|")
    try:
        for name, fn in sinks.items():
            if only and name not in only:
                continue
            try:
                t_small, t_big, kind = fn()
                n_small, n_big = sizes[kind]
                exp = math.log(t_big / t_small) / math.log(
                    n_big / n_small
                )
                print(
                    f"| {name} | {t_small:.2f} | {t_big:.2f} "
                    f"| {exp:.2f} |"
                )
            except Exception as e:  # noqa: BLE001
                print(
                    f"| {name} | ERROR {type(e).__name__}: "
                    f"{str(e)[:200]} | | |"
                )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
