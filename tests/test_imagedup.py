"""Perceptual-hash image near-dup (operators/imagedup.py +
imagecodec.dhash64): hash properties (container independence,
exact invariance under integer nearest upscaling), the pigeonhole
recall guarantee of the banded Hamming join, and the undecodable-row
contract."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.operators import imagecodec as C
from ballista_extensions_spark.operators.imagedup import (
    image_dhash,
    phash_near_dup_pairs,
)
from test_multimodal import encode_ppm


def _img(seed: int, h: int = 13, w: int = 17) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_dhash_container_independent():
    """The hash sees decoded pixels: the same image as BMP, PPM and
    PNG (all five PNG filters) hashes identically."""
    px = _img(7)
    hs = {
        C.dhash64(C.encode_bmp(px)),
        C.dhash64(encode_ppm(px)),
        C.dhash64(C.encode_png(px)),
        C.dhash64(C.encode_png(px, filter_type=4)),
        C.dhash64(C.encode_png(px, filter_type=None)),
    }
    assert len(hs) == 1


def test_dhash_exact_under_integer_nearest_upscale():
    """dHash's nearest 9×8 sampling is EXACTLY invariant under
    integer-factor nearest upscaling: ((y*k*h)//8)//k == (y*h)//8."""
    px = _img(11, h=9, w=14)
    base = C.dhash64(C.encode_png(px))
    for k in (2, 3):
        up = px.repeat(k, axis=0).repeat(k, axis=1)
        assert C.dhash64(C.encode_png(up)) == base


def test_dhash_differs_across_images_and_is_signed_long():
    a = C.dhash64(C.encode_png(_img(1)))
    b = C.dhash64(C.encode_png(_img(2)))
    assert a != b
    for v in (a, b):
        assert -(1 << 63) <= v < (1 << 63)


def test_banded_pairs_equal_bruteforce(spark):
    """Pigeonhole recall: banded candidates + exact verification must
    equal the corpus² brute force for every threshold < bands."""
    rng = np.random.default_rng(42)
    base = rng.integers(-(1 << 62), 1 << 62, size=40, dtype=np.int64)
    # plant near-dups at controlled distances 0..7
    rows = [(i, int(h)) for i, h in enumerate(base)]
    for d in range(8):
        h = int(base[d])
        for bit in rng.choice(64, size=d, replace=False):
            h ^= 1 << int(bit)
            if h >= 1 << 63:
                h -= 1 << 64
        rows.append((100 + d, int(h)))
    df = spark.createDataFrame(rows, "id long, dhash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in phash_near_dup_pairs(df, threshold=6, bands=8).collect()
    }
    want = set()
    by_id = dict(rows)
    ids = sorted(by_id)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1")
            if d <= 6:
                want.add((a, b, d))
    assert got == want
    # the planted distance-0..6 pairs are all present
    assert all((d, 100 + d, d) in want or d > 6 for d in range(8))


def test_threshold_must_stay_below_bands():
    import pandas as pd  # noqa: F401

    with pytest.raises(ValueError, match="pigeonhole"):
        phash_near_dup_pairs(None, threshold=8, bands=8)
    with pytest.raises(ValueError, match="divide"):
        phash_near_dup_pairs(None, threshold=3, bands=7)


def test_undecodable_payload_yields_null_and_never_pairs(spark):
    good = C.encode_png(_img(5))
    rows = [(1, bytearray(good)), (2, bytearray(b"not an image")),
            (3, bytearray(good))]
    # one partition: the NULL shares its Arrow batch with both hashes,
    # which must still come back exact (no float64 round trip)
    media = spark.createDataFrame(
        rows, "media_id long, payload binary"
    ).coalesce(1)
    hashed = image_dhash(media)
    got = {r["id"]: r["dhash"] for r in hashed.collect()}
    assert got[2] is None and got[1] == got[3] == C.dhash64(good)
    pairs = phash_near_dup_pairs(hashed, threshold=6, bands=8).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in pairs} == {
        (1, 3, 0)
    }


def test_phash_cross_dup_pairs_matches_brute_force(spark):
    """Cross-corpus banded join equals the |L|x|R| brute force at
    recall 1.0; shared items pair (not self-suppressed); NULL hashes
    and invalid banding are rejected."""
    import pytest

    from ballista_extensions_spark.operators.imagedup import (
        phash_cross_dup_pairs,
    )

    lh = [(1, 0), (2, 0b111), (3, -1), (4, None)]
    rh = [(10, 0), (11, 0b1111111), (12, -1), (13, 1 << 40)]
    left = spark.createDataFrame(lh, "id long, dhash long")
    right = spark.createDataFrame(rh, "id long, dhash long")
    got = {
        (r["left_id"], r["right_id"]): r["hamming"]
        for r in phash_cross_dup_pairs(
            left, right, threshold=6, bands=8
        ).collect()
    }
    want = {}
    for li, lv in lh:
        for ri, rv in rh:
            if lv is None or rv is None:
                continue
            hm = bin((lv ^ rv) & ((1 << 64) - 1)).count("1")
            if hm <= 6:
                want[(li, ri)] = hm
    assert got == want
    assert (1, 10) in got and got[(1, 10)] == 0  # same hash across corpora
    assert all(k[0] != 4 and k[1] != 13 or k in want for k in got)
    with pytest.raises(ValueError, match="pigeonhole"):
        phash_cross_dup_pairs(left, right, threshold=8, bands=8)
    with pytest.raises(ValueError, match="divide"):
        phash_cross_dup_pairs(left, right, threshold=3, bands=7)


def test_corrupt_payloads_quarantined_not_crash(spark):
    """Regression: codec internals raise zlib.error/struct.error on
    corrupt bytes (not just ValueError) — image_dhash must surface
    those rows as NULL dhash, never kill the job."""
    import numpy as np

    from ballista_extensions_spark.operators.imagecodec import encode_png
    from ballista_extensions_spark.operators.imagedup import image_dhash

    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    good = encode_png(px)
    corrupt_png = bytearray(good)
    corrupt_png[40] ^= 0xFF  # bit-flip inside IDAT -> zlib.error
    rows = [
        (1, bytearray(good)),
        (2, corrupt_png),
        (3, bytearray(b"\xff\xd8\xff\xc0\x00\x02")),  # JPEG SOF len<6
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["id"]: r["dhash"] for r in image_dhash(media).collect()}
    assert got[1] is not None
    assert got[2] is None and got[3] is None


def test_hot_bucket_candidates_scale_with_distinct_hashes(spark):
    """VERDICT r10 #4 adversarial case: a degenerate population (one
    hash shared by thousands of members — all-black frames) must cost
    the banded join ∝ DISTINCT hashes, not member count². Proven two
    ways: (a) the banded-join input is exactly n_distinct × bands rows,
    (b) pair output over a 2000-member hot group + 500 distinct
    singletons is exact: C(2000,2) hamming-0 pairs plus the planted
    near pairs, with no duplicates."""
    from ballista_extensions_spark.operators.imagedup import (
        _band_slices,
        _near_hash_pairs,
        _validate_banding,
    )

    hot = -(1 << 62) + 12345
    near = hot ^ (1 << 3) ^ (1 << 40)  # hamming 2 from hot
    rows = [(i, hot) for i in range(2000)]
    rows.append((2000, near))
    # 500 singletons: random 64-bit hashes are pairwise ~hamming-32,
    # verified below to be > threshold from each other and from hot
    rng = np.random.default_rng(99)
    singles = [int(v) for v in
               rng.integers(-(1 << 63), 1 << 63, size=500, dtype=np.int64)]
    allv = singles + [hot, near]
    assert all(
        bin((a ^ b) & ((1 << 64) - 1)).count("1") > 6
        for i, a in enumerate(singles) for b in allv[i + 1:]
        if a != b and not (a == near and b == hot)
    )
    rows += [(3000 + i, v) for i, v in enumerate(singles)]
    df = spark.createDataFrame(rows, "id long, dhash long")

    width, mask = _validate_banding(6, 8)
    distinct = df.select(F.col("dhash").alias("h")).distinct()
    n_distinct = distinct.count()
    assert n_distinct == 502
    # (a) banded join input ∝ distinct hashes
    assert _band_slices(distinct, width, mask, 8).count() == n_distinct * 8
    hp = _near_hash_pairs(distinct, 6, width, mask, 8).collect()
    assert {(r["ha"], r["hb"]) for r in hp} == {
        (min(hot, near), max(hot, near))
    }
    # (b) full pair output is exact
    pairs = phash_near_dup_pairs(df, threshold=6, bands=8)
    agg = pairs.groupBy("hamming").count().collect()
    got = {r["hamming"]: r["count"] for r in agg}
    assert got[0] == 2000 * 1999 // 2
    assert got[2] == 2000  # near pairs: `near` against every hot member
    assert set(got) == {0, 2}
    assert pairs.count() == pairs.distinct().count()


def test_fused_docs_png_dhash_matches_chain(spark, documents):
    """docs_png_dhash (r17 fused encode+hash, one Python pass) must be
    bit-identical to the image_dhash(docs_as_png_media(...)) chain it
    replaces in the streaming media replays — same tiling, same PNG
    encoder, same hasher, payload just never re-crosses the JVM↔Python
    boundary."""
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_png_media,
        docs_png_dhash,
    )

    d = documents.select("doc_id", "text").limit(200)
    chain = sorted(
        (r["id"], r["dhash"])
        for r in image_dhash(docs_as_png_media(d)).collect()
    )
    fused = sorted(
        (r["id"], r["dhash"]) for r in docs_png_dhash(d).collect()
    )
    assert fused == chain and len(fused) > 0


def test_decode_pass_runs_once_across_concurrent_builds(spark):
    """_members materializes the expensive decode+hash pass at call
    time, so the pair query's concurrent broadcast-build jobs only read
    checkpointed blocks (a lazy checkpoint's block-cache get-or-compute
    does NOT dedup across concurrent jobs: job-profiled at sf0.1, three
    equal 1.6 s x 32-task jobs on audio_near_dup_energy). An
    accumulator-counting hasher shows (a) exactly one hash per payload
    for the full pair query and (b) that _members alone hashes every
    payload once before any action runs, and its result's actions hash
    none again."""
    from ballista_extensions_spark.operators.imagedup import _members

    calls = spark.sparkContext.accumulator(0)

    def counting_hasher(payload: bytes) -> int:
        calls.add(1)
        return C.dhash64(payload)

    rng = np.random.default_rng(11)
    rows = [(i, C.encode_bmp(_img(int(s)))) for i, s in
            enumerate(rng.integers(0, 1 << 30, size=64))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    hashes = image_dhash(media, hasher=counting_hasher)
    # (a) end-to-end, each payload is decoded+hashed exactly once
    pairs = phash_near_dup_pairs(hashes, threshold=6, bands=8)
    pairs.write.format("noop").mode("overwrite").save()
    assert calls.value == len(rows)
    # (b) the decode runs inside the _members call, and only there
    members = _members(hashes, "id", "dhash")
    assert calls.value == 2 * len(rows)
    assert members.count() == len(rows)
    members.join(members, "h").write.format("noop").mode("overwrite").save()
    assert calls.value == 2 * len(rows)
