"""Multimodal plumbing tests: schema, mapInPandas batch shape, stub
gating, deterministic fakes, and the real codecs on encoded bytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ballista_extensions_spark.operators import multimodal as M
from ballista_extensions_spark.operators.imagecodec import _ZLIB_STORED_MAX

#: The media row ``docs_as_media`` produces: opaque payload + typed
#: metadata; also the schema of the hand-built frames below.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("source_uri", StringType(), True),
    ]
)


def encode_ppm(pixels) -> bytes:
    """Fixture encoder: (h, w, 3) uint8 RGB as binary PPM (P6), or
    (h, w) as PGM (P5)."""
    h, w = pixels.shape[:2]
    magic = b"P5" if pixels.ndim == 2 else b"P6"
    return magic + b"\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def png_file_size(width: int, height: int, channels: int = 3) -> int:
    """Exact size of a filter-0 file from ``imagecodec.encode_png``, the
    arithmetic the multimodal_decode_png oracle predicts in SQL:
    raw = height * (1 filter byte + width*channels); file = 8 sig
    + 25 IHDR + 12 IDAT overhead + (2 zlib hdr + raw + 5 per stored
    block + 4 adler) + 12 IEND."""
    raw = height * (1 + width * channels)
    n_blocks = max(1, (raw + _ZLIB_STORED_MAX - 1) // _ZLIB_STORED_MAX)
    return 8 + 25 + 12 + (2 + raw + 5 * n_blocks + 4) + 12


@pytest.fixture(scope="module")
def media(spark, documents):
    return M.docs_as_media(documents.limit(50))


def test_media_schema(media):
    assert media.schema == MEDIA_SCHEMA or set(media.columns) == {
        "media_id",
        "kind",
        "payload",
        "mime",
        "source_uri",
    }


def test_decode_requires_decoder(media):
    with pytest.raises(NotImplementedError, match="decoder"):
        M.decode_images(media)  # no codec in this container, fake not requested


def test_decode_fake_deterministic(media):
    a = {r.media_id: (r.width, r.height, r.channels) for r in M.decode_images(media, fake=True).collect()}
    b = {r.media_id: (r.width, r.height, r.channels) for r in M.decode_images(media, fake=True).collect()}
    assert a == b
    assert len(a) == 50
    assert all(w >= 16 and h >= 16 and c == 3 for (w, h, c) in a.values())


def test_decode_handles_null_payload(spark):
    df = spark.createDataFrame(
        [(1, "image", None, None, None)], schema=MEDIA_SCHEMA
    )
    row = M.decode_images(df, fake=True).collect()[0]
    assert row.decode_error == "null payload"
    assert row.width is None


def test_decode_error_column_not_task_failure(spark):
    df = spark.createDataFrame(
        [(1, "image", b"xx", None, None)], schema=MEDIA_SCHEMA
    )
    row = M.decode_images(
        df, decoder=lambda b: (_ for _ in ()).throw(ValueError("boom"))
    ).collect()[0]
    assert "boom" in row.decode_error


def test_installed_decoder_used(spark):
    """The module-level decoder serves calls without ``decoder=``;
    ``fake=True`` still means the fake (oracle queries depend on it)."""
    M._image_decoder = lambda b: (len(b), len(b) * 2, 1)
    try:
        df = spark.createDataFrame(
            [(7, "image", b"abcd", None, None)], schema=MEDIA_SCHEMA
        )
        row = M.decode_images(df).collect()[0]
        assert (row.width, row.height, row.channels) == (4, 8, 1)
        fake = M.decode_images(df, fake=True).collect()[0]
        assert (fake.width, fake.height, fake.channels) == M._fake_decode(b"abcd")
    finally:
        M._image_decoder = None


# ---- real codec (operators/imagecodec.py) on real encoded bytes ----


def test_imagecodec_golden_fixtures():
    """Hand-assembled BMP/PPM/PGM byte fixtures with known dimensions
    decode correctly — the decoder reads real container headers, not a
    fake. The BMP fixture is built field-by-field from the public spec
    (not via our own encoder) so encoder bugs can't mask decoder bugs."""
    import struct

    from ballista_extensions_spark.operators import imagecodec as C

    w, h = 3, 2  # row stride = 12 (9 bytes + 3 pad)
    px = bytes(range(9)) + b"\x00" * 3 + bytes(range(9, 18)) + b"\x00" * 3
    bmp = (
        struct.pack("<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 0, 0, 0, 0)
        + px
    )
    assert C.decode_image(bmp) == (3, 2, 3)
    assert C.decode_image(b"P6\n# comment\n4 5\n255\n" + b"\x01" * 60) == (4, 5, 3)
    assert C.decode_image(b"P5 7 3 255 " + b"\x02" * 21) == (7, 3, 1)
    arr = C.decode_to_array(bmp)
    assert arr.shape == (2, 3, 3)
    # bottom-up + BGR: file's FIRST row is the image's LAST; pixel 0 of
    # that row is bytes (0,1,2) = BGR -> RGB (2,1,0)
    assert tuple(arr[1, 0]) == (2, 1, 0)
    assert tuple(arr[0, 0]) == (11, 10, 9)


def test_imagecodec_roundtrip_and_errors():
    import numpy as np
    import pytest as _pt

    from ballista_extensions_spark.operators import imagecodec as C

    rng = np.random.default_rng(42)
    px = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)
    for enc in (C.encode_bmp, encode_ppm):
        b = enc(px)
        assert C.decode_image(b) == (7, 13, 3)
        assert (C.decode_to_array(b) == px).all()
    assert len(C.encode_bmp(px)) == C.bmp_file_size(7, 13)
    for bad in (b"JFIF....", b"BM\x00", b"P6\n4 4\n255\n" + b"\x00" * 3):
        with _pt.raises(ValueError):
            C.decode_image(bad)


def test_real_decode_through_spark(spark, documents):
    """The full distributed loop on real bytes: encode genuine BMPs from
    document text (mapInPandas), decode them with the real codec
    (mapInPandas), and check every row against Python-side arithmetic —
    plus corrupt payloads landing in the error column, not failing the
    task."""
    from ballista_extensions_spark.operators import imagecodec as C

    docs = documents.limit(40)
    media = M.docs_as_bmp_media(docs)
    got = {
        r.media_id: r
        for r in M.decode_images(media, decoder=C.decode_image).collect()
    }
    for doc in docs.select("doc_id", "text").collect():
        n = len(doc.text.encode("utf-8"))
        w, h = 4 + n % 29, 4 + n % 23
        r = got[doc.doc_id]
        assert (r.width, r.height, r.channels) == (w, h, 3)
        assert r.byte_len == C.bmp_file_size(w, h)
        assert r.decode_error is None
    bad = spark.createDataFrame(
        [(99, "image", b"JFIF not a bmp", None, None)], schema=MEDIA_SCHEMA
    )
    row = M.decode_images(bad, decoder=C.decode_image).collect()[0]
    assert row.decode_error is not None and row.width is None


def test_png_golden_fixture():
    """A PNG assembled field-by-field from the public spec (struct-packed
    chunks, stdlib zlib.compress IDAT — NOT our encoder, and NOT our
    stored-block deflate) decodes to known pixels: decoder bugs can't be
    masked by encoder symmetry, and a real dynamic-huffman zlib stream
    is proven to inflate."""
    import struct
    import zlib

    import numpy as np

    from ballista_extensions_spark.operators import imagecodec as C

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    # 2x2 RGB, filter 0 rows: (10,20,30)(40,50,60) / (70,80,90)(5,6,7)
    scan = bytes([0, 10, 20, 30, 40, 50, 60, 0, 70, 80, 90, 5, 6, 7])
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scan, 9))
        + chunk(b"IEND", b"")
    )
    assert C.decode_image(png) == (2, 2, 3)
    arr = C.decode_to_array(png)
    assert arr.shape == (2, 2, 3)
    assert tuple(arr[0, 0]) == (10, 20, 30)
    assert tuple(arr[1, 1]) == (5, 6, 7)
    # gray (color 0) replicates to RGB; RGBA (color 6) drops alpha
    gray = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes([0, 9, 200])))
        + chunk(b"IEND", b"")
    )
    assert C.decode_image(gray) == (2, 1, 1)
    assert tuple(C.decode_to_array(gray)[0, 0]) == (9, 9, 9)
    rgba_scan = bytes([0, 1, 2, 3, 255, 4, 5, 6, 128])
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(rgba_scan))
        + chunk(b"IEND", b"")
    )
    assert C.decode_image(rgba) == (2, 1, 4)
    out = C.decode_to_array(rgba)
    assert out.shape == (1, 2, 3)
    assert tuple(out[0, 1]) == (4, 5, 6)
    assert isinstance(arr, np.ndarray)


def test_png_all_filters_roundtrip_and_size():
    """Every PNG filter type (0-4 plus the per-row cycling mode) survives
    encode->decode bit-exactly for gray/gray+alpha/RGB/RGBA, and the
    filter-0 stored-block file size matches png_file_size exactly
    (the arithmetic the multimodal_decode_png oracle predicts)."""
    import numpy as np

    from ballista_extensions_spark.operators import imagecodec as C

    rng = np.random.default_rng(99)
    for shape in [(9, 5), (6, 4, 2), (7, 11, 3), (5, 3, 4)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        want = px if px.ndim == 3 else px[:, :, None]
        for ft in (0, 1, 2, 3, 4, None):
            b = C.encode_png(px, filter_type=ft)
            assert (C.decode_png_to_array(b) == want).all(), (shape, ft)
        ch = 1 if px.ndim == 2 else shape[2]
        assert len(C.encode_png(px)) == png_file_size(
            shape[1], shape[0], ch
        )
    # multi-block stored stream (raw > 65535 bytes)
    big = rng.integers(0, 256, size=(160, 160, 3), dtype=np.uint8)
    bb = C.encode_png(big)
    assert len(bb) == png_file_size(160, 160, 3)
    assert (C.decode_png_to_array(bb) == big).all()


def test_png_filter0_matches_per_row_encoding():
    """Filter 0 writes its scanlines in one array operation; the file is
    byte-for-byte the one the per-row pass (``_png_filter_row`` with
    filter 0 on every row) builds, for every channel count, a 1x1
    image, a multi-block stored stream, a non-contiguous view and the
    media adapters' own tiling."""
    import struct

    import numpy as np

    from ballista_extensions_spark.operators import imagecodec as C

    def per_row(pixels):
        px = pixels if pixels.ndim == 3 else pixels[:, :, None]
        h, w, ch = px.shape
        raw = bytearray()
        prev = np.zeros(w * ch, dtype=np.uint8)
        for y in range(h):
            line = np.ascontiguousarray(px[y]).reshape(w * ch)
            raw.append(0)
            raw += C._png_filter_row(line, prev, ch, 0).tobytes()
            prev = line
        color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (
            C._PNG_SIG
            + C._png_chunk(b"IHDR", ihdr)
            + C._png_chunk(b"IDAT", C._zlib_stored(bytes(raw)))
            + C._png_chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(7)
    shapes = [(1, 1), (1, 1, 3), (9, 5), (6, 4, 2), (7, 11, 3), (5, 3, 4),
              (160, 160, 3)]
    images = [rng.integers(0, 256, size=s, dtype=np.uint8) for s in shapes]
    images.append(images[4][:, ::-1])  # non-contiguous view
    images += [M._doc_pixels(t) for t in ("", "a", "näive " * 40)]
    for px in images:
        assert C.encode_png(px) == per_row(px), px.shape


def test_png_error_paths():
    """Malformed PNGs raise ValueError (-> decode_error column), never
    crash the task: truncated header, bad depth/color, interlaced,
    missing IDAT, truncated pixel stream, bad filter byte."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pt

    from ballista_extensions_spark.operators import imagecodec as C

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ok = C.encode_png(np.zeros((3, 3, 3), dtype=np.uint8))
    cases = [
        sig + b"\x00" * 10,  # truncated header
        ok[:40],  # truncated mid-chunk
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)),
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)),
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)),
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IEND", b""),  # no IDAT
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes([0, 1, 2, 3])))
        + chunk(b"IEND", b""),  # truncated pixels
        sig
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes([9, 1, 2, 3])))
        + chunk(b"IEND", b""),  # filter byte 9
    ]
    for bad in cases:
        with _pt.raises(ValueError):
            C.decode_png_to_array(bad)


def test_png_decode_through_spark(spark, documents):
    """The PNG sibling of the BMP distributed loop: encode genuine PNGs
    from document text, decode with the real reader, verify every row
    against png_file_size arithmetic — the same parity the
    multimodal_decode_png oracle asserts in SQL."""
    from ballista_extensions_spark.operators import imagecodec as C

    docs = documents.limit(40)
    media = M.docs_as_png_media(docs)
    got = {
        r.media_id: r
        for r in M.decode_images(media, decoder=C.decode_image).collect()
    }
    for doc in docs.select("doc_id", "text").collect():
        n = len(doc.text.encode("utf-8"))
        w, h = 4 + n % 29, 4 + n % 23
        r = got[doc.doc_id]
        assert (r.width, r.height, r.channels) == (w, h, 3)
        assert r.byte_len == png_file_size(w, h, 3)
        assert r.decode_error is None


def test_detect_media_kind_jvm_side(spark):
    """Magic-byte sniffing classifies every in-repo container format
    plus unknowns, entirely with built-in expressions (no UDF node in
    the plan)."""
    import numpy as np

    from ballista_extensions_spark.operators.audiocodec import encode_wav
    from ballista_extensions_spark.operators.imagecodec import (
        encode_bmp,
        encode_png,
    )
    from ballista_extensions_spark.operators.jpegcodec import encode_jpeg
    from ballista_extensions_spark.operators.multimodal import (
        detect_media_kind,
    )
    from ballista_extensions_spark.operators.videocodec import encode_avi

    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    rows = [
        (1, bytearray(encode_png(px))),
        (2, bytearray(encode_jpeg(px[:, :, 0].repeat(2, 0).repeat(2, 1)))),
        (3, bytearray(encode_wav(np.zeros((10, 1), np.int16), 8000))),
        (4, bytearray(encode_avi(px[None, :, :, :], 40000))),
        (5, bytearray(encode_bmp(px))),
        (6, bytearray(encode_ppm(px))),
        (7, bytearray(b"GIF89a-not-supported")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = df.select(
        "media_id", detect_media_kind("payload").alias("kind")
    )
    got = {r["media_id"]: r["kind"] for r in out.collect()}
    assert got == {1: "png", 2: "jpeg", 3: "wav", 4: "avi",
                   5: "bmp", 6: "ppm", 7: "unknown"}
    # detection is JVM-only: no Python evaluation node in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ArrowEval" not in plan


def test_mixed_decode_checksum_dispatch_and_errors(spark):
    """Every format routes to its own decoder with the right content
    checksum; unknown/null payloads land in decode_error, never crash
    the batch."""
    import numpy as np

    from ballista_extensions_spark.operators.audiocodec import encode_wav
    from ballista_extensions_spark.operators.imagecodec import encode_png
    from ballista_extensions_spark.operators.jpegcodec import encode_jpeg
    from ballista_extensions_spark.operators.multimodal import (
        mixed_decode_checksum,
    )
    from ballista_extensions_spark.operators.videocodec import encode_avi

    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    gray = np.full((8, 8), 7, dtype=np.uint8)
    ones = np.ones((8, 8), dtype=np.int32)
    samples = np.array([[256], [-512]], dtype=np.int16)
    vid = np.stack([px, px + 100])
    rows = [
        (1, bytearray(encode_png(px))),
        (2, bytearray(encode_jpeg(gray, quant_tables=(ones, ones)))),
        (3, bytearray(encode_wav(samples, 8000))),
        (4, bytearray(encode_avi(vid, 40000))),
        (5, bytearray(b"GIF89a-nope")),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in mixed_decode_checksum(df).collect()}
    assert (got[1]["kind"], got[1]["checksum"]) == ("png", int(px.sum()))
    assert (got[2]["kind"], got[2]["checksum"]) == ("jpeg", 64 * 7)
    assert (got[3]["kind"], got[3]["checksum"]) == (
        "wav", 256 * 256 + 512 * 512
    )
    assert (got[4]["kind"], got[4]["checksum"]) == (
        "avi", int(vid.astype(np.int64).sum())
    )
    for bad in (5, 6):
        assert got[bad]["kind"] is None
        assert got[bad]["decode_error"] is not None


def test_docs_as_mixed_media_matches_single_format_adapters(spark, documents):
    """Row n%4 == k of the mixed corpus is byte-identical to what the
    k-th single-format adapter would emit for the same document — the
    invariant that lets the single-format oracle CTEs replay under a
    CASE."""
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_avi_media,
        docs_as_jpeg_media,
        docs_as_mixed_media,
        docs_as_png_media,
        docs_as_wav_media,
    )
    from pyspark.sql import functions as F

    docs = documents.limit(40).cache()
    mixed = {r["media_id"]: bytes(r["payload"])
             for r in docs_as_mixed_media(docs).collect()}
    singles = {}
    for k, adapter in enumerate(
        (docs_as_png_media, docs_as_jpeg_media,
         docs_as_wav_media, docs_as_avi_media)
    ):
        sub = docs.filter(F.length(F.encode("text", "UTF-8")) % 4 == k)
        for r in adapter(sub).collect():
            singles[r["media_id"]] = bytes(r["payload"])
    assert set(mixed) == set(singles)
    assert all(mixed[m] == singles[m] for m in mixed)


def test_topdown_bmp_decodes_unflipped():
    """Regression: negative biHeight means top-down row order; the
    pixel decode must honor the sign instead of mirroring the image."""
    import struct

    import numpy as np

    from ballista_extensions_spark.operators.imagecodec import (
        decode_to_array,
        encode_bmp,
    )

    px = np.arange(60, dtype=np.uint8).reshape(5, 4, 3)
    up = bytearray(encode_bmp(px))
    # rewrite as top-down: negate biHeight and reverse the row order of
    # the pixel data in place
    off = struct.unpack_from("<I", bytes(up), 10)[0]
    h, w = 5, 4
    row = (3 * w + 3) & ~3
    struct.pack_into("<i", up, 22, -h)
    body = bytes(up[off:])
    rows = [body[y * row : (y + 1) * row] for y in range(h)]
    up[off:] = b"".join(reversed(rows))
    assert np.array_equal(decode_to_array(bytes(up)), px)


def test_curation_funnel_is_one_lazy_pipeline(spark, sf_dir, documents):
    """The funnel is one SQL execution: building it submits no job, no
    frame is checkpointed, and each codec pass appears once."""
    from ballista_extensions_spark.queries.analytics14 import (
        multimodal_curation_funnel,
    )

    sc = spark.sparkContext
    sc.setJobGroup("funnel-shape", "multimodal_curation_funnel plan shape")
    try:
        df = multimodal_curation_funnel(spark, sf_dir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts post async
        assert list(sc.statusTracker().getJobIdsForGroup("funnel-shape")) == []
        assert df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    qe = df._jdf.queryExecution()
    logical = qe.optimizedPlan().toString()
    final = qe.executedPlan().executedPlan().toString()  # AQE's final plan
    assert "isFinalPlan=true" in qe.executedPlan().toString()
    for plan in (logical, final):
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan
    assert final.count("MapInPandas") == 2


@pytest.mark.parametrize(
    "query,jobs",
    [("multimodal_curation_funnel", 4), ("bpe_tokenize_4k_vocab", 3)],
)
def test_curation_job_budget(spark, sf_dir, query, jobs):
    """Building and collecting each curation query submits a fixed
    number of jobs: one round-robin exchange on the Python branch, the
    map stages of its exchanges, and one result job. The bounded final
    sort runs in one task, so no range-partitioning sample or exchange
    is planned, and the funnel joins nothing back."""
    from ballista_extensions_spark.queries import get_queries

    sc = spark.sparkContext
    sc.setJobGroup(f"{query}-budget", f"{query} job budget")
    try:
        df = get_queries()[query](spark, sf_dir)
        assert df.collect()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts post async
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ids = list(sc.statusTracker().getJobIdsForGroup(f"{query}-budget"))
    assert len(ids) == jobs, ids
    qe = df._jdf.queryExecution()
    assert "isFinalPlan=true" in qe.executedPlan().toString()
    final = qe.executedPlan().executedPlan().toString()  # AQE's final plan
    assert "rangepartitioning" not in final.lower()
    if query == "multimodal_curation_funnel":
        assert "Join" not in final
        assert final.count("RoundRobinPartitioning") <= 1


def test_png_media_and_dhash_carry_columns(spark, documents):
    """``carry`` returns the named columns with their input types and
    the values a join back on the id gives; without it both passes
    keep their schemas."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from ballista_extensions_spark.operators.imagedup import image_dhash

    d = documents.filter(F.col("text").isNotNull()).withColumn(
        "n_bytes", F.length(F.encode("text", "UTF-8"))
    )
    carry = ("source", "n_chars", "n_bytes")
    assert [d.schema[c].dataType.simpleString() for c in carry] == [
        "string", "bigint", "int",
    ]
    plain_png = M.docs_as_png_media(d)
    assert plain_png.schema == StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    png = M.docs_as_png_media(d, carry=carry)
    assert png.columns == ["media_id", "payload", *carry]
    plain = image_dhash(plain_png)
    assert plain.schema == StructType(
        [StructField("id", LongType()), StructField("dhash", LongType())]
    )
    got = image_dhash(png, carry=carry)
    assert got.columns == ["id", "dhash", *carry]
    for frame in (png, got):
        for c in carry:
            assert frame.schema[c].dataType == d.schema[c].dataType
    back = d.select(F.col("doc_id").alias("media_id"), *carry)
    want_png = plain_png.join(back, "media_id")
    want_png = want_png.select(*png.columns)
    assert sorted(png.collect()) == sorted(want_png.collect())
    want = plain.join(back.withColumnRenamed("media_id", "id"), "id")
    assert sorted(got.collect()) == sorted(want.select(*got.columns).collect())


def test_dhash_carry_keeps_corrupt_rows(spark):
    """An undecodable payload yields a NULL dHash and keeps its carried
    values."""
    import numpy as np

    from ballista_extensions_spark.operators.imagecodec import encode_png
    from ballista_extensions_spark.operators.imagedup import image_dhash

    good = encode_png(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
    bad = bytearray(good)
    bad[40] ^= 0xFF  # bit-flip inside IDAT -> zlib.error
    media = spark.createDataFrame(
        [(1, bytearray(good), "a", 10, 7), (2, bad, "b", 20, None)],
        "media_id long, payload binary, s string, n long, k int",
    )
    got = {
        r["id"]: r
        for r in image_dhash(media, carry=("s", "n", "k")).collect()
    }
    assert got[1]["dhash"] is not None
    assert (got[1]["s"], got[1]["n"], got[1]["k"]) == ("a", 10, 7)
    assert got[2]["dhash"] is None
    assert (got[2]["s"], got[2]["n"], got[2]["k"]) == ("b", 20, None)


def _hex_media_kind(p: str):
    """The former form of ``detect_media_kind``: hex strings of the
    payload's prefixes, kept as the reference of its CASE form."""

    def _hex(pos: int, length: int):
        return F.hex(F.expr(f"substring({p}, {pos}, {length})"))

    riff = _hex(1, 4) == "52494646"
    return (
        F.when(_hex(1, 4) == "89504E47", "png")
        .when(_hex(1, 2) == "FFD8", "jpeg")
        .when(riff & (_hex(9, 4) == "57415645"), "wav")
        .when(riff & (_hex(9, 4) == "41564920"), "avi")
        .when(_hex(1, 2) == "424D", "bmp")
        .when(_hex(1, 2) == "5036", "ppm")
        .otherwise("unknown")
    )


def test_detect_media_kind_equals_hex_form(spark):
    """The binary-prefix CASE classifies every payload as the hex form
    did: each magic prefix, RIFF without WAVE or AVI, 0- to 3-byte
    payloads, NULL and random bytes."""
    import random

    rng = random.Random(8)
    magic = [
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8\xff\xe0",
        b"RIFF\x24\x00\x00\x00WAVEfmt ",
        b"RIFF\x24\x00\x00\x00AVI LIST",
        b"BM\x36\x00",
        b"P6\n4 4\n255\n",
    ]

    def noise(n: int) -> bytes:
        return bytes(rng.randrange(256) for _ in range(n))

    payloads = [m + noise(8) for m in magic] + magic
    payloads += [m[:k] for m in magic for k in range(4)]  # 0 to 3 bytes
    payloads += [b"RIFF\0\0\0\0WAVX", b"RIFF\0\0\0\0AVI", b"RIFF"]
    payloads += [noise(rng.randrange(12)) for _ in range(300)]
    rows = [(i, bytearray(p)) for i, p in enumerate(payloads)] + [(-1, None)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = df.select(
        "media_id",
        M.detect_media_kind("payload").alias("new"),
        _hex_media_kind("payload").alias("old"),
    ).collect()
    assert [r for r in got if r["new"] != r["old"]] == []
    kinds = {r["new"] for r in got}
    assert kinds == {"png", "jpeg", "wav", "avi", "bmp", "ppm", "unknown"}
    assert {r["media_id"]: r["new"] for r in got}[-1] == "unknown"
    schema = df.select(M.detect_media_kind("payload").alias("k")).schema
    assert schema == df.select(_hex_media_kind("payload").alias("k")).schema


def _quarantine_cases():
    """(operator, good payload, output simpleString, non-null columns)
    for every decode operator under the per-row quarantine contract."""
    import numpy as np

    from ballista_extensions_spark.operators import audiocodec as A
    from ballista_extensions_spark.operators import imagecodec as I
    from ballista_extensions_spark.operators import videocodec as V

    px = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    frames = np.stack([px, px + 100, px + 50])
    samples = ((np.arange(260, dtype=np.int16) % 7) - 3).reshape(130, 2) * 999
    png = I.encode_png(px)
    wav = A.encode_wav(samples, 8000)
    return [
        (A.audio_meta_stats, wav,
         "media_id:bigint,sample_rate:int,channels:int,n_frames:int,"
         "duration_ms:bigint,peak_abs:bigint,sumsq:bigint,"
         "zero_crossings:bigint,decode_error:string", set()),
        (A.audio_resample_stats, wav,
         "media_id:bigint,out_frames:int,out_sumsq:bigint,"
         "decode_error:string", set()),
        (V.video_meta_stats, V.encode_avi(frames, 40000),
         "media_id:bigint,width:int,height:int,n_frames:int,"
         "us_per_frame:bigint,duration_ms:bigint,pixel_sum:bigint,"
         "decode_error:string", set()),
        (V.av_demux_stats, V.encode_avi_av(frames, 40000, samples, 8000),
         "media_id:bigint,width:int,height:int,n_frames:int,"
         "pixel_sum:bigint,channels:int,sample_rate:int,n_samples:int,"
         "audio_sumsq:bigint,decode_error:string", set()),
        (M.mixed_decode_checksum, png,
         "media_id:bigint,kind:string,checksum:bigint,decode_error:string",
         set()),
        (lambda m: M.decode_pixel_stats(m, I.decode_to_array), png,
         "media_id:bigint,width:int,height:int,channels:int,"
         "pixel_sum:bigint,decode_error:string", set()),
        (lambda m: M.decode_images(m, decoder=I.decode_image), png,
         "media_id:bigint,width:int,height:int,channels:int,"
         "byte_len:bigint,decode_error:string", {"media_id"}),
    ]


@pytest.mark.parametrize("case", range(7))
def test_decode_operators_quarantine_bad_rows(spark, case):
    """Every decode operator quarantines per row: a NULL payload gives
    ``"null payload"`` and NULL values, a truncated payload gives NULL
    values and an error, the good rows beside them in the same Arrow
    batch decode as they do alone, and the output schema (types and
    nullability) is fixed. ``decode_images`` keeps ``byte_len`` on a
    failed decode."""
    op, good, ddl, non_null = _quarantine_cases()[case]
    bad = good[:20]
    frame = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(bad)), (3, None),
         (4, bytearray(good))],
        "media_id long, payload binary",
    ).coalesce(1)
    out = op(frame)
    assert out.schema.simpleString() == f"struct<{ddl}>"
    assert {f.name for f in out.schema if not f.nullable} == non_null
    got = {r["media_id"]: r.asDict() for r in out.collect()}
    alone = op(frame.filter("media_id = 1")).collect()[0].asDict()
    values = [c for c in out.columns
              if c not in ("media_id", "decode_error", "byte_len")]
    assert alone["decode_error"] is None
    assert all(alone[c] is not None for c in values)
    assert got[1] == alone and got[4] == {**alone, "media_id": 4}
    assert got[2]["decode_error"] is not None
    assert got[3]["decode_error"] == "null payload"
    for mid in (2, 3):
        assert all(got[mid][c] is None for c in values), got[mid]
    if "byte_len" in out.columns:
        assert got[2]["byte_len"] == len(bad)
        assert got[3]["byte_len"] is None


def test_decode_body_keeps_bigints_exact_beside_null_rows(spark):
    """A value column that holds a NULL beside an int past 2^53 in the
    same Arrow batch keeps the int exact; a float64 column would round
    it."""
    df = spark.createDataFrame(
        [(1, bytearray(b"x")), (2, None), (3, bytearray(b"y"))],
        "media_id long, payload binary",
    ).coalesce(1)
    out = M._decode_media(
        df,
        lambda b: (2**60 + len(b) if b == b"x" else None,),
        "media_id long, v long, decode_error string",
    )
    got = {r["media_id"]: (r["v"], r["decode_error"]) for r in out.collect()}
    assert got == {1: (2**60 + 1, None), 2: (None, "null payload"),
                   3: (None, None)}
