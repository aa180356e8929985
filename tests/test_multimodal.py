"""Multimodal plumbing tests: schema, mapInPandas batch shape, stub
gating, deterministic fakes, frame-sampling fan-out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ballista_extensions_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark, documents):
    return M.docs_as_media(documents.limit(50))


def test_media_schema(media):
    assert media.schema == M.MEDIA_SCHEMA or set(media.columns) == {
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
        [(1, "image", None, None, None)], schema=M.MEDIA_SCHEMA
    )
    row = M.decode_images(df, fake=True).collect()[0]
    assert row.decode_error == "null payload"
    assert row.width is None


def test_decode_error_column_not_task_failure(spark):
    M.set_image_decoder(lambda b: (_ for _ in ()).throw(ValueError("boom")))
    try:
        df = spark.createDataFrame(
            [(1, "image", b"xx", None, None)], schema=M.MEDIA_SCHEMA
        )
        row = M.decode_images(df).collect()[0]
        assert "boom" in row.decode_error
    finally:
        M._image_decoder = None  # restore stub state


def test_installed_decoder_used(spark):
    M.set_image_decoder(lambda b: (len(b), len(b) * 2, 1))
    try:
        df = spark.createDataFrame(
            [(7, "image", b"abcd", None, None)], schema=M.MEDIA_SCHEMA
        )
        row = M.decode_images(df).collect()[0]
        assert (row.width, row.height, row.channels) == (4, 8, 1)
    finally:
        M._image_decoder = None


def test_frame_sampling_bounded(media):
    frames = M.sample_frames(media, every_n_bytes=64, max_frames=5)
    per_media = (
        frames.groupBy("media_id").count().select(F.max("count")).collect()[0][0]
    )
    assert per_media <= 5
    row = frames.filter(F.col("frame_no") == 1).first()
    assert row.offset == 64


def test_resize_images_plumbing(spark, sf_dir):
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_media,
        resize_images,
    )

    media = docs_as_media(load_table(spark, sf_dir, "documents"))
    out = resize_images(media, 64, 48, fake=True)
    rows = out.collect()
    assert len(rows) == media.count()
    for r in rows[:20]:
        assert (r.width, r.height) == (64, 48)
        assert r.byte_len == len(r.payload)
        # fake header encodes the dims — deterministic contract
        assert int.from_bytes(bytes(r.payload[:8]), "big") == 64
    # gate: without a real resizer, fake=False fails at plan time
    import pytest as _pt

    with _pt.raises(NotImplementedError):
        resize_images(media, 64, 48)


def test_extract_features_feeds_ann(spark, sf_dir):
    """Fake-embedded media flows straight into the exact ANN operator
    (schema-compatible with the embeddings table)."""
    from pyspark.sql import functions as F
    from ballista_extensions_spark.io import load_table
    from ballista_extensions_spark.operators.multimodal import (
        docs_as_media,
        extract_features,
    )
    from ballista_extensions_spark.operators.similarity import (
        brute_force_topk,
    )

    media = docs_as_media(load_table(spark, sf_dir, "documents"))
    emb = extract_features(media, dim=16, fake=True)
    a = {r.vec_id: r.embedding for r in emb.collect()}
    b = {r.vec_id: r.embedding for r in extract_features(media, dim=16, fake=True).collect()}
    assert a == b  # deterministic
    assert all(len(v) == 16 for v in a.values())
    topk = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5
    )
    got = topk.groupBy("q_id").count().collect()
    assert all(r["count"] == 5 for r in got)


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
    for enc in (C.encode_bmp, C.encode_ppm):
        b = enc(px)
        assert C.decode_image(b) == (7, 13, 3)
        assert (C.decode_to_array(b) == px).all()
    assert len(C.encode_bmp(px)) == C.bmp_file_size(7, 13)
    for bad in (b"JFIF....", b"BM\x00", b"P6\n4 4\n255\n" + b"\x00" * 3):
        with _pt.raises(ValueError):
            C.decode_image(bad)


def test_imagecodec_real_resize_and_features():
    """resize_nearest and grid_features operate on DECODED PIXELS:
    resizing a 2x-upscaled image back down reproduces the original
    exactly (nearest-neighbor on exact multiples), and grid features
    equal the per-quadrant means computed independently."""
    import numpy as np

    from ballista_extensions_spark.operators import imagecodec as C

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(8, 6, 3), dtype=np.uint8)
    up = C.resize_nearest(C.encode_bmp(px), 12, 16)
    assert C.decode_image(up) == (12, 16, 3)
    back = C.decode_to_array(C.resize_nearest(up, 6, 8))
    assert (back == px).all()
    feats = C.grid_features(C.encode_ppm(px), grid=2)
    gray = px.astype(np.float64).mean(axis=2)
    expect = [
        gray[0:4, 0:3].mean() / 255.0,
        gray[0:4, 3:6].mean() / 255.0,
        gray[4:8, 0:3].mean() / 255.0,
        gray[4:8, 3:6].mean() / 255.0,
    ]
    assert feats == _pytest_approx(expect)


def _pytest_approx(x):
    import pytest as _pt

    return _pt.approx(x, rel=1e-12)


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
        [(99, "image", b"JFIF not a bmp", None, None)], schema=M.MEDIA_SCHEMA
    )
    row = M.decode_images(bad, decoder=C.decode_image).collect()[0]
    assert row.decode_error is not None and row.width is None


def test_install_wires_all_hooks(spark):
    """imagecodec.install() upgrades all three multimodal hooks to the
    real codec; resize + features then run real pixel math through the
    Spark ops."""
    from ballista_extensions_spark.operators import imagecodec as C

    C.install()
    try:
        import numpy as np

        px = np.full((10, 10, 3), 128, dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, "image", C.encode_bmp(px), "image/bmp", None)],
            schema=M.MEDIA_SCHEMA,
        )
        r = M.decode_images(df).collect()[0]
        assert (r.width, r.height, r.channels) == (10, 10, 3)
        rz = M.resize_images(df, 5, 5).collect()[0]
        assert (rz.width, rz.height) == (5, 5)
        assert C.decode_image(bytes(rz.payload)) == (5, 5, 3)
        emb = M.extract_features(df).collect()[0]
        # array<float> column: float32 rounding, not exact float64
        import pytest as _pt

        assert emb.embedding == _pt.approx([128.0 / 255.0] * 16, rel=1e-6)
        # fake=True still means the FAKE even with a real codec installed
        # (oracle queries depend on it)
        fk = M.decode_images(df, fake=True).collect()[0]
        assert fk.width == 16 + C.bmp_file_size(10, 10) * 2654435761 % 1024
    finally:
        M._image_decoder = None
        M._image_resizer = None
        M._feature_extractor = None


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
        assert len(C.encode_png(px)) == C.png_file_size(
            shape[1], shape[0], ch
        )
    # multi-block stored stream (raw > 65535 bytes)
    big = rng.integers(0, 256, size=(160, 160, 3), dtype=np.uint8)
    bb = C.encode_png(big)
    assert len(bb) == C.png_file_size(160, 160, 3)
    assert (C.decode_png_to_array(bb) == big).all()


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
        assert r.byte_len == C.png_file_size(w, h, 3)
        assert r.decode_error is None


def test_png_resize_and_features_through_hooks(spark):
    """install() handles PNG payloads end-to-end: resize keeps the PNG
    container and real pixel content; grid features see the decoded
    pixels (solid color -> constant vector)."""
    import numpy as np
    import pytest as _pt

    from ballista_extensions_spark.operators import imagecodec as C

    C.install()
    try:
        px = np.full((12, 8, 3), 64, dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, "image", C.encode_png(px), "image/png", None)],
            schema=M.MEDIA_SCHEMA,
        )
        r = M.decode_images(df).collect()[0]
        assert (r.width, r.height, r.channels) == (8, 12, 3)
        rz = M.resize_images(df, 4, 6).collect()[0]
        assert bytes(rz.payload)[:8] == b"\x89PNG\r\n\x1a\n"
        assert C.decode_image(bytes(rz.payload)) == (4, 6, 3)
        emb = M.extract_features(df).collect()[0]
        assert emb.embedding == _pt.approx([64.0 / 255.0] * 16, rel=1e-6)
    finally:
        M._image_decoder = None
        M._image_resizer = None
        M._feature_extractor = None


def test_detect_media_kind_jvm_side(spark):
    """Magic-byte sniffing classifies every in-repo container format
    plus unknowns, entirely with built-in expressions (no UDF node in
    the plan)."""
    import numpy as np

    from ballista_extensions_spark.operators.audiocodec import encode_wav
    from ballista_extensions_spark.operators.imagecodec import (
        encode_bmp,
        encode_png,
        encode_ppm,
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
