"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas iterators.

The Spark-side machinery — schema, partition sizing, mapInPandas batch
shape, deterministic fakes — is real and tested. Heavyweight media
codecs (PIL/librosa/ffmpeg) are NOT in this container; ``decode_images``
accepts any decoder, and REAL pure-Python codecs ship in
``operators/imagecodec.py`` (BMP/PPM/PNG), ``jpegcodec.py``,
``audiocodec.py`` and ``videocodec.py``, exercised on real encoded bytes
by tests and the ``multimodal_decode_real`` query.
With no decoder given, ``fake=True`` selects a deterministic fake
(used by the stub-parity oracle query) and otherwise the ops raise
NotImplementedError at plan time.

Scale notes: media blobs make rows heavy — the ops repartition by blob
budget (`target_rows_per_batch`) and rely on
spark.sql.execution.arrow.maxRecordsPerBatch (set by the session factory)
to keep Arrow batches bounded; decode is embarrassingly parallel and
stays off the driver.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DECODED_IMAGE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("byte_len", LongType(), True),
        StructField("decode_error", StringType(), True),
    ]
)

# Decoder hook: (payload bytes) -> (width, height, channels). Installed by
# deployments that ship a real codec; None = not available.
_image_decoder: Callable[[bytes], tuple[int, int, int]] | None = None


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake: derives plausible dimensions from the payload
    bytes (stable across runs/engines). STUB — stands in for a codec the
    container doesn't ship."""
    n = len(payload)
    w = 16 + (n * 2654435761 % 1024)
    h = 16 + (n * 40503 % 768)
    return int(w), int(h), 3


def docs_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: expose the driver's documents table as media rows
    (media_id, kind, payload, mime, source_uri; payload = utf-8 bytes)
    so the multimodal plumbing is exercisable with real driver data."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.concat(F.lit("mem://doc/"), F.col("doc_id")).alias("source_uri"),
    )


def _tile(b: bytes, need: int, fill: bytes = b"\x00") -> bytes:
    """The shared tiling of the media fixtures: the first ``need``
    bytes of ``b`` repeated, or ``fill`` repeated when ``b`` is empty
    (n == 0 must yield a valid payload, matching the SQL oracles' n = 0
    branch, not a reshape crash)."""
    return (b * (need // len(b) + 1))[:need] if b else fill * need


def _pcm(tiled: bytes, channels: int) -> np.ndarray:
    """(frames, channels) int16 samples from bytes through the fixed
    affine (byte - 128) * 256 — the exact unsigned→int16 widening the
    8-bit WAV decode path uses, pure integer arithmetic a SQL oracle
    replays per sample. A fill of 0x80 maps to sample 0: TRUE silence
    (0x00 would be -32768 — full-scale DC, not silence)."""
    flat = np.frombuffer(tiled, dtype=np.uint8).astype(np.int16)
    return ((flat - 128) << 8).reshape(-1, channels)


def _doc_pixels(text: str) -> np.ndarray:
    """The image fixture's arithmetic: an (h, w, 3) uint8 image whose
    dimensions derive from the utf-8 byte length (w = 4 + n%29,
    h = 4 + n%23) and whose pixels tile the text bytes (zero-filled
    for empty text)."""
    b = text.encode("utf-8")
    n = len(b)
    w, h = 4 + n % 29, 4 + n % 23
    return np.frombuffer(_tile(b, w * h * 3), dtype=np.uint8).reshape(h, w, 3)


def _doc_frames(b: bytes) -> tuple[np.ndarray, int]:
    """The video fixture's arithmetic: (n_frames, h, w, 3) uint8 frames
    (w = 4 + n%9, h = 4 + n%7, n_frames = 3 + n%6) tiling the bytes in
    (frame, y, x, channel) row-major order, and us_per_frame = 40000 +
    n%3 * 20000."""
    n = len(b)
    w, h, nf = 4 + n % 9, 4 + n % 7, 3 + n % 6
    px = np.frombuffer(_tile(b, nf * h * w * 3), dtype=np.uint8)
    return px.reshape(nf, h, w, 3), 40000 + (n % 3) * 20000


def _png_fixture(text: str) -> bytes:
    from ballista_extensions_spark.operators.imagecodec import encode_png

    return encode_png(_doc_pixels(text))


def _bmp_fixture(text: str) -> bytes:
    from ballista_extensions_spark.operators.imagecodec import encode_bmp

    return encode_bmp(_doc_pixels(text))


def _jpeg_fixture(text: str) -> bytes:
    """Flat 8×8 blocks, bw = 1 + n%6 by bh = 1 + n%5, block (by, bx)
    holding text byte (by*bw + bx) mod n, under all-ones quantization
    tables."""
    from ballista_extensions_spark.operators.jpegcodec import encode_jpeg

    b = text.encode("utf-8")
    n = len(b)
    bw, bh = 1 + n % 6, 1 + n % 5
    vals = np.frombuffer(_tile(b, bw * bh), dtype=np.uint8).reshape(bh, bw)
    img = vals.repeat(8, axis=0).repeat(8, axis=1)
    ones = np.ones((8, 8), dtype=np.int32)
    return encode_jpeg(img, quant_tables=(ones, ones))


def _wav_fixture(text: str) -> bytes:
    """rate = 8000 + n%5 * 2000, channels = 1 + n%2, frames = 130 +
    n%391 samples through :func:`_pcm`; empty text is silence."""
    from ballista_extensions_spark.operators.audiocodec import encode_wav

    b = text.encode("utf-8")
    n = len(b)
    channels = 1 + n % 2
    tiled = _tile(b, (130 + n % 391) * channels, b"\x80")
    return encode_wav(_pcm(tiled, channels), 8000 + (n % 5) * 2000)


def _avi_fixture(text: str) -> bytes:
    from ballista_extensions_spark.operators.videocodec import encode_avi

    return encode_avi(*_doc_frames(text.encode("utf-8")))


def _av_fixture(text: str) -> bytes:
    """:func:`_doc_frames` video plus an audio track that continues the
    same tiling after the V = frames*h*w*3 video bytes (ch = 1 + n%2,
    rate = 8000 + n%5 * 2000, 130 + n%211 samples); empty text is black
    frames and silence."""
    from ballista_extensions_spark.operators.videocodec import encode_avi_av

    b = text.encode("utf-8")
    n = len(b)
    frames, uspf = _doc_frames(b)
    ch = 1 + n % 2
    tiled = _tile(b, frames.size + (130 + n % 211) * ch, b"\x80")
    audio = _pcm(tiled[frames.size :], ch)
    return encode_avi_av(frames, uspf, audio, 8000 + (n % 5) * 2000)


def _mixed_fixture(text: str) -> bytes:
    fixtures = (_png_fixture, _jpeg_fixture, _wav_fixture, _avi_fixture)
    return fixtures[len(text.encode("utf-8")) % 4](text)


def _docs_as_encoded_media(
    documents: DataFrame,
    fixture: Callable[[str], bytes],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The one encode body of the media adapters: (media_id, payload)
    with payload = ``fixture(text)`` per document, one Arrow-batched
    mapInPandas pass, distributed, same shape as the decode side
    (:func:`_decode_media`). ``carry`` names ``documents`` columns
    passed through the same Arrow pass and returned after
    ``(media_id, payload)`` with their input types."""

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [fixture(text) for text in pdf["text"]],
                    **{c: pdf[c] for c in carry},
                }
            )

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
        ]
        + [StructField(c, documents.schema[c].dataType) for c in carry]
    )
    return documents.select("doc_id", "text", *carry).mapInPandas(
        _encode, schema=schema
    )


def _decode_media(
    media: DataFrame,
    row: Callable[[bytes], tuple],
    schema: StructType | str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The one per-row decode body of the media operators: one
    Arrow-batched mapInPandas pass over ``(media_id, payload, *carry)``,
    no shuffle, no driver state. ``schema`` is the output: ``media_id``,
    ``decode_error``, the ``carry`` columns (passed through unchanged)
    and the value columns, which take ``row(payload bytes)``'s values
    in schema order. The quarantine: a NULL payload gives NULL values
    and ``"null payload"``, and any exception from ``row`` gives NULL
    values and its message (200 chars) — codec internals raise
    zlib.error/struct.error/numpy errors on hostile bytes, not only
    ValueError, and one bad row must surface in the column, never kill
    the batch. Each value column is an object Series of Python values,
    so an int column holding a NULL stays exact past 2^53 instead of
    becoming float64."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.fieldNames()
    fixed = ("media_id", "decode_error", *carry)
    values = [c for c in names if c not in fixed]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list[Any]] = {c: [] for c in values}
            errs: list[str | None] = []
            for payload in pdf["payload"]:
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    vals, err = row(bytes(payload)), None
                except Exception as e:  # noqa: BLE001 — per-row quarantine
                    vals, err = (None,) * len(values), str(e)[:200]
                for c, v in zip(values, vals):
                    cols[c].append(v)
                errs.append(err)
            out = {c: pd.Series(v, dtype=object) for c, v in cols.items()}
            out.update({c: pdf[c] for c in ("media_id", *carry)})
            out["decode_error"] = errs
            yield pd.DataFrame({c: out[c] for c in names})

    return media.select("media_id", "payload", *carry).mapInPandas(
        _decode, schema=schema
    )


def docs_png_dhash(documents: DataFrame) -> DataFrame:
    """Fused encode+fingerprint: ``image_dhash(docs_as_png_media(d))``
    in ONE mapInPandas pass — (doc) -> real PNG bytes -> real decode ->
    64-bit dHash, with the encoded payload never crossing the
    JVM↔Python boundary (guide §4.1: the chained form ships every PNG
    back to the JVM and out to a second Python worker purely to hash
    it). Bit-identical to the chain (the same PNG fixture, same
    dhash64 — A/B-verified equal at sf0.1); used by the streaming media
    replays where the chain runs once per micro-batch. Output schema
    matches image_dhash: (id, dhash)."""
    from ballista_extensions_spark.operators.imagecodec import dhash64

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                try:
                    hv = dhash64(_png_fixture(text))
                except Exception:  # noqa: BLE001 — quarantine, match
                    # image_dhash's corrupt-payload convention
                    hv = None
                ids.append(mid)
                hashes.append(hv)
            yield pd.DataFrame(
                {"id": ids, "dhash": pd.Series(hashes, dtype=object)}
            )

    return documents.select("doc_id", "text").mapInPandas(
        _fused, schema="id long, dhash long"
    )


def docs_as_bmp_media(documents: DataFrame) -> DataFrame:
    """Adapter producing REAL encoded image payloads from driver data:
    each document becomes a 24-bit BMP (operators/imagecodec.py encoder)
    of the :func:`_doc_pixels` tiling through the shared encode body
    (``_docs_as_encoded_media``) — deterministic, so a SQL oracle can
    predict the decoded metadata (byte_len = 54 + rowpad(3w)*h) while
    the payload is a genuine BMP the real decoder must parse."""
    return _docs_as_encoded_media(documents, _bmp_fixture)


def docs_as_png_media(
    documents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Adapter producing REAL PNG payloads from driver data — the PNG
    sibling of ``docs_as_bmp_media`` (same tiling, same shared body):
    genuine 8-bit color-type-2 PNGs (operators/imagecodec.py:encode_png
    — zlib container with stored-block DEFLATE, filter-0 scanlines,
    CRC'd chunks). The stored-block stream keeps the file size pure
    arithmetic, so a SQL oracle can predict the decoded metadata
    byte-for-byte while the payload is a spec-correct PNG the real
    decoder must parse (signature, IHDR, inflate, unfilter). ``carry``
    passes ``documents`` columns through the encode pass
    (:func:`_docs_as_encoded_media`)."""
    return _docs_as_encoded_media(documents, _png_fixture, carry)


def docs_as_jpeg_media(documents: DataFrame) -> DataFrame:
    """Adapter producing REAL baseline-JPEG payloads from driver data
    (operators/jpegcodec.py): each document becomes a grayscale image
    of FLAT 8×8 blocks — bw = 1 + n%6 by bh = 1 + n%5 blocks, block
    (by, bx) holding text byte (by*bw + bx) mod n — encoded with an
    ALL-ONES quantization table. Flat blocks are DC-only, and DC
    quantizes losslessly at step 1, so decode returns the block
    values EXACTLY (jpegcodec module docstring derivation) — which is
    what lets a SQL oracle predict decoded pixel sums arithmetically
    while the decoder does the full real work: marker parse, Huffman
    decode, dequantize, IDCT. The lossy general path is
    pytest-bounded instead (tests/test_jpegcodec.py)."""
    return _docs_as_encoded_media(documents, _jpeg_fixture)


def docs_as_wav_media(documents: DataFrame) -> DataFrame:
    """Adapter producing REAL audio payloads from driver data — the
    WAV sibling of ``docs_as_png_media``: each document becomes a
    genuine 16-bit PCM RIFF/WAVE file (operators/audiocodec.py:
    encode_wav) whose geometry derives arithmetically from the utf-8
    byte length (rate = 8000 + n%5 * 2000, channels = 1 + n%2,
    frames = 130 + n%391 — ≥130 frames so every one of the 65
    fingerprint windows is nonempty) and whose interleaved samples map
    the text bytes through the fixed affine (byte - 128) * 256 — the
    exact unsigned→int16 widening the 8-bit decode path uses, and
    pure integer arithmetic a SQL oracle replays per sample. Empty
    text yields silence, matching the oracles' n = 0 branch."""
    return _docs_as_encoded_media(documents, _wav_fixture)


def docs_as_avi_media(documents: DataFrame) -> DataFrame:
    """Adapter producing REAL video payloads from driver data — the
    AVI sibling of ``docs_as_wav_media``: each document becomes a
    genuine single-stream uncompressed AVI
    (operators/videocodec.py:encode_avi) whose geometry derives
    arithmetically from the utf-8 byte length (w = 4 + n%9,
    h = 4 + n%7, n_frames = 3 + n%6, us_per_frame = 40000 + n%3 *
    20000) and whose pixels tile the text bytes in (frame, y, x,
    channel) row-major order — pure integer arithmetic a SQL oracle
    replays per pixel. Empty text yields black frames, matching the
    oracles' n = 0 branch."""
    return _docs_as_encoded_media(documents, _avi_fixture)


def docs_as_av_media(documents: DataFrame) -> DataFrame:
    """Adapter producing TRUE A/V containers from driver data: each
    document becomes a two-stream interleaved AVI
    (operators/videocodec.py:encode_avi_av) whose video track uses the
    AVI fixture geometry (w = 4 + n%9, h = 4 + n%7, frames = 3 + n%6,
    us/frame = 40000 + n%3 * 20000; pixels tile text bytes) and whose
    audio track appends AFTER the video bytes in the same tiling —
    sample i (interleaved, ch = 1 + n%2, rate = 8000 + n%5 * 2000,
    n_samples = 130 + n%211) is (byte((V + i) % n) - 128) * 256 with
    V = frames*h*w*3 — so one generate_series oracle replays BOTH
    demuxed tracks. Empty text yields black frames + silence."""
    return _docs_as_encoded_media(documents, _av_fixture)


def docs_as_mixed_media(documents: DataFrame) -> DataFrame:
    """Adapter producing a MIXED-FORMAT corpus from driver data — what
    a real 100 TB multimodal table looks like: one binary column whose
    rows are different container formats. Document n%4 picks the
    format — 0 → PNG, 1 → baseline JPEG, 2 → WAV, 3 → AVI — and each
    row is EXACTLY its single-format sibling's fixture
    (docs_as_png_media / docs_as_jpeg_media / docs_as_wav_media /
    docs_as_avi_media), so every single-format oracle CTE reapplies
    unchanged under a CASE on n%4."""
    return _docs_as_encoded_media(documents, _mixed_fixture)


def detect_media_kind(payload_col: str = "payload"):
    """Column expression classifying a binary payload's container
    format by MAGIC BYTES — one SQL ``CASE`` comparing binary prefixes
    (``substring`` on binary against binary literals) inside
    whole-stage codegen, so a 100 TB mixed corpus is routed to
    per-format decoders WITHOUT a byte of Python in the detection path
    and without a hex string per row. Recognizes the in-repo codec
    family (png / jpeg / wav / avi / bmp / ppm); anything else,
    including a NULL or too-short payload, is 'unknown' — quarantine,
    don't guess."""
    p = payload_col
    riff = f"substring({p}, 1, 4) = X'52494646'"
    return F.expr(
        f"""CASE
        WHEN substring({p}, 1, 4) = X'89504E47' THEN 'png'
        WHEN substring({p}, 1, 2) = X'FFD8' THEN 'jpeg'
        WHEN {riff} AND substring({p}, 9, 4) = X'57415645' THEN 'wav'
        WHEN {riff} AND substring({p}, 9, 4) = X'41564920' THEN 'avi'
        WHEN substring({p}, 1, 2) = X'424D' THEN 'bmp'
        WHEN substring({p}, 1, 2) = X'5036' THEN 'ppm'
        ELSE 'unknown' END"""
    )


def mixed_decode_checksum(media: DataFrame) -> DataFrame:
    """Dispatch-decode a mixed-format corpus: sniff each payload's
    magic bytes, decode with the matching in-repo codec, and emit
    (media_id, kind, checksum, decode_error) — checksum is the
    modality's natural integer content proof (pixel sum for
    png/jpeg/bmp/ppm images and avi video; sum of squared samples for
    wav audio, whose signed samples would cancel in a plain sum). One
    Arrow-batched mapInPandas pass with per-row error isolation
    (:func:`_decode_media`) — the decode stage that follows
    :func:`detect_media_kind` routing in a production pipeline. No
    shuffle, no driver state."""

    def _one(payload: bytes) -> tuple[str, int]:
        if payload[:4] == b"\x89PNG" or payload[:2] in (b"BM", b"P6"):
            from ballista_extensions_spark.operators.imagecodec import (
                decode_to_array,
            )

            kind = (
                "png" if payload[:4] == b"\x89PNG"
                else "bmp" if payload[:2] == b"BM" else "ppm"
            )
            return kind, int(decode_to_array(payload).astype(np.int64).sum())
        if payload[:2] == b"\xff\xd8":
            from ballista_extensions_spark.operators.jpegcodec import (
                decode_jpeg_to_array,
            )

            return "jpeg", int(
                decode_jpeg_to_array(payload).astype(np.int64).sum()
            )
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            from ballista_extensions_spark.operators.audiocodec import (
                decode_wav,
            )

            s = decode_wav(payload)[0].astype(np.int64)
            return "wav", int((s * s).sum())
        if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            from ballista_extensions_spark.operators.videocodec import (
                decode_avi,
            )

            return "avi", int(decode_avi(payload)[0].astype(np.int64).sum())
        raise ValueError("unknown container format")

    return _decode_media(
        media,
        _one,
        "media_id long, kind string, checksum long, decode_error string",
    )


def decode_pixel_stats(
    df: DataFrame,
    to_array: Callable[[bytes], "object"],
) -> DataFrame:
    """Pixel-LEVEL decode statistics: (media_id, width, height,
    channels, pixel_sum, decode_error) where pixel_sum is the integer
    sum of every decoded sample — the cheap whole-image checksum that
    proves a decoder reconstructed actual pixels, not just headers
    (the metadata path ``decode_images`` never inflates payloads).
    Arrow-batched mapInPandas, no shuffle; failures surface per-row in
    the error column through the shared decode body
    (:func:`_decode_media`), same contract as decode_images."""

    def _stats(payload: bytes) -> tuple[int, int, int, int]:
        arr = to_array(payload)
        h, w, c = arr.shape
        return w, h, c, int(arr.astype("int64").sum())

    return _decode_media(
        df,
        _stats,
        "media_id long, width int, height int, channels int, "
        "pixel_sum long, decode_error string",
    )


def decode_images(
    df: DataFrame,
    *,
    fake: bool = False,
    decoder: Callable[[bytes], tuple[int, int, int]] | None = None,
) -> DataFrame:
    """Decode image payloads to (width, height, channels) metadata via
    mapInPandas (Arrow-batched; one python worker per partition, no
    driver involvement) through the shared decode body
    (:func:`_decode_media`); ``byte_len`` is the payload's length, set
    on a failed decode and NULL on a NULL payload.

    Decoder precedence: the explicit ``decoder`` argument, else the
    deterministic fake when ``fake=True`` (ALWAYS the fake — a
    globally installed codec must not silently change a query that
    promised fake semantics to its oracle), else the module's
    ``_image_decoder`` hook. With none of the three this raises
    NotImplementedError at *plan* time — fail fast, not per-task.
    A real pure-Python codec ships in ``operators/imagecodec.py``
    (pass ``decode_image`` as ``decoder=``).
    """
    if decoder is None:
        decoder = _fake_decode if fake else _image_decoder
    if decoder is None:
        raise NotImplementedError(
            "no image decoder installed in this container; pass "
            "decoder=... (operators/imagecodec.py:decode_image is one), set "
            "multimodal._image_decoder, or pass fake=True for the "
            "deterministic stub"
        )
    byte_len = F.length("payload").cast("long").alias("byte_len")
    return _decode_media(
        df.select("media_id", "payload", byte_len),
        decoder,
        DECODED_IMAGE_SCHEMA,
        carry=("byte_len",),
    )
