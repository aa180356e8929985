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


def _doc_pixels(text: str):
    """The shared tiling arithmetic of the media adapters: an
    (h, w, 3) uint8 image whose dimensions derive from the utf-8 byte
    length (w = 4 + n%29, h = 4 + n%23) and whose pixels tile the
    text bytes (zero-padded for empty text — n == 0 must yield a
    valid 4x4 image, matching the SQL oracles, not a reshape
    crash)."""
    import numpy as np

    b = text.encode("utf-8")
    n = len(b)
    w, h = 4 + n % 29, 4 + n % 23
    need = w * h * 3
    tiled = (b * (need // n + 1))[:need] if n else b"\x00" * need
    return np.frombuffer(tiled, dtype=np.uint8).reshape(h, w, 3)


def _docs_as_encoded_media(
    documents: DataFrame, encoder, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Shared mapInPandas body of the BMP/PNG media adapters
    (:func:`_doc_pixels` tiling). ``encoder`` maps the pixel array to
    container bytes; encoding runs Arrow-batched and distributed,
    same shape as the decode side. ``carry`` names ``documents``
    columns passed through the same Arrow pass and returned after
    ``(media_id, payload)`` with their input types."""

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                ids.append(mid)
                payloads.append(encoder(_doc_pixels(text)))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": payloads,
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


def docs_png_dhash(documents: DataFrame) -> DataFrame:
    """Fused encode+fingerprint: ``image_dhash(docs_as_png_media(d))``
    in ONE mapInPandas pass — (doc) -> real PNG bytes -> real decode ->
    64-bit dHash, with the encoded payload never crossing the
    JVM↔Python boundary (guide §4.1: the chained form ships every PNG
    back to the JVM and out to a second Python worker purely to hash
    it). Bit-identical to the chain (same ``_doc_pixels`` tiling, same
    encode_png, same dhash64 — A/B-verified equal at sf0.1); used by
    the streaming media replays where the chain runs once per
    micro-batch. Output schema matches image_dhash: (id, dhash)."""
    from ballista_extensions_spark.operators.imagecodec import (
        dhash64,
        encode_png,
    )

    def _fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                try:
                    hv = dhash64(encode_png(_doc_pixels(text)))
                except Exception:  # noqa: BLE001 — quarantine, match
                    # image_dhash's corrupt-payload convention
                    hv = None
                ids.append(mid)
                hashes.append(hv)
            yield pd.DataFrame({"id": ids, "dhash": hashes})

    return documents.select("doc_id", "text").mapInPandas(
        _fused, schema="id long, dhash long"
    )


def docs_as_bmp_media(documents: DataFrame) -> DataFrame:
    """Adapter producing REAL encoded image payloads from driver data:
    each document becomes a 24-bit BMP (operators/imagecodec.py encoder)
    via the shared arithmetic-dimension tiling body
    (``_docs_as_encoded_media``) — deterministic, so a SQL oracle can
    predict the decoded metadata (byte_len = 54 + rowpad(3w)*h) while
    the payload is a genuine BMP the real decoder must parse."""
    from ballista_extensions_spark.operators.imagecodec import encode_bmp

    return _docs_as_encoded_media(documents, encode_bmp)


def docs_as_png_media(
    documents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Adapter producing REAL PNG payloads from driver data — the PNG
    sibling of ``docs_as_bmp_media`` (same shared body): genuine 8-bit
    color-type-2 PNGs (operators/imagecodec.py:encode_png — zlib
    container with stored-block DEFLATE, filter-0 scanlines, CRC'd
    chunks). The stored-block stream keeps the file size pure
    arithmetic, so a SQL oracle can predict the decoded metadata
    byte-for-byte while the payload is a spec-correct PNG the real
    decoder must parse (signature, IHDR, inflate, unfilter). ``carry``
    passes ``documents`` columns through the encode pass
    (:func:`_docs_as_encoded_media`)."""
    from ballista_extensions_spark.operators.imagecodec import encode_png

    return _docs_as_encoded_media(documents, encode_png, carry)


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
    import numpy as np

    from ballista_extensions_spark.operators.jpegcodec import encode_jpeg

    ones = np.ones((8, 8), dtype=np.int32)

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("utf-8")
                n = len(b)
                bw, bh = 1 + n % 6, 1 + n % 5
                need = bw * bh
                tiled = (b * (need // n + 1))[:need] if n else b"\x00" * need
                vals = np.frombuffer(tiled, dtype=np.uint8).reshape(bh, bw)
                img = vals.repeat(8, axis=0).repeat(8, axis=1)
                ids.append(mid)
                payloads.append(encode_jpeg(img, quant_tables=(ones, ones)))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return documents.select("doc_id", "text").mapInPandas(
        _encode, schema="media_id long, payload binary"
    )


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
    import numpy as np

    from ballista_extensions_spark.operators.audiocodec import encode_wav

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("utf-8")
                n = len(b)
                rate = 8000 + (n % 5) * 2000
                channels = 1 + n % 2
                frames = 130 + n % 391
                need = frames * channels
                # empty text -> byte 0x80, which the (byte-128)*256
                # affine maps to sample 0: TRUE silence, matching the
                # oracles' n = 0 branch (0x00 would be -32768 —
                # full-scale DC, not silence)
                tiled = (b * (need // n + 1))[:need] if n else b"\x80" * need
                flat = np.frombuffer(tiled, dtype=np.uint8).astype(np.int16)
                samples = ((flat - 128) << 8).reshape(frames, channels)
                ids.append(mid)
                payloads.append(encode_wav(samples, rate))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return documents.select("doc_id", "text").mapInPandas(
        _encode, schema="media_id long, payload binary"
    )


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
    import numpy as np

    from ballista_extensions_spark.operators.videocodec import encode_avi

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("utf-8")
                n = len(b)
                w, h = 4 + n % 9, 4 + n % 7
                nf = 3 + n % 6
                uspf = 40000 + (n % 3) * 20000
                need = nf * h * w * 3
                tiled = (b * (need // n + 1))[:need] if n else b"\x00" * need
                frames = np.frombuffer(tiled, dtype=np.uint8).reshape(
                    nf, h, w, 3
                )
                ids.append(mid)
                payloads.append(encode_avi(frames, uspf))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return documents.select("doc_id", "text").mapInPandas(
        _encode, schema="media_id long, payload binary"
    )


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
    import numpy as np

    from ballista_extensions_spark.operators.videocodec import encode_avi_av

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for mid, text in zip(pdf["doc_id"], pdf["text"]):
                b = text.encode("utf-8")
                n = len(b)
                w, h, nf = 4 + n % 9, 4 + n % 7, 3 + n % 6
                uspf = 40000 + (n % 3) * 20000
                ch = 1 + n % 2
                rate = 8000 + (n % 5) * 2000
                ns = 130 + n % 211
                vneed = nf * h * w * 3
                need = vneed + ns * ch
                # empty text: black frames (0x00) + TRUE silence (0x80
                # -> sample 0 under the affine), matching the oracles'
                # n = 0 branches for each track
                tiled = (
                    (b * (need // n + 1))[:need]
                    if n
                    else b"\x00" * vneed + b"\x80" * (ns * ch)
                )
                frames = np.frombuffer(
                    tiled[:vneed], dtype=np.uint8
                ).reshape(nf, h, w, 3)
                flat = np.frombuffer(
                    tiled[vneed:], dtype=np.uint8
                ).astype(np.int16)
                audio = ((flat - 128) << 8).reshape(ns, ch)
                ids.append(mid)
                payloads.append(encode_avi_av(frames, uspf, audio, rate))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return documents.select("doc_id", "text").mapInPandas(
        _encode, schema="media_id long, payload binary"
    )


def docs_as_mixed_media(documents: DataFrame) -> DataFrame:
    """Adapter producing a MIXED-FORMAT corpus from driver data — what
    a real 100 TB multimodal table looks like: one binary column whose
    rows are different container formats. Document n%4 picks the
    format — 0 → PNG, 1 → baseline JPEG, 2 → WAV, 3 → AVI — and each
    row uses EXACTLY its single-format sibling's fixture arithmetic
    (docs_as_png_media / docs_as_jpeg_media / docs_as_wav_media /
    docs_as_avi_media), so every single-format oracle CTE reapplies
    unchanged under a CASE on n%4."""
    import numpy as np

    from ballista_extensions_spark.operators.audiocodec import encode_wav
    from ballista_extensions_spark.operators.imagecodec import encode_png
    from ballista_extensions_spark.operators.jpegcodec import encode_jpeg
    from ballista_extensions_spark.operators.videocodec import encode_avi

    ones = np.ones((8, 8), dtype=np.int32)

    def _tile(b: bytes, need: int) -> bytes:
        n = len(b)
        return (b * (need // n + 1))[:need] if n else b"\x00" * need

    def _one(b: bytes) -> bytes:
        n = len(b)
        k = n % 4
        if k == 0:
            w, h = 4 + n % 29, 4 + n % 23
            px = np.frombuffer(_tile(b, w * h * 3), dtype=np.uint8)
            return encode_png(px.reshape(h, w, 3))
        if k == 1:
            bw, bh = 1 + n % 6, 1 + n % 5
            vals = np.frombuffer(_tile(b, bw * bh), dtype=np.uint8)
            img = vals.reshape(bh, bw).repeat(8, axis=0).repeat(8, axis=1)
            return encode_jpeg(img, quant_tables=(ones, ones))
        if k == 2:
            rate = 8000 + (n % 5) * 2000
            channels = 1 + n % 2
            frames = 130 + n % 391
            flat = np.frombuffer(
                _tile(b, frames * channels), dtype=np.uint8
            ).astype(np.int16)
            return encode_wav(
                ((flat - 128) << 8).reshape(frames, channels), rate
            )
        w, h, nf = 4 + n % 9, 4 + n % 7, 3 + n % 6
        uspf = 40000 + (n % 3) * 20000
        frames = np.frombuffer(
            _tile(b, nf * h * w * 3), dtype=np.uint8
        ).reshape(nf, h, w, 3)
        return encode_avi(frames, uspf)

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = list(pdf["doc_id"])
            payloads = [
                _one(text.encode("utf-8")) for text in pdf["text"]
            ]
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    return documents.select("doc_id", "text").mapInPandas(
        _encode, schema="media_id long, payload binary"
    )


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
    Arrow-batched mapInPandas pass with per-row error isolation — the
    decode stage that follows :func:`detect_media_kind` routing in a
    production pipeline. No shuffle, no driver state."""
    import numpy as np
    import pandas as pd

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

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, sums, errs = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                ids.append(mid)
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    kind, cs = _one(bytes(payload))
                    kinds.append(kind)
                    sums.append(cs)
                    errs.append(None)
                except Exception as e:  # noqa: BLE001 — quarantine:
                    # codec internals raise zlib.error/struct.error on
                    # corrupt bytes, not only ValueError; the contract
                    # is per-row isolation, never a dead batch
                    kinds.append(None)
                    sums.append(None)
                    errs.append(str(e)[:200])
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kinds,
                    "checksum": sums,
                    "decode_error": errs,
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        _decode,
        schema=(
            "media_id long, kind string, checksum long, "
            "decode_error string"
        ),
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
    the error column, same contract as decode_images."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list[Any]] = {
                "media_id": [],
                "width": [],
                "height": [],
                "channels": [],
                "pixel_sum": [],
                "decode_error": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                if payload is None:
                    for k in ("width", "height", "channels", "pixel_sum"):
                        out[k].append(None)
                    out["decode_error"].append("null payload")
                    continue
                try:
                    arr = to_array(bytes(payload))
                    h, w, c = arr.shape
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(c)
                    out["pixel_sum"].append(int(arr.astype("int64").sum()))
                    out["decode_error"].append(None)
                except Exception as e:  # noqa: BLE001 — per-row error column
                    for k in ("width", "height", "channels", "pixel_sum"):
                        out[k].append(None)
                    out["decode_error"].append(str(e)[:200])
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(
        _stats,
        schema=(
            "media_id long, width int, height int, channels int, "
            "pixel_sum long, decode_error string"
        ),
    )


def decode_images(
    df: DataFrame,
    *,
    fake: bool = False,
    decoder: Callable[[bytes], tuple[int, int, int]] | None = None,
) -> DataFrame:
    """Decode image payloads to (width, height, channels) metadata via
    mapInPandas (Arrow-batched; one python worker per partition, no
    driver involvement).

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

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list[Any]] = {
                "media_id": [],
                "width": [],
                "height": [],
                "channels": [],
                "byte_len": [],
                "decode_error": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                if payload is None:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["channels"].append(None)
                    out["byte_len"].append(None)
                    out["decode_error"].append("null payload")
                    continue
                b = bytes(payload)
                out["byte_len"].append(len(b))
                try:
                    w, h, c = decoder(b)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(c)
                    out["decode_error"].append(None)
                except Exception as e:  # noqa: BLE001 — per-row error column
                    out["width"].append(None)
                    out["height"].append(None)
                    out["channels"].append(None)
                    out["decode_error"].append(str(e)[:200])
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(
        _decode, schema=DECODED_IMAGE_SCHEMA
    )
