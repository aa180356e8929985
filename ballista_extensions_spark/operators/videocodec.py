"""Pure-stdlib AVI (RIFF) video codec + frame operators — the FOURTH
real-decoder modality (after BMP/PPM/PNG, JPEG and WAV), extending the
reference's multimodal plumbing (reference
`src/physical/sample_exec.rs:19-122`'s Arrow-columnar per-partition
execution pattern) to video: container decode, frame-stride sampling,
and a keyframe perceptual hash that feeds the SAME banded Hamming
near-dup join as the image and audio paths.

Scope: canonical AVI — RIFF 'AVI ' form with one 'vids' stream of
UNCOMPRESSED 24-bit DIB frames (biCompression = BI_RGB), the layout
every AVI writer can emit and the one a training-corpus
frame-extraction stage sees after a decode bounce. The RIFF walk is
real and general: nested LIST chunks (hdrl/strl/movi), unknown chunks
(JUNK, INFO, idx1) skipped with the odd-size pad byte, '00db' and
'00dc' frame chunks both accepted (identical bytes under BI_RGB).
Compressed streams, palettized depths and multi-stream files are
rejected with a precise error — the same fail-loud contract as the
PNG/JPEG/WAV decoders.

Frame pixel layout is the DIB convention shared with the BMP codec:
bottom-up rows, BGR byte order, rows padded to 4-byte boundaries.
decode returns top-down RGB uint8 arrays, so encode→decode is an
exact roundtrip and every downstream feature (pixel checksums, frame
sums, the keyframe dHash) is INTEGER arithmetic a SQL oracle replays
bit-for-bit — the property the whole codec family is built around.

Scale: all operators here are per-payload pure functions driven by
the Arrow-batched mapInPandas decode body of operators/multimodal.py;
no shuffle, no driver state, 8 B of fingerprint state per video.
"""

from __future__ import annotations

import struct

import numpy as np

_AVIIF_KEYFRAME = 0x10


def _dib_row_size(width: int) -> int:
    return (3 * width + 3) & ~3


def _pack_frame_dib(frame: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> bottom-up BGR rows padded to 4 bytes."""
    h, w = frame.shape[:2]
    row = _dib_row_size(w)
    buf = np.zeros((h, row), dtype=np.uint8)
    buf[:, : 3 * w] = frame[::-1, :, ::-1].reshape(h, 3 * w)
    return buf.tobytes()


def _unpack_frame_dib(data: bytes, w: int, h: int) -> np.ndarray:
    """Inverse of :func:`_pack_frame_dib`: padded bottom-up BGR bytes
    -> (h, w, 3) uint8 RGB."""
    row = _dib_row_size(w)
    if len(data) != row * h:
        raise ValueError(
            f"frame chunk size {len(data)} != rows {h} * rowsize {row}"
        )
    buf = np.frombuffer(data, dtype=np.uint8).reshape(h, row)
    return buf[:, : 3 * w].reshape(h, w, 3)[::-1, :, ::-1]


def encode_avi(frames: np.ndarray, us_per_frame: int) -> bytes:
    """Encode an (n_frames, h, w, 3) uint8 RGB array as a canonical
    single-stream uncompressed AVI: RIFF('AVI ') with LIST hdrl
    (avih MainAVIHeader + LIST strl(strh 'vids'/'DIB ' + strf
    BITMAPINFOHEADER)), LIST movi of '00db' DIB frames, and a proper
    idx1 index (every frame a keyframe — uncompressed video has no
    delta frames)."""
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError(
            f"frames must be (n, h, w, 3), got {frames.shape}"
        )
    if frames.dtype != np.uint8:
        raise ValueError(f"frames must be uint8, got {frames.dtype}")
    if us_per_frame <= 0:
        raise ValueError(
            f"us_per_frame must be positive, got {us_per_frame}"
        )
    nf, h, w = frames.shape[:3]
    frame_size = _dib_row_size(w) * h

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            cid
            + struct.pack("<I", len(body))
            + body
            + (b"\x00" if len(body) % 2 else b"")
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    byte_rate = (
        frame_size * 1_000_000 // us_per_frame if nf else 0
    )
    avih = struct.pack(
        "<14I",
        us_per_frame,   # dwMicroSecPerFrame
        byte_rate,      # dwMaxBytesPerSec
        0,              # dwPaddingGranularity
        0x10,           # dwFlags: AVIF_HASINDEX
        nf,             # dwTotalFrames
        0,              # dwInitialFrames
        1,              # dwStreams
        frame_size,     # dwSuggestedBufferSize
        w, h,
        0, 0, 0, 0,     # dwReserved[4]
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"DIB ",
        0, 0, 0, 0,             # flags, priority, language, initial
        us_per_frame,           # dwScale
        1_000_000,              # dwRate (rate/scale = fps)
        0, nf,                  # dwStart, dwLength (frames)
        frame_size, 0xFFFFFFFF, # suggested buffer, quality (default)
        0,                      # dwSampleSize (0: one sample = frame)
        0, 0, w, h,             # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_parts, idx_parts = [], []
    offset = 4  # idx1 offsets are relative to the 'movi' fourcc
    for f in range(nf):
        data = _pack_frame_dib(frames[f])
        movi_parts.append(chunk(b"00db", data))
        idx_parts.append(
            struct.pack(
                "<4sIII", b"00db", _AVIIF_KEYFRAME, offset, len(data)
            )
        )
        offset += 8 + len(data) + (len(data) % 2)
    movi = lst(b"movi", b"".join(movi_parts))
    idx1 = chunk(b"idx1", b"".join(idx_parts))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def _walk_chunks(payload: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_size) for every chunk in
    [pos, end), honoring the RIFF odd-size pad byte."""
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            raise ValueError(
                f"chunk {cid!r} size {size} overruns container"
            )
        yield cid, pos + 8, size
        pos += 8 + size + (size % 2)


def decode_avi(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode an uncompressed single-stream AVI payload to
    ((n_frames, h, w, 3) uint8 RGB, us_per_frame).

    Walks the nested RIFF form properly: LIST hdrl is descended for
    avih (geometry + timing) and the first strl's strf
    (BITMAPINFOHEADER — must be 24-bit BI_RGB); LIST movi is descended
    for '00db'/'00dc' frame chunks in order; everything else (JUNK,
    INFO, idx1, extra odd-sized chunks) is skipped per the spec.
    Multi-stream files, compressed or non-24-bit frames, and frame
    chunks whose size disagrees with the header geometry raise
    ValueError with the offending value.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF file")
    if payload[8:12] != b"AVI ":
        raise ValueError("RIFF file is not AVI")
    end = min(len(payload), 8 + struct.unpack("<I", payload[4:8])[0])
    avih = None
    strf = None
    frames_raw: list[bytes] = []
    for cid, body, size in _walk_chunks(payload, 12, end):
        if cid != b"LIST":
            continue
        ltype = payload[body : body + 4]
        if ltype == b"hdrl":
            for c2, b2, s2 in _walk_chunks(payload, body + 4, body + size):
                if c2 == b"avih":
                    if s2 < 56:
                        raise ValueError(f"avih chunk too small: {s2}")
                    avih = struct.unpack(
                        "<14I", payload[b2 : b2 + 56]
                    )
                    if avih[6] != 1:
                        raise ValueError(
                            f"unsupported stream count {avih[6]}"
                        )
                elif c2 == b"LIST" and payload[b2 : b2 + 4] == b"strl":
                    for c3, b3, s3 in _walk_chunks(
                        payload, b2 + 4, b2 + s2
                    ):
                        if c3 == b"strh":
                            if payload[b3 : b3 + 4] != b"vids":
                                raise ValueError(
                                    "first stream is not video: "
                                    f"{payload[b3:b3 + 4]!r}"
                                )
                        elif c3 == b"strf" and strf is None:
                            if s3 < 40:
                                raise ValueError(
                                    f"strf chunk too small: {s3}"
                                )
                            strf = struct.unpack(
                                "<IiiHHIIiiII", payload[b3 : b3 + 40]
                            )
        elif ltype == b"movi":
            for c2, b2, s2 in _walk_chunks(payload, body + 4, body + size):
                if c2[2:4] in (b"db", b"dc") and c2[:2] == b"00":
                    frames_raw.append(payload[b2 : b2 + s2])
    if avih is None:
        raise ValueError("no avih header chunk")
    if strf is None:
        raise ValueError("no strf stream format chunk")
    us_per_frame, w, h = avih[0], avih[8], avih[9]
    bits, compression = strf[4], strf[5]
    if compression != 0:
        raise ValueError(f"unsupported biCompression={compression}")
    if bits != 24:
        raise ValueError(f"unsupported biBitCount={bits}")
    if us_per_frame <= 0:
        raise ValueError(f"invalid dwMicroSecPerFrame={us_per_frame}")
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid dimensions {w}x{h}")
    out = np.zeros((len(frames_raw), h, w, 3), dtype=np.uint8)
    for f, data in enumerate(frames_raw):
        out[f] = _unpack_frame_dib(data, w, h)
    return out, int(us_per_frame)


def avi_meta(payload: bytes) -> dict:
    """Integer-exact per-video features, every one SQL-replayable:

    - ``width``, ``height``, ``n_frames``, ``us_per_frame``
    - ``duration_ms`` = n_frames * us_per_frame // 1000 (floor)
    - ``pixel_sum`` = int64 sum of every RGB byte over all frames
      (bounded by frames * h * w * 3 * 255 — safe far past feature-
      film length at these depths)
    """
    frames, uspf = decode_avi(payload)
    nf, h, w = frames.shape[:3]
    return {
        "width": w,
        "height": h,
        "n_frames": nf,
        "us_per_frame": uspf,
        "duration_ms": nf * uspf // 1000,
        "pixel_sum": int(frames.astype(np.int64).sum()),
    }


def frame_stride_checksums(
    payload: bytes, stride: int = 2
) -> list[tuple[int, int]]:
    """REAL frame sampling: decode, take every ``stride``-th frame
    (0, stride, 2*stride, …), return [(frame_idx, frame_pixel_sum)].
    The integer per-frame checksum proves each sampled frame's pixels
    individually — decoded frames, not byte offsets into the
    payload."""
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")
    frames, _ = decode_avi(payload)
    s64 = frames.astype(np.int64)
    return [
        (f, int(s64[f].sum())) for f in range(0, frames.shape[0], stride)
    ]


def video_dhash64(payload: bytes) -> int:
    """64-bit keyframe perceptual hash: decode, take the MIDDLE frame
    (index n_frames // 2 — scene-sampling's cheapest stable keyframe
    choice), and apply exactly the image dHash discipline
    (operators/imagecodec.py:dhash64): nearest-neighbor sample to a
    9×8 grayscale grid (gray = (r+g+b)//3, integer), set bit y*8+x iff
    the right neighbor is strictly brighter. Returned as a SIGNED
    64-bit int (bit 63 enters as the sign bit) so it lands in a
    Spark/DuckDB BIGINT exactly, and the banded Hamming join
    (operators/imagedup.py:phash_near_dup_pairs) consumes it
    unchanged — the same 8 B/item state as the image and audio
    fingerprints. The hash itself is imagecodec.dhash64_from_array on
    the keyframe's pixels — ONE shared implementation, so image and
    video fingerprints cannot drift apart."""
    from ballista_extensions_spark.operators.imagecodec import (
        dhash64_from_array,
    )

    frames, _ = decode_avi(payload)
    nf = frames.shape[0]
    if nf == 0:
        raise ValueError("cannot hash a zero-frame video")
    return dhash64_from_array(frames[nf // 2])


def video_meta_stats(media) -> "object":
    """(media_id, width, height, n_frames, us_per_frame, duration_ms,
    pixel_sum, decode_error) for every payload: :func:`avi_meta`
    through the decode body it shares with audiocodec.audio_meta_stats
    (multimodal._decode_media) — one Arrow-batched mapInPandas pass,
    per-row error isolation, no shuffle."""
    from ballista_extensions_spark.operators.multimodal import _decode_media

    return _decode_media(
        media,
        lambda payload: tuple(avi_meta(payload).values()),
        "media_id long, width int, height int, n_frames int, "
        "us_per_frame long, duration_ms long, pixel_sum long, "
        "decode_error string",
    )


def video_frame_samples(media, stride: int = 2) -> "object":
    """Decode → stride-sample frames → one row PER SAMPLED FRAME:
    (media_id, frame_idx, frame_sum). The bounded explode shape —
    one input row becoming ceil(n_frames / stride) output rows — is
    the frame-extraction stage of a video curation pipeline, here
    backed by REAL container decode instead of byte-offset seeking.
    Undecodable payloads contribute ZERO frame rows (not a crash, not
    a NULL row) — corrupt videos are surfaced upstream by
    :func:`video_meta_stats`'s decode_error column, and a fan-out
    operator has no sensible error row shape. Arrow-batched, output
    co-partitioned with the input, no shuffle."""
    import pandas as pd

    def _frames(batches):
        for pdf in batches:
            ids, idxs, sums = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    checks = frame_stride_checksums(bytes(payload), stride)
                except Exception:  # noqa: BLE001 — per-row quarantine,
                    # same contract as video_meta_stats
                    continue
                for f, s in checks:
                    ids.append(mid)
                    idxs.append(f)
                    sums.append(s)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_sum": sums}
            )

    return media.select("media_id", "payload").mapInPandas(
        _frames, schema="media_id long, frame_idx int, frame_sum long"
    )


def encode_avi_av(
    frames: np.ndarray,
    us_per_frame: int,
    samples: np.ndarray,
    rate: int,
) -> bytes:
    """Encode a TRUE A/V container: the uncompressed video stream of
    :func:`encode_avi` plus an interleaved 16-bit PCM audio stream —
    RIFF('AVI ') with TWO strl lists (stream 00 'vids'/DIB, stream 01
    'auds'/PCM WAVEFORMATEX) and a movi list that interleaves each
    video frame chunk ('00db') with the audio chunk ('01wb') covering
    that frame's time slice: frame f carries samples
    [f*ns//nf, (f+1)*ns//nf) — the floor partition, so the interleave
    boundaries are pure integer arithmetic. idx1 indexes both streams."""
    if frames.ndim != 4 or frames.shape[3] != 3:
        raise ValueError(f"frames must be (n, h, w, 3), got {frames.shape}")
    if frames.dtype != np.uint8:
        raise ValueError(f"frames must be uint8, got {frames.dtype}")
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2 or samples.dtype != np.int16:
        raise ValueError(
            f"samples must be (n, ch) int16, got "
            f"{samples.shape} {samples.dtype}"
        )
    if us_per_frame <= 0 or rate <= 0:
        raise ValueError("us_per_frame and rate must be positive")
    nf, h, w = frames.shape[:3]
    ns, ch = samples.shape
    if nf == 0:
        raise ValueError("A/V interleave needs at least one frame")
    frame_size = _dib_row_size(w) * h
    block_align = ch * 2

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            cid + struct.pack("<I", len(body)) + body
            + (b"\x00" if len(body) % 2 else b"")
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<14I",
        us_per_frame,
        frame_size * 1_000_000 // us_per_frame + rate * block_align,
        0, 0x10, nf, 0,
        2,              # dwStreams: video + audio
        frame_size, w, h, 0, 0, 0, 0,
    )
    strh_v = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"vids", b"DIB ", 0, 0, 0, 0,
        us_per_frame, 1_000_000, 0, nf,
        frame_size, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf_v = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    strh_a = struct.pack(
        "<4s4sIHHIIIIIIII4H",
        b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0,
        1, rate,        # dwScale=1, dwRate=rate -> samples/sec
        0, ns,
        block_align * max(ns, 1), 0xFFFFFFFF,
        block_align,    # dwSampleSize: bytes per sample frame
        0, 0, 0, 0,
    )
    strf_a = struct.pack(
        "<HHIIHH", 1, ch, rate, rate * block_align, block_align, 16
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh_v) + chunk(b"strf", strf_v))
        + lst(b"strl", chunk(b"strh", strh_a) + chunk(b"strf", strf_a)),
    )
    s16 = samples.astype("<i2")
    movi_parts, idx_parts = [], []
    offset = 4
    for f in range(nf):
        vdata = _pack_frame_dib(frames[f])
        adata = s16[f * ns // nf : (f + 1) * ns // nf].tobytes()
        for cid, data in ((b"00db", vdata), (b"01wb", adata)):
            movi_parts.append(chunk(cid, data))
            idx_parts.append(
                struct.pack(
                    "<4sIII", cid, _AVIIF_KEYFRAME, offset, len(data)
                )
            )
            offset += 8 + len(data) + (len(data) % 2)
    movi = lst(b"movi", b"".join(movi_parts))
    idx1 = chunk(b"idx1", b"".join(idx_parts))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def decode_avi_av(
    payload: bytes,
) -> tuple[np.ndarray, int, np.ndarray, int]:
    """Demux a two-stream A/V AVI into ((n_frames, h, w, 3) uint8 RGB,
    us_per_frame, (n_samples, ch) int16, sample_rate) — the demux
    stage of a video ingest pipeline, splitting one container into its
    modality tracks so each flows into its own feature path (frames →
    imagecodec/dHash, audio → audiocodec fingerprints).

    Parses BOTH strl lists (stream 00 must be 'vids' 24-bit BI_RGB,
    stream 01 'auds' 16-bit PCM), concatenates '00db'/'00dc' chunks
    into the video track and '01wb' chunks into the audio track in
    movi order, and fail-louds on anything else — same contract as the
    single-stream decoders. Single-stream files raise (use
    :func:`decode_avi`); interleave layout is NOT assumed, only chunk
    order within each stream."""
    if len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF file")
    if payload[8:12] != b"AVI ":
        raise ValueError("RIFF file is not AVI")
    end = min(len(payload), 8 + struct.unpack("<I", payload[4:8])[0])
    avih = None
    stream_types: list[bytes] = []
    strf_v = None
    strf_a = None
    vparts: list[bytes] = []
    aparts: list[bytes] = []
    for cid, body, size in _walk_chunks(payload, 12, end):
        if cid != b"LIST":
            continue
        ltype = payload[body : body + 4]
        if ltype == b"hdrl":
            for c2, b2, s2 in _walk_chunks(payload, body + 4, body + size):
                if c2 == b"avih":
                    if s2 < 56:
                        raise ValueError(f"avih chunk too small: {s2}")
                    avih = struct.unpack("<14I", payload[b2 : b2 + 56])
                elif c2 == b"LIST" and payload[b2 : b2 + 4] == b"strl":
                    stype = None
                    for c3, b3, s3 in _walk_chunks(
                        payload, b2 + 4, b2 + s2
                    ):
                        if c3 == b"strh":
                            stype = payload[b3 : b3 + 4]
                        elif c3 == b"strf":
                            if stype == b"vids" and strf_v is None:
                                if s3 < 40:
                                    raise ValueError(
                                        f"video strf too small: {s3}"
                                    )
                                strf_v = struct.unpack(
                                    "<IiiHHIIiiII", payload[b3 : b3 + 40]
                                )
                            elif stype == b"auds" and strf_a is None:
                                if s3 < 16:
                                    raise ValueError(
                                        f"audio strf too small: {s3}"
                                    )
                                strf_a = struct.unpack(
                                    "<HHIIHH", payload[b3 : b3 + 16]
                                )
                    if stype is not None:
                        stream_types.append(stype)
        elif ltype == b"movi":
            for c2, b2, s2 in _walk_chunks(payload, body + 4, body + size):
                if c2[:2] == b"00" and c2[2:4] in (b"db", b"dc"):
                    vparts.append(payload[b2 : b2 + s2])
                elif c2 == b"01wb":
                    aparts.append(payload[b2 : b2 + s2])
    if avih is None:
        raise ValueError("no avih header chunk")
    if avih[6] != 2:
        raise ValueError(
            f"expected 2 streams for A/V demux, got {avih[6]}"
        )
    if stream_types[:2] != [b"vids", b"auds"]:
        raise ValueError(
            f"expected streams [vids, auds], got {stream_types[:2]}"
        )
    if strf_v is None or strf_a is None:
        raise ValueError("missing video or audio strf chunk")
    us_per_frame, w, h = avih[0], avih[8], avih[9]
    if strf_v[5] != 0 or strf_v[4] != 24:
        raise ValueError(
            f"unsupported video format bits={strf_v[4]} "
            f"compression={strf_v[5]}"
        )
    audio_format, ch, rate, _, block_align, bits = strf_a
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"unsupported audio format={audio_format} bits={bits}"
        )
    if ch < 1:
        # ch=0 with block_align=0 would pass the equality check below
        # and then divide by zero at the sample split
        raise ValueError(f"invalid channel count {ch}")
    if block_align != ch * 2:
        raise ValueError(
            f"block_align {block_align} != channels*2 {ch * 2}"
        )
    frames = np.zeros((len(vparts), h, w, 3), dtype=np.uint8)
    for f, data in enumerate(vparts):
        frames[f] = _unpack_frame_dib(data, w, h)
    araw = b"".join(aparts)
    n_samples = len(araw) // block_align
    audio = (
        np.frombuffer(araw[: n_samples * block_align], dtype="<i2")
        .astype(np.int16)
        .reshape(n_samples, ch)
    )
    return frames, int(us_per_frame), audio, int(rate)


def av_demux_stats(media) -> "object":
    """One row per container with BOTH demuxed tracks' integer proofs:
    (media_id, width, height, n_frames, pixel_sum, channels,
    sample_rate, n_samples, audio_sumsq, decode_error) — the demux
    stage of a video ingest pipeline as a single Arrow-batched
    mapInPandas pass through the shared decode body
    (multimodal._decode_media), per-row error isolation, no shuffle."""
    from ballista_extensions_spark.operators.multimodal import _decode_media

    def _demux(payload: bytes) -> tuple:
        fr, _, au, rate = decode_avi_av(payload)
        a64 = au.astype(np.int64)
        return (
            fr.shape[2], fr.shape[1], fr.shape[0],
            int(fr.astype(np.int64).sum()),
            au.shape[1], rate, au.shape[0], int((a64 * a64).sum()),
        )

    return _decode_media(
        media,
        _demux,
        "media_id long, width int, height int, n_frames int, "
        "pixel_sum long, channels int, sample_rate int, "
        "n_samples int, audio_sumsq long, decode_error string",
    )
