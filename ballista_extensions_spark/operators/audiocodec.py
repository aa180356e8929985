"""Pure-stdlib RIFF/WAVE PCM codec + audio feature operators — the
audio sibling of ``operators/imagecodec.py`` (extends the reference's
multimodal plumbing, reference `src/physical/sample_exec.rs:19-122`'s
Arrow-columnar per-partition execution pattern, to a THIRD modality
with a REAL decoder, not a stub).

Scope: canonical WAV — RIFF container, `fmt ` chunk with PCM
(audio_format=1), 8-bit unsigned or 16-bit signed little-endian
samples, any channel count/rate. Unknown chunks (LIST, fact, cue…)
are skipped per the RIFF spec, including the odd-size pad byte.
Compressed formats (ADPCM, float, extensible) are rejected with a
precise error — same fail-loud contract as the PNG/JPEG decoders.

Everything downstream of decode is INTEGER arithmetic (sums of
squares, sign changes, floor-division window boundaries), so a SQL
oracle can replay every feature bit-for-bit — the property the whole
codec family is built around.

Scale: all operators here are per-payload pure functions driven by
the Arrow-batched mapInPandas decode body of operators/multimodal.py;
no shuffle, no driver state, 8 B of fingerprint state per clip.
"""

from __future__ import annotations

import struct

import numpy as np

#: Energy-fingerprint geometry: 65 contiguous windows -> 64 adjacent
#: comparisons -> one 64-bit hash (the dHash idea transplanted from
#: pixel space to the time axis).
_N_WINDOWS = 65


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Encode an (n_frames, channels) int16 array as a canonical
    16-bit PCM WAV file (RIFF + fmt + data, no extra chunks)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2:
        raise ValueError(f"samples must be 1-D or 2-D, got {samples.ndim}-D")
    if samples.dtype != np.int16:
        raise ValueError(f"samples must be int16, got {samples.dtype}")
    if rate <= 0:
        raise ValueError(f"rate must be positive, got {rate}")
    n_frames, channels = samples.shape
    block_align = channels * 2
    byte_rate = rate * block_align
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, byte_rate, block_align, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV payload to ((n_frames, channels) int16, rate).

    Walks the RIFF chunk list properly: unknown chunks are skipped
    (with the odd-size pad byte), `fmt ` must precede `data`, and the
    sample data is truncated to whole frames. 8-bit unsigned samples
    are widened to int16 as ``(v - 128) << 8`` (the standard unsigned
    -> signed PCM mapping); 16-bit is taken verbatim. Non-PCM formats
    and other bit depths raise ValueError with the offending value.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF file")
    if payload[8:12] != b"WAVE":
        raise ValueError("RIFF file is not WAVE")
    pos = 12
    fmt_fields = None
    end = min(len(payload), 8 + struct.unpack("<I", payload[4:8])[0])
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            # fail in ValueError, not a downstream struct.error on a
            # silently-truncated body — same contract as the AVI walk
            raise ValueError(
                f"chunk {cid!r} size {size} overruns container"
            )
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError(f"fmt chunk too small: {size}")
            fmt_fields = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            if fmt_fields is None:
                raise ValueError("data chunk before fmt chunk")
            audio_format, channels, rate, _, block_align, bits = fmt_fields
            if audio_format != 1:
                raise ValueError(f"unsupported audio_format={audio_format}")
            if bits not in (8, 16):
                raise ValueError(f"unsupported bits_per_sample={bits}")
            if channels < 1:
                raise ValueError(f"invalid channels={channels}")
            expect_align = channels * (bits // 8)
            if block_align != expect_align:
                raise ValueError(
                    f"block_align {block_align} != channels*bytes "
                    f"{expect_align}"
                )
            n_frames = len(body) // block_align
            body = body[: n_frames * block_align]
            if bits == 16:
                arr = np.frombuffer(body, dtype="<i2").astype(np.int16)
            else:
                u = np.frombuffer(body, dtype=np.uint8).astype(np.int16)
                arr = (u - 128) << 8
            return arr.reshape(n_frames, channels), int(rate)
        pos += 8 + size + (size % 2)  # RIFF pads odd chunks
    raise ValueError(
        "no data chunk" if fmt_fields is not None else "no fmt chunk"
    )


def wav_meta(payload: bytes) -> dict:
    """Integer-exact per-clip features, every one SQL-replayable:

    - ``sample_rate``, ``channels``, ``n_frames``
    - ``duration_ms`` = n_frames * 1000 // rate (floor)
    - ``peak_abs`` = max |sample| over ALL channels (0 for empty)
    - ``sumsq`` = sum of squared samples over all channels (int64 —
      bounded by frames * channels * 32768^2, safe far past hour-long
      stereo clips)
    - ``zero_crossings`` = channel-0 sign changes, where "negative"
      partitions the domain as v < 0 (so -1 -> 0 crosses, 0 -> 1
      doesn't — one fixed convention both engines share)
    """
    samples, rate = decode_wav(payload)
    n_frames, channels = samples.shape
    s64 = samples.astype(np.int64)
    if n_frames:
        peak = int(np.abs(s64).max())
        sumsq = int((s64 * s64).sum())
        c0 = s64[:, 0] < 0
        zc = int((c0[1:] != c0[:-1]).sum())
    else:
        peak, sumsq, zc = 0, 0, 0
    return {
        "sample_rate": rate,
        "channels": channels,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // rate,
        "peak_abs": peak,
        "sumsq": sumsq,
        "zero_crossings": zc,
    }


def window_energies(payload: bytes, n_windows: int = _N_WINDOWS) -> list[int]:
    """Channel-0 energy per contiguous window: frame i belongs to
    window ``i * n_windows // n_frames`` (the floor-division partition
    — window sizes differ by at most one frame, no float boundaries),
    energy = integer sum of squared samples; empty windows are 0."""
    samples, _ = decode_wav(payload)
    n_frames = samples.shape[0]
    out = [0] * n_windows
    if n_frames == 0:
        return out
    c0 = samples[:, 0].astype(np.int64)
    win = np.arange(n_frames, dtype=np.int64) * n_windows // n_frames
    # int64 segment sums via reduceat (exact — float bincount would
    # round past 2^53); reduceat repeats the previous segment where a
    # window is empty, so mask those back to zero with the counts.
    starts = np.searchsorted(win, np.arange(n_windows))
    ints = np.add.reduceat(c0 * c0, np.minimum(starts, n_frames - 1))
    counts = np.bincount(win, minlength=n_windows)
    return [int(v) if c else 0 for v, c in zip(ints, counts)]


def audio_dhash64(payload: bytes) -> int:
    """64-bit energy fingerprint: bit k is set iff window k+1 is
    STRICTLY more energetic than window k (65 windows -> 64 adjacent
    comparisons). Returned as a SIGNED 64-bit int (bit 63 enters as
    the sign bit) so it lands in a Spark/DuckDB BIGINT exactly —
    same convention as imagecodec.dhash64, and the banded Hamming
    join (operators/imagedup.py:phash_near_dup_pairs) consumes it
    unchanged. Invariant to channel duplication (only channel 0 is
    hashed) and to uniform time-reversal of silence padding windows.
    """
    e = window_energies(payload)
    h = 0
    for k in range(64):
        if e[k + 1] > e[k]:
            h |= 1 << k
    if h >= 1 << 63:
        h -= 1 << 64
    return h


def audio_meta_stats(media) -> "object":
    """(media_id, sample_rate, channels, n_frames, duration_ms,
    peak_abs, sumsq, zero_crossings, decode_error) for every payload:
    :func:`wav_meta` through the decode body it shares with
    videocodec.video_meta_stats and multimodal.decode_pixel_stats
    (multimodal._decode_media) — one Arrow-batched mapInPandas pass,
    per-row error isolation, no shuffle."""
    from ballista_extensions_spark.operators.multimodal import _decode_media

    return _decode_media(
        media,
        lambda payload: tuple(wav_meta(payload).values()),
        "media_id long, sample_rate int, channels int, n_frames int, "
        "duration_ms long, peak_abs long, sumsq long, "
        "zero_crossings long, decode_error string",
    )


def audio_resample_stats(media, dst_rate: int = 4000) -> "object":
    """Decode → nearest-floor resample to ``dst_rate`` → integer
    checksum of the resampled stream: (media_id, out_frames,
    out_sumsq). Proves the resampler moved the samples the contract
    says (the oracle replays the two floor divisions per output
    sample); decimation like this is the cheap first stage of any
    audio feature pipeline. Undecodable payloads surface as NULL
    frames/checksum with decode_error set — the per-row isolation of
    the decode body every sibling media operator shares
    (multimodal._decode_media). Arrow-batched, no shuffle."""
    from ballista_extensions_spark.operators.multimodal import _decode_media

    def _rs(payload: bytes) -> tuple[int, int]:
        samples, rate = decode_wav(payload)
        r = resample_nearest(samples, rate, dst_rate).astype(np.int64)
        return r.shape[0], int((r * r).sum())

    return _decode_media(
        media,
        _rs,
        "media_id long, out_frames int, out_sumsq long, decode_error string",
    )


def resample_nearest(
    samples: np.ndarray, src_rate: int, dst_rate: int
) -> np.ndarray:
    """Nearest-floor resample: output frame j takes input frame
    ``j * src_rate // dst_rate``; output length
    ``n_frames * dst_rate // src_rate``. Integer index arithmetic
    only — the oracle replays it with the same two floor divisions.
    Identity when the rates match. (A production pipeline would use a
    windowed-sinc filter; nearest-floor is the deterministic baseline
    the contract tests pin, same role as the nearest-neighbor image
    resize in imagecodec.)"""
    if src_rate <= 0 or dst_rate <= 0:
        raise ValueError("rates must be positive")
    n_frames = samples.shape[0]
    out_n = n_frames * dst_rate // src_rate
    idx = np.arange(out_n, dtype=np.int64) * src_rate // dst_rate
    return samples[idx]
