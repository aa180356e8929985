"""Pure-Python image codec: BMP (24-bit BI_RGB) and PPM/PGM (binary
P6/P5) — a REAL decoder/encoder pair for the multimodal operators, with
no external media libraries.

Both formats are fully specified public standards (Windows BMP file
structure; Netpbm P5/P6), simple enough to implement exactly in a few
dozen lines, and byte-deterministic — which is what the engine needs:
``multimodal.decode_images(df, decoder=decode_image)`` decodes real
bytes instead of the deterministic fake, and the plumbing can be
verified against fixtures of real encoded bytes. Formats outside these magics still raise, keeping the error-column
path honest.

Layout notes (the parts that bite):

- BMP pixel rows are stored bottom-up, BGR byte order, each row padded
  to a 4-byte boundary; dimensions live in the BITMAPINFOHEADER at
  fixed little-endian offsets (width @18, height @22, bpp @28).
- PPM/PGM ``P6``/``P5`` headers are ASCII tokens (magic, width, height,
  maxval) separated by whitespace/comments, then a single raw sample
  block, top-down, RGB (P6) or gray (P5).
- PNG (round 9): 8-byte signature, then length/type/data/CRC chunks;
  IHDR holds big-endian width/height plus depth/color/interlace flags;
  the pixel stream is the zlib-inflated concatenation of every IDAT,
  one filter byte (0-4: None/Sub/Up/Average/Paeth) before each
  scanline. The decoder supports the 8-bit non-interlaced color types
  (gray 0, RGB 2, gray+alpha 4, RGBA 6) and all five filters; the
  encoder emits filter-0 scanlines inside a hand-rolled STORED-block
  zlib stream, so the emitted file size is pure arithmetic of the
  dimensions — which is what lets a DuckDB oracle predict
  decode metadata byte-for-byte, exactly like the BMP path.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_BMP_HEADER = 14  # BITMAPFILEHEADER
_DIB_HEADER = 40  # BITMAPINFOHEADER


def _bmp_row_size(width: int) -> int:
    return (3 * width + 3) // 4 * 4


def bmp_file_size(width: int, height: int) -> int:
    """Exact file size of a 24-bit BI_RGB BMP — header + padded rows.
    Pure arithmetic, usable from SQL oracles."""
    return _BMP_HEADER + _DIB_HEADER + _bmp_row_size(width) * height


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a 24-bit BI_RGB BMP."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("encode_bmp expects an (h, w, 3) array")
    h, w, _ = pixels.shape
    row = _bmp_row_size(w)
    size = bmp_file_size(w, h)
    out = bytearray()
    out += struct.pack("<2sIHHI", b"BM", size, 0, 0, _BMP_HEADER + _DIB_HEADER)
    out += struct.pack(
        "<IiiHHIIiiII", _DIB_HEADER, w, h, 1, 24, 0, row * h, 2835, 2835, 0, 0
    )
    pad = b"\x00" * (row - 3 * w)
    bgr = pixels[:, :, ::-1]  # RGB -> BGR
    for y in range(h - 1, -1, -1):  # bottom-up
        out += bgr[y].tobytes() + pad
    return bytes(out)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> channels at bit depth 8 (interlace 0 only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_ZLIB_STORED_MAX = 65535  # max payload of one DEFLATE stored block


def _deflate_stored(data: bytes) -> bytes:
    """Hand-rolled DEFLATE stream of stored (uncompressed) blocks —
    byte-deterministic by construction: 5-byte header (final bit,
    LEN, ~LEN) per <=65535-byte block, data verbatim."""
    out = bytearray()
    n, pos = len(data), 0
    while True:
        chunk = data[pos : pos + _ZLIB_STORED_MAX]
        pos += len(chunk)
        final = 1 if pos >= n else 0
        out += bytes([final])
        out += struct.pack("<HH", len(chunk), 0xFFFF ^ len(chunk))
        out += chunk
        if final:
            return bytes(out)


def _zlib_stored(data: bytes) -> bytes:
    """zlib container around _deflate_stored: CMF/FLG 0x78 0x01
    (32K window, check bits valid, no preset dict), then the stored
    blocks, then big-endian adler32 of the raw data."""
    return (
        b"\x78\x01"
        + _deflate_stored(data)
        + struct.pack(">I", zlib.adler32(data))
    )


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data))
    )


def encode_png(pixels: np.ndarray, *, filter_type: int | None = 0) -> bytes:
    """Encode a uint8 array as an 8-bit non-interlaced PNG: (h, w) ->
    grayscale (color 0), (h, w, 2) -> gray+alpha (4), (h, w, 3) -> RGB
    (2), (h, w, 4) -> RGBA (6). ``filter_type`` selects the per-row
    filter: 0 (default, stored-block size is pure arithmetic), 1-4 to
    force Sub/Up/Average/Paeth, or None to cycle 0..4 by row — the
    latter two exist so tests can prove every unfilter path against
    the original pixels."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, np.newaxis]
    if pixels.ndim != 3 or pixels.shape[2] not in (1, 2, 3, 4):
        raise ValueError("encode_png expects (h, w[, 1|2|3|4]) uint8")
    h, w, ch = pixels.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    stride = w * ch
    if filter_type == 0:
        # filter 0 leaves each scanline as it is: one filter-type byte
        # column beside the rows, no per-row pass
        rows = np.zeros((h, stride + 1), dtype=np.uint8)
        rows[:, 1:] = px.reshape(h, stride)
        raw = rows.tobytes()
    else:
        raw = bytearray()
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(h):
            line = px[y].reshape(stride)
            ft = (y % 5) if filter_type is None else filter_type
            raw.append(ft)
            raw += _png_filter_row(line, prev, ch, ft).tobytes()
            prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib_stored(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def _png_filter_row(
    line: np.ndarray, prev: np.ndarray, bpp: int, ft: int
) -> np.ndarray:
    """Apply PNG filter ``ft`` to one scanline (uint8 math mod 256)."""
    cur = line.astype(np.int16)
    a = np.zeros_like(cur)
    a[bpp:] = cur[:-bpp]  # left neighbor
    b = prev.astype(np.int16)
    c = np.zeros_like(b)
    c[bpp:] = prev[:-bpp]
    if ft == 0:
        out = cur
    elif ft == 1:
        out = cur - a
    elif ft == 2:
        out = cur - b
    elif ft == 3:
        out = cur - ((a + b) >> 1)
    elif ft == 4:
        out = cur - _paeth(a, b, c)
    else:
        raise ValueError(f"bad PNG filter {ft}")
    return (out & 0xFF).astype(np.uint8)


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (PNG spec §9.4)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_chunks(b: bytes):
    pos = len(_PNG_SIG)
    while pos + 8 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        data = b[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        yield typ, data
        pos += 12 + ln
        if typ == b"IEND":
            return
    raise ValueError("PNG missing IEND")


def _png_ihdr(b: bytes) -> tuple[int, int, int]:
    """Parse + validate the IHDR -> (width, height, channels). Header
    work only — O(33 bytes) however large the payload, which is what
    the metadata-decode path wants at scale."""
    if len(b) < len(_PNG_SIG) + 25:
        raise ValueError("truncated PNG header")
    ln, typ = struct.unpack_from(">I4s", b, len(_PNG_SIG))
    if typ != b"IHDR" or ln != 13:
        raise ValueError("PNG first chunk is not IHDR")
    w, h, depth, color, comp, filt, interlace = struct.unpack_from(
        ">IIBBBBB", b, len(_PNG_SIG) + 8
    )
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth}")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color}")
    if comp != 0 or filt != 0:
        raise ValueError("bad PNG compression/filter method")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    if w == 0 or h == 0:
        raise ValueError("zero-dimension PNG")
    return w, h, _PNG_CHANNELS[color]


def _png_unfilter(raw: bytes, h: int, w: int, ch: int) -> bytes:
    """Reverse the per-scanline PNG filters. Row-sequential by spec
    (each row's reconstruction feeds the next); within a row the five
    filter types run as scalar loops over at most w*ch bytes — fine
    for the metadata/feature path where decoded images are thumbnails;
    a corpus of large images would decode through a native codec passed
    as ``decode_images``' ``decoder``."""
    stride = w * ch
    if len(raw) < h * (1 + stride):
        raise ValueError("truncated PNG pixel data")
    out = bytearray(h * stride)
    prev = bytearray(stride)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                b_ = prev[i]
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {ft}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return bytes(out)


def decode_png_to_array(b: bytes) -> np.ndarray:
    """Decode a supported PNG to an (h, w, channels) uint8 array in the
    file's native channel count (1/2/3/4)."""
    w, h, ch = _png_ihdr(b)
    idat = b"".join(d for t, d in _png_chunks(b) if t == b"IDAT")
    if not idat:
        raise ValueError("PNG has no IDAT")
    raw = zlib.decompress(idat)
    flat = np.frombuffer(
        _png_unfilter(raw, h, w, ch), dtype=np.uint8
    )
    return flat.reshape(h, w, ch)


def _parse_netpbm_header(b: bytes) -> tuple[bytes, int, int, int, int]:
    """Parse the ASCII header of a binary netpbm file: returns
    (magic, width, height, maxval, data_offset). Comments (#) and any
    whitespace between tokens are legal per the spec."""
    magic = b[:2]
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        if pos >= len(b):
            raise ValueError("truncated netpbm header")
        c = b[pos : pos + 1]
        if c in b" \t\r\n":
            pos += 1
        elif c == b"#":
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(b) and b[pos : pos + 1].isdigit():
                pos += 1
            vals.append(int(b[start:pos]))
        else:
            raise ValueError(f"bad netpbm header byte {c!r}")
    pos += 1  # single whitespace after maxval, then raw data
    return magic, vals[0], vals[1], vals[2], pos


def decode_image(b: bytes) -> tuple[int, int, int]:
    """Decode BMP/PPM/PGM header -> (width, height, channels). Raises
    ValueError on unknown magic or malformed/truncated payloads — the
    decode_images error column captures this per row."""
    if b[:2] == b"BM":
        if len(b) < _BMP_HEADER + _DIB_HEADER:
            raise ValueError("truncated BMP header")
        w, h = struct.unpack_from("<ii", b, 18)
        bpp = struct.unpack_from("<H", b, 28)[0]
        if bpp % 8 != 0 or bpp == 0:
            raise ValueError(f"unsupported BMP bpp {bpp}")
        return w, abs(h), bpp // 8
    if b[:2] in (b"P6", b"P5"):
        magic, w, h, maxval, off = _parse_netpbm_header(b)
        if maxval > 255:
            raise ValueError("16-bit netpbm not supported")
        c = 3 if magic == b"P6" else 1
        if len(b) - off < w * h * c:
            raise ValueError("truncated netpbm data")
        return w, h, c
    if b[: len(_PNG_SIG)] == _PNG_SIG:
        return _png_ihdr(b)
    if b[:2] == b"\xff\xd8":
        from ballista_extensions_spark.operators.jpegcodec import (
            decode_jpeg_meta,
        )

        return decode_jpeg_meta(b)
    raise ValueError("unknown image format")


def decode_to_array(b: bytes) -> np.ndarray:
    """Decode BMP/PPM/PGM to an (h, w, channels) uint8 RGB array."""
    if b[:2] == b"BM":
        w, h, c = decode_image(b)
        if c != 3:
            raise ValueError("only 24-bit BMP pixel decode supported")
        off = struct.unpack_from("<I", b, 10)[0]
        # biHeight's SIGN carries row order: positive = bottom-up (the
        # common case and what encode_bmp writes), negative = top-down
        # — decode_image returns abs(h), so re-read the sign here or a
        # top-down BMP would silently decode vertically mirrored.
        raw_h = struct.unpack_from("<i", b, 22)[0]
        row = _bmp_row_size(w)
        arr = np.empty((h, w, 3), dtype=np.uint8)
        for y in range(h):
            line = b[off + y * row : off + y * row + 3 * w]
            dst = y if raw_h < 0 else h - 1 - y  # BGR -> RGB below
            arr[dst] = np.frombuffer(line, dtype=np.uint8).reshape(
                w, 3
            )[:, ::-1]
        return arr
    if b[:2] in (b"P6", b"P5"):
        magic, w, h, _maxval, off = _parse_netpbm_header(b)
        c = 3 if magic == b"P6" else 1
        flat = np.frombuffer(b, dtype=np.uint8, count=w * h * c, offset=off)
        if magic == b"P5":
            return np.repeat(flat.reshape(h, w, 1), 3, axis=2)
        return flat.reshape(h, w, 3)
    if b[: len(_PNG_SIG)] == _PNG_SIG:
        arr = decode_png_to_array(b)
        ch = arr.shape[2]
        if ch == 1:  # gray -> RGB
            return np.repeat(arr, 3, axis=2)
        if ch == 2:  # gray+alpha -> RGB (alpha dropped)
            return np.repeat(arr[:, :, :1], 3, axis=2)
        if ch == 4:  # RGBA -> RGB (alpha dropped)
            return arr[:, :, :3]
        return arr
    if b[:2] == b"\xff\xd8":
        from ballista_extensions_spark.operators.jpegcodec import (
            decode_jpeg_to_array,
        )

        arr = decode_jpeg_to_array(b)
        if arr.shape[2] == 1:  # gray -> RGB
            return np.repeat(arr, 3, axis=2)
        return arr
    raise ValueError("unknown image format")


def _gray_grid(arr: np.ndarray, rows: int, cols: int) -> np.ndarray:
    """Nearest-neighbor sample an (h, w, 3) pixel array to a
    rows × cols integer grayscale grid (gray = (r+g+b)//3) — the ONE
    sampling discipline every perceptual hash in the repo shares
    (image dHash/aHash and the video keyframe hash), so a change here
    changes them all together and they stay joinable in the banded
    Hamming join."""
    a = arr.astype(np.int32)
    h, w = a.shape[:2]
    ys = (np.arange(rows) * h) // rows
    xs = (np.arange(cols) * w) // cols
    return a[ys][:, xs].sum(axis=2) // 3


def dhash64_from_array(arr: np.ndarray) -> int:
    """dHash of decoded pixels: 9×8 nearest grayscale grid, bit y*8+x
    set iff the right neighbor is strictly brighter, returned SIGNED
    64-bit. Shared by :func:`dhash64` (encoded images) and
    operators/videocodec.py:video_dhash64 (keyframes)."""
    g = _gray_grid(arr, 8, 9)
    bits = 0
    for y in range(8):
        for x in range(8):
            if g[y, x + 1] > g[y, x]:
                bits |= 1 << (y * 8 + x)
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def dhash64(b: bytes) -> int:
    """64-bit difference hash of an encoded image (any supported
    container): decode, nearest-neighbor sample to a 9×8 grayscale
    grid (gray = (r+g+b)//3, integer), set bit y*8+x iff the right
    neighbor is strictly brighter. All-integer arithmetic on exact
    sampled pixels — deterministic, container-independent (the hash
    sees decoded pixels, so the same image as BMP/PPM/PNG hashes
    identically), and replayable in ANSI SQL for fixture corpora whose
    pixels are arithmetic functions of source bytes.

    Nearest sampling instead of the classical box-downsample is
    deliberate: it is total for ANY source size (the classical 8×8
    block mean has empty blocks below 8 px) and exactly invariant
    under integer-factor nearest upscaling (src row of sampled row y
    at size k*h is ((y*k*h)//8)//k == (y*h)//8) — the property
    tests/test_imagedup.py proves. Returned as a SIGNED 64-bit int so
    it lands in a Spark LongType column unchanged."""
    return dhash64_from_array(decode_to_array(b))
