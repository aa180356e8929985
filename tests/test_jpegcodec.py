"""Baseline JPEG codec (operators/jpegcodec.py): exact flat-block
roundtrip (the oracle path), bounded lossy behavior, subsampling,
restart markers, odd dimensions, header-only metadata, unsupported-
mode rejection, and integration with the generic imagecodec hooks."""

from __future__ import annotations

import numpy as np
import pytest

from ballista_extensions_spark.operators import imagecodec as C
from ballista_extensions_spark.operators import jpegcodec as J

_ONES = (np.ones((8, 8), dtype=np.int32), np.ones((8, 8), dtype=np.int32))


def _rng(seed=0):
    return np.random.default_rng(seed)


def test_flat_block_allones_quant_roundtrips_exactly():
    """The oracle-exactness contract: flat 8×8 blocks + step-1 quant
    decode to the ORIGINAL pixels (DC-only blocks quantize losslessly;
    jpegcodec docstring derivation)."""
    rng = _rng(1)
    for _ in range(5):
        bh, bw = int(rng.integers(1, 6)), int(rng.integers(1, 7))
        vals = rng.integers(0, 256, size=(bh, bw), dtype=np.uint8)
        img = vals.repeat(8, axis=0).repeat(8, axis=1)
        enc = J.encode_jpeg(img, quant_tables=_ONES)
        dec = J.decode_jpeg_to_array(enc)
        assert dec.shape == (bh * 8, bw * 8, 1)
        assert np.array_equal(dec[:, :, 0], img)


def test_lossy_grayscale_bounded_error():
    rng = _rng(2)
    img = rng.integers(0, 256, size=(37, 61), dtype=np.uint8)
    enc = J.encode_jpeg(img, quality=90)
    dec = J.decode_jpeg_to_array(enc)[:, :, 0].astype(int)
    diff = np.abs(dec - img.astype(int))
    assert diff.max() <= 40 and diff.mean() <= 8


def test_color_444_and_420_roundtrip_on_smooth_image():
    yy, xx = np.mgrid[0:40, 0:50]
    img = np.stack(
        [(yy * 3) % 256, (xx * 2) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    for sub, tol in (("444", 8), ("420", 16)):
        enc = J.encode_jpeg(img, quality=95, subsampling=sub)
        assert J.decode_jpeg_meta(enc) == (50, 40, 3)
        dec = J.decode_jpeg_to_array(enc).astype(int)
        assert np.abs(dec - img.astype(int)).max() <= tol, sub


def test_quality_scaling_trades_size_for_error():
    rng = _rng(3)
    img = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    lo = J.encode_jpeg(img, quality=20)
    hi = J.encode_jpeg(img, quality=95)
    assert len(hi) > len(lo)
    err = {
        q: np.abs(
            J.decode_jpeg_to_array(J.encode_jpeg(img, quality=q))[
                :, :, 0
            ].astype(int)
            - img.astype(int)
        ).mean()
        for q in (20, 95)
    }
    assert err[95] < err[20]
    # quality 50 is Annex K verbatim (IJG convention)
    l50, c50 = J.quality_tables(50)
    assert np.array_equal(l50, J.QUANT_LUMA)
    assert np.array_equal(c50, J.QUANT_CHROMA)


def test_restart_interval_does_not_change_pixels():
    rng = _rng(4)
    img = rng.integers(0, 256, size=(32, 32), dtype=np.uint8)
    plain = J.encode_jpeg(img, quality=85)
    rst = J.encode_jpeg(img, quality=85, restart_interval=2)
    assert b"\xff\xdd" in rst and b"\xff\xdd" not in plain
    assert any(bytes([0xFF, 0xD0 + i]) in rst for i in range(8))
    assert np.array_equal(
        J.decode_jpeg_to_array(plain), J.decode_jpeg_to_array(rst)
    )


def test_odd_dimensions_crop_correctly():
    """Non-multiple-of-8 sizes: the padded MCU grid decodes and crops
    back to the declared dimensions; with all-ones quant a flat image
    stays exact even through edge-replicated padding."""
    img = np.full((13, 21), 190, dtype=np.uint8)
    enc = J.encode_jpeg(img, quant_tables=_ONES)
    dec = J.decode_jpeg_to_array(enc)
    assert dec.shape == (13, 21, 1)
    assert np.array_equal(dec[:, :, 0], img)


def test_meta_is_header_only_and_matches_decode():
    rng = _rng(5)
    img = rng.integers(0, 256, size=(24, 40, 3), dtype=np.uint8)
    enc = J.encode_jpeg(img, quality=80)
    w, h, ch = J.decode_jpeg_meta(enc)
    assert (w, h, ch) == (40, 24, 3)
    # header path must not need the scan body: truncate after SOS
    sos = enc.index(b"\xff\xda")
    ln = int.from_bytes(enc[sos + 2 : sos + 4], "big")
    assert J.decode_jpeg_meta(enc[: sos + 2 + ln]) == (40, 24, 3)


def test_unsupported_modes_and_corruption_raise():
    img = np.full((8, 8), 10, dtype=np.uint8)
    enc = bytearray(J.encode_jpeg(img, quant_tables=_ONES))
    sof = bytes(enc).index(b"\xff\xc0")
    prog = enc.copy()
    prog[sof + 1] = 0xC2  # progressive
    with pytest.raises(ValueError, match="progressive|baseline"):
        J.decode_jpeg_meta(bytes(prog))
    with pytest.raises(ValueError):
        J.decode_jpeg_to_array(b"\xff\xd8\xff\xd9")  # empty
    with pytest.raises(ValueError):
        J.decode_jpeg_meta(b"not a jpeg")
    with pytest.raises(ValueError):
        J.decode_jpeg_to_array(bytes(enc[:-20]))  # truncated scan


def test_imagecodec_integration_meta_pixels_resize_dhash():
    """The generic codec entry points see JPEG like any other
    container: magic dispatch in decode_image/decode_to_array, and
    dHash of the (losslessly encoded) flat-block fixture matches the
    hash of the same pixels in PNG."""
    rng = _rng(6)
    vals = rng.integers(0, 256, size=(3, 4), dtype=np.uint8)
    img = vals.repeat(8, axis=0).repeat(8, axis=1)
    enc = J.encode_jpeg(img, quant_tables=_ONES)
    assert C.decode_image(enc) == (32, 24, 1)
    arr = C.decode_to_array(enc)
    assert arr.shape == (24, 32, 3)  # gray expanded to RGB
    assert np.array_equal(arr[:, :, 0], img)
    rgb = np.repeat(img[:, :, np.newaxis], 3, axis=2)
    assert C.dhash64(enc) == C.dhash64(C.encode_png(rgb))
