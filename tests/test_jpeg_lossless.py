"""Lossless JPEG (T.81 Annex H, SOF3) and 12-bit sequential (SOF1):
exact-roundtrip oracles for the predictive codec, dispatch through
decode_jpeg, and the 12-bit DCT path's precision handling.

Lossless means bit-identical samples — the strongest oracle a codec can
have, the same discipline as the PNG/GIF/TIFF/FLAC suites."""

import numpy as np
import pytest

from opensmile_spark.jpeg import _read_frame, decode_jpeg
from tests.encoders import encode_jpeg12, encode_jpeg_lossless


def _gray(seed=7, h=37, w=53):
    rng = np.random.RandomState(seed)
    return (np.cumsum(rng.randn(h, w), axis=1) * 10 + 128) \
        .clip(0, 255).astype(np.uint8)


@pytest.mark.parametrize("pred", range(1, 8))
def test_gray_roundtrip_all_predictors(pred):
    g = _gray()
    out = _read_frame(encode_jpeg_lossless(g, predictor=pred)).samples
    assert out.dtype == np.uint8
    assert np.array_equal(out, g)


def test_rgb_roundtrip_and_dispatch():
    g = _gray(seed=11)
    rgb = np.dstack([g, 255 - g, np.roll(g, 3, axis=1)])
    b = encode_jpeg_lossless(rgb, predictor=4)
    assert np.array_equal(_read_frame(b).samples, rgb)
    # decode_jpeg auto-dispatches on the SOF3 marker
    assert np.array_equal(decode_jpeg(b), rgb)


def test_12bit_exact_and_uint8_scaling():
    rng = np.random.RandomState(2)
    s12 = (np.cumsum(rng.randn(25, 31), axis=0) * 100 + 2048) \
        .clip(0, 4095).astype(np.uint16)
    b = encode_jpeg_lossless(s12, predictor=7, precision=12)
    frame = _read_frame(b)
    out = frame.samples
    assert frame.precision == 12 and out.dtype == np.uint16
    assert np.array_equal(out, s12)
    # pipeline contract: decode_jpeg scales >8-bit samples to uint8
    d8 = decode_jpeg(b)
    assert d8.dtype == np.uint8
    assert np.array_equal(d8, (s12 >> 4).astype(np.uint8))


def test_16bit_point_transform():
    rng = np.random.RandomState(5)
    s16 = rng.randint(0, 65536, (16, 16)).astype(np.uint16)
    b = encode_jpeg_lossless(s16, predictor=1, precision=16,
                             point_transform=2)
    # Pt drops the low bits on encode and restores the scale on decode
    assert np.array_equal(_read_frame(b).samples, (s16 >> 2) << 2)


@pytest.mark.parametrize("ri", [1, 5, 37])
def test_restart_intervals(ri):
    g = _gray(seed=3, h=23, w=41)
    b = encode_jpeg_lossless(g, predictor=6, restart_interval=ri)
    assert np.array_equal(_read_frame(b).samples, g)


def test_restart_rgb_interleaved():
    g = _gray(seed=13, h=19, w=29)
    rgb = np.dstack([g, np.roll(g, 5, axis=0), 255 - g])
    b = encode_jpeg_lossless(rgb, predictor=2, restart_interval=7)
    assert np.array_equal(decode_jpeg(b), rgb)


def test_corrupt_entropy_raises_not_crashes():
    g = _gray(seed=17)
    b = bytearray(encode_jpeg_lossless(g, predictor=4))
    rng = np.random.RandomState(0)
    for _ in range(20):
        bb = bytearray(b)
        i = rng.randint(len(b) // 2, len(b) - 3)
        bb[i] ^= 1 << rng.randint(8)
        try:
            out = decode_jpeg(bytes(bb))
            assert out.shape == g.shape        # decoded garbage is fine
        except ValueError:
            pass                               # clean rejection is fine


def test_12bit_sequential_roundtrip():
    rng = np.random.RandomState(9)
    img12 = (np.cumsum(rng.randn(40, 56), axis=1) * 60 + 2048) \
        .clip(0, 4095).astype(np.int32)
    out = decode_jpeg(encode_jpeg12(img12, quality=95))
    assert out.dtype == np.uint8 and out.shape == img12.shape
    err = np.abs(out.astype(float) - img12 / 16.0)
    # 12-bit DCT quantization error, expressed on the scaled 8-bit axis
    assert err.mean() < 2.0 and err.max() < 20.0


def test_arithmetic_still_rejected():
    # SOF9 (arithmetic sequential) must still raise cleanly
    bad = (b"\xff\xd8\xff\xc9\x00\x0b"
           + bytes([8]) + b"\x00\x08\x00\x08" + bytes([1, 1, 0x11, 0]))
    with pytest.raises(ValueError):
        decode_jpeg(bad)
