"""FLAC codec: lossless roundtrips (FIXED orders, stereo, bit depths,
blocksizes), hand-built stereo-decorrelation frames, corrupt-payload
behavior, and the multimodal decode path."""

import struct

import numpy as np
import pytest


def _sig(n, seed=0, amp=8000):
    rng = np.random.default_rng(seed)
    t = np.arange(n)
    x = amp * np.sin(2 * np.pi * 440 * t / 16000) \
        + rng.normal(0, amp / 25, n)
    return np.clip(x, -32768, 32767).astype(np.int64)


@pytest.mark.parametrize("order", [0, 1, 2, 3, 4])
def test_roundtrip_fixed_orders(order):
    from opensmile_spark.flac import decode_flac
    from tests.encoders import encode_flac

    x = _sig(12000, seed=order)
    dec, sr = decode_flac(encode_flac(x, 16000, fixed_order=order))
    assert sr == 16000
    np.testing.assert_array_equal(
        np.round(dec[:, 0] * 32768).astype(np.int64), x)


@pytest.mark.parametrize("blocksize", [192, 1024, 4096])
def test_roundtrip_blocksizes(blocksize):
    from opensmile_spark.flac import decode_flac
    from tests.encoders import encode_flac

    x = _sig(5000, seed=9)
    dec, _ = decode_flac(encode_flac(x, 8000, blocksize=blocksize))
    np.testing.assert_array_equal(
        np.round(dec[:, 0] * 32768).astype(np.int64), x)


def test_roundtrip_stereo_and_constant():
    from opensmile_spark.flac import decode_flac
    from tests.encoders import encode_flac

    x = _sig(8000, seed=2)
    st = np.stack([x, np.roll(x, 5)], -1)
    dec, sr = decode_flac(encode_flac(st, 22050))
    assert sr == 22050 and dec.shape == (8000, 2)
    np.testing.assert_array_equal(
        np.round(dec * 32768).astype(np.int64), st)

    c = np.full(5000, 123, np.int64)          # CONSTANT subframes
    dec, _ = decode_flac(encode_flac(c, 8000, blocksize=192))
    np.testing.assert_array_equal(
        np.round(dec[:, 0] * 32768).astype(np.int64), c)


def test_roundtrip_8bit():
    from opensmile_spark.flac import decode_flac
    from tests.encoders import encode_flac

    rng = np.random.default_rng(3)
    x8 = rng.integers(-128, 128, 3000).astype(np.int64)
    dec, _ = decode_flac(encode_flac(x8, 8000, bps=8))
    np.testing.assert_array_equal(
        np.round(dec[:, 0] * 128).astype(np.int64), x8)


def _decorrelated_payload(left, right, chan_code):
    """Hand-build a 2-channel FLAC stream whose single frame uses the
    given stereo-decorrelation mode with VERBATIM subframes."""
    from tests.encoders import _BitsW, _crc8, _crc16

    bps, bs = 16, len(left)
    side = left - right
    mid = (left + right) >> 1
    out = bytearray(b"fLaC")
    si = _BitsW()
    si.write(bs, 16)
    si.write(bs, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(16000, 20)
    si.write(1, 3)                    # 2 channels
    si.write(bps - 1, 5)
    si.write(bs, 36)
    si.byte_align()
    body = bytes(si.out) + b"\x00" * 16
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body

    bw = _BitsW()
    bw.write(0b11111111111110, 14)
    bw.write(0, 2)
    bw.write(7, 4)                    # 16-bit blocksize follows
    bw.write(0, 4)                    # sample rate from STREAMINFO
    bw.write(chan_code, 4)
    bw.write(4, 3)                    # 16 bps
    bw.write(0, 1)
    bw.write(0, 8)                    # frame 0
    bw.write(bs - 1, 16)
    bw.write(_crc8(bytes(bw.out)), 8)

    if chan_code == 8:                # left/side
        subs = [(left, bps), (side, bps + 1)]
    elif chan_code == 9:              # side/right
        subs = [(side, bps + 1), (right, bps)]
    else:                             # mid/side
        subs = [(mid, bps), (side, bps + 1)]
    for vals, b in subs:
        bw.write(0, 1)
        bw.write(1, 6)                # VERBATIM
        bw.write(0, 1)
        for v in vals:
            bw.write(int(v), b)
    bw.byte_align()
    bw.write(_crc16(bytes(bw.out)), 16)
    out += bytes(bw.out)
    return bytes(out)


@pytest.mark.parametrize("chan_code", [8, 9, 10])
def test_stereo_decorrelation_modes(chan_code):
    """left/side, right/side and mid/side reconstruction must invert
    the decorrelation exactly (spec interchannel semantics)."""
    from opensmile_spark.flac import decode_flac

    rng = np.random.default_rng(chan_code)
    left = rng.integers(-30000, 30000, 64).astype(np.int64)
    right = rng.integers(-30000, 30000, 64).astype(np.int64)
    dec, sr = decode_flac(_decorrelated_payload(left, right, chan_code))
    assert sr == 16000
    got = np.round(dec * 32768).astype(np.int64)
    np.testing.assert_array_equal(got[:, 0], left)
    np.testing.assert_array_equal(got[:, 1], right)


def test_malformed_and_forged():
    from opensmile_spark.flac import decode_flac

    with pytest.raises(ValueError):
        decode_flac(b"fLaX not flac")
    # forged STREAMINFO claiming 2^35 samples
    from tests.encoders import _BitsW

    si = _BitsW()
    si.write(4096, 16)
    si.write(4096, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(16000, 20)
    si.write(0, 3)
    si.write(15, 5)
    si.write(1 << 35, 36)
    si.byte_align()
    body = bytes(si.out) + b"\x00" * 16
    forged = (b"fLaC" + bytes([0x80])
              + struct.pack(">I", len(body))[1:] + body)
    with pytest.raises(ValueError, match="unreasonable"):
        decode_flac(forged)


def test_truncations_terminate():
    from opensmile_spark.flac import decode_flac
    from tests.encoders import encode_flac

    payload = encode_flac(_sig(2000, seed=5), 16000)
    for cut in range(0, len(payload), max(1, len(payload) // 60)):
        try:
            decode_flac(payload[:cut])
        except Exception:
            pass


def test_flac_through_multimodal(spark):
    """FLAC payloads decode distributed; features match WAV of the
    same samples (both normalize to [-1, 1] mono)."""
    from opensmile_spark.multimodal import (
        extract_media_features, wav_features,
    )
    from tests.encoders import encode_flac

    x = _sig(6000, seed=7)
    media = spark.createDataFrame(
        [(0, "audio", bytearray(encode_flac(x, 16000)))],
        "media_id long, kind string, payload binary")
    out = extract_media_features(media, n_features=5,
                                 fake=False).toPandas()
    want = wav_features(x.astype(np.float64) / 32768.0, 16000, 5)
    np.testing.assert_allclose(
        [out.loc[0, f"feat_{i}"] for i in range(5)], want, rtol=1e-9)


def test_reserved_sample_size_code_raises():
    """Frame header ss_code=3 is reserved: fail fast like the other
    reserved codes instead of silently decoding at STREAMINFO bps."""
    from opensmile_spark.flac import decode_flac
    from tests.encoders import encode_flac

    payload = bytearray(encode_flac(_sig(500, seed=8), 16000))
    # frame header starts right after the 4+4+34 byte STREAMINFO block;
    # byte 3 of the header holds (chan_code<<4)|(ss_code<<1)|reserved
    fh = 4 + 4 + 34
    assert payload[fh] == 0xFF and (payload[fh + 1] & 0xFC) == 0xF8
    payload[fh + 3] = (payload[fh + 3] & 0xF1) | (3 << 1)
    with pytest.raises(ValueError, match="sample-size"):
        decode_flac(bytes(payload))
