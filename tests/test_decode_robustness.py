"""Corrupt-payload robustness for every image/animation codec: at
corpus scale `on_error='column'` can only quarantine EXCEPTIONS — a
decoder that hangs or allocates per a forged header would take the
executor down instead. Every truncation/bit-flip of a valid stream must
terminate promptly with either a result or an exception, and absurd
header dimensions must raise before any allocation."""

import struct
import zlib

import numpy as np
import pytest


def _codecs():
    from opensmile_spark.flac import decode_flac
    from opensmile_spark.gif import decode_gif
    from opensmile_spark.jpeg import decode_jpeg, encode_jpeg
    from opensmile_spark.multimodal import decode_avi, synthesize_avi_bytes
    from opensmile_spark.png import decode_png
    from opensmile_spark.tiff import decode_tiff
    from tests.encoders import (
        encode_flac,
        encode_gif,
        encode_jpeg_progressive,
        encode_png,
        encode_tiff,
        synthesize_mjpeg_avi_bytes,
    )

    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (24, 18, 3)).astype(np.uint8)
    pal = rng.integers(0, 256, (8, 3)).astype(np.uint8)
    idx = rng.integers(0, 8, (24, 18)).astype(np.uint8)
    audio = rng.integers(-20000, 20000, 2500).astype(np.int64)
    return [
        ("jpeg", decode_jpeg, encode_jpeg(img, 80)),
        ("jpeg_prog", decode_jpeg, encode_jpeg_progressive(img, 80)),
        ("png", decode_png, encode_png(img)),
        ("gif", decode_gif, encode_gif(idx, pal)),
        ("tiff", decode_tiff, encode_tiff(img, compression=5,
                                          predictor=2)),
        ("flac", decode_flac, encode_flac(audio, 16000)),
        ("avi_raw", decode_avi,
         synthesize_avi_bytes(3, width=18, height=12, n_frames=3)),
        ("avi_mjpg", decode_avi,
         synthesize_mjpeg_avi_bytes(3, width=18, height=12, n_frames=3)),
    ]


@pytest.mark.parametrize("name,decode,payload",
                         _codecs(), ids=lambda v: v if isinstance(v, str)
                         else "")
def test_truncations_terminate(name, decode, payload):
    for cut in range(0, len(payload), max(1, len(payload) // 97)):
        try:
            decode(payload[:cut])
        except Exception:
            pass            # any exception is fine; hanging is not


@pytest.mark.parametrize("name,decode,payload",
                         _codecs(), ids=lambda v: v if isinstance(v, str)
                         else "")
def test_bit_flips_terminate(name, decode, payload):
    rng = np.random.default_rng(1)
    buf = bytearray(payload)
    for _ in range(150):
        pos = int(rng.integers(0, len(buf)))
        old = buf[pos]
        buf[pos] ^= 1 << int(rng.integers(0, 8))
        try:
            decode(bytes(buf))
        except Exception:
            pass
        buf[pos] = old


def test_forged_dimensions_raise_before_allocating():
    """Headers claiming ~4G-pixel images must raise ValueError fast —
    not attempt the allocation."""
    from opensmile_spark.gif import decode_gif
    from opensmile_spark.jpeg import decode_jpeg
    from opensmile_spark.png import decode_png

    # PNG: IHDR says 60000 x 60000
    def chunk(t, p):
        return (struct.pack(">I", len(p)) + t + p
                + struct.pack(">I", zlib.crc32(t + p)))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 60000, 60000,
                                        8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00" * 100))
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="unreasonable"):
        decode_png(png)

    # JPEG: SOF0 says 65000 x 65000 (baseline and the progressive twin)
    for sof_marker in (b"\xff\xc0", b"\xff\xc2"):
        sof = struct.pack(">BHHB", 8, 65000, 65000, 1) + bytes([1, 0x11, 0])
        jpg = (b"\xff\xd8" + sof_marker
               + struct.pack(">H", len(sof) + 2) + sof
               + b"\xff\xda" + struct.pack(">H", 8)
               + bytes([1, 1, 0x00, 0, 63, 0]) + b"\xff\xd9")
        with pytest.raises(ValueError, match="unreasonable"):
            decode_jpeg(jpg)

    # GIF: logical screen 65000 x 65000
    gif = (b"GIF89a" + struct.pack("<HHBBB", 65000, 65000, 0, 0, 0)
           + b"\x3b")
    with pytest.raises(ValueError, match="unreasonable"):
        decode_gif(gif)


def test_png_zip_bomb_capped():
    """An IDAT inflating far beyond the geometry-implied size must not
    expand unboundedly (decompression is capped, decode then errors)."""
    from opensmile_spark.png import decode_png

    def chunk(t, p):
        return (struct.pack(">I", len(p)) + t + p
                + struct.pack(">I", zlib.crc32(t + p)))

    bomb = zlib.compress(b"\x00" * 50_000_000, 9)   # ~48 KB compressed
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", bomb) + chunk(b"IEND", b""))
    # 4x4 RGB implies ~52 raw bytes; the 50 MB stream must be cut off
    out = decode_png(png)     # zeros decode fine after the cap
    assert out.shape == (4, 4, 3)


def _jpeg_payload(name):
    return next(p for n, _d, p in _codecs() if n == name)


@pytest.mark.parametrize("name", ["jpeg", "jpeg_prog"])
def test_jpeg_scan_naming_a_component_twice_raises(name):
    """T.81 B.2.3: the component selectors of one scan are distinct. The
    first scan of either payload is interleaved; its second selector
    overwritten by the first must raise, not decode a wrong image."""
    from opensmile_spark.jpeg import decode_jpeg

    buf = bytearray(_jpeg_payload(name))
    sos = buf.index(b"\xff\xda")
    assert buf[sos + 4] >= 2              # Ns, then (Cs, Td/Ta) pairs
    buf[sos + 7] = buf[sos + 5]
    with pytest.raises(ValueError, match="twice"):
        decode_jpeg(bytes(buf))


def test_jpeg_header_bit_flips_raise_value_error():
    """Every single-bit flip of the header bytes (SOI through the first
    SOS header) of the jpeg payload and of a lossless one either decodes
    or raises ValueError — the one class a caller quarantines. A wrapped lookup/arithmetic/struct error
    names the marker being read and is chained from the original."""
    from opensmile_spark.jpeg import decode_jpeg
    from tests.encoders import encode_jpeg_lossless

    lossless = encode_jpeg_lossless(
        np.random.default_rng(2).integers(0, 256, (12, 9)).astype(np.uint8))
    bad, wrapped = [], 0
    for name, payload in (("jpeg", _jpeg_payload("jpeg")),
                          ("lossless", lossless)):
        sos = payload.index(b"\xff\xda")
        end = sos + 2 + int.from_bytes(payload[sos + 2:sos + 4], "big")
        buf = bytearray(payload)
        for i in range(end):
            for bit in range(8):
                buf[i] ^= 1 << bit
                try:
                    decode_jpeg(bytes(buf))
                except ValueError as e:
                    if str(e).startswith("corrupt JPEG"):
                        wrapped += 1
                        assert "segment" in str(e) and isinstance(
                            e.__cause__,
                            (LookupError, ArithmeticError, struct.error))
                except Exception as e:      # noqa: BLE001 — reported
                    bad.append((name, i, bit, repr(e)))
                buf[i] ^= 1 << bit
    assert not bad, bad[:10]
    assert wrapped > 0


@pytest.mark.parametrize("table_class,symbol", [(0, 12), (1, 0x0B)])
def test_jpeg_magnitude_category_above_precision_raises(table_class,
                                                        symbol):
    """T.81 F.1.2.1/F.1.2.2: at 8-bit precision a DC difference has at
    most 11 magnitude bits and an AC coefficient 10. Every symbol of the
    payload's DC (AC) Huffman tables rewritten to category 12 (run 0,
    size 11) must raise, not decode a wrong image."""
    from opensmile_spark.jpeg import decode_jpeg

    buf = bytearray(_jpeg_payload("jpeg"))
    pos, hits = 2, 0
    while buf[pos + 1] != 0xDA:
        seglen = int.from_bytes(buf[pos + 2:pos + 4], "big")
        if buf[pos + 1] == 0xC4:
            p, end = pos + 4, pos + 2 + seglen
            while p < end:
                n = sum(buf[p + 1:p + 17])
                if buf[p] >> 4 == table_class:
                    buf[p + 17:p + 17 + n] = bytes([symbol]) * n
                    hits += 1
                p += 17 + n
        pos += 2 + seglen
    assert hits
    with pytest.raises(ValueError, match="magnitude category"):
        decode_jpeg(bytes(buf))
