"""TIFF codec (6.0): lossless roundtrips across compressions/predictor/
strip layouts, hand-built photometric variants, byte-order coverage,
and the multimodal decode path."""

import struct

import numpy as np
import pytest


@pytest.mark.parametrize("shape", [(16, 16, 3), (23, 17), (9, 9, 4)])
@pytest.mark.parametrize("comp", [1, 5, 32773])
@pytest.mark.parametrize("pred", [1, 2])
def test_roundtrips(shape, comp, pred):
    from opensmile_spark.tiff import decode_tiff
    from tests.encoders import encode_tiff

    rng = np.random.default_rng(sum(shape) + comp + pred)
    img = rng.integers(0, 256, shape).astype(np.uint8)
    out = decode_tiff(encode_tiff(img, compression=comp, predictor=pred))
    np.testing.assert_array_equal(out, img)


def test_lzw_table_reset():
    """Large random input overflows the 12-bit LZW table, forcing the
    mid-stream CLEAR (and the early-change width ladder on both
    sides)."""
    from opensmile_spark.tiff import decode_tiff
    from tests.encoders import encode_tiff

    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (120, 140, 3)).astype(np.uint8)
    np.testing.assert_array_equal(
        decode_tiff(encode_tiff(img, compression=5)), img)


def test_multistrip_and_runs():
    from opensmile_spark.tiff import decode_tiff
    from tests.encoders import encode_tiff

    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, (50, 30, 3)).astype(np.uint8)
    np.testing.assert_array_equal(
        decode_tiff(encode_tiff(img, compression=32773,
                                rows_per_strip=7)), img)
    flat = np.full((20, 20, 3), 99, np.uint8)   # PackBits replicate runs
    np.testing.assert_array_equal(
        decode_tiff(encode_tiff(flat, compression=32773)), flat)


def _ifd(entries, endian="<"):
    """Hand-build a single-IFD TIFF; entries = [(tag, type, values)]."""
    type_fmt = {1: "B", 3: "H", 4: "I"}
    type_size = {1: 1, 3: 2, 4: 4}
    hdr = (b"II*\x00" if endian == "<" else b"MM\x00*") \
        + struct.pack(endian + "I", 8)
    ifd_size = 2 + 12 * len(entries) + 4
    blob_off = 8 + ifd_size
    blobs = bytearray()
    out = bytearray(struct.pack(endian + "H", len(entries)))
    for tag, typ, vals in sorted(entries):
        enc = struct.pack(endian + type_fmt[typ] * len(vals), *vals)
        if len(enc) <= 4:
            val = enc + b"\x00" * (4 - len(enc))
        else:
            val = struct.pack(endian + "I", blob_off + len(blobs))
            blobs += enc
        out += struct.pack(endian + "HHI", tag, typ, len(vals)) + val
    out += struct.pack(endian + "I", 0)
    return hdr + bytes(out) + bytes(blobs), blob_off + len(blobs)


def test_whiteiszero_inverts():
    from opensmile_spark.tiff import decode_tiff

    rng = np.random.default_rng(3)
    g = rng.integers(0, 256, (6, 8)).astype(np.uint8)
    entries = [(256, 3, [8]), (257, 3, [6]), (258, 3, [8]),
               (259, 3, [1]), (262, 3, [0]), (277, 3, [1]),
               (278, 3, [6]), (279, 4, [48])]
    head, data_off = _ifd(entries + [(273, 4, [0])])
    # rebuild with the real strip offset now that layout is known
    head, data_off = _ifd(entries + [(273, 4, [data_off])])
    payload = head + g.tobytes()
    np.testing.assert_array_equal(decode_tiff(payload), 255 - g)


def test_palette_colormap():
    from opensmile_spark.tiff import decode_tiff

    rng = np.random.default_rng(4)
    idx = rng.integers(0, 4, (5, 7)).astype(np.uint8)
    # 16-bit colormap: R[4] G[4] B[4], decoder scales >> 8
    cmap16 = list(rng.integers(0, 65536, 12))
    entries = [(256, 3, [7]), (257, 3, [5]), (258, 3, [8]),
               (259, 3, [1]), (262, 3, [3]), (277, 3, [1]),
               (278, 3, [5]), (279, 4, [35]), (320, 3, cmap16)]
    head, data_off = _ifd(entries + [(273, 4, [0])])
    head, data_off = _ifd(entries + [(273, 4, [data_off])])
    payload = head + idx.tobytes()
    got = decode_tiff(payload)
    pal = (np.array(cmap16, dtype=np.uint32)
           .reshape(3, 4).T >> 8).astype(np.uint8)
    np.testing.assert_array_equal(got, pal[idx])


def test_big_endian():
    from opensmile_spark.tiff import decode_tiff

    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (4, 6)).astype(np.uint8)
    entries = [(256, 3, [6]), (257, 3, [4]), (258, 3, [8]),
               (259, 3, [1]), (262, 3, [1]), (277, 3, [1]),
               (278, 3, [4]), (279, 4, [24])]
    head, data_off = _ifd(entries + [(273, 4, [0])], endian=">")
    head, data_off = _ifd(entries + [(273, 4, [data_off])], endian=">")
    np.testing.assert_array_equal(decode_tiff(head + g.tobytes()), g)


def test_malformed_and_forged():
    from opensmile_spark.tiff import decode_tiff

    with pytest.raises(ValueError):
        decode_tiff(b"II+\x00 garbage")
    entries = [(256, 3, [60000]), (257, 3, [60000]), (259, 3, [1]),
               (273, 4, [8]), (279, 4, [10])]
    head, _ = _ifd(entries)
    with pytest.raises(ValueError, match="unreasonable"):
        decode_tiff(head)


def test_truncations_terminate():
    from opensmile_spark.tiff import decode_tiff
    from tests.encoders import encode_tiff

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (20, 20, 3)).astype(np.uint8)
    payload = encode_tiff(img, compression=5)
    for cut in range(0, len(payload), max(1, len(payload) // 60)):
        try:
            decode_tiff(payload[:cut])
        except Exception:
            pass


def test_tiff_through_multimodal(spark):
    from opensmile_spark.multimodal import (
        extract_media_features, image_features,
    )
    from tests.encoders import encode_tiff

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (14, 11, 3)).astype(np.uint8)
    media = spark.createDataFrame(
        [(0, "image", bytearray(encode_tiff(img, compression=5,
                                            predictor=2)))],
        "media_id long, kind string, payload binary")
    out = extract_media_features(media, n_features=4,
                                 fake=False).toPandas()
    want = image_features(img, 4)
    np.testing.assert_allclose(
        [out.loc[0, f"feat_{i}"] for i in range(4)], want, rtol=1e-9)


def test_planar_and_exotic_photometric_raise():
    """PlanarConfiguration=2 and CMYK/YCbCr photometrics must raise
    (silent channel scrambling otherwise), not decode as RGB."""
    from opensmile_spark.tiff import decode_tiff

    base = [(256, 3, [4]), (257, 3, [4]), (258, 3, [8, 8, 8]),
            (259, 3, [1]), (277, 3, [3]), (278, 3, [4]),
            (279, 4, [48]), (273, 4, [8])]
    head, _ = _ifd(base + [(284, 3, [2]), (262, 3, [2])])
    with pytest.raises(ValueError, match="planar"):
        decode_tiff(head + b"\x00" * 48)
    head, _ = _ifd(base + [(262, 3, [5])])           # CMYK
    with pytest.raises(ValueError, match="photometric"):
        decode_tiff(head + b"\x00" * 48)
