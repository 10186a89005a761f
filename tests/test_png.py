"""PNG codec (RFC 2083): lossless roundtrips across filters/interlace/
color types, hand-built variant streams, and the distributed multimodal
decode path."""

import struct
import zlib

import numpy as np
import pytest


def _chunk(ctype, payload):
    return (struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", zlib.crc32(ctype + payload)))


def _wrap(w, h, depth, ctype, idat, extra=b""):
    return (b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth,
                                          ctype, 0, 0, 0))
            + extra + _chunk(b"IDAT", zlib.compress(idat))
            + _chunk(b"IEND", b""))


@pytest.mark.parametrize("shape", [(16, 16, 3), (23, 17, 3), (10, 31),
                                   (9, 9, 4)])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4, "cycle"])
def test_roundtrip_filters(shape, filter_type):
    """PNG is lossless: encode->decode must reproduce the array EXACTLY
    for every per-row filter type (None/Sub/Up/Average/Paeth)."""
    from opensmile_spark.png import decode_png
    from tests.encoders import encode_png

    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, shape).astype(np.uint8)
    out = decode_png(encode_png(img, filter_type=filter_type))
    np.testing.assert_array_equal(out, img)


@pytest.mark.parametrize("shape", [(16, 16, 3), (23, 17, 3), (1, 1, 3),
                                   (2, 3, 3), (5, 1), (3, 3, 4), (7, 2, 3)])
def test_roundtrip_adam7(shape):
    """Adam7 interlacing: 7 sub-images with independent filter chains,
    including degenerate sizes where some passes are empty."""
    from opensmile_spark.png import decode_png
    from tests.encoders import encode_png

    rng = np.random.default_rng(sum(shape) + 1)
    img = rng.integers(0, 256, shape).astype(np.uint8)
    out = decode_png(encode_png(img, interlace=True))
    np.testing.assert_array_equal(out, img)


def test_palette_with_transparency():
    from opensmile_spark.png import decode_png

    rng = np.random.default_rng(2)
    idx = rng.integers(0, 4, (8, 8)).astype(np.uint8)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(8))
    png = (b"\x89PNG\r\n\x1a\n"
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 3, 0, 0, 0))
           + _chunk(b"PLTE", plte)
           + _chunk(b"tRNS", bytes([128, 255, 255, 255]))
           + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    got = decode_png(png)
    assert got.shape == (8, 8, 4)
    want_rgb = np.frombuffer(plte, np.uint8).reshape(4, 3)[idx]
    np.testing.assert_array_equal(got[..., :3], want_rgb)
    assert (got[..., 3][idx == 0] == 128).all()
    assert (got[..., 3][idx != 0] == 255).all()


def test_sub_byte_gray_depths():
    from opensmile_spark.png import decode_png

    rng = np.random.default_rng(3)
    for depth in (1, 2, 4):
        w, h = 11, 4
        g = rng.integers(0, 1 << depth, (h, w)).astype(np.uint8)
        rows = []
        for y in range(h):
            # pack depth-bit samples MSB-first
            bitstream = []
            for v in g[y]:
                bitstream += [int(b) for b in np.binary_repr(v, depth)]
            while len(bitstream) % 8:
                bitstream.append(0)
            rows.append(b"\x00" + np.packbits(
                np.array(bitstream, dtype=np.uint8)).tobytes())
        png = _wrap(w, h, depth, 0, b"".join(rows))
        got = decode_png(png)
        want = (g.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
            np.uint8)
        np.testing.assert_array_equal(got, want)


def test_16bit_scaled_to_8():
    from opensmile_spark.png import decode_png

    rng = np.random.default_rng(4)
    img16 = rng.integers(0, 65536, (6, 5, 3)).astype(np.uint16)
    raw = b"".join(b"\x00" + img16[y].astype(">u2").tobytes()
                   for y in range(6))
    got = decode_png(_wrap(5, 6, 16, 2, raw))
    np.testing.assert_array_equal(got, (img16 >> 8).astype(np.uint8))


def test_gray_alpha():
    from opensmile_spark.png import decode_png

    rng = np.random.default_rng(5)
    ga = rng.integers(0, 256, (7, 9, 2)).astype(np.uint8)
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(7))
    got = decode_png(_wrap(9, 7, 8, 4, raw))
    assert got.shape == (7, 9, 4)
    for c in range(3):
        np.testing.assert_array_equal(got[..., c], ga[..., 0])
    np.testing.assert_array_equal(got[..., 3], ga[..., 1])


def test_malformed_raises():
    from opensmile_spark.png import decode_png

    with pytest.raises(ValueError):
        decode_png(b"\x89PNH not a png")
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + _chunk(b"IEND", b""))


def test_spark_decode_media_png(spark):
    """Driver-built PNG rows, mixed with real WAV audio and AVI video rows,
    decode distributed through extract_media_features fake=False,
    matching a local decode."""
    from opensmile_spark.multimodal import (
        extract_media_features,
        image_features,
        synthesize_avi_bytes,
        synthesize_wav_bytes,
    )
    from opensmile_spark.png import decode_png
    from tests.encoders import synthesize_png_bytes

    # synthetic_media's rows: kind and image geometry follow the id
    kinds = ("image", "audio", "video")
    geom = {i: (i % 4 * 128 + 256, i % 3 * 128 + 256) for i in range(18)}
    synth = {"image": lambda i: synthesize_png_bytes(i, *geom[i]),
             "audio": synthesize_wav_bytes,
             "video": synthesize_avi_bytes}
    media = spark.createDataFrame(
        [(i, kinds[i % 3], bytearray(synth[kinds[i % 3]](i)), *geom[i])
         for i in range(18)],
        "media_id long, kind string, payload binary, width int, "
        "height int")
    row = media.filter("kind = 'image'").select(
        "media_id", "payload", "width", "height").first()
    assert bytes(row.payload)[:8] == b"\x89PNG\r\n\x1a\n"

    feats = extract_media_features(media, n_features=5,
                                   fake=False).toPandas()
    assert len(feats) == 18
    assert feats[[f"feat_{i}" for i in range(5)]].notna().all().all()

    img = decode_png(synthesize_png_bytes(
        int(row.media_id), int(row.width), int(row.height)))
    want = image_features(img, 5)
    got = feats.set_index("media_id").loc[int(row.media_id)]
    np.testing.assert_allclose(
        [got[f"feat_{i}"] for i in range(5)], want, rtol=1e-9)


def test_rgba_composites_over_white(spark):
    """RGBA payloads flow through the decode path with alpha composited
    over white (feature space stays 3-channel)."""
    from opensmile_spark.multimodal import (
        extract_media_features, image_features,
    )
    from tests.encoders import encode_png

    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (12, 10, 4)).astype(np.uint8)
    media = spark.createDataFrame(
        [(0, "image", bytearray(encode_png(img)))],
        "media_id long, kind string, payload binary")
    out = extract_media_features(media, n_features=4,
                                 fake=False).toPandas()
    a = img[..., 3:4].astype(np.float64) / 255.0
    flat = (img[..., :3] * a + 255.0 * (1 - a)).astype(np.uint8)
    want = image_features(flat, 4)
    np.testing.assert_allclose(
        [out.loc[0, f"feat_{i}"] for i in range(4)], want, rtol=1e-9)


def test_short_palette_clamps():
    """Out-of-range palette indices clamp to the last entry (same
    recovery as gif.py/tiff.py) instead of IndexError."""
    from opensmile_spark.png import decode_png

    idx = np.array([[0, 1, 200]], dtype=np.uint8)
    plte = bytes([10, 20, 30, 40, 50, 60])           # 2 entries
    raw = b"\x00" + idx.tobytes()
    png = (b"\x89PNG\r\n\x1a\n"
           + _chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 1, 8, 3, 0, 0, 0))
           + _chunk(b"PLTE", plte)
           + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    got = decode_png(png)
    np.testing.assert_array_equal(got[0, 2], [40, 50, 60])
