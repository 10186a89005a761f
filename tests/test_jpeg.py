"""Pure-numpy baseline JPEG codec (opensmile_spark/jpeg.py) + the
multimodal decode path it closes (the last compressed-image stub)."""

import numpy as np
import pytest


def _test_image(h=61, w=83, seed=7):
    rng = np.random.RandomState(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([
        128 + 100 * np.sin(xx / 9.0) * np.cos(yy / 7.0),
        128 + 80 * np.cos(xx / 13.0),
        128 + 60 * np.sin((xx + yy) / 11.0),
    ], axis=-1)
    return np.clip(img + rng.randn(h, w, 3) * 3, 0, 255).astype(np.uint8)


def test_roundtrip_psnr_and_compression():
    from opensmile_spark.jpeg import decode_jpeg, encode_jpeg

    img = _test_image()
    payload = encode_jpeg(img, quality=90)
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    assert len(payload) < img.size // 3          # compresses
    dec = decode_jpeg(payload)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    rmse = np.sqrt(((dec.astype(float) - img.astype(float)) ** 2).mean())
    psnr = 20 * np.log10(255.0 / rmse)
    assert psnr > 32.0, psnr


def test_quality_knob_monotone():
    from opensmile_spark.jpeg import decode_jpeg, encode_jpeg

    img = _test_image()
    hi = encode_jpeg(img, quality=90)
    lo = encode_jpeg(img, quality=30)
    assert len(lo) < len(hi)
    err_hi = np.abs(decode_jpeg(hi).astype(float) - img).mean()
    err_lo = np.abs(decode_jpeg(lo).astype(float) - img).mean()
    assert err_lo > err_hi


def test_non_multiple_of_8_and_tiny():
    from opensmile_spark.jpeg import decode_jpeg, encode_jpeg

    for h, w in ((1, 1), (3, 5), (8, 8), (9, 17)):
        img = _test_image(h, w, seed=h * 31 + w)
        dec = decode_jpeg(encode_jpeg(img, quality=95))
        assert dec.shape == (h, w, 3)
        if h * w >= 15:
            assert np.abs(dec.astype(float) - img).mean() < 20


def test_determinism():
    from opensmile_spark.jpeg import encode_jpeg

    img = _test_image()
    assert encode_jpeg(img, 80) == encode_jpeg(img, 80)


def test_rejects_non_baseline():
    from opensmile_spark.jpeg import decode_jpeg

    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")
    # progressive SOF2 marker stream
    bad = (b"\xff\xd8" + b"\xff\xc2" + b"\x00\x0b"
           + bytes([8]) + b"\x00\x08\x00\x08" + bytes([1, 1, 0x11, 0]))
    with pytest.raises(ValueError):
        decode_jpeg(bad)


def test_spark_decode_media_jpeg(spark):
    """synthetic_media(real_images='jpeg') rows flow through
    extract_media_features with fake=False — the compressed-image decode
    path runs distributed, and the features match a local decode."""
    from opensmile_spark.jpeg import decode_jpeg
    from opensmile_spark.multimodal import (
        extract_media_features, image_features, synthesize_jpeg_bytes,
        synthetic_media,
    )

    media = synthetic_media(spark, n=24, real_audio=True,
                            real_images="jpeg", real_video=True)
    row = media.filter("kind = 'image'").select(
        "media_id", "payload", "width", "height").first()
    assert bytes(row.payload)[:2] == b"\xff\xd8"

    feats = extract_media_features(media, n_features=6,
                                   fake=False).toPandas()
    assert len(feats) == 24
    assert feats[[f"feat_{i}" for i in range(6)]].notna().all().all()

    img = decode_jpeg(synthesize_jpeg_bytes(
        int(row.media_id), int(row.width), int(row.height)))
    want = image_features(img, 6)
    got = feats.set_index("media_id").loc[int(row.media_id)]
    np.testing.assert_allclose(
        [got[f"feat_{i}"] for i in range(6)], want, rtol=1e-9)


def test_fill_bytes_before_marker():
    """T.81 B.1.1.2: repeated 0xFF fill bytes may legally pad any marker.
    The scan must skip them rather than misread a bogus segment length."""
    from opensmile_spark.jpeg import decode_jpeg, encode_jpeg

    img = _test_image(24, 17, seed=3)
    payload = encode_jpeg(img, quality=85)
    want = decode_jpeg(payload)
    # pad the first DQT marker (header region, before entropy data)
    i = payload.index(b"\xff\xdb")
    padded = payload[:i] + b"\xff\xff\xff" + payload[i:]
    got = decode_jpeg(padded)
    np.testing.assert_array_equal(got, want)


def _invalid_progressive_payload(media_id=0, w=16, h=16):
    """A malformed stream: a baseline encoding with its SOF0 marker
    flipped to SOF2. Real progressive decode exists (jpeg_progressive),
    but a full-band Ss=0,Se=63 scan is ILLEGAL under SOF2 (T.81 G.1):
    the decoder must reject it rather than misinterpret the entropy
    data."""
    from opensmile_spark.multimodal import synthesize_jpeg_bytes

    payload = synthesize_jpeg_bytes(media_id, w, h)
    i = payload.index(b"\xff\xc0")
    return payload[:i] + b"\xff\xc2" + payload[i + 2:]


def test_sequential_scan_under_sof2_raises():
    from opensmile_spark.jpeg import decode_jpeg

    with pytest.raises(ValueError, match="SOF2"):
        decode_jpeg(_invalid_progressive_payload())


def test_mixed_corpus_decode_error_column(spark):
    """A corpus mixing valid JPEGs with a malformed stream (plus a BMP)
    must not fail the task: on_error='column' quarantines the per-row
    ValueError into `decode_error` and decodes everything else."""
    from opensmile_spark.multimodal import (
        extract_media_features, synthesize_bmp_bytes, synthesize_jpeg_bytes,
    )

    rows = [
        (0, "image", bytearray(synthesize_jpeg_bytes(0, 16, 16))),
        (1, "image", bytearray(_invalid_progressive_payload(1))),
        (2, "image", bytearray(synthesize_bmp_bytes(2, 16, 16))),
        (3, "video", bytearray(b"\x00\x00\x00\x01h264-ish")),  # unknown codec
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")
    out = extract_media_features(media, n_features=4, fake=False,
                                 on_error="column").toPandas()
    out = out.set_index("media_id").sort_index()
    assert "decode_error" in out.columns
    assert out.loc[0, "decode_error"] is None
    assert out.loc[2, "decode_error"] is None
    assert "SOF2" in out.loc[1, "decode_error"]
    assert "NotImplementedError" in out.loc[3, "decode_error"]
    feat_cols = [f"feat_{i}" for i in range(4)]
    assert out.loc[[0, 2], feat_cols].notna().all().all()
    assert out.loc[[1, 3], feat_cols].isna().all().all()
    # strict mode still fails fast on the same corpus
    with pytest.raises(Exception, match="SOF2|NotImplementedError"):
        extract_media_features(media, n_features=4, fake=False).collect()


@pytest.mark.parametrize("shape", [(16, 24), (19, 30)])
def test_one_scan_per_component_decodes_all_components(shape):
    """A sequential frame may code each component in its own scan (T.81
    A.2.2). Every scan must be decoded: stopping after the first one
    returned the luma plane alone as a (h, w) grayscale image."""
    from opensmile_spark.jpeg import decode_jpeg, encode_jpeg
    from tests.encoders import encode_jpeg_scan_per_component

    img = _test_image(*shape, seed=5)
    payload = encode_jpeg_scan_per_component(img, 85)
    assert payload.count(b"\xff\xda") == 3
    got = decode_jpeg(payload)
    assert got.shape == img.shape and got.dtype == np.uint8
    assert got.tobytes() == decode_jpeg(encode_jpeg(img, 85)).tobytes()
