"""GIF codec (87a/89a): LZW roundtrips, interlace, animation
compositing with transparency/disposal, and the multimodal path."""

import numpy as np
import pytest


def _pal(n, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, (n, 3)).astype(np.uint8)


def test_single_frame_roundtrip():
    from opensmile_spark.gif import decode_gif
    from tests.encoders import encode_gif

    rng = np.random.default_rng(1)
    pal = _pal(8)
    idx = rng.integers(0, 8, (40, 60)).astype(np.uint8)
    frames, delays = decode_gif(encode_gif(idx, pal))
    assert len(frames) == 1 and delays == [0]
    np.testing.assert_array_equal(frames[0], pal[idx])


def test_interlaced_roundtrip():
    from opensmile_spark.gif import decode_gif
    from tests.encoders import encode_gif

    rng = np.random.default_rng(2)
    pal = _pal(16)
    idx = rng.integers(0, 16, (23, 17)).astype(np.uint8)
    frames, _ = decode_gif(encode_gif(idx, pal, interlace=True))
    np.testing.assert_array_equal(frames[0], pal[idx])


def test_lzw_table_reset_256_colors():
    """A large random 256-color image overflows the 12-bit LZW table,
    forcing the mid-stream CLEAR + table reset on both sides."""
    from opensmile_spark.gif import decode_gif
    from tests.encoders import encode_gif

    rng = np.random.default_rng(3)
    pal = _pal(256)
    idx = rng.integers(0, 256, (100, 120)).astype(np.uint8)
    frames, _ = decode_gif(encode_gif(idx, pal))
    np.testing.assert_array_equal(frames[0], pal[idx])


def test_two_color_min_code_floor():
    """2-color GIFs still use LZW min code size 2 (spec floor)."""
    from opensmile_spark.gif import decode_gif
    from tests.encoders import encode_gif

    rng = np.random.default_rng(4)
    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    bw = rng.integers(0, 2, (16, 16)).astype(np.uint8)
    frames, _ = decode_gif(encode_gif(bw, pal))
    np.testing.assert_array_equal(frames[0], pal[bw])


def test_animation_transparency_compositing():
    """Frame 2 is a sub-rectangle patch with a transparent index: the
    composited canvas keeps frame-1 pixels wherever the patch is
    transparent (GIF89a graphic-control semantics)."""
    from opensmile_spark.gif import decode_gif
    from tests.encoders import encode_gif

    rng = np.random.default_rng(5)
    pal = _pal(8)
    f0 = rng.integers(0, 8, (20, 30)).astype(np.uint8)
    patch = rng.integers(0, 8, (6, 7)).astype(np.uint8)
    frames, delays = decode_gif(encode_gif(
        [(f0, (0, 0)), (patch, (5, 4))], pal, delays=[5, 7],
        transparent=3))
    assert delays == [5, 7]
    canvas = np.zeros((20, 30, 3), np.uint8)
    canvas[:, :] = pal[0]                     # background = index 0
    m = f0 != 3
    canvas[m] = pal[f0][m]
    np.testing.assert_array_equal(frames[0], canvas)
    region = canvas[4:10, 5:12]
    mp = patch != 3
    region[mp] = pal[patch][mp]
    np.testing.assert_array_equal(frames[1], canvas)


def test_malformed_raises():
    from opensmile_spark.gif import decode_gif

    with pytest.raises(ValueError):
        decode_gif(b"GIF90a junk")
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 7 + b"\x3b")


def test_gif_through_multimodal(spark):
    """Still + animated GIFs flow through extract_media_features: the
    still maps to image features, the animation to video features."""
    from opensmile_spark.multimodal import (
        extract_media_features, image_features, video_features,
    )
    from tests.encoders import encode_gif

    rng = np.random.default_rng(6)
    pal = _pal(8)
    still_idx = rng.integers(0, 8, (18, 24)).astype(np.uint8)
    a0 = rng.integers(0, 8, (12, 16)).astype(np.uint8)
    a1 = rng.integers(0, 8, (12, 16)).astype(np.uint8)
    rows = [
        (0, "image", bytearray(encode_gif(still_idx, pal))),
        (1, "video", bytearray(encode_gif(
            [(a0, (0, 0)), (a1, (0, 0))], pal, delays=[4, 4]))),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")
    out = extract_media_features(media, n_features=5,
                                 fake=False).toPandas()
    out = out.set_index("media_id").sort_index()

    want_still = image_features(pal[still_idx], 5)
    np.testing.assert_allclose(
        [out.loc[0, f"feat_{i}"] for i in range(5)], want_still,
        rtol=1e-9)
    canvas0 = np.zeros((12, 16, 3), np.uint8)
    canvas0[:, :] = pal[0]
    canvas0[:] = pal[a0]
    canvas1 = pal[a1]
    want_anim = video_features(
        np.stack([canvas0, canvas1]), 100.0 / 4.0, 5)
    np.testing.assert_allclose(
        [out.loc[1, f"feat_{i}"] for i in range(5)], want_anim,
        rtol=1e-9)


def test_overhanging_frame_clipped():
    """Malformed frames that overhang the logical screen are clipped
    (mainstream-decoder behavior), not a broadcast crash."""
    from opensmile_spark.gif import decode_gif
    from tests.encoders import encode_gif

    rng = np.random.default_rng(9)
    pal = _pal(4)
    full = rng.integers(0, 4, (4, 4)).astype(np.uint8)
    patch = rng.integers(0, 4, (3, 3)).astype(np.uint8)
    frames, _ = decode_gif(encode_gif(
        [(full, (0, 0)), (patch, (3, 3))], pal))
    assert len(frames) == 2
    np.testing.assert_array_equal(frames[1][3, 3], pal[patch[0, 0]])
