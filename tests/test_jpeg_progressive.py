"""Progressive JPEG codec (T.81 Annex G) — equality with the baseline
codec and graceful handling of the remaining unsupported variants.

Progressive and baseline entropy-code the SAME quantized coefficients
(T.81 G.1.1), so decoding a progressive encoding of an image must give
bit-identical pixels to decoding its baseline encoding — the strongest
oracle available without libjpeg in the image, and it exercises every
Annex G mechanism the encoder's scan script emits: spectral-selection
bands, successive approximation (Al=1 first passes + Ah=1 refinements
on DC and AC), EOBn runs, ZRL-in-refinement, and buffered correction
bits.
"""

import numpy as np
import pytest


def _img(h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (h, w, 3)).astype(np.uint8)


def _roundtrip_equal(img, quality):
    from opensmile_spark.jpeg import decode_jpeg, encode_jpeg
    from tests.encoders import encode_jpeg_progressive

    base = decode_jpeg(encode_jpeg(img, quality))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality))
    np.testing.assert_array_equal(base, prog)
    return base


@pytest.mark.parametrize("shape", [(16, 16), (24, 17), (8, 40), (33, 9)])
def test_progressive_equals_baseline_noise(shape):
    _roundtrip_equal(_img(*shape, seed=shape[0]), 80)


@pytest.mark.parametrize("quality", [60, 80, 95])
def test_progressive_equals_baseline_qualities(quality):
    _roundtrip_equal(_img(32, 28, seed=1), quality)


def test_progressive_flat_image_eob_runs():
    """A constant image makes every AC block all-zero: the whole AC
    plane collapses into maximal EOBn runs (n >> 1), covering the EOBn
    decode path the single-EOB baseline format never uses."""
    flat = np.full((48, 48, 3), 120, np.uint8)
    _roundtrip_equal(flat, 80)


def test_progressive_gradient_sparse_spectrum():
    """Smooth gradients concentrate energy in low frequencies: long
    zero runs inside bands (ZRL + run-length codes in both first and
    refinement AC scans)."""
    yy, xx = np.mgrid[0:40, 0:56]
    grad = np.stack([(yy * 3) % 256, (xx * 2) % 256,
                     (yy + xx) % 256], -1).astype(np.uint8)
    _roundtrip_equal(grad, 85)


def test_progressive_grayscale_single_component():
    """Single-component frames use non-interleaved DC scans (ns=1 —
    T.81 A.2.2 raster order over the component grid, not MCU order)."""
    from opensmile_spark.jpeg import decode_jpeg
    from tests.encoders import encode_jpeg_progressive

    rng = np.random.default_rng(5)
    g = rng.integers(0, 256, (20, 22)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_progressive(g, 85))
    assert out.shape == (20, 22)
    assert out.dtype == np.uint8
    # oracle: quantize/dequantize the luma plane directly in numpy
    from opensmile_spark.jpeg import _C, _encode_blocks, _quality_scale, \
        Q_LUM, ZIGZAG

    ql = _quality_scale(Q_LUM, 85)
    ph, pw = (20 + 7) // 8 * 8, (22 + 7) // 8 * 8
    chan = np.empty((ph, pw))
    chan[:20, :22] = g
    chan[20:, :22] = g[19:20, :]
    chan[:, 22:] = chan[:, 21:22]
    zz = _encode_blocks(chan, ql).astype(np.float64)
    nat = np.zeros_like(zz)
    nat[:, ZIGZAG] = zz
    nat *= ql.flatten()
    blocks = nat.reshape(ph // 8, pw // 8, 8, 8)
    spatial = np.einsum("xu,ijuv,yv->ijxy", _C.T, blocks, _C.T)
    plane = spatial.transpose(0, 2, 1, 3).reshape(ph, pw) + 128.0
    want = np.clip(plane[:20, :22], 0, 255).astype(np.uint8)
    np.testing.assert_array_equal(out, want)


def test_progressive_fill_bytes_before_marker():
    """T.81 B.1.1.2 fill bytes are legal in progressive streams too."""
    from opensmile_spark.jpeg import decode_jpeg
    from tests.encoders import encode_jpeg_progressive

    payload = encode_jpeg_progressive(_img(16, 16, seed=9), 80)
    want = decode_jpeg(payload)
    i = payload.index(b"\xff\xdb")
    padded = payload[:i] + b"\xff\xff\xff" + payload[i:]
    np.testing.assert_array_equal(decode_jpeg(padded), want)


@pytest.mark.parametrize("sampling", ["420", "422"])
def test_progressive_chroma_subsampling(sampling):
    """4:2:0 / 4:2:2 progressive — the dominant web-JPEG shape: the
    interleaved DC scan carries multiple blocks per MCU (sampling
    factors > 1) while AC scans raster the component's own smaller
    grid. Oracle: a straight-line numpy quantize->dequantize->IDCT->
    upsample pipeline with no entropy coding — the scan machinery must
    be exactly lossless against it."""
    from opensmile_spark.jpeg import (
        _C, _encode_blocks, _quality_scale, Q_CHROM, Q_LUM, ZIGZAG,
        decode_jpeg, rgb_to_ycbcr, ycbcr_to_rgb,
    )
    from tests.encoders import _pad_replicate, encode_jpeg_progressive

    img = _img(35, 29, seed=4)      # odd dims force uneven MCU padding
    out = decode_jpeg(encode_jpeg_progressive(img, 80, sampling=sampling))

    h, w = img.shape[:2]
    samp = {"420": [(2, 2), (1, 1), (1, 1)],
            "422": [(2, 1), (1, 1), (1, 1)]}[sampling]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    ql = _quality_scale(Q_LUM, 80)
    qc = _quality_scale(Q_CHROM, 80)
    ycc = rgb_to_ycbcr(img.astype(np.float64))
    planes = []
    for ci in range(3):
        hs, vs = samp[ci]
        q = ql if ci == 0 else qc
        p = ycc[..., ci]
        fy, fx = vmax // vs, hmax // hs
        if fy > 1 or fx > 1:
            ph2, pw2 = -(-h // fy) * fy, -(-w // fx) * fx
            p = _pad_replicate(p, ph2, pw2)
            p = p.reshape(ph2 // fy, fy, pw2 // fx, fx).mean(axis=(1, 3))
        pby, pbx = mcus_y * vs, mcus_x * hs
        zz = _encode_blocks(
            _pad_replicate(p, pby * 8, pbx * 8), q).astype(np.float64)
        nat = np.zeros_like(zz)
        nat[:, ZIGZAG] = zz
        nat *= q.flatten()
        blocks = nat.reshape(pby, pbx, 8, 8)
        spatial = np.einsum("xu,ijuv,yv->ijxy", _C.T, blocks, _C.T)
        plane = spatial.transpose(0, 2, 1, 3).reshape(
            pby * 8, pbx * 8) + 128.0
        plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        planes.append(plane[:h, :w])
    want = ycbcr_to_rgb(np.stack(planes, -1)).astype(np.uint8)
    np.testing.assert_array_equal(out, want)


def test_arithmetic_coded_still_raises():
    """Arithmetic-coded JPEG (SOF9/SOF10) stays out of scope: the
    decoder must raise a ValueError naming the variant, and the
    multimodal on_error='column' path quarantines it per-row."""
    from opensmile_spark.jpeg import decode_jpeg, encode_jpeg

    payload = encode_jpeg(_img(16, 16, seed=2), 80)
    i = payload.index(b"\xff\xc0")
    arith = payload[:i] + b"\xff\xc9" + payload[i + 2:]
    with pytest.raises(ValueError):
        decode_jpeg(arith)


def test_truncated_progressive_raises():
    from opensmile_spark.jpeg import decode_jpeg

    # SOF2 header but no scan data at all
    bad = (b"\xff\xd8" + b"\xff\xc2" + b"\x00\x0b"
           + bytes([8]) + b"\x00\x08\x00\x08" + bytes([1, 1, 0x11, 0]))
    with pytest.raises(ValueError):
        decode_jpeg(bad)


def test_progressive_through_multimodal_decode(spark):
    """A corpus mixing baseline JPEG, PROGRESSIVE JPEG and BMP decodes
    end-to-end through extract_media_features — progressive is now a
    first-class decode, not a quarantined error."""
    from opensmile_spark.jpeg import decode_jpeg
    from opensmile_spark.multimodal import (
        extract_media_features, image_features, synthesize_bmp_bytes,
        synthesize_jpeg_bytes,
    )
    from tests.encoders import encode_jpeg_progressive

    img = _img(16, 16, seed=11)
    prog_payload = encode_jpeg_progressive(img, 85)
    rows = [
        (0, "image", bytearray(synthesize_jpeg_bytes(0, 16, 16))),
        (1, "image", bytearray(prog_payload)),
        (2, "image", bytearray(synthesize_bmp_bytes(2, 16, 16))),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")
    out = extract_media_features(media, n_features=4, fake=False,
                                 on_error="column").toPandas()
    out = out.set_index("media_id").sort_index()
    assert out["decode_error"].isna().all() \
        or (out["decode_error"].isnull()).all()
    want = image_features(decode_jpeg(prog_payload), 4)
    got = [out.loc[1, f"feat_{i}"] for i in range(4)]
    np.testing.assert_allclose(got, want, rtol=1e-9)
