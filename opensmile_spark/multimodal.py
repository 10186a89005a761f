"""Multimodal columns: opaque binary payloads + typed metadata.

A 100 TB training-data table carries image/audio/video as `binary` columns
with typed metadata; the engine's job is the Spark-side plumbing — schema,
partition-friendly batch processing, Arrow-batched UDF signatures — while
the codec work happens in a vectorized kernel.

AUDIO decode is REAL: WAV/PCM payloads are parsed with the stdlib `wave`
module (the cWaveSource analogue — header fields + PCM normalization per
/root/reference/src/iocore/waveSource.cpp:298-361, multi-channel collapsed
like cMonoMixdown) and FLAC via a from-spec pure-python decoder
(opensmile_spark/flac.py: FIXED/LPC subframes, Rice residuals, stereo
decorrelation — the compressed format speech corpora actually ship),
both featurized with numpy (RMS/ZCR/spectral moments — the
cEnergy/cMZcr/cSpectral LLD shapes). IMAGE decode is REAL for
uncompressed 24-bit BMP (pure-struct header parse + numpy pixel view;
channel means / luma stats / edge energy / histogram entropy), for
sequential (8/12-bit), progressive AND lossless JPEG
(opensmile_spark/jpeg.py with jpeg_progressive.py / jpeg_lossless.py:
one from-the-spec pure-numpy decoder — no PIL), for PNG (opensmile_spark/png.py: stdlib-zlib inflate + numpy
unfilter/deinterlace; gray/RGB/RGBA/palette, Adam7, 1-16 bit), for
GIF (opensmile_spark/gif.py: from-spec LZW, interlace, animation
compositing — animated GIFs route to the video featurizer), and for
TIFF (opensmile_spark/tiff.py: none/LZW/PackBits strips, predictor,
palette/WhiteIsZero — the scanned-document-corpus format).
VIDEO decode is REAL for uncompressed AVI
(pure-struct RIFF walk, '00db' raw-DIB frames) and for motion-JPEG AVI
('MJPG' streams, '00dc' chunks — every frame an independent JPEG
through the from-spec codec), so all three modalities
exercise a genuine decode path. H.264 video (needs av) remains the one clearly marked stub
with a deterministic fake behind `fake=True`: batch shapes, schemas and
partitioning are real and tested; only that codec call is replaced.
"""

from __future__ import annotations

from typing import Literal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synthesize_wav_bytes(media_id: int, sr: int = 16000,
                         dur_s: float = 0.5) -> bytes:
    """Deterministic PCM16 mono WAV (stdlib `wave`): two seeded tones +
    low-level noise, so real-decode tests see a nontrivial spectrum."""
    import io
    import wave

    import numpy as np

    rng = np.random.RandomState(int(media_id) % (2 ** 31))
    t = np.arange(int(sr * dur_s)) / sr
    f1 = 220.0 * (1 + media_id % 7)
    f2 = 333.0 * (1 + media_id % 5)
    x = (0.6 * np.sin(2 * np.pi * f1 * t)
         + 0.3 * np.sin(2 * np.pi * f2 * t)
         + 0.05 * rng.randn(t.size))
    pcm = (np.clip(x, -1.0, 1.0) * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def _g711_ulaw_table():
    """G.711 mu-law expansion to 16-bit linear (the audioop/ITU table:
    y = ((2m + 33) << e) - 33 on the complemented byte, scaled x4)."""
    import numpy as np

    u = np.arange(256, dtype=np.uint8) ^ 0xFF
    sign = (u & 0x80) != 0
    e = (u >> 4) & 0x7
    m = u & 0xF
    y = (((2 * m.astype(np.int32) + 33) << e) - 33) * 4
    return np.where(sign, -y, y).astype(np.int16)


def _g711_alaw_table():
    """G.711 A-law expansion to 16-bit linear (even-bit inversion 0x55;
    segment 0 is linear, segments 1-7 scale — scaled x8)."""
    import numpy as np

    a = np.arange(256, dtype=np.uint8) ^ 0x55
    sign = (a & 0x80) != 0
    e = (a >> 4) & 0x7
    m = (a & 0xF).astype(np.int32)
    y = np.where(e == 0, 2 * m + 1, (2 * m + 33) << (e - 1)) * 8
    # A-law sign bit set = POSITIVE (opposite of mu-law)
    return np.where(sign, y, -y).astype(np.int16)


def _decode_wav_nonpcm(payload: bytes):
    """Manual RIFF walk for fmt tags the stdlib wave module rejects:
    3 (IEEE float), 6 (A-law) and 7 (mu-law) — the G.711 encodings
    telephony speech corpora ship. Returns (float64 samples, nch, sr)."""
    import struct as _s

    import numpy as np

    data = payload
    pos = 12
    fmt = raw = None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (ln,) = _s.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + ln]
        pos += 8 + ln + (ln & 1)
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            raw = body
    if fmt is None or raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, nch, sr = _s.unpack("<HHI", fmt[:8])
    (bits,) = _s.unpack("<H", fmt[14:16])
    if tag == 3 and bits == 32:
        x = np.frombuffer(raw, "<f4").astype(np.float64)
    elif tag == 3 and bits == 64:
        x = np.frombuffer(raw, "<f8").astype(np.float64)
    elif tag == 7:
        x = _g711_ulaw_table()[np.frombuffer(raw, np.uint8)] \
            .astype(np.float64) / 32768.0
    elif tag == 6:
        x = _g711_alaw_table()[np.frombuffer(raw, np.uint8)] \
            .astype(np.float64) / 32768.0
    else:
        raise ValueError(f"unsupported WAV format tag {tag}/{bits}-bit")
    return x, nch, sr


def decode_wav(payload: bytes):
    """stdlib WAV/PCM decode — the cWaveSource read path (header fields +
    sample normalization, waveSource.cpp:298-361): returns (mono float64
    array in [-1, 1], sample_rate). Multi-channel input is averaged
    (cMonoMixdown policy). Non-PCM fmt tags (IEEE float, G.711
    A-law/mu-law) take a manual RIFF path the wave module rejects."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            sr = w.getframerate()
            nch = w.getnchannels()
            sw = w.getsampwidth()
            raw = w.readframes(w.getnframes())
    except wave.Error:
        x, nch, sr = _decode_wav_nonpcm(payload)
        if nch > 1:
            x = x.reshape(-1, nch).mean(axis=1)
        return x, sr
    if sw == 1:                        # unsigned 8-bit PCM
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM sample width {sw}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, sr


def wav_features(x, sr: int, n_features: int = 8):
    """Vectorized audio LLDs of one decoded clip: duration, RMS energy,
    ZCR, spectral centroid/rolloff(0.9)/flatness, peak amplitude, log
    energy (dB) — the cEnergy/cMZcr/cSpectral shapes, truncated or
    zero-padded to n_features."""
    import numpy as np

    n = x.size
    if n == 0:
        return [0.0] * n_features
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(x[1:] * x[:-1] < 0)) if n > 1 else 0.0
    mag = np.abs(np.fft.rfft(x))
    freqs = np.fft.rfftfreq(n, d=1.0 / sr)
    tot = float(mag.sum())
    centroid = float((mag * freqs).sum() / tot) if tot > 0 else 0.0
    if tot > 0:
        cum = np.cumsum(mag)
        rolloff = float(freqs[int(np.searchsorted(cum, 0.9 * tot))])
    else:
        rolloff = 0.0
    pos = mag[mag > 0]
    flatness = float(np.exp(np.mean(np.log(pos))) / np.mean(pos)) \
        if pos.size else 0.0
    feats = [n / float(sr), rms, zcr, centroid, rolloff, flatness,
             float(np.abs(x).max()),
             float(10.0 * np.log10(max(np.mean(x * x), 1e-12)))]
    feats = feats[:n_features]
    return feats + [0.0] * (n_features - len(feats))


def synthesize_bmp_bytes(media_id: int, width: int = 64,
                         height: int = 48) -> bytes:
    """Deterministic 24-bit uncompressed BMP (pure struct): a seeded
    two-axis gradient + one bright rectangle, so real-decode tests see
    nontrivial channel means, edges, and histogram."""
    import struct

    import numpy as np

    rng = np.random.RandomState(int(media_id) % (2 ** 31))
    yy, xx = np.mgrid[0:height, 0:width]
    img = np.empty((height, width, 3), dtype=np.uint8)
    img[..., 0] = (xx * 255 // max(width - 1, 1)).astype(np.uint8)
    img[..., 1] = (yy * 255 // max(height - 1, 1)).astype(np.uint8)
    img[..., 2] = int(rng.randint(0, 256))
    x0, y0 = int(rng.randint(0, width // 2)), int(rng.randint(0, height // 2))
    img[y0:y0 + height // 4, x0:x0 + width // 4] = 255
    row_pad = (-(width * 3)) % 4
    # bottom-up rows, BGR order, each row padded to a 4-byte boundary
    rows = b"".join(
        img[r, :, ::-1].tobytes() + b"\x00" * row_pad
        for r in range(height - 1, -1, -1))
    pixel_off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", pixel_off + len(rows), 0, 0,
                         pixel_off)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(rows), 2835, 2835, 0, 0)
    return header + info + rows


def synthesize_jpeg_bytes(media_id: int, width: int = 64,
                          height: int = 48, quality: int = 90) -> bytes:
    """Deterministic baseline JPEG via the from-scratch pure-numpy codec
    (opensmile_spark/jpeg.py): a seeded smooth two-tone field (JPEG-
    friendly) with one bright rectangle — the compressed-image twin of
    synthesize_bmp_bytes."""
    import numpy as np

    from opensmile_spark.jpeg import encode_jpeg

    rng = np.random.RandomState(int(media_id) % (2 ** 31))
    yy, xx = np.mgrid[0:height, 0:width]
    f1 = 5.0 + (media_id % 7)
    f2 = 7.0 + (media_id % 5)
    img = np.stack([
        128 + 90 * np.sin(xx / f1) * np.cos(yy / f2),
        128 + 70 * np.cos(xx / f2),
        128 + 50 * np.sin((xx + yy) / (f1 + f2)),
    ], axis=-1)
    x0, y0 = int(media_id) % max(width - 8, 1), int(media_id) % max(
        height - 8, 1)
    img[y0:y0 + 8, x0:x0 + 8] = 250.0
    img = np.clip(img + rng.randn(height, width, 3) * 2, 0, 255)
    return encode_jpeg(img.astype(np.uint8), quality=quality)


def decode_bmp(payload: bytes):
    """Pure-struct decode of uncompressed 24-bit BMP (BITMAPINFOHEADER):
    returns an (height, width, 3) uint8 RGB array. Handles bottom-up and
    top-down row order and 4-byte row padding."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", payload, 10)[0]
    (hdr_size, width, height, _planes, bpp, compression) = struct.unpack_from(
        "<IiiHHI", payload, 14)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * height, offset=pixel_off
    ).reshape(height, stride)[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[..., ::-1].copy()          # BGR -> RGB


def image_features(img, n_features: int = 8):
    """Vectorized image features of one decoded RGB frame: channel means,
    luminance mean/std, gradient (edge) energy, 16-bin luma-histogram
    entropy, aspect ratio — the decode/resize/featurize stage shape."""
    import numpy as np

    x = img.astype(np.float64)
    luma = 0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2]
    gy = np.abs(np.diff(luma, axis=0)).mean() if luma.shape[0] > 1 else 0.0
    gx = np.abs(np.diff(luma, axis=1)).mean() if luma.shape[1] > 1 else 0.0
    hist, _ = np.histogram(luma, bins=16, range=(0.0, 255.0001))
    p = hist / max(hist.sum(), 1)
    p = p[p > 0]
    feats = [float(x[..., 0].mean()), float(x[..., 1].mean()),
             float(x[..., 2].mean()), float(luma.mean()),
             float(luma.std()), float(gx + gy),
             float(-(p * np.log2(p)).sum()),
             float(img.shape[1]) / float(img.shape[0])]
    feats = feats[:n_features]
    return feats + [0.0] * (n_features - len(feats))


def _avi_rgb_frames(media_id: int, width: int, height: int, n_frames: int):
    """Deterministic clip content shared by every AVI synthesizer: the
    seeded BMP-style gradient with a rectangle marching one pixel per
    frame, so motion energy is nonzero and every pixel is reproducible.
    Returns a list of (h, w, 3) uint8 RGB frames."""
    import numpy as np

    rng = np.random.RandomState(int(media_id) % (2 ** 31))
    blue = int(rng.randint(0, 256))
    x0 = int(rng.randint(0, max(width // 2, 1)))
    y0 = int(rng.randint(0, max(height // 2, 1)))
    yy, xx = np.mgrid[0:height, 0:width]
    base = np.empty((height, width, 3), dtype=np.uint8)
    base[..., 0] = (xx * 255 // max(width - 1, 1)).astype(np.uint8)
    base[..., 1] = (yy * 255 // max(height - 1, 1)).astype(np.uint8)
    base[..., 2] = blue

    frames = []
    for f in range(n_frames):
        img = base.copy()
        fx = (x0 + f) % max(width - width // 4, 1)
        fy = (y0 + f) % max(height - height // 4, 1)
        img[fy:fy + height // 4, fx:fx + width // 4] = 255
        frames.append(img)
    return frames


def _avi_container(frame_chunks, handler: bytes, compression: int,
                   bpp: int, width: int, height: int, fps: int,
                   chunk_id: bytes) -> bytes:
    """Assemble a one-video-stream RIFF/'AVI ' container around
    pre-encoded per-frame payloads (raw DIB rows or JPEG streams)."""
    import struct

    n_frames = len(frame_chunks)
    frame_size = max((len(c) for c in frame_chunks), default=0)

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(fourcc: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", fourcc + data)

    avih = struct.pack(
        "<10I4I", 1_000_000 // fps, frame_size * fps, 0, 0,
        n_frames, 0, 1, frame_size, width, height, 0, 0, 0, 0)
    strh = struct.pack(
        "<4s4sI2H8I4h", b"vids", handler, 0, 0, 0, 0, 1, fps, 0,
        n_frames, frame_size, 0, 0, 0, 0, width, height)
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp,
                       compression, frame_size, 2835, 2835, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(chunk_id, fr)
                                 for fr in frame_chunks))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synthesize_avi_bytes(media_id: int, width: int = 32, height: int = 24,
                         n_frames: int = 8, fps: int = 4) -> bytes:
    """Deterministic uncompressed AVI (pure struct): RIFF/'AVI ' container,
    one 'vids'/'DIB ' stream, one '00db' raw bottom-up BGR24 chunk per
    frame of the shared marching-rectangle clip."""
    stride = (width * 3 + 3) // 4 * 4
    row_pad = stride - width * 3
    chunks = []
    for img in _avi_rgb_frames(media_id, width, height, n_frames):
        chunks.append(b"".join(
            img[r, :, ::-1].tobytes() + b"\x00" * row_pad
            for r in range(height - 1, -1, -1)))
    return _avi_container(chunks, b"DIB ", 0, 24, width, height, fps,
                          b"00db")


#: BITMAPINFOHEADER.biCompression value for motion-JPEG ('MJPG' LE).
_MJPG_FOURCC = 0x47504A4D


def decode_avi(payload: bytes):
    """Pure-struct decode of an AVI clip: walks the RIFF chunk tree for
    the 'strf' BITMAPINFOHEADER (geometry + codec), 'strh' (fps =
    rate/scale) and the 'movi' list. Uncompressed streams parse each
    '00db' raw-DIB chunk exactly like the BMP pixel path (bottom-up
    BGR24, 4-byte row stride); 'MJPG' streams decode each '00dc' chunk
    as an independent JPEG through jpeg.decode_jpeg (motion-JPEG is
    intra-only — every frame is a complete JFIF stream). Frames come in
    file order. Returns (frames (n,h,w,3) uint8 RGB, fps)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")

    geom = {}
    frames = []

    def walk(off: int, end: int):
        while off + 8 <= end:
            fourcc = payload[off:off + 4]
            (size,) = struct.unpack_from("<I", payload, off + 4)
            data0 = off + 8
            if fourcc == b"LIST":
                walk(data0 + 4, data0 + size)
            elif fourcc == b"strh":
                typ, _h, _f, _p, _l, _init, scale, rate = struct.unpack_from(
                    "<4s4sI2H3I", payload, data0)
                if typ == b"vids" and scale:
                    geom["fps"] = rate / scale
            elif fourcc == b"strf" and "width" not in geom:
                _sz, w, h, _pl, bpp, comp = struct.unpack_from(
                    "<IiiHHI", payload, data0)
                if comp == _MJPG_FOURCC:
                    geom["mjpg"] = True
                elif bpp != 24 or comp != 0:
                    raise ValueError(
                        f"unsupported AVI stream: bpp={bpp} compression={comp}")
                geom["width"], geom["height"] = w, h
            elif fourcc[2:4] in (b"db", b"dc"):
                if geom.get("mjpg"):
                    from opensmile_spark.jpeg import decode_jpeg

                    img = decode_jpeg(payload[data0:data0 + size])
                    if img.ndim == 2:
                        img = np.stack([img] * 3, axis=-1)
                    frames.append(img)
                else:
                    w, h = geom["width"], abs(geom["height"])
                    stride = (w * 3 + 3) // 4 * 4
                    rows = np.frombuffer(
                        payload, dtype=np.uint8, count=stride * h,
                        offset=data0).reshape(h, stride)[:, : w * 3] \
                        .reshape(h, w, 3)
                    if geom["height"] > 0:
                        rows = rows[::-1]
                    frames.append(rows[..., ::-1].copy())
            off = data0 + size + (size & 1)

    walk(12, len(payload))
    arr = np.stack(frames) if frames else \
        np.empty((0, geom.get("height", 0), geom.get("width", 0), 3),
                 dtype=np.uint8)
    return arr, geom.get("fps", 0.0)


def video_features(frames, fps: float, n_features: int = 8):
    """Vectorized features of one decoded clip: duration, mean/std luma
    over all frames, motion energy (mean |frame diff|), edge energy and
    histogram entropy of the middle frame, fps, aspect ratio."""
    import numpy as np

    n = frames.shape[0]
    if n == 0:
        return [0.0] * n_features
    x = frames.astype(np.float64)
    luma = 0.299 * x[..., 0] + 0.587 * x[..., 1] + 0.114 * x[..., 2]
    motion = float(np.abs(np.diff(luma, axis=0)).mean()) if n > 1 else 0.0
    mid = frames[n // 2]
    mf = image_features(mid, 8)
    feats = [n / fps if fps else float(n), float(luma.mean()),
             float(luma.std()), motion, mf[5], mf[6],
             float(fps), float(frames.shape[2]) / float(frames.shape[1])]
    feats = feats[:n_features]
    return feats + [0.0] * (n_features - len(feats))


def synthetic_media(spark, n: int = 64, seed: int = 42,
                    real_audio: bool = False,
                    real_images: bool | Literal["jpeg"] = False,
                    real_video: bool = False) -> DataFrame:
    """Deterministic fake media table (payload = hash-derived bytes).
    real_audio=True replaces audio payloads with actual synthesized WAV
    bytes (Arrow-batched pandas UDF — synthesis runs on the executors, so
    the fixture itself scales) and stamps mime='audio/wav'.
    real_images is False, True (24-bit BMP, mime 'image/bmp') or "jpeg"
    (baseline JPEG, 'image/jpeg'); real_video is False or True
    (uncompressed AVI). Any other value raises ValueError."""
    if real_images not in (False, True, "jpeg") or \
            real_video not in (False, True):
        raise ValueError(
            f"synthetic_media: real_images must be False, True or 'jpeg' "
            f"and real_video False or True, got {real_images!r}, "
            f"{real_video!r}")
    df = spark.range(n)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"))
    payload = F.unhex(F.md5(F.concat(F.lit(seed), F.col("id"))))
    out = df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.when(kind == "image", (F.pmod(F.col("id"), F.lit(4)) * 128 + 256)
               .cast("int")).alias("width"),
        F.when(kind == "image", (F.pmod(F.col("id"), F.lit(3)) * 128 + 256)
               .cast("int")).alias("height"),
        F.when(kind == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
        F.when(kind != "image", (F.pmod(F.col("id"), F.lit(30)) + 1)
               .cast("double")).alias("duration_s"),
    )
    if real_audio:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("binary")
        def _wav(mid: pd.Series) -> pd.Series:
            return mid.map(lambda i: synthesize_wav_bytes(int(i)))

        is_audio = F.col("kind") == "audio"
        out = out.withColumn(
            "payload",
            F.when(is_audio, _wav("media_id")).otherwise(F.col("payload")),
        ).withColumn(
            "mime",
            F.when(is_audio, F.lit("audio/wav")).otherwise(F.col("mime")))
    if real_images:
        from pyspark.sql.functions import pandas_udf

        codec = "jpeg" if real_images == "jpeg" else "bmp"
        synth = synthesize_jpeg_bytes if codec == "jpeg" \
            else synthesize_bmp_bytes

        @pandas_udf("binary")
        def _img(mid: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
            # Catalyst extracts Python UDFs out of the WHEN, so this also
            # sees non-image rows (null geometry) — emit a placeholder the
            # unreached branch never uses
            return pd.Series([
                b"" if pd.isna(wv) or pd.isna(hv)
                else synth(int(m), int(wv), int(hv))
                for m, wv, hv in zip(mid, w, h)])

        is_img = F.col("kind") == "image"
        out = out.withColumn(
            "payload",
            F.when(is_img, _img("media_id", "width", "height"))
            .otherwise(F.col("payload")),
        ).withColumn(
            "mime",
            F.when(is_img, F.lit(f"image/{codec}"))
            .otherwise(F.col("mime")))
    if real_video:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("binary")
        def _avi(mid: pd.Series) -> pd.Series:
            return mid.map(lambda i: synthesize_avi_bytes(int(i)))

        is_vid = F.col("kind") == "video"
        out = out.withColumn(
            "payload",
            F.when(is_vid, _avi("media_id")).otherwise(F.col("payload")),
        ).withColumn(
            "mime",
            F.when(is_vid, F.lit("video/x-msvideo")).otherwise(F.col("mime")))
    return out


def extract_media_features(
    df: DataFrame,
    n_features: int = 8,
    fake: bool = False,
    batch_size_hint: int = 256,
    on_error: str = "raise",
) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow-batched bytes).

    WAV/PCM + FLAC audio, uncompressed + motion-JPEG AVI video, 24-bit
    BMP, JPEG (baseline and 12-bit sequential, progressive, lossless),
    PNG, GIF (still + animated) and TIFF payloads are decoded FOR REAL
    (stdlib/pure-struct/pure-numpy parsers incl. the from-spec codecs in
    jpeg.py / jpeg_progressive.py / jpeg_lossless.py / png.py / gif.py /
    tiff.py / flac.py + numpy featurizers). Remaining compressed payloads
    (H.264 video):
    fake=True substitutes a deterministic md5-seeded featurizer so the
    distributed plumbing — binary Arrow transfer, per-batch iteration,
    output schema — is fully exercised; fake=False raises
    NotImplementedError for them (av is not in this image).

    on_error="column" adds a `decode_error` string column and converts
    per-row decode failures (e.g. jpeg.py's ValueError on arithmetic/
    hierarchical streams, truncated payloads and corrupt segments, whose
    message names the marker — progressive, 12-bit sequential and
    lossless SOF3 all decode for real — unknown codecs with fake=False)
    into NaN features + the error message on THAT row instead of killing
    the whole task — at corpus scale one corrupt payload must not fail a
    100k-row partition. on_error="raise" (the default) keeps strict
    fail-fast semantics for curated inputs.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    if on_error not in ("raise", "column"):
        raise ValueError(f"on_error must be 'raise' or 'column', "
                         f"got {on_error!r}")
    feat_cols = [f"feat_{i}" for i in range(n_features)]
    schema = "media_id long, kind string, n_bytes long, " + \
        ", ".join(f"{c} double" for c in feat_cols)
    if on_error == "column":
        schema += ", decode_error string"

    def _to_rgb(img):
        """Normalize a decoded image to (h, w, 3): grayscale stacks,
        RGBA composites alpha over white (shared by JPEG/PNG/TIFF)."""
        if img.ndim == 2:
            return np.stack([img] * 3, axis=-1)
        if img.shape[2] == 4:
            a = img[..., 3:4].astype(np.float64) / 255.0
            return (img[..., :3] * a + 255.0 * (1 - a)).astype(np.uint8)
        return img

    def decode_one(payload, feats, r):
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            x, sr = decode_wav(bytes(payload))
            feats[r] = wav_features(x, sr, n_features)
        elif payload[:4] == b"fLaC":
            from opensmile_spark.flac import decode_flac

            x, sr = decode_flac(bytes(payload))
            feats[r] = wav_features(x.mean(axis=1), sr, n_features)
        elif payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
            frames, fps = decode_avi(bytes(payload))
            feats[r] = video_features(frames, fps, n_features)
        elif payload[:2] == b"BM":
            feats[r] = image_features(decode_bmp(bytes(payload)),
                                      n_features)
        elif payload[:2] == b"\xff\xd8":
            from opensmile_spark.jpeg import decode_jpeg

            feats[r] = image_features(_to_rgb(decode_jpeg(bytes(payload))),
                                      n_features)
        elif payload[:4] in (b"II*\x00", b"MM\x00*"):
            from opensmile_spark.tiff import decode_tiff

            feats[r] = image_features(_to_rgb(decode_tiff(bytes(payload))),
                                      n_features)
        elif payload[:4] == b"GIF8":
            from opensmile_spark.gif import decode_gif

            gframes, gdelays = decode_gif(bytes(payload))
            if len(gframes) == 1:
                feats[r] = image_features(gframes[0], n_features)
            else:
                pos_d = [d for d in gdelays if d > 0]
                mean_cs = float(np.mean(pos_d)) if pos_d else 10.0
                feats[r] = video_features(np.stack(gframes),
                                          100.0 / mean_cs, n_features)
        elif payload[:8] == b"\x89PNG\r\n\x1a\n":
            from opensmile_spark.png import decode_png

            feats[r] = image_features(_to_rgb(decode_png(bytes(payload))),
                                      n_features)
        elif fake:
            h = hashlib.md5(payload).digest()
            feats[r] = [h[i % 16] / 255.0 for i in range(n_features)]
        else:
            raise NotImplementedError(
                "this codec needs PIL/av — not available in this "
                "image; pass fake=True for the deterministic "
                "plumbing path (WAV and FLAC audio; BMP, PNG, GIF, "
                "TIFF and JPEG images, baseline, 12-bit, progressive "
                "or lossless; uncompressed and motion-JPEG AVI video "
                "decode for real either way)")

    def run(batches):
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(
                    lambda b: len(b) if b is not None else 0),
            }
            feats = np.empty((len(pdf), n_features))
            errs = [None] * len(pdf)
            for r, payload in enumerate(pdf["payload"]):
                payload = payload or b""
                if on_error == "raise":
                    decode_one(payload, feats, r)
                    continue
                try:
                    decode_one(payload, feats, r)
                except Exception as e:       # noqa: BLE001 — quarantined
                    feats[r] = np.nan
                    errs[r] = f"{type(e).__name__}: {e}"
            for i, c in enumerate(feat_cols):
                out[c] = feats[:, i]
            if on_error == "column":
                out["decode_error"] = errs
            yield pd.DataFrame(out)

    proj = df.select("media_id", "kind", "payload")
    return proj.mapInPandas(run, schema=schema)


AUDIO_LLD_COLS = [
    "energy", "log_energy", "zcr", "centroid", "rolloff", "flatness",
]


def audio_lld_frames(
    df: DataFrame,
    frame_s: float = 0.025,
    hop_s: float = 0.010,
    window: str = "hamming",
    rolloff_pct: float = 0.90,
    on_error: str = "raise",
) -> DataFrame:
    """The reference's NATIVE signal chain — cFramer -> cWindower ->
    cEnergy/cMZcr/cSpectral — over decoded audio payloads, distributed:
    one output row per (media_id, frame_idx) with per-frame LLDs
    (AUDIO_LLD_COLS), keyed/ordered exactly like the transcript LLD
    table so the SAME downstream operators apply unchanged:

        lld = audio_lld_frames(media)
        sma(lld, ["energy"], 3, partition_cols=("media_id",))
        functionals_kernel(lld, AUDIO_LLD_COLS, ("media_id",),
                           order_col="frame_idx")

    Framing follows cFramer (/root/reference/src/dspcore/framer.cpp:24-38):
    frameSize=frame_s, frameStep=hop_s, only COMPLETE frames are emitted.
    Spectral LLDs apply the named cWindower window
    (windower.cpp — window_weights is the shared implementation) before
    ONE batched rfft over the whole frame matrix per clip; energy/zcr
    read the unwindowed frames (cEnergy sits before cWindower in the
    reference chains: energy.cpp:36-44, mzcr.cpp:33-37, spectral.cpp).

    Decode covers WAV (PCM 8/16/32, IEEE float, G.711 mu/A-law) and FLAC
    via the from-spec codecs. on_error='column' quarantines per-clip
    decode failures into a `decode_error` row (frame_idx=-1, NaN LLDs)
    instead of failing the task — one corrupt payload must not kill a
    100k-row partition at corpus scale. Scale shape: mapInPandas over
    (media_id, payload) — map-only, zero shuffle; parallelism is the
    input's payload-row partitioning (each clip's frame matrix lives
    only inside its task).
    """
    import numpy as np
    import pandas as pd

    from opensmile_spark.operators.windower import window_weights

    if on_error not in ("raise", "column"):
        raise ValueError(f"on_error must be 'raise' or 'column', "
                         f"got {on_error!r}")
    window_weights(window, 8)          # validate the name at plan time
    # carry the caller's id type (string media ids are a common corpus
    # layout) instead of assuming long — same convention as similarity._id_ddl
    id_ddl = df.schema["media_id"].dataType.simpleString()
    lld_schema = (f"media_id {id_ddl}, frame_idx int, frame_ts double, "
                  + ", ".join(f"{c} double" for c in AUDIO_LLD_COLS))
    if on_error == "column":
        lld_schema += ", decode_error string"

    def _decode(payload: bytes):
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            return decode_wav(payload)
        if payload[:4] == b"fLaC":
            from opensmile_spark.flac import decode_flac

            x, sr = decode_flac(payload)
            return x.mean(axis=1), sr
        raise ValueError("audio_lld_frames expects WAV or FLAC payloads")

    def _frame_llds(x: "np.ndarray", sr: int):
        flen = max(int(round(frame_s * sr)), 2)
        hop = max(int(round(hop_s * sr)), 1)
        if x.size < flen:
            return None
        frames = np.lib.stride_tricks.sliding_window_view(x, flen)[::hop]
        n = frames.shape[0]
        msq = np.maximum(np.mean(frames * frames, axis=1), 0.0)
        energy = np.sqrt(msq)
        log_energy = 10.0 * np.log10(np.maximum(msq, 1e-12))
        zcr = np.mean(frames[:, 1:] * frames[:, :-1] < 0, axis=1)
        win = window_weights(window, flen)
        mag = np.abs(np.fft.rfft(frames * win, axis=1))
        freqs = np.fft.rfftfreq(flen, d=1.0 / sr)
        tot = mag.sum(axis=1)
        safe = np.maximum(tot, 1e-30)
        centroid = np.where(tot > 0, (mag * freqs).sum(axis=1) / safe, 0.0)
        cum = np.cumsum(mag, axis=1)
        ridx = (cum >= rolloff_pct * safe[:, None]).argmax(axis=1)
        rolloff = np.where(tot > 0, freqs[ridx], 0.0)
        # geometric/arithmetic mean ratio; eps floor keeps zero bins finite
        gmean = np.exp(np.mean(np.log(np.maximum(mag, 1e-30)), axis=1))
        amean = np.mean(mag, axis=1)
        flatness = np.where(amean > 0, gmean / np.maximum(amean, 1e-30), 0.0)
        return {
            "frame_idx": np.arange(n, dtype=np.int32),
            "frame_ts": np.arange(n, dtype=np.float64) * hop / sr,
            "energy": energy, "log_energy": log_energy, "zcr": zcr,
            "centroid": centroid, "rolloff": rolloff, "flatness": flatness,
        }

    def run(batches):
        for pdf in batches:
            parts = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                err = None
                cols = None
                try:
                    x, sr = _decode(bytes(payload or b""))
                    cols = _frame_llds(np.asarray(x, dtype=np.float64), sr)
                except Exception as e:      # noqa: BLE001 — quarantined
                    if on_error == "raise":
                        raise
                    err = f"{type(e).__name__}: {e}"
                if cols is None and err is None:
                    continue                # clip shorter than one frame
                if err is not None:
                    out = pd.DataFrame({
                        "frame_idx": np.array([-1], dtype=np.int32),
                        "frame_ts": [float("nan")],
                        **{c: [float("nan")] for c in AUDIO_LLD_COLS},
                    })
                else:
                    out = pd.DataFrame(cols)
                out.insert(0, "media_id", mid)
                if on_error == "column":
                    out["decode_error"] = err
                parts.append(out)
            if parts:
                yield pd.concat(parts, ignore_index=True)

    proj = df.select("media_id", "payload")
    return proj.mapInPandas(run, schema=lld_schema)
