"""Pure-numpy PNG decoder (RFC 2083 / ISO 15948) — stdlib zlib + numpy.

Closes the PNG leg of the multimodal corpus-decode path the same way
jpeg.py closes JPEG: chunk parse (IHDR/PLTE/tRNS/IDAT/IEND), zlib
inflate, scanline unfiltering (all 5 filter types incl. Paeth), Adam7
deinterlacing, bit depths 1/2/4/8/16 and color types 0 (gray),
2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA). 16-bit samples are
scaled to 8-bit (>> 8) since the feature path is uint8.

PNG is lossless, so the roundtrip tests (encoder in tests/encoders.py:
fixed or cycling per-row filters, optional Adam7) pin decode to
reproduce input arrays EXACTLY through every unfilter branch.

Per-payload kernel invoked from the Arrow-batched UDF in multimodal.py;
no Spark objects here.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"\x89PNG\r\n\x1a\n"

# Corrupt-header guard: a forged IHDR claiming absurd dimensions must
# raise BEFORE any allocation — at corpus scale one bad payload must not
# OOM an executor (on_error='column' can only quarantine exceptions).
MAX_DECODE_PIXELS = 1 << 26

# Adam7: (x_off, y_off, x_step, y_step) per pass
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Undo per-scanline filtering -> (h, stride) uint8 array."""
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8,
                             count=stride, offset=pos).astype(np.int32)
        pos += stride
        prev = out[y - 1].astype(np.int32) if y else np.zeros(
            stride, dtype=np.int32)
        if ft == 0:                                    # None
            out[y] = line
        elif ft == 2:                                  # Up
            out[y] = (line + prev) & 0xFF
        elif ft == 1:                                  # Sub
            cur = line
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
            out[y] = cur
        elif ft == 3:                                  # Average
            cur = line
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
            out[y] = cur
        elif ft == 4:                                  # Paeth
            cur = line
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + _paeth(a, int(prev[x]), c)) & 0xFF
            out[y] = cur
        else:
            raise ValueError(f"bad PNG filter type {ft}")
    return out


def _unpack_samples(rows: np.ndarray, w: int, channels: int,
                    depth: int) -> np.ndarray:
    """(h, stride) filtered-out bytes -> (h, w, channels) uint8
    samples (16-bit scaled down; sub-byte depths scaled up to 8-bit
    for gray, raw indices for palette — caller maps the palette)."""
    h = rows.shape[0]
    if depth == 8:
        return rows[:, :w * channels].reshape(h, w, channels)
    if depth == 16:
        arr = rows[:, :w * channels * 2].reshape(h, w * channels, 2)
        return arr[..., 0].reshape(h, w, channels)     # high byte == >>8
    # depths 1/2/4: single-channel only (gray or palette indices)
    bits = np.unpackbits(rows, axis=1)
    vals = bits[:, :w * depth].reshape(h, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    idx = (vals * weights).sum(axis=2).astype(np.uint8)
    return idx.reshape(h, w, 1)


def decode_png(payload: bytes) -> np.ndarray:
    """Decode a PNG to uint8 (h, w) gray, (h, w, 3) RGB or (h, w, 4)
    RGBA. All chunk CRCs are ignored (corpus decode favors recovering
    pixels over integrity enforcement); structural errors raise
    ValueError."""
    data = bytes(payload)
    if data[:8] != _MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    trns = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (ln,), ctype = struct.unpack(">I", data[pos:pos + 4]), \
            data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln                       # len + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"PLTE":
            plte = np.frombuffer(chunk, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS":
            trns = chunk
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype_n, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("unsupported PNG compression/filter method")
    if ctype_n not in _CHANNELS:
        raise ValueError(f"unsupported PNG color type {ctype_n}")
    if depth not in (1, 2, 4, 8, 16) or \
            (depth < 8 and ctype_n not in (0, 3)):
        raise ValueError(f"unsupported PNG bit depth {depth}")
    channels = _CHANNELS[ctype_n]
    if w == 0 or h == 0 or w * h > MAX_DECODE_PIXELS:
        raise ValueError(f"unreasonable PNG dimensions {w}x{h}")
    # cap inflate output at the geometry-implied size (zip-bomb guard):
    # every pass needs h*(stride+1) bytes; Adam7 never exceeds 2x that
    stride = (w * channels * depth + 7) // 8
    max_raw = 2 * h * (stride + 1) + 4096
    raw = zlib.decompressobj().decompress(bytes(idat), max_raw)
    bpp = max(1, channels * depth // 8)

    def pass_decode(raw_part, pw, ph):
        stride = (pw * channels * depth + 7) // 8
        rows = _unfilter(raw_part, ph, stride, bpp)
        return _unpack_samples(rows, pw, channels, depth), \
            ph * (stride + 1)

    if interlace == 0:
        img, _used = pass_decode(raw, w, h)
    elif interlace == 1:                              # Adam7
        img = np.zeros((h, w, channels), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, used = pass_decode(raw[off:], pw, ph)
            off += used
            img[y0::dy, x0::dx] = sub
    else:
        raise ValueError(f"unsupported PNG interlace {interlace}")

    if ctype_n == 3:                                  # palette
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        # clamp out-of-range indices (short palettes exist in the wild;
        # gif.py/tiff.py recover the same way)
        idx = np.minimum(img[..., 0], len(plte) - 1)
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(256, 255, dtype=np.uint8)
            alpha[:len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            return np.dstack([rgb, alpha[idx]])
        return rgb
    if ctype_n == 0:
        g = img[..., 0]
        if depth < 8:                                 # scale to 8-bit
            g = (g.astype(np.uint16) * 255 //
                 ((1 << depth) - 1)).astype(np.uint8)
        return g
    if ctype_n == 4:                                  # gray + alpha
        g = img[..., 0]
        return np.dstack([g, g, g, img[..., 1]])
    return img                                        # RGB / RGBA
