"""Pure-python GIF decoder (GIF87a/89a) — stdlib + numpy.

Closes the GIF leg of the multimodal corpus-decode path: header +
logical-screen parse, global/local color tables, variable-width LSB-first
LZW decompression (clear/EOI codes, 12-bit cap), 4-pass interlacing,
GIF89a graphic-control extensions (frame delays, transparency index,
disposal methods 0-3) and multi-frame animation composited onto the
logical screen — so an animated GIF decodes to a frame stack the video
featurizer consumes, and a single-frame GIF to one RGB image.

GIF is lossless on indexed data, so the roundtrip tests (encoder in
tests/encoders.py) pin decode to reproduce the palette-mapped pixels
exactly.

Per-payload kernel invoked from the Arrow-batched UDF in multimodal.py;
no Spark objects here.
"""

from __future__ import annotations

import struct

import numpy as np


# ---- LZW -------------------------------------------------------------------


def _lzw_decode(data: bytes, min_code_size: int, npix: int) -> np.ndarray:
    """GIF-variant LZW: LSB-first variable-width codes, CLEAR and EOI,
    width grows to 12 bits; table resets on CLEAR."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(npix, dtype=np.uint8)
    n_out = 0

    acc = 0
    nbits = 0
    pos = 0
    width = min_code_size + 1
    # table maps code -> byte sequence; base entries are single bytes
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None

    while n_out < npix:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW code")
        take = min(len(entry), npix - n_out)
        out[n_out:n_out + take] = np.frombuffer(entry[:take], np.uint8)
        n_out += take
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return out


_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]

# Corrupt-header guard — see png.py MAX_DECODE_PIXELS rationale.
MAX_DECODE_PIXELS = 1 << 26


def _deinterlace_rows(h: int) -> np.ndarray:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    inv = np.empty(h, dtype=np.int64)
    inv[np.array(order, dtype=np.int64)] = np.arange(h)
    return inv


def decode_gif(payload: bytes):
    """Decode a GIF to (frames, delays_cs): `frames` is a list of
    (h, w, 3) uint8 RGB arrays composited onto the logical screen per
    the GIF89a disposal rules; `delays_cs` the per-frame delays in
    centiseconds (0 for still images)."""
    data = bytes(payload)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    w, h, flags, bg_idx, _ar = struct.unpack("<HHBBB", data[6:13])
    if w == 0 or h == 0 or w * h > MAX_DECODE_PIXELS:
        raise ValueError(f"unreasonable GIF dimensions {w}x{h}")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n],
                            np.uint8).reshape(n, 3)
        pos += 3 * n

    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg_idx < len(gct):
        canvas[:, :] = gct[bg_idx]
    background = canvas.copy()

    frames: list[np.ndarray] = []
    delays: list[int] = []
    transparent = None
    disposal = 0
    delay = 0

    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:                     # trailer
            break
        if block == 0x21:                     # extension
            label = data[pos]
            pos += 1
            if label == 0xF9:                 # graphic control
                size = data[pos]
                gc = data[pos + 1:pos + 1 + size]
                pos += 1 + size
                packed = gc[0]
                disposal = (packed >> 2) & 0x7
                delay = struct.unpack("<H", gc[1:3])[0]
                transparent = gc[3] if packed & 0x01 else None
            # skip remaining sub-blocks (and all other extensions)
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:                   # image descriptor
            fx, fy, fw, fh, iflags = struct.unpack(
                "<HHHHB", data[pos:pos + 9])
            if fw == 0 or fh == 0 or fw * fh > MAX_DECODE_PIXELS:
                raise ValueError(
                    f"unreasonable GIF frame dimensions {fw}x{fh}")
            pos += 9
            ct = gct
            if iflags & 0x80:                 # local color table
                n = 2 << (iflags & 0x07)
                ct = np.frombuffer(data[pos:pos + 3 * n],
                                   np.uint8).reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise ValueError("GIF image with no color table")
            min_code = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos] != 0:
                ln = data[pos]
                lzw += data[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = _lzw_decode(bytes(lzw), min_code, fw * fh).reshape(
                fh, fw)
            if iflags & 0x40:                 # interlaced
                idx = idx[_deinterlace_rows(fh)]
            prior = canvas.copy()
            patch = ct[np.minimum(idx, len(ct) - 1)]
            region = canvas[fy:fy + fh, fx:fx + fw]
            # malformed frames may overhang the logical screen;
            # mainstream decoders clip rather than fail
            ch, cw = region.shape[:2]
            patch = patch[:ch, :cw]
            idx_c = idx[:ch, :cw]
            if transparent is not None:
                mask = (idx_c != transparent)[..., None]
                region[:] = np.where(mask, patch, region)
            else:
                region[:] = patch
            frames.append(canvas.copy())
            delays.append(delay)
            if disposal == 2:                 # restore background
                canvas[fy:fy + fh, fx:fx + fw] = \
                    background[fy:fy + fh, fx:fx + fw]
            elif disposal == 3:               # restore previous
                canvas = prior
            transparent = None
            disposal = 0
            delay = 0
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames, delays
