"""Pure-python TIFF decoder (TIFF 6.0) — stdlib struct + numpy.

Scanned-document corpora ship TIFF; this closes that leg of the
multimodal decode path: both byte orders (II/MM), IFD walk, strip
assembly, compressions 1 (none), 5 (LZW — the TIFF variant: MSB-first
code packing with the early-change quirk, 256-entry base table) and
32773 (PackBits RLE), horizontal-differencing predictor 2, photometric
interpretations WhiteIsZero / BlackIsZero / RGB / Palette (16-bit
colormap scaled to 8), 8-bit samples at 1/3/4 samples per pixel.

TIFF is lossless, so the roundtrip tests (encoder in tests/encoders.py,
all three compressions + optional predictor) pin exact pixel equality.

Per-payload kernel invoked from the Arrow-batched UDF in multimodal.py;
no Spark objects here.
"""

from __future__ import annotations

import struct

import numpy as np

# corrupt-header guard — see png.py MAX_DECODE_PIXELS rationale
MAX_DECODE_PIXELS = 1 << 26


def _lzw_decode_tiff(data: bytes, max_out: int) -> bytes:
    """TIFF-variant LZW: 8-bit symbols, CLEAR=256, EOI=257, MSB-first
    bit packing, and the spec's early change (width grows when the NEXT
    code could overflow, i.e. one entry earlier than GIF)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    while len(out) < max_out:
        while nbits < width:
            if pos >= len(data):
                return bytes(out)
            # 32-bit mask: nbits never exceeds width-1+8 <= 19, and an
            # unmasked Python-int accumulator grows by 8 bits per input
            # byte — quadratic over a whole strip
            acc = ((acc << 8) | data[pos]) & 0xFFFFFFFF
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == CLEAR:
            reset()
            prev = None
            continue
        if code == EOI:
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
            raise ValueError("corrupt TIFF LZW code")
        out += entry
        prev = entry
        # early change: bump width when table can no longer address the
        # NEXT entry to be added (len+1 == 2^width), capped at 12 bits
        if len(table) + 1 >= (1 << width) and width < 12:
            width += 1
    return bytes(out)


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data) and len(out) < max_out:
        n = data[pos]
        pos += 1
        if n < 128:                              # literal run
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n > 128:                            # replicate
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op
    return bytes(out)


def decode_tiff(payload: bytes) -> np.ndarray:
    """Decode the first IFD of a TIFF to uint8 (h, w) gray, (h, w, 3)
    RGB or (h, w, 4) RGBA."""
    data = bytes(payload)
    if data[:4] == b"II*\x00":
        endian = "<"
    elif data[:4] == b"MM\x00*":
        endian = ">"
    else:
        raise ValueError("not a TIFF (bad signature)")
    (ifd_off,) = struct.unpack(endian + "I", data[4:8])
    (n_entries,) = struct.unpack(endian + "H",
                                 data[ifd_off:ifd_off + 2])
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        e = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack(endian + "HHI", data[e:e + 8])
        if typ not in type_fmt:
            continue
        sz = type_size[typ] * cnt
        if sz <= 4:
            raw = data[e + 8:e + 8 + sz]
        else:
            (off,) = struct.unpack(endian + "I", data[e + 8:e + 12])
            raw = data[off:off + sz]
        tags[tag] = list(struct.unpack(
            endian + type_fmt[typ] * cnt, raw))

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w = one(256)
    h = one(257)
    if w == 0 or h == 0 or w * h > MAX_DECODE_PIXELS:
        raise ValueError(f"unreasonable TIFF dimensions {w}x{h}")
    spp = one(277, 1)
    bits = tags.get(258, [8] * spp)
    if any(b != 8 for b in bits):
        raise ValueError("only 8-bit TIFF samples supported")
    comp = one(259, 1)
    photo = one(262, 1)
    if photo not in (0, 1, 2, 3):
        # CMYK(5)/YCbCr(6)/CIELab(8)... would silently decode as RGB
        raise ValueError(f"unsupported TIFF photometric {photo}")
    if one(284, 1) != 1:                         # PlanarConfiguration
        # planar (RRR...GGG...BBB) data reinterpreted as interleaved
        # RGB is silent corruption — refuse instead
        raise ValueError("planar TIFF (PlanarConfiguration=2) "
                         "not supported")
    pred = one(317, 1)
    rows_per_strip = one(278, h)
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts:
        raise ValueError("TIFF missing strip offsets/counts")

    stride = w * spp
    rows = []
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        nrows = min(rows_per_strip, h - si * rows_per_strip)
        if nrows <= 0:
            break
        raw = data[off:off + cnt]
        if comp == 1:
            dec = raw
        elif comp == 5:
            dec = _lzw_decode_tiff(raw, nrows * stride)
        elif comp == 32773:
            dec = _packbits_decode(raw, nrows * stride)
        else:
            raise ValueError(f"unsupported TIFF compression {comp}")
        if len(dec) < nrows * stride:
            raise ValueError("truncated TIFF strip")
        rows.append(np.frombuffer(
            dec[:nrows * stride], np.uint8).reshape(nrows, stride))
    img = np.vstack(rows)
    if img.shape[0] < h:
        raise ValueError("TIFF strips cover fewer rows than ImageLength")
    img = img[:h]
    if pred == 2:                                # horizontal differencing
        img = img.reshape(h, w, spp).astype(np.uint32)
        img = np.cumsum(img, axis=1).astype(np.uint8).reshape(h, stride)
    img = img.reshape(h, w, spp)
    if photo == 3:                               # palette
        cmap = tags.get(320)
        if not cmap:
            raise ValueError("palette TIFF missing ColorMap")
        n = len(cmap) // 3
        pal = (np.array(cmap, dtype=np.uint32)
               .reshape(3, n).T >> 8).astype(np.uint8)
        return pal[np.minimum(img[..., 0], n - 1)]
    if spp == 1:
        g = img[..., 0]
        return (255 - g) if photo == 0 else g    # WhiteIsZero inverts
    return img                                   # RGB / RGBA
