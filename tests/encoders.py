"""Test-side encoders for the package's from-spec media decoders.

The package only decodes GIF, TIFF, PNG, FLAC, 12-bit, lossless and
progressive JPEG, and motion-JPEG AVI; the one encoder a package path
reaches, baseline `jpeg.encode_jpeg`, stays there (`synthetic_media(
real_images="jpeg")`). The encoders here exist so the decoders can be
pinned by roundtrips: the lossless formats (PNG, GIF on indexed data,
TIFF, FLAC, lossless JPEG) must decode back to the exact input, and a
4:4:4 progressive JPEG must decode bit-identically to the baseline
encoding of the same image (both entropy-code the same quantized
coefficients, T.81 G.1.1). They reuse the package's tables and bit
writers, so a change there shows up on both sides of a roundtrip.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from opensmile_spark.flac import _FIXED_COEFS
from opensmile_spark.gif import _INTERLACE_PASSES
from opensmile_spark.jpeg import (
    AC_CHROM_BITS,
    AC_CHROM_VALS,
    AC_LUM_BITS,
    AC_LUM_VALS,
    DC_CHROM_BITS,
    DC_CHROM_VALS,
    DC_LUM_BITS,
    DC_LUM_VALS,
    Q_CHROM,
    Q_LUM,
    ZIGZAG,
    _BitWriter,
    _canonical_codes,
    _encode_blocks,
    _quality_scale,
    _seg,
    _write_block,
    encode_jpeg,
    rgb_to_ycbcr,
)
from opensmile_spark.multimodal import (
    _MJPG_FOURCC,
    _avi_container,
    _avi_rgb_frames,
)
from opensmile_spark.png import _ADAM7, _MAGIC, _paeth


# ---- FLAC -------------------------------------------------------------------


def _crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000
                   else crc << 1) & 0xFFFF
    return crc


class _BitsW:
    """MSB-first bit writer."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int):
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int):
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def byte_align(self):
        if self.nbits:
            self.write(0, 8 - self.nbits)


def _rice_encode(bw: _BitsW, res: np.ndarray, param: int):
    for v in res:
        u = (int(v) << 1) ^ (int(v) >> 63)       # zigzag (int64)
        q, r = u >> param, u & ((1 << param) - 1)
        bw.write_unary(q)
        if param:
            bw.write(r, param)


def _best_rice_param(res: np.ndarray) -> int:
    mean = float(np.abs(res).mean()) if len(res) else 0.0
    p = 0
    while (1 << p) < mean + 1 and p < 14:
        p += 1
    return p


def encode_flac(samples: np.ndarray, sample_rate: int,
                bps: int = 16, blocksize: int = 4096,
                fixed_order: int = 2) -> bytes:
    """FLAC from int samples (n,) or (n, channels) — independent
    channels, FIXED-predictor subframes (CONSTANT for flat blocks),
    single Rice partition. Lossless by construction."""
    x = np.asarray(samples, dtype=np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, channels = x.shape
    if not 0 <= fixed_order <= 4:
        raise ValueError("fixed_order must be 0-4")

    out = bytearray(b"fLaC")
    si = _BitsW()
    si.write(blocksize, 16)
    si.write(blocksize, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(n, 36)
    si.byte_align()
    body = bytes(si.out) + b"\x00" * 16          # md5 unset
    out += bytes([0x80]) + struct.pack(">I", len(body))[1:] + body

    frame_no = 0
    for start in range(0, n, blocksize):
        blk = x[start:start + blocksize]
        bs = blk.shape[0]
        bw = _BitsW()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)                           # reserved
        bw.write(0, 1)                           # fixed blocksize strategy
        bw.write(7, 4)                           # blocksize: 16-bit follows
        bw.write(0, 4)                           # sample rate: STREAMINFO
        bw.write(channels - 1, 4)                # independent channels
        bw.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6}.get(bps, 4), 3)
        bw.write(0, 1)                           # reserved
        # UTF-8 frame number (frames are tiny in tests: 1-2 bytes)
        if frame_no < 0x80:
            bw.write(frame_no, 8)
        else:
            bw.write(0xC0 | (frame_no >> 6), 8)
            bw.write(0x80 | (frame_no & 0x3F), 8)
        bw.write(bs - 1, 16)
        bw.write(_crc8(bytes(bw.out)), 8)        # frame-header CRC-8
        for c in range(channels):
            ch = blk[:, c]
            bw.write(0, 1)                       # padding
            if np.all(ch == ch[0]):
                bw.write(0, 6)                   # CONSTANT
                bw.write(0, 1)                   # no wasted bits
                bw.write(int(ch[0]), bps)
                continue
            order = min(fixed_order, bs - 1)
            bw.write(8 + order, 6)               # FIXED
            bw.write(0, 1)                       # no wasted bits
            for i in range(order):
                bw.write(int(ch[i]), bps)
            coefs = _FIXED_COEFS[order]
            res = np.array(
                [int(ch[i]) - sum(c2 * int(ch[i - 1 - j])
                                  for j, c2 in enumerate(coefs))
                 for i in range(order, bs)], dtype=np.int64)
            bw.write(0, 2)                       # rice method 0 (4-bit)
            bw.write(0, 4)                       # partition order 0
            param = min(_best_rice_param(res), 14)
            bw.write(param, 4)
            _rice_encode(bw, res, param)
        bw.byte_align()
        bw.write(_crc16(bytes(bw.out)), 16)      # whole-frame CRC-16
        out += bytes(bw.out)
        frame_no += 1
    return bytes(out)


# ---- GIF --------------------------------------------------------------------


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    width = min_code_size + 1

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    cur = b""
    for v in indices.tobytes():
        nxt = cur + bytes([v])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        table[nxt] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        elif next_code > 4095:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        cur = bytes([v])
    if cur:
        emit(table[cur])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(frames, palette: np.ndarray, delays=None,
               interlace: bool = False, transparent: int | None = None,
               disposal: int = 0) -> bytes:
    """GIF89a from palette-INDEXED frames: `frames` is one (h, w) uint8
    index array or a list of (index_array, (x, y)) patches (first frame
    must be full-screen at (0, 0)); `palette` is (n, 3) uint8 with n a
    power of two >= 2. Lossless on the indexed data."""
    if isinstance(frames, np.ndarray):
        frames = [(frames, (0, 0))]
    palette = np.asarray(palette, dtype=np.uint8)
    n = len(palette)
    if n < 2 or n & (n - 1):
        raise ValueError("palette size must be a power of two >= 2")
    depth = max(1, int(n).bit_length() - 1)
    h, w = frames[0][0].shape

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += palette.tobytes()
    if delays is None:
        delays = [0] * len(frames)
    for (idx, (fx, fy)), delay in zip(frames, delays):
        fh, fw = idx.shape
        if len(frames) > 1 or transparent is not None:
            packed = (disposal << 2) | (1 if transparent is not None
                                        else 0)
            out += bytes([0x21, 0xF9, 4, packed])
            out += struct.pack("<H", delay)
            out += bytes([transparent or 0, 0])
        iflags = 0x40 if interlace else 0
        out += bytes([0x2C]) + struct.pack("<HHHH", fx, fy, fw, fh) \
            + bytes([iflags])
        rows = idx
        if interlace:
            order = []
            for start, step in _INTERLACE_PASSES:
                order.extend(range(start, fh, step))
            rows = idx[np.array(order, dtype=np.int64)]
        min_code = max(2, depth)
        out += bytes([min_code])
        lzw = _lzw_encode(rows.reshape(-1), min_code)
        for i in range(0, len(lzw), 255):
            part = lzw[i:i + 255]
            out += bytes([len(part)]) + part
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


# ---- TIFF -------------------------------------------------------------------


def _lzw_encode_tiff(data: bytes) -> bytes:
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    emit(CLEAR)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        table[nxt] = next_code
        next_code += 1
        # early change: one emission earlier than the GIF-style rule
        # (decoder mirrors with len(table)+1 >= 2^width)
        if next_code >= (1 << width) and width < 12:
            width += 1
        elif next_code > 4093:
            emit(CLEAR)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([b])
    if cur:
        emit(table[cur])
    emit(EOI)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while (i < n and i - lit < 128
               and not (i + 1 < n and data[i + 1] == data[i])):
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def encode_tiff(img: np.ndarray, compression: int = 1,
                predictor: int = 1, rows_per_strip: int | None = None
                ) -> bytes:
    """Little-endian TIFF of uint8 (h, w) gray / (h, w, 3) RGB /
    (h, w, 4) RGBA; compression 1 / 5 (LZW) / 32773 (PackBits);
    predictor 2 = horizontal differencing. Lossless."""
    img = np.ascontiguousarray(np.asarray(img, dtype=np.uint8))
    if img.ndim == 2:
        img = img[..., None]
    h, w, spp = img.shape
    if rows_per_strip is None:
        rows_per_strip = max(1, min(h, 8192 // max(1, w * spp // 8)))
    raw = img
    if predictor == 2:
        d = img.astype(np.int16)
        d[:, 1:] = d[:, 1:] - d[:, :-1]
        raw = (d & 0xFF).astype(np.uint8)
    flat = raw.reshape(h, w * spp)

    strips = []
    for y0 in range(0, h, rows_per_strip):
        chunk = flat[y0:y0 + rows_per_strip].tobytes()
        if compression == 5:
            strips.append(_lzw_encode_tiff(chunk))
        elif compression == 32773:
            strips.append(_packbits_encode(chunk))
        else:
            strips.append(chunk)

    entries = []                 # (tag, type, count, value_or_bytes)

    def short(tag, *vals):
        entries.append((tag, 3, len(vals),
                        struct.pack("<" + "H" * len(vals), *vals)))

    def long_(tag, *vals):
        entries.append((tag, 4, len(vals),
                        struct.pack("<" + "I" * len(vals), *vals)))

    short(256, w)
    short(257, h)
    short(258, *([8] * spp))
    short(259, compression)
    short(262, 2 if spp >= 3 else 1)
    # strip offsets filled after layout
    short(277, spp)
    short(278, rows_per_strip)
    long_(279, *[len(s) for s in strips])
    if predictor == 2:
        short(317, predictor)

    # layout: header(8) + IFD + external value blobs + strip data
    n_strip = len(strips)
    ifd_entries = len(entries) + 1               # + StripOffsets
    ifd_size = 2 + 12 * ifd_entries + 4
    blob_off = 8 + ifd_size
    blobs = bytearray()

    def place(value: bytes) -> tuple[int, bytes]:
        nonlocal blob_off
        if len(value) <= 4:
            return 0, value + b"\x00" * (4 - len(value))
        off = blob_off
        blobs.extend(value)
        blob_off += len(value)
        return off, struct.pack("<I", off)

    strip_data_off = None        # resolved after blobs

    packed = []
    for tag, typ, cnt, val in sorted(entries) + [(273, 4, n_strip, None)]:
        if tag == 273:
            # placeholder; patched once strip data offset is known
            if n_strip == 1:
                packed.append((tag, typ, cnt, b"\x00\x00\x00\x00", None))
            else:
                off, enc = place(b"\x00" * 4 * n_strip)
                packed.append((tag, typ, cnt, enc, off))
            continue
        _, enc = place(val)
        packed.append((tag, typ, cnt, enc, None))
    packed.sort(key=lambda e: e[0])

    strip_data_off = blob_off
    offs = []
    o = strip_data_off
    for s in strips:
        offs.append(o)
        o += len(s)
    # patch StripOffsets
    final = []
    for tag, typ, cnt, enc, ext in packed:
        if tag == 273:
            if n_strip == 1:
                enc = struct.pack("<I", offs[0])
            else:
                blobs[ext - 8 - ifd_size:ext - 8 - ifd_size
                      + 4 * n_strip] = struct.pack(
                          "<" + "I" * n_strip, *offs)
        final.append((tag, typ, cnt, enc))

    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", ifd_entries)
    for tag, typ, cnt, enc in final:
        out += struct.pack("<HHI", tag, typ, cnt) + enc
    out += struct.pack("<I", 0)                  # no next IFD
    out += blobs
    for s in strips:
        out += s
    return bytes(out)


# ---- PNG --------------------------------------------------------------------


def _filter_row(cur: np.ndarray, prev: np.ndarray, bpp: int,
                ft: int) -> np.ndarray:
    c = cur.astype(np.int32)
    p = prev.astype(np.int32)
    left = np.zeros_like(c)
    left[bpp:] = c[:-bpp]
    if ft == 0:
        out = c
    elif ft == 1:
        out = c - left
    elif ft == 2:
        out = c - p
    elif ft == 3:
        out = c - ((left + p) >> 1)
    else:
        upleft = np.zeros_like(p)
        upleft[bpp:] = p[:-bpp]
        out = c.copy()
        for x in range(len(c)):
            out[x] = c[x] - _paeth(int(left[x]), int(p[x]),
                                   int(upleft[x]))
    return (out & 0xFF).astype(np.uint8)


def encode_png(img: np.ndarray, filter_type: str | int = "cycle",
               interlace: bool = False, level: int = 6) -> bytes:
    """Lossless PNG of a uint8 (h, w) gray / (h, w, 3) RGB /
    (h, w, 4) RGBA array. filter_type: an int 0-4 for a fixed per-row
    filter, or 'cycle' to rotate through all five (exercises every
    decoder unfilter branch). interlace=True writes Adam7."""
    img = np.ascontiguousarray(np.asarray(img, dtype=np.uint8))
    if img.ndim == 2:
        ctype, channels = 0, 1
        img = img[..., None]
    elif img.ndim == 3 and img.shape[2] == 3:
        ctype, channels = 2, 3
    elif img.ndim == 3 and img.shape[2] == 4:
        ctype, channels = 6, 4
    else:
        raise ValueError("encode_png expects (h,w), (h,w,3) or (h,w,4)")
    h, w = img.shape[:2]
    bpp = channels

    def filtered_stream(sub: np.ndarray) -> bytes:
        ph, pw = sub.shape[:2]
        flat = sub.reshape(ph, pw * channels)
        out = bytearray()
        prev = np.zeros(pw * channels, dtype=np.uint8)
        for y in range(ph):
            ft = (y % 5) if filter_type == "cycle" else int(filter_type)
            out.append(ft)
            out += _filter_row(flat[y], prev, bpp, ft).tobytes()
            prev = flat[y]
        return bytes(out)

    if not interlace:
        raw = filtered_stream(img)
    else:
        raw = b"".join(
            filtered_stream(img[y0::dy, x0::dx])
            for x0, y0, dx, dy in _ADAM7
            if (w - x0 + dx - 1) // dx > 0 and (h - y0 + dy - 1) // dy > 0)

    def chunk(ctype_b: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + ctype_b + payload
                + struct.pack(">I", zlib.crc32(ctype_b + payload)))

    out = bytearray(_MAGIC)
    out += chunk(b"IHDR", struct.pack(
        ">IIBBBBB", w, h, 8, ctype, 0, 0, 1 if interlace else 0))
    out += chunk(b"IDAT", zlib.compress(raw, level))
    out += chunk(b"IEND", b"")
    return bytes(out)


# ---- JPEG, one sequential scan per component ----------------------------------


def encode_jpeg_scan_per_component(rgb: np.ndarray,
                                   quality: int = 85) -> bytes:
    """`encode_jpeg(rgb, quality)` with its one interleaved scan split into
    three single-component scans (T.81 A.2.2, legal in sequential mode):
    the same headers, tables and quantized blocks, each component coded
    in raster order over its own block grid with its own DC prediction."""
    rgb = np.asarray(rgb)
    h, w = rgb.shape[:2]
    base = encode_jpeg(rgb, quality)
    pos = 2
    while base[pos + 1] != 0xDA:            # walk the header segments
        pos += 2 + struct.unpack(">H", base[pos + 2:pos + 4])[0]
    out = bytearray(base[:pos])             # SOI, APP0, DQT, SOF0, DHT
    ycc = rgb_to_ycbcr(rgb.astype(np.float64))
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    lum = (_quality_scale(Q_LUM, quality), 0x00,
           _canonical_codes(DC_LUM_BITS, DC_LUM_VALS),
           _canonical_codes(AC_LUM_BITS, AC_LUM_VALS))
    chrom = (_quality_scale(Q_CHROM, quality), 0x11,
             _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS),
             _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS))
    for ci, (q, tables, dc, ac) in enumerate((lum, chrom, chrom)):
        bw = _BitWriter()
        pred = 0
        for zz in _encode_blocks(_pad_replicate(ycc[..., ci], ph, pw), q):
            pred = _write_block(bw, zz, pred, dc, ac)
        bw.flush()
        out += _seg(0xFFDA, bytes([1, ci + 1, tables, 0, 63, 0]))
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---- JPEG, 12-bit extended sequential ---------------------------------------


# generic 12-bit tables (T.81 F.1.2: DC SSSS reaches 15, AC size 14 —
# past the 8-bit Annex K tables, so extended-precision streams carry
# their own): 16 DC categories at 5 bits, all 226 AC symbols at 8 bits
_DC12_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC12_VALS = list(range(16))
_AC12_BITS = [0, 0, 0, 0, 0, 0, 0, 226, 0, 0, 0, 0, 0, 0, 0, 0]
_AC12_VALS = [0x00, 0xF0] + [(r << 4) | s
                             for r in range(16) for s in range(1, 15)]


def encode_jpeg12(samples: np.ndarray, quality: int = 85) -> bytes:
    """12-bit extended sequential JPEG (SOF1), single grayscale component.
    `samples` is (h, w) integers in 0..4095; quantization is the Annex K
    luma table at the given quality (legal for any precision — dequant is
    table-driven either way)."""
    a = np.asarray(samples)
    if a.ndim != 2:
        raise ValueError("encode_jpeg12 expects (h, w) 12-bit samples")
    h, w = a.shape
    ql = _quality_scale(Q_LUM, quality)
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.empty((ph, pw))
    padded[:h, :w] = a
    padded[h:, :w] = a[h - 1:h, :]
    padded[:, w:] = padded[:, w - 1:w]
    zz = _encode_blocks(padded, ql, center=2048.0)

    dc = _canonical_codes(_DC12_BITS, _DC12_VALS)
    ac = _canonical_codes(_AC12_BITS, _AC12_VALS)
    bw = _BitWriter()
    pred = 0
    for blk in range(zz.shape[0]):
        pred = _write_block(bw, zz[blk], pred, dc, ac)
    bw.flush()

    seg = _seg
    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB,
               bytes([0]) + bytes(ql.flatten()[ZIGZAG].astype(np.uint8)))
    out += seg(0xFFC1, struct.pack(">BHHB", 12, h, w, 1) + bytes([1, 0x11, 0]))
    out += seg(0xFFC4, bytes([0x00] + _DC12_BITS) + bytes(_DC12_VALS))
    out += seg(0xFFC4, bytes([0x10] + _AC12_BITS) + bytes(_AC12_VALS))
    out += seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---- JPEG, lossless (SOF3) --------------------------------------------------


# generic SSSS table: 17 symbols (0..16), all 5-bit codes — canonical per
# Annex C (codes 0..16 of 5 bits; the all-ones code is never assigned)
_LL_BITS = [0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_LL_VALS = list(range(17))


def encode_jpeg_lossless(img: np.ndarray, predictor: int = 4,
                         precision: int | None = None,
                         point_transform: int = 0,
                         restart_interval: int = 0) -> bytes:
    """Encode (h, w) or (h, w, nc<=4) integer samples as a lossless JPEG
    (SOF3). `precision` defaults to 8 for uint8 input, 16 otherwise;
    samples must already fit the precision. Components are interleaved at
    1x1 sampling; no color transform (lossless JPEG codes components
    as-is). `restart_interval` > 0 emits RSTn every that many MCUs
    (= sample positions), resetting prediction to the scan default."""
    a = np.asarray(img)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] > 4:
        raise ValueError("encode_jpeg_lossless expects (h, w[, nc<=4])")
    if precision is None:
        precision = 8 if a.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError("lossless JPEG precision must be 2..16")
    pt = int(point_transform)
    h, w, nc = a.shape
    s = (a.astype(np.int64) >> pt)

    # Vectorized prediction (the decode side is inherently sequential —
    # each prediction needs reconstructed neighbours — but the ENCODE side
    # sees all samples up front, so the predictor lattice is pure numpy):
    # base = selected predictor from shifted views, then the H.1.2.2 edge
    # overlays — Rb for column 0, Ra for every sample on a line where the
    # scan/a restart interval began, the default at each reset sample.
    ra = np.empty_like(s)
    rb = np.empty_like(s)
    rc = np.empty_like(s)
    ra[:, 1:] = s[:, :-1]
    ra[:, :1] = 0
    rb[1:] = s[:-1]
    rb[:1] = 0
    rc[1:, 1:] = s[:-1, :-1]
    rc[:1] = 0
    rc[:, :1] = 0
    if predictor == 1:
        pred = ra.copy()
    elif predictor == 2:
        pred = rb.copy()
    elif predictor == 3:
        pred = rc.copy()
    elif predictor == 4:
        pred = ra + rb - rc
    elif predictor == 5:
        pred = ra + ((rb - rc) >> 1)
    elif predictor == 6:
        pred = rb + ((ra - rc) >> 1)
    elif predictor == 7:
        pred = (ra + rb) >> 1
    else:
        raise ValueError(f"invalid lossless predictor selector {predictor}")
    pred[1:, 0] = s[:-1, 0]                    # column 0: Rb
    default = 1 << (precision - pt - 1)
    resets = [0]                               # flat MCU indices that reset
    if restart_interval:
        resets += list(range(restart_interval, h * w, restart_interval))
    line1 = np.zeros((h, w), dtype=bool)       # Ra-rule region (H.1.2.2)
    for m in resets:
        y0, x0 = divmod(m, w)
        line1[y0, x0 + 1:] = True
    pred[line1] = ra[line1]
    for m in resets:
        y0, x0 = divmod(m, w)
        pred[y0, x0] = default
    # modulo-65536 differences mapped to [-32768, 32767], flat (y, x, c)
    diffs = ((s - pred + 32768) % 65536 - 32768).ravel().tolist()

    codes = _canonical_codes(_LL_BITS, _LL_VALS)
    bw = _BitWriter()
    write = bw.write
    if restart_interval:
        per_rst = restart_interval * nc
        for k in range(0, len(diffs), per_rst):
            if k:
                bw.flush()                     # byte-align (pad with 1s)
                bw.out += bytes([0xFF, 0xD0
                                 + (k // per_rst - 1) % 8])
            for d in diffs[k:k + per_rst]:
                if d == -32768:        # H.2.3: SSSS=16, no extra bits
                    code, ln = codes[16]
                    write(code, ln)
                    continue
                ssss = abs(d).bit_length()
                code, ln = codes[ssss]
                write(code, ln)
                if ssss:
                    write(d if d > 0 else d + (1 << ssss) - 1, ssss)
    else:
        for d in diffs:
            if d == -32768:
                code, ln = codes[16]
                write(code, ln)
                continue
            ssss = abs(d).bit_length()
            code, ln = codes[ssss]
            write(code, ln)
            if ssss:
                write(d if d > 0 else d + (1 << ssss) - 1, ssss)
    bw.flush()

    seg = _seg
    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", precision, h, w, nc)
    for c in range(nc):
        sof += bytes([c + 1, 0x11, 0])
    out += seg(0xFFC3, sof)
    out += seg(0xFFC4, bytes([0x00] + _LL_BITS) + bytes(_LL_VALS))
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for c in range(nc):
        sos += bytes([c + 1, 0x00])        # every component uses table 0
    sos += bytes([predictor, 0, pt])       # Ss=selector, Se=0, Ah:Al=0:Pt
    out += seg(0xFFDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---- JPEG, progressive (SOF2) -----------------------------------------------


def _flat_table(symbols):
    """Canonical Huffman table containing every distinct symbol at one
    code length L = ceil(log2(n + 1)) — valid (the all-ones codeword at
    length L is never assigned since n < 2^L) and trivially decodable."""
    syms = sorted(set(symbols))
    if not syms:
        syms = [0]
    L = 1
    while (1 << L) <= len(syms):
        L += 1
    bits = [0] * 16
    bits[L - 1] = len(syms)
    return bits, syms


class _ScanSink:
    """Two-phase scan emitter: phase 1 (bw=None) records the Huffman
    symbols a scan needs; phase 2 writes codes + raw bits."""

    def __init__(self, bw=None, codes=None):
        self.bw = bw
        self.codes = codes
        self.syms: list[int] = []

    def sym(self, s: int):
        if self.bw is None:
            self.syms.append(s)
        else:
            c, ln = self.codes[s]
            self.bw.write(c, ln)

    def bits(self, v: int, n: int):
        if n and self.bw is not None:
            self.bw.write(v, n)


def _dc_units(comp_zz, order, samp, mcus_y, mcus_x):
    """MCU-interleaved (block-index per component) unit sequence for DC
    scans — mirrors the decoder's geometry. samp[ci] = (hs, vs);
    comp_zz[ci] rows are raster order over the PADDED grid."""
    units = []
    for my in range(mcus_y):
        for mx in range(mcus_x):
            unit = []
            for ci in order:
                hs, vs = samp[ci]
                bx_total = mcus_x * hs
                for by in range(vs):
                    for bx in range(hs):
                        unit.append(
                            (ci, (my * vs + by) * bx_total + mx * hs + bx))
            units.append(unit)
    return units


def _emit_dc_first(sink, comp_zz, units, Al):
    preds: dict[int, int] = {}
    for unit in units:
        for ci, blk in unit:
            v = int(comp_zz[ci][blk][0]) >> Al  # arithmetic shift (G.1.2.1)
            diff = v - preds.get(ci, 0)
            preds[ci] = v
            size = abs(diff).bit_length()
            sink.sym(size)
            if size:
                sink.bits(diff if diff > 0 else diff + (1 << size) - 1,
                          size)


def _emit_dc_refine(sink, comp_zz, units, Al):
    for unit in units:
        for ci, blk in unit:
            sink.bits((int(comp_zz[ci][blk][0]) >> Al) & 1, 1)


def _emit_ac_first(sink, zzs, Ss, Se, Al):
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            sink.sym(r << 4)
            sink.bits(eobrun - (1 << r), r)
            eobrun = 0

    for zz in zzs:
        t = [int(np.sign(v)) * (abs(int(v)) >> Al)
             for v in zz[Ss:Se + 1]]
        if not any(t):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        r = 0
        last_nz = max(i for i, v in enumerate(t) if v)
        for i, v in enumerate(t[:last_nz + 1]):
            if v == 0:
                r += 1
                continue
            while r > 15:
                sink.sym(0xF0)
                r -= 16
            s = abs(v).bit_length()
            sink.sym((r << 4) | s)
            sink.bits(v if v > 0 else v + (1 << s) - 1, s)
            r = 0
        if last_nz < len(t) - 1:
            eobrun += 1
    flush_eob()


def _emit_ac_refine(sink, zzs, Ss, Se, Al):
    """T.81 G.1.2.3 encoder: newly-significant coefficients (magnitude
    exactly 1 after the point transform) get (run, 1) codes + a sign
    bit; already-significant ones contribute buffered correction bits,
    appended after the next emitted code (or carried into the EOBn)."""
    eobrun = 0
    be: list[int] = []       # bits deferred until the next EOBn symbol

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            sink.sym(r << 4)
            sink.bits(eobrun - (1 << r), r)
            for b in be:
                sink.bits(b, 1)
            be.clear()
            eobrun = 0

    for zz in zzs:
        t = [int(np.sign(v)) * (abs(int(v)) >> Al)
             for v in zz[Ss:Se + 1]]
        # index of the last NEWLY-significant coefficient: runs of zeros
        # beyond it fold into the EOB instead of emitting ZRLs
        eob_idx = max((i for i, v in enumerate(t) if abs(v) == 1),
                      default=-1)
        br: list[int] = []   # correction bits inside the current run
        r = 0
        for i, v in enumerate(t):
            a = abs(v)
            if a == 0:
                r += 1
                continue
            # ZRL check at EVERY nonzero (including already-significant
            # ones): the decoder's ZRL span covers the next 16
            # zero-history positions, so a correction coefficient past
            # a >15 run needs the ZRL emitted BEFORE its bit is buffered
            while r > 15 and i <= eob_idx:
                flush_eob()
                sink.sym(0xF0)
                r -= 16
                for b in br:
                    sink.bits(b, 1)
                br.clear()
            if a > 1:
                br.append(a & 1)
                continue
            # newly significant (|t| == 1)
            flush_eob()
            sink.sym((r << 4) | 1)
            sink.bits(1 if v > 0 else 0, 1)
            for b in br:
                sink.bits(b, 1)
            br.clear()
            r = 0
        if r or br:
            eobrun += 1
            be.extend(br)
            if eobrun == 0x7FFF or len(be) > 900:
                flush_eob()
    flush_eob()


def _pad_replicate(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    hh, ww = plane.shape
    out = np.empty((ph, pw))
    out[:hh, :ww] = plane
    out[hh:, :ww] = plane[hh - 1:hh, :]
    out[:, ww:] = out[:, ww - 1:ww]
    return out


def encode_jpeg_progressive(img: np.ndarray, quality: int = 85,
                            sampling: str = "444") -> bytes:
    """Progressive Huffman JPEG with standard quantization tables.
    `sampling` is '444', '422' or '420' (box-mean chroma subsampling —
    exercises the decoder's interleaved-MCU DC geometry with sampling
    factors > 1); grayscale input (h, w) emits a single-component frame.
    The scan script exercises the full Annex G surface: successive
    approximation on DC (Al=1 first pass + Ah=1 refinement) and AC
    (per-component spectral bands at Al=1, then refinements), so EOBn
    runs, ZRL and correction-bit buffering all appear in the stream.
    At 4:4:4 the output decodes bit-identically to the baseline
    encoding of the same image (same quantized coefficients)."""
    img = np.asarray(img)
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("encode_jpeg_progressive expects (h,w,3) or (h,w)")
    h, w = img.shape[:2]
    ql = _quality_scale(Q_LUM, quality)
    qc = _quality_scale(Q_CHROM, quality)


    if gray:
        samp = [(1, 1)]
    elif sampling == "444":
        samp = [(1, 1), (1, 1), (1, 1)]
    elif sampling == "422":
        samp = [(2, 1), (1, 1), (1, 1)]
    elif sampling == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
    else:
        raise ValueError("sampling must be '444', '422' or '420'")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    if gray:
        chans = [img.astype(np.float64)]
        qs = [ql]
        qdefs = [(0, ql)]
        comp_hdr = [(1, 0x11, 0)]
    else:
        ycc = rgb_to_ycbcr(img.astype(np.float64))
        chans = [ycc[..., 0]]
        for c in (1, 2):
            p = ycc[..., c]
            fy, fx = vmax // samp[c][1], hmax // samp[c][0]
            if fy > 1 or fx > 1:
                ph2, pw2 = -(-h // fy) * fy, -(-w // fx) * fx
                p = _pad_replicate(p, ph2, pw2)
                p = p.reshape(ph2 // fy, fy, pw2 // fx, fx).mean(axis=(1, 3))
            chans.append(p)
        qs = [ql, qc, qc]
        qdefs = [(0, ql), (1, qc)]
        comp_hdr = [
            (cid, (samp[i][0] << 4) | samp[i][1], tq)
            for i, (cid, tq) in enumerate([(1, 0), (2, 1), (3, 1)])]

    comp_zz = []
    grids = []    # (nby, nbx, padded_bx) per component
    for ci, plane in enumerate(chans):
        hs, vs = samp[ci]
        pby, pbx = mcus_y * vs, mcus_x * hs
        comp_zz.append(
            _encode_blocks(_pad_replicate(plane, pby * 8, pbx * 8),
                           qs[ci]))
        grids.append(((plane.shape[0] + 7) // 8,
                      (plane.shape[1] + 7) // 8, pbx))

    def ac_blocks(ci):
        """Non-interleaved scans cover only the component's own
        ceil-divided grid (T.81 A.2.2) — padded MCU rows are DC-only."""
        nby, nbx, pbx = grids[ci]
        zz = comp_zz[ci]
        return [zz[by * pbx + bx]
                for by in range(nby) for bx in range(nbx)]

    ncomp = len(comp_zz)
    allc = list(range(ncomp))
    dc_units = _dc_units(comp_zz, allc, samp, mcus_y, mcus_x)
    # scan script: (kind, comps, Ss, Se, Ah, Al)
    script = [("dc", allc, 0, 0, 0, 1)]
    for ci in allc:
        bands = [(1, 5), (6, 63)] if ci == 0 else [(1, 63)]
        for ss, se in bands:
            script.append(("ac", [ci], ss, se, 0, 1))
    script.append(("dc", allc, 0, 0, 1, 0))
    for ci in allc:
        bands = [(1, 5), (6, 63)] if ci == 0 else [(1, 63)]
        for ss, se in bands:
            script.append(("ac", [ci], ss, se, 1, 0))

    seg = _seg
    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for tq, q in qdefs:
        out += seg(0xFFDB, bytes([tq])
                   + bytes(q.flatten()[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for cid, hv, tq in comp_hdr:
        sof += bytes([cid, hv, tq])
    out += seg(0xFFC2, sof)

    for kind, cis, Ss, Se, Ah, Al in script:
        def run(sink):
            if kind == "dc" and Ah == 0:
                _emit_dc_first(sink, comp_zz, dc_units, Al)
            elif kind == "dc":
                _emit_dc_refine(sink, comp_zz, dc_units, Al)
            elif Ah == 0:
                _emit_ac_first(sink, ac_blocks(cis[0]), Ss, Se, Al)
            else:
                _emit_ac_refine(sink, ac_blocks(cis[0]), Ss, Se, Al)

        collect = _ScanSink()
        run(collect)
        needs_table = bool(collect.syms)
        tc = 0 if kind == "dc" else 1
        if needs_table:
            bits, vals = _flat_table(collect.syms)
            out += seg(0xFFC4, bytes([(tc << 4) | 0] + bits) + bytes(vals))
            codes = _canonical_codes(bits, vals)
        else:
            codes = {}
        sos = bytes([len(cis)])
        for ci in cis:
            sos += bytes([comp_hdr[ci][0], 0x00])   # Td=Ta=0
        sos += bytes([Ss, Se, (Ah << 4) | Al])
        out += seg(0xFFDA, sos)
        bw = _BitWriter()
        run(_ScanSink(bw, codes))
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---- media payload synthesizers ---------------------------------------------


def synthesize_png_bytes(media_id: int, width: int = 64,
                         height: int = 48) -> bytes:
    """Deterministic RGB PNG via the from-scratch codec
    (opensmile_spark/png.py) — the lossless twin of
    synthesize_jpeg_bytes (same seeded field; cycling row filters)."""
    rng = np.random.RandomState(int(media_id) % (2 ** 31))
    yy, xx = np.mgrid[0:height, 0:width]
    f1 = 5.0 + (media_id % 7)
    f2 = 9.0 + (media_id % 5)
    img = np.stack([
        128 + 90 * np.sin(xx / f1) * np.cos(yy / f2),
        128 + 70 * np.cos(xx / f2),
        128 + 50 * np.sin((xx + yy) / (f1 + f2)),
    ], axis=-1)
    x0, y0 = int(media_id) % max(width - 8, 1), int(media_id) % max(
        height - 8, 1)
    img[y0:y0 + 8, x0:x0 + 8] = 250.0
    img = np.clip(img + rng.randn(height, width, 3) * 2, 0, 255)
    return encode_png(img.astype(np.uint8))


def synthesize_mjpeg_avi_bytes(media_id: int, width: int = 32,
                               height: int = 24, n_frames: int = 8,
                               fps: int = 4, quality: int = 90) -> bytes:
    """Deterministic motion-JPEG AVI: the same marching-rectangle clip,
    each frame an independent baseline-JPEG stream (encode_jpeg) in a
    '00dc' compressed chunk, strh handler / strf biCompression 'MJPG' —
    the dominant intra-only AVI codec in the wild."""
    chunks = [encode_jpeg(img, quality=quality)
              for img in _avi_rgb_frames(media_id, width, height, n_frames)]
    return _avi_container(chunks, b"MJPG", _MJPG_FOURCC, 24, width, height,
                          fps, b"00dc")
