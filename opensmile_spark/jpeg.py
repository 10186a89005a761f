"""Pure-numpy JPEG codec (ITU-T T.81): a baseline encoder and the one
decoder, `decode_jpeg`.

Without PIL/libjpeg the engine's compressed-image path was a documented
stub through round 3; this module closes it from the public spec. The
encoder writes baseline 4:4:4 streams (standard Annex K quantization and
Huffman tables, libjpeg-style quality scaling). The decoder has three
parts, all tables read FROM THE FILE so it is not tied to this encoder:

- parse: one pass over the marker segments (fill bytes, DQT, DHT, DRI,
  SOF with its dimension guard, SOS headers) into one frame state;
- scan: each SOS goes to the scan decoder of the frame's mode —
  sequential 8/12-bit (here: interleaved scans in MCU order, one-
  component scans over the component's own block grid, RSTn restarts),
  progressive (jpeg_progressive.py: DC, AC first and AC refinement
  scans) or lossless (jpeg_lossless.py: Annex H predictive DPCM, exact
  samples);
- back end: for DCT frames, one pass per component that dequantizes,
  inverse-zigzags, IDCTs, level-shifts, upsamples 4:2:2 / 4:2:0 chroma
  and converts YCbCr to RGB (12-bit and >8-bit lossless samples scale to
  the pipeline's uint8 contract).

Arithmetic-coded and hierarchical frames and corrupt payloads raise
ValueError, the decoders' one exception class (quarantined per row by
multimodal's on_error='column'); an error from reading a corrupt segment
names its marker and is chained from the original.

Everything here is per-payload kernel work invoked from the Arrow-batched
decode UDF in multimodal.py; no Spark objects in this module.
"""

from __future__ import annotations

import struct

import numpy as np

# ---- constants (ITU-T T.81 Annex K) ---------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

Q_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))

AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal 8-point DCT-II matrix: D = C @ block @ C.T
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _C[_u, _x] = np.sqrt((1 if _u == 0 else 2) / 8.0) \
            * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _quality_scale(q_table: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 5000/q below 50, 200-2q above."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (q_table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


# ---- huffman ---------------------------------------------------------------

def _canonical_codes(bits, vals):
    """(code, length) per symbol from the (BITS, HUFFVAL) spec lists —
    T.81 Annex C code-generation procedure."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:          # byte stuffing
                self.out.append(0x00)
        # drop emitted high bits: an unbounded Python-int accumulator
        # otherwise grows by `length` bits per call and every shift goes
        # O(total bits) — quadratic over a whole image
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)   # pad with 1s


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 sign extension of a `size`-bit magnitude."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _seg(marker: int, payload: bytes) -> bytes:
    """One marker segment: marker, 2-byte length (incl. itself), payload —
    shared by `encode_jpeg` and the roundtrip encoders in tests/encoders.py."""
    return struct.pack(">HH", marker, len(payload) + 2) + payload


# ---- fast entropy decoding -------------------------------------------------
# The scalar _BitReader/_huff_decode pair above costs ~30 Python ops per
# coefficient (a bit-read call per code bit). The fast path below brings
# that to ~6: the entropy segment is unstuffed ONCE into plain bytes
# (0xFF00 -> 0xFF, RSTn recorded as segment boundaries), and Huffman
# codes resolve with a single peek into a flat prefix table.


def _unstuff_entropy(data: bytes, start: int):
    """Unstuff the entropy-coded segment starting at `start`.

    Returns (buf, boundaries, end): `buf` = entropy bytes with 0xFF00
    collapsed and RSTn markers removed; `boundaries` = byte offsets in
    buf where each RSTn cut a new restart segment; `end` = absolute
    offset of the terminating marker (EOI / next header)."""
    arr = np.frombuffer(data, np.uint8)
    n = len(data)
    parts = []
    boundaries = []
    size = 0
    prev = start
    end = n
    terminated = False
    # scan in bounded windows: progressive files call this once per SOS,
    # so a full-file 0xFF sweep per scan would be O(scans * filesize)
    win = start
    WINDOW = 1 << 16
    while win < n and not terminated:
        hi = min(n, win + WINDOW)
        for p in (np.nonzero(arr[win:hi] == 0xFF)[0] + win):
            if p < prev:
                continue
            nxt = data[p + 1] if p + 1 < n else 0xD9
            if nxt == 0x00:                   # stuffed data byte
                parts.append(arr[prev:p + 1])
                size += p + 1 - prev
                prev = p + 2
            elif nxt == 0xFF:                 # fill byte, re-examined next
                parts.append(arr[prev:p])
                size += p - prev
                prev = p + 1
            elif 0xD0 <= nxt <= 0xD7:         # restart marker
                parts.append(arr[prev:p])
                size += p - prev
                boundaries.append(size)
                prev = p + 2
            else:                             # real marker: segment end
                parts.append(arr[prev:p])
                size += p - prev
                end = p
                terminated = True
                break
        win = hi
    if not terminated:
        parts.append(arr[prev:n])
    buf = np.concatenate(parts).tobytes() if parts else b""
    return buf, boundaries, end


def _peek_table(bits, vals):
    """(flat lookup list, L): entry = (length << 8) | symbol for every
    L-bit prefix; 0 = invalid prefix. L = longest code length used."""
    L = max((i + 1 for i in range(16) if bits[i]), default=1)
    tbl = np.zeros(1 << L, dtype=np.uint32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            start = code << (L - length)
            tbl[start:start + (1 << (L - length))] = \
                (length << 8) | vals[k]
            code += 1
            k += 1
        code <<= 1
    return tbl.tolist(), L


class _FastBitReader:
    """MSB-first reader over pre-unstuffed entropy bytes (reads past the
    end pad with zero bits, matching the scalar reader's behavior)."""

    __slots__ = ("buf", "nbytes", "acc", "nbits", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.nbytes = len(buf)
        self.acc = 0
        self.nbits = 0
        self.pos = pos

    def get(self, n: int) -> int:
        nbits = self.nbits
        while nbits < n:
            b = self.buf[self.pos] if self.pos < self.nbytes else 0
            self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFFFF
            nbits += 8
        self.nbits = nbits - n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        nbits = self.nbits
        while nbits < n:
            b = self.buf[self.pos] if self.pos < self.nbytes else 0
            self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFFFF
            nbits += 8
        self.nbits = nbits
        return (self.acc >> (nbits - n)) & ((1 << n) - 1)

    def skip(self, n: int):
        self.nbits -= n

    def restart_at(self, byteoff: int):
        self.pos = byteoff
        self.acc = 0
        self.nbits = 0


def _huff_decode_fast(r: _FastBitReader, tbl, L: int) -> int:
    e = tbl[r.peek(L)]
    if e == 0:
        raise ValueError("invalid Huffman code in entropy stream")
    r.skip(e >> 8)
    return e & 0xFF


# ---- color -----------------------------------------------------------------

def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255)


# ---- encoder ---------------------------------------------------------------

def _encode_blocks(chan: np.ndarray, q: np.ndarray, center: float = 128.0):
    """All 8x8 blocks of one padded channel -> quantized zigzag coeffs:
    vectorized DCT over every block at once (einsum), no per-block loop
    until entropy coding (which is inherently sequential). `center` is
    the level shift, 2^(P-1) (T.81 A.3.1)."""
    h, w = chan.shape
    blocks = chan.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
    d = np.einsum("ux,ijxy,vy->ijuv", _C, blocks - center, _C)
    quant = np.round(d / q).astype(np.int32)
    return quant.reshape(-1, 64)[:, ZIGZAG]


def _write_block(bw: _BitWriter, zz: np.ndarray, pred: int,
                 dc_codes, ac_codes) -> int:
    diff = int(zz[0]) - pred
    size = int(diff).bit_length() if diff != 0 else 0
    code, length = dc_codes[size]
    bw.write(code, length)
    if size:
        bw.write(diff if diff > 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]          # ZRL
            bw.write(c, ln)
            run -= 16
        size = abs(v).bit_length()
        c, ln = ac_codes[(run << 4) | size]
        bw.write(c, ln)
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        c, ln = ac_codes[0x00]              # EOB
        bw.write(c, ln)
    return int(zz[0])


def encode_jpeg(rgb: np.ndarray, quality: int = 85) -> bytes:
    """Baseline sequential JPEG, 4:4:4, standard tables. `rgb` is
    (h, w, 3) uint8."""
    rgb = np.asarray(rgb)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("encode_jpeg expects (h, w, 3)")
    h, w = rgb.shape[:2]
    ql = _quality_scale(Q_LUM, quality)
    qc = _quality_scale(Q_CHROM, quality)

    ycc = rgb_to_ycbcr(rgb.astype(np.float64))
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    padded = np.empty((ph, pw, 3))
    padded[:h, :w] = ycc
    padded[h:, :w] = ycc[h - 1:h, :]          # edge replicate
    padded[:, w:] = padded[:, w - 1:w]

    comp_zz = [_encode_blocks(padded[..., 0], ql),
               _encode_blocks(padded[..., 1], qc),
               _encode_blocks(padded[..., 2], qc)]

    dc_l = _canonical_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_l = _canonical_codes(AC_LUM_BITS, AC_LUM_VALS)
    dc_c = _canonical_codes(DC_CHROM_BITS, DC_CHROM_VALS)
    ac_c = _canonical_codes(AC_CHROM_BITS, AC_CHROM_VALS)

    bw = _BitWriter()
    preds = [0, 0, 0]
    tabs = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    for blk in range(comp_zz[0].shape[0]):    # 4:4:4 => 1 block/comp/MCU
        for ci in range(3):
            preds[ci] = _write_block(bw, comp_zz[ci][blk], preds[ci],
                                     *tabs[ci])
    bw.flush()

    seg = _seg
    out = bytearray(b"\xff\xd8")                              # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB,
               bytes([0]) + bytes(ql.flatten()[ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB,
               bytes([1]) + bytes(qc.flatten()[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += bytes([cid, 0x11, tq])                          # 1x1 sampling
    out += seg(0xFFC0, sof)
    for tc_th, bits, vals in ((0x00, DC_LUM_BITS, DC_LUM_VALS),
                              (0x10, AC_LUM_BITS, AC_LUM_VALS),
                              (0x01, DC_CHROM_BITS, DC_CHROM_VALS),
                              (0x11, AC_CHROM_BITS, AC_CHROM_VALS)):
        out += seg(0xFFC4, bytes([tc_th] + bits) + bytes(vals))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += seg(0xFFDA, sos)
    out += bw.out
    out += b"\xff\xd9"                                        # EOI
    return bytes(out)




# ---- decoder ---------------------------------------------------------------
# One front end for every frame type: `_read_frame` walks the marker
# segments once, keeps the DQT/DHT/DRI state, builds the frame at its SOF
# and hands each SOS to the scan decoder of the frame's mode (sequential
# below, progressive in jpeg_progressive.py, lossless in jpeg_lossless.py).
# DCT frames then go through the one back end, `_pixels`.

#: sample precisions each supported SOF accepts, and the error otherwise
_PRECISIONS = {
    0xC0: ((8, 12), "only 8- and 12-bit precision supported"),
    0xC1: ((8, 12), "only 8- and 12-bit precision supported"),
    0xC2: ((8,), "only 8-bit precision supported"),
    0xC3: (range(2, 17), "invalid lossless JPEG precision"),
}
_UNSUPPORTED_SOF = (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)


class _Frame:
    """One frame header (SOF) and what its scans have decoded into it.

    `comps` is [(id, h_samp, v_samp, tq)]. A DCT frame keeps, per
    component, the zigzag-ordered coefficients over the padded block grid
    of interleaved MCUs, `coefs[ci]` (pad_by, pad_bx, 64), and the
    component's own block grid `grid[ci]` = (nby, nbx) that a
    non-interleaved scan walks (T.81 A.2.2). A lossless frame's one scan
    leaves its exact samples in `samples`."""

    def __init__(self, marker: int, seg: bytes):
        prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
        allowed, err = _PRECISIONS[marker]
        if prec not in allowed:
            raise ValueError(err)
        if h == 0 or w == 0 or h * w > (1 << 26):
            # corrupt-header guard: raise before any allocation so
            # on_error='column' quarantines instead of OOMing a task
            raise ValueError(f"unreasonable JPEG dimensions {w}x{h}")
        if nc == 0:
            raise ValueError("JPEG frame without components")
        self.mode, self.precision, self.h, self.w = marker, prec, h, w
        self.comps = []
        for i in range(nc):
            cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
            self.comps.append((cid, hv >> 4, hv & 0xF, tq))
        if not all(1 <= c[1] <= 4 and 1 <= c[2] <= 4 for c in self.comps):
            raise ValueError("JPEG sampling factors must be 1-4 (T.81 "
                             "B.2.2)")
        self.index = {c[0]: i for i, c in enumerate(self.comps)}
        self.scanned: set[int] = set()
        self.samples = None
        if marker == 0xC3:
            return
        self.hmax = hmax = max(c[1] for c in self.comps)
        self.vmax = vmax = max(c[2] for c in self.comps)
        self.mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
        self.mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
        self.grid = [((-(-h * vs // vmax) + 7) // 8,
                      (-(-w * hs // hmax) + 7) // 8)
                     for _, hs, vs, _tq in self.comps]
        self.coefs = [
            np.zeros((self.mcus_y * vs, self.mcus_x * hs, 64), np.int32)
            for _, hs, vs, _tq in self.comps]


def _read_frame(data: bytes) -> _Frame:
    """Parse a JPEG once, decoding every scan as its SOS arrives.

    A sequential or lossless frame is complete once each component has
    had its scan, so reading stops there; a progressive frame reads up
    to EOI (or the end of the data, leaving later scans' bits zero)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], tuple] = {}
    restart_interval = 0
    frame = None
    marker = 0xD8
    try:
        while pos < len(data):
            if data[pos] != 0xFF:
                pos += 1
                continue
            # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
            # marker code — skip them or the scan misreads a bogus length
            while pos + 1 < len(data) and data[pos + 1] == 0xFF:
                pos += 1
            if pos + 1 >= len(data):
                break
            marker = data[pos + 1]
            pos += 2
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue
            if marker == 0xD9:
                break
            (seglen,) = struct.unpack(">H", data[pos:pos + 2])
            seg = data[pos + 2:pos + seglen]
            if marker == 0xDB:                      # DQT
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 0xF
                    p += 1
                    if pq:
                        vals = np.frombuffer(seg[p:p + 128], dtype=">u2")
                        p += 128
                    else:
                        vals = np.frombuffer(seg[p:p + 64], dtype=np.uint8)
                        p += 64
                    q = np.zeros(64, dtype=np.int32)
                    q[ZIGZAG] = vals
                    qtabs[tq] = q                   # natural order, flat
            elif marker == 0xC4:                    # DHT
                p = 0
                while p < len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 0xF
                    bits = list(seg[p + 1:p + 17])
                    n = sum(bits)
                    vals = list(seg[p + 17:p + 17 + n])
                    htabs[(tc, th)] = _peek_table(bits, vals)
                    p += 17 + n
            elif marker in _PRECISIONS:             # SOF0/1/2/3
                if frame is not None:
                    raise ValueError("more than one JPEG frame (hierarchical "
                                     "JPEG is not supported)")
                frame = _Frame(marker, seg)
            elif marker in _UNSUPPORTED_SOF:
                raise ValueError(
                    "unsupported JPEG variant (arithmetic/hierarchical); "
                    "baseline sequential (8/12-bit), progressive Huffman "
                    "and lossless (SOF3) are supported")
            elif marker == 0xDD:                    # DRI
                (restart_interval,) = struct.unpack(">H", seg[:2])
            elif marker == 0xDA:                    # SOS
                ns = seg[0]
                scan = [(seg[1 + 2 * i], seg[2 + 2 * i]) for i in range(ns)]
                ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
                if frame is None:
                    raise ValueError("truncated JPEG: missing SOF/SOS")
                if len({cs for cs, _t in scan}) < ns:
                    raise ValueError("JPEG scan names a component twice "
                                     "(T.81 B.2.3)")
                # (component index, DC table, AC table) per scan component
                scan = [(frame.index[cs], t >> 4, t & 0xF) for cs, t in scan]
                buf, boundaries, pos = _unstuff_entropy(data, pos + seglen)
                if frame.mode == 0xC2:
                    from .jpeg_progressive import _progressive_scan as decode
                elif frame.mode == 0xC3:
                    from .jpeg_lossless import _lossless_scan as decode
                else:
                    decode = _sequential_scan
                decode(frame, scan, ss, se, ahal >> 4, ahal & 0xF, htabs,
                       buf, boundaries, restart_interval)
                frame.scanned.update(ci for ci, _td, _ta in scan)
                if frame.mode != 0xC2 \
                        and len(frame.scanned) == len(frame.comps):
                    break
                continue
            pos += seglen
    except (LookupError, ArithmeticError, struct.error) as e:
        raise ValueError(f"corrupt JPEG in the 0xFF{marker:02X} segment:"
                         f" {type(e).__name__}: {e}") from e
    if frame is None or not frame.scanned:
        raise ValueError("truncated JPEG: missing SOF/SOS")
    if frame.mode != 0xC3 and any(c[3] not in qtabs for c in frame.comps):
        raise ValueError("JPEG component uses an undefined quantization "
                         "table")
    frame.qtabs = qtabs
    return frame


def _sequential_scan(frame, scan, _ss, _se, _ah, _al, htabs, buf,
                     boundaries, restart_interval):
    """Huffman-decode one sequential scan into `frame.coefs`. An
    interleaved scan walks the frame's MCU grid (h_samp x v_samp blocks
    per component per MCU); a single-component scan walks that
    component's own block grid, one block per MCU (T.81 A.2.2)."""
    single = len(scan) == 1
    mcus_y, mcus_x = frame.grid[scan[0][0]] if single \
        else (frame.mcus_y, frame.mcus_x)
    order = []      # (h_samp, v_samp, dc_table, ac_table)
    flat = []
    rowmul = []
    for ci, td, ta in scan:
        _, hs, vs, _tq = frame.comps[ci]
        if single:
            hs = vs = 1
        order.append((hs, vs, htabs[(0, td)], htabs[(1, ta)]))
        flat.append(frame.coefs[ci].reshape(-1, 64))
        rowmul.append(frame.coefs[ci].shape[1])
    preds = [0] * len(order)
    # T.81 F.1.2.1/F.1.2.2: at precision P a DC difference has at most
    # P+3 magnitude bits, an AC coefficient P+2, and a DC value stays
    # within +-2^(P+3); a corrupt stream past these would not fit the
    # int32 grid
    dc_size = frame.precision + 3
    ac_size = frame.precision + 2
    dc_lim = 1 << dc_size
    # zigzag coefficients land in the frame's per-component grids; the
    # bit reader is INLINED as locals (acc/nbits/bpos) — method-call
    # overhead dominates a pure-python entropy loop otherwise.
    blen = len(buf)
    acc = 0
    nbits = 0
    bpos = 0
    next_b = 0
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count \
                    and mcu_count % restart_interval == 0:
                if next_b < len(boundaries):
                    bpos = boundaries[next_b]
                    acc = 0
                    nbits = 0
                    next_b += 1
                preds = [0] * len(order)
            for k, (hs, vs, dct_t, act_t) in enumerate(order):
                dtbl, dL = dct_t
                atbl, aL = act_t
                dmask = (1 << dL) - 1
                amask = (1 << aL) - 1
                for by in range(vs):
                    for bx in range(hs):
                        blkvals = [0] * 64
                        # DC
                        while nbits < dL:
                            acc = ((acc << 8) | (buf[bpos]
                                                 if bpos < blen else 0)) \
                                & 0xFFFFFFFFFF
                            bpos += 1
                            nbits += 8
                        e = dtbl[(acc >> (nbits - dL)) & dmask]
                        if e == 0:
                            raise ValueError(
                                "invalid Huffman code in entropy stream")
                        nbits -= e >> 8
                        size = e & 0xFF
                        if size > dc_size:
                            raise ValueError(
                                "JPEG DC magnitude category above the "
                                "frame precision's limit")
                        if size:
                            while nbits < size:
                                acc = ((acc << 8)
                                       | (buf[bpos]
                                          if bpos < blen else 0)) \
                                    & 0xFFFFFFFFFF
                                bpos += 1
                                nbits += 8
                            nbits -= size
                            v = (acc >> nbits) & ((1 << size) - 1)
                            preds[k] += v if v >= (1 << (size - 1)) \
                                else v - (1 << size) + 1
                            if not -dc_lim <= preds[k] <= dc_lim:
                                raise ValueError(
                                    "JPEG DC coefficient out of range")
                        blkvals[0] = preds[k]
                        # AC
                        i = 1
                        while i < 64:
                            while nbits < aL:
                                acc = ((acc << 8)
                                       | (buf[bpos]
                                          if bpos < blen else 0)) \
                                    & 0xFFFFFFFFFF
                                bpos += 1
                                nbits += 8
                            e = atbl[(acc >> (nbits - aL)) & amask]
                            if e == 0:
                                raise ValueError(
                                    "invalid Huffman code in entropy "
                                    "stream")
                            nbits -= e >> 8
                            rs = e & 0xFF
                            if rs == 0x00:
                                break
                            if rs == 0xF0:
                                i += 16
                                continue
                            i += rs >> 4
                            if i > 63:
                                break
                            s = rs & 0xF
                            if s > ac_size:
                                raise ValueError(
                                    "JPEG AC magnitude category above "
                                    "the frame precision's limit")
                            while nbits < s:
                                acc = ((acc << 8)
                                       | (buf[bpos]
                                          if bpos < blen else 0)) \
                                    & 0xFFFFFFFFFF
                                bpos += 1
                                nbits += 8
                            nbits -= s
                            v = (acc >> nbits) & ((1 << s) - 1)
                            blkvals[i] = v if v >= (1 << (s - 1)) \
                                else v - (1 << s) + 1
                            i += 1
                        flat[k][(my * vs + by) * rowmul[k]
                                + mx * hs + bx] = blkvals
            mcu_count += 1


def _pixels(frame: _Frame) -> np.ndarray:
    """The DCT back end: per component dequantize, IDCT, level shift by
    2^(P-1) (T.81 A.3.1: 128 at 8-bit, 2048 at 12), upsample, scale
    12-bit samples to the 8-bit range and crop; then YCbCr -> RGB (or
    clip, for a single-component frame)."""
    full = []
    for ci, (_, hs, vs, tq) in enumerate(frame.comps):
        coefs = frame.coefs[ci]
        pby, pbx = coefs.shape[:2]
        qflat = frame.qtabs[tq].astype(np.float64)
        plane = np.empty((pby * 8, pbx * 8))
        # slab over block rows: bounds peak float64 working set on
        # guard-limit-sized images without changing per-block math
        slab = max(1, (1 << 21) // max(pbx, 1))
        for r0 in range(0, pby, slab):
            r1 = min(pby, r0 + slab)
            zzc = coefs[r0:r1].reshape(-1, 64).astype(np.float64)
            nat = np.zeros_like(zzc)
            nat[:, ZIGZAG] = zzc
            nat *= qflat
            blocks = nat.reshape(r1 - r0, pbx, 8, 8)
            spatial = (_C.T @ blocks) @ _C    # batched BLAS, not einsum
            plane[r0 * 8:r1 * 8] = spatial.transpose(
                0, 2, 1, 3).reshape((r1 - r0) * 8, pbx * 8) \
                + float(1 << (frame.precision - 1))
        if hs != frame.hmax or vs != frame.vmax:
            plane = np.repeat(np.repeat(plane, frame.vmax // vs, axis=0),
                              frame.hmax // hs, axis=1)
        if frame.precision > 8:
            # 12-bit samples (0..4095, chroma centered at 2048) scale to
            # the 8-bit pipeline range before color conversion
            plane = plane / float(1 << (frame.precision - 8))
        full.append(plane[:frame.h, :frame.w])
    if len(full) == 1:
        return np.clip(full[0], 0, 255).astype(np.uint8)
    ycc = np.stack(full[:3], axis=-1)
    return ycbcr_to_rgb(ycc).astype(np.uint8)


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a sequential (8/12-bit), progressive or lossless JPEG to
    (h, w, 3) uint8 RGB, or (h, w) for single-component frames. All
    quantization and Huffman tables come from the byte stream. Lossless
    samples above 8 bits are scaled to uint8 (exact samples:
    `_read_frame(payload).samples`)."""
    frame = _read_frame(bytes(payload))
    if frame.mode != 0xC3:
        return _pixels(frame)
    if frame.precision <= 8:
        return frame.samples
    return (frame.samples >> (frame.precision - 8)).astype(np.uint8)
