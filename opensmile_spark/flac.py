"""Pure-python FLAC decoder (the xiph.org format spec).

Closes the compressed-AUDIO leg of the multimodal corpus path (speech
corpora ship FLAC pervasively): STREAMINFO parse, frame headers
(UTF-8-coded frame numbers, blocksize/sample-rate codes), subframe
types CONSTANT / VERBATIM / FIXED(0-4) / LPC(1-32) with wasted bits,
Rice-coded residual partitions (4- and 5-bit parameters, escape codes),
and stereo decorrelation (left/side, right/side, mid/side). CRCs are
not verified (corpus decode favors recovering samples; structural
errors raise ValueError).

FLAC is lossless, so the roundtrip tests (encoder in
tests/encoders.py) pin decode to reproduce int samples exactly.

Per-payload kernel invoked from the Arrow-batched UDF in multimodal.py;
no Spark objects here.
"""

from __future__ import annotations

import struct

import numpy as np

# corrupt-header guard — see png.py MAX_DECODE_PIXELS rationale
MAX_DECODE_SAMPLES = 1 << 28

_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                4: [4, -6, 4, -1]}

_BLOCKSIZE_CODES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}

_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


class _Bits:
    """MSB-first bit reader over bytes."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.bytepos = pos
        self.bitpos = 0

    def read(self, n: int) -> int:
        v = 0
        while n > 0:
            if self.bytepos >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            avail = 8 - self.bitpos
            take = min(n, avail)
            byte = self.data[self.bytepos]
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            self.bitpos += take
            if self.bitpos == 8:
                self.bitpos = 0
                self.bytepos += 1
            n -= take
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 24:
                raise ValueError("runaway FLAC unary code")
        return q

    def read_utf8_number(self) -> int:
        b0 = self.read(8)
        if b0 < 0x80:
            return b0
        nbytes = 0
        mask = 0x40
        while b0 & mask:
            nbytes += 1
            mask >>= 1
        v = b0 & (mask - 1)
        for _ in range(nbytes):
            v = (v << 6) | (self.read(8) & 0x3F)
        return v

    def byte_align(self):
        if self.bitpos:
            self.bitpos = 0
            self.bytepos += 1


def _rice_decode(bits: _Bits, n: int, out: np.ndarray, off: int,
                 param_bits: int):
    """One residual partition (Rice or escaped-raw)."""
    param = bits.read(param_bits)
    if param == (1 << param_bits) - 1:          # escape: raw k-bit
        k = bits.read(5)
        for i in range(n):
            out[off + i] = bits.read_signed(k) if k else 0
        return
    for i in range(n):
        q = bits.read_unary()
        v = (q << param) | bits.read(param) if param else q
        out[off + i] = (v >> 1) ^ -(v & 1)       # zigzag


def _decode_residual(bits: _Bits, blocksize: int, order: int) -> np.ndarray:
    method = bits.read(2)
    if method not in (0, 1):
        raise ValueError(f"unknown FLAC residual method {method}")
    param_bits = 4 if method == 0 else 5
    po = bits.read(4)
    nparts = 1 << po
    if blocksize % nparts:
        raise ValueError("FLAC partition order does not divide block")
    res = np.zeros(blocksize - order, dtype=np.int64)
    off = 0
    for p in range(nparts):
        n = blocksize // nparts - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC partition smaller than predictor order")
        _rice_decode(bits, n, res, off, param_bits)
        off += n
    return res


def _decode_subframe(bits: _Bits, blocksize: int, bps: int) -> np.ndarray:
    if bits.read(1):
        raise ValueError("FLAC subframe padding bit set")
    ftype = bits.read(6)
    wasted = 0
    if bits.read(1):                            # wasted-bits flag
        wasted = 1 + bits.read_unary()
        bps -= wasted
    if ftype == 0:                              # CONSTANT
        out = np.full(blocksize, bits.read_signed(bps), dtype=np.int64)
    elif ftype == 1:                            # VERBATIM
        out = np.array([bits.read_signed(bps) for _ in range(blocksize)],
                       dtype=np.int64)
    elif 8 <= ftype <= 12:                      # FIXED order 0-4
        order = ftype - 8
        out = np.empty(blocksize, dtype=np.int64)
        for i in range(order):
            out[i] = bits.read_signed(bps)
        res = _decode_residual(bits, blocksize, order)
        coefs = _FIXED_COEFS[order]
        for i in range(order, blocksize):
            pred = sum(c * out[i - 1 - j] for j, c in enumerate(coefs))
            out[i] = res[i - order] + pred
    elif ftype >= 32:                           # LPC order 1-32
        order = ftype - 31
        out = np.empty(blocksize, dtype=np.int64)
        for i in range(order):
            out[i] = bits.read_signed(bps)
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision escape")
        shift = bits.read_signed(5)
        coefs = [bits.read_signed(prec) for _ in range(order)]
        res = _decode_residual(bits, blocksize, order)
        for i in range(order, blocksize):
            pred = sum(c * out[i - 1 - j] for j, c in enumerate(coefs))
            out[i] = res[i - order] + (pred >> shift)
    else:
        raise ValueError(f"reserved FLAC subframe type {ftype}")
    return out << wasted


def decode_flac(payload: bytes):
    """Decode a FLAC stream to (samples, sample_rate): samples is
    float64 (n, channels) normalized to [-1, 1]."""
    data = bytes(payload)
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (bad signature)")
    pos = 4
    sr = channels = bps = None
    total = 0
    while pos + 4 <= len(data):                 # metadata blocks
        hdr = data[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + data[pos + 1:pos + 4])
        body = data[pos + 4:pos + 4 + ln]
        pos += 4 + ln
        if btype == 0:                          # STREAMINFO
            b = _Bits(body)
            b.read(16)                          # min blocksize
            b.read(16)                          # max blocksize
            b.read(24)
            b.read(24)                          # min/max framesize
            sr = b.read(20)
            channels = b.read(3) + 1
            bps = b.read(5) + 1
            total = b.read(36)
        if last:
            break
    if sr is None or sr == 0:
        raise ValueError("FLAC missing/invalid STREAMINFO")
    if total > MAX_DECODE_SAMPLES:
        raise ValueError(f"unreasonable FLAC sample count {total}")

    chans: list[list[np.ndarray]] = [[] for _ in range(channels)]
    n_dec = 0
    while pos < len(data) - 1:
        if data[pos] != 0xFF or (data[pos + 1] & 0xFC) != 0xF8:
            pos += 1                            # scan to next frame sync
            continue
        bits = _Bits(data, pos)
        bits.read(14)                           # sync
        bits.read(1)                            # reserved
        bits.read(1)                            # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        chan_code = bits.read(4)
        ss_code = bits.read(3)
        bits.read(1)                            # reserved
        bits.read_utf8_number()                 # frame/sample number
        if bs_code == 6:
            blocksize = bits.read(8) + 1
        elif bs_code == 7:
            blocksize = bits.read(16) + 1
        elif bs_code in _BLOCKSIZE_CODES:
            blocksize = _BLOCKSIZE_CODES[bs_code]
        else:
            raise ValueError(f"reserved FLAC blocksize code {bs_code}")
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        if ss_code == 3:                        # reserved per the spec
            raise ValueError("reserved FLAC sample-size code 3")
        fbps = _SAMPLE_SIZE_CODES.get(ss_code, bps)
        bits.read(8)                            # CRC-8 (unverified)

        if chan_code < 8:
            nch = chan_code + 1
            subs = [_decode_subframe(bits, blocksize, fbps)
                    for _ in range(nch)]
        elif chan_code in (8, 9, 10):           # stereo decorrelation
            nch = 2
            if chan_code == 8:                  # left/side
                left = _decode_subframe(bits, blocksize, fbps)
                side = _decode_subframe(bits, blocksize, fbps + 1)
                subs = [left, left - side]
            elif chan_code == 9:                # right/side
                side = _decode_subframe(bits, blocksize, fbps + 1)
                right = _decode_subframe(bits, blocksize, fbps)
                subs = [right + side, right]
            else:                               # mid/side
                mid = _decode_subframe(bits, blocksize, fbps)
                side = _decode_subframe(bits, blocksize, fbps + 1)
                lr = (mid << 1) | (side & 1)
                subs = [(lr + side) >> 1, (lr - side) >> 1]
        else:
            raise ValueError(
                f"reserved FLAC channel assignment {chan_code}")
        if nch != channels:
            raise ValueError("FLAC frame channel count mismatch")
        bits.byte_align()
        bits.read(16)                           # CRC-16 (unverified)
        for c in range(channels):
            chans[c].append(subs[c])
        n_dec += blocksize
        pos = bits.bytepos
        if total and n_dec >= total:
            break
    if n_dec == 0:
        raise ValueError("FLAC contains no audio frames")
    x = np.stack([np.concatenate(c) for c in chans], axis=-1)
    if total:
        x = x[:total]
    return x.astype(np.float64) / float(1 << (bps - 1)), sr
