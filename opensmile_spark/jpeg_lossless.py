"""Lossless JPEG scans (ITU-T T.81 Annex H — lossless sequential Huffman,
SOF3). jpeg.py parses the markers and hands the frame's scan to
`_lossless_scan`, which fills the frame's exact samples;
`jpeg.decode_jpeg` scales samples above 8 bits to uint8.

Lossless JPEG is predictive DPCM, not DCT: each sample is predicted from
its causal neighbours Ra (left), Rb (above), Rc (above-left) via one of
seven selectors (H.1.2.1), the difference is coded with the DC-coefficient
Huffman discipline (SSSS category + sign-extended magnitude bits, F.2.2.1)
with the lossless-only SSSS=16 case meaning a difference of exactly 32768
with no appended bits (H.2.3), and reconstruction is modulo 2^16
(H.1.2.3). Precision 2-16 bits; an optional point transform Pt scales
samples down on encode and back up on decode (H.2.2).

Predictor edge rules (H.1.2.2): the very first sample of the scan — and
the first sample after every restart marker — is predicted with the
default 2^(P-Pt-1); the REST OF THAT LINE (the first line of the scan,
or the remainder of the line a restart landed on) uses the
one-dimensional Ra predictor; the first sample of every other line
predicts from Rb; all other samples use the selected predictor.

The decoder is pinned by an exact roundtrip oracle (encoder in
tests/encoders.py; lossless means bit-identical samples, the strongest
test a codec can have). Interleaved multi-component scans are supported
at 1x1 sampling (the only layout produced for RGB/multichannel lossless
in practice); subsampled lossless interleave and one scan per component
raise.

Reference analogue: the openSMILE tree only consumes decoded media via
live connectors (/root/reference/src/video/openCVSource.cpp); this codec
exists for the multimodal corpus-decode path, per-payload kernel work
invoked from the Arrow-batched UDF in multimodal.py — no Spark objects
here.
"""

from __future__ import annotations

import numpy as np


def _predict(ra: int, rb: int, rc: int, sel: int) -> int:
    """T.81 Table H.1 predictor selections 1-7."""
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"invalid lossless predictor selector {sel}")


def _lossless_scan(frame, scan, sel, _se, _ah, pt, htabs, buf, boundaries,
                   restart_interval):
    """Decode the one scan of a lossless frame into `frame.samples`. The
    scan header's Ss is the predictor selector `sel`, its Al the point
    transform `pt` (H.2.2)."""
    if len(scan) < len(frame.comps):
        # T.81 allows coding each component as its own scan; that is
        # not supported here — raise so on_error='column' quarantines
        raise ValueError(
            "multi-scan (non-interleaved) lossless JPEG not supported")
    if len(scan) > 1:
        for ci, _td, _ta in scan:
            if frame.comps[ci][1] != 1 or frame.comps[ci][2] != 1:
                raise ValueError(
                    "subsampled interleaved lossless JPEG not supported")
    if not 1 <= sel <= 7:
        raise ValueError(f"invalid lossless predictor selector {sel}")

    nc = len(scan)
    tables = [htabs[(0, td)] for _ci, td, _ta in scan]
    h, w, precision = frame.h, frame.w, frame.precision
    out = np.zeros((h, w, nc), dtype=np.int64)
    default = 1 << (precision - pt - 1)

    blen = len(buf)
    acc = 0
    nbits = 0
    bpos = 0
    next_b = 0
    mcus = 0
    reset = True                # scan start: default prediction (H.2.1.3)
    line1_y = 0                 # row where the current interval began —
    #                             that whole line predicts from Ra (H.1.2.2)
    prev: list | None = None
    # rows are plain Python lists in the per-sample loop (the same
    # discipline as jpeg.py's inlined entropy loop — numpy scalar
    # indexing costs ~6x here); one bulk assign per row into `out`
    for y in range(h):
        row = [[0] * nc for _ in range(w)]
        for x in range(w):
            if restart_interval and mcus and mcus % restart_interval == 0:
                if next_b < len(boundaries):
                    bpos = boundaries[next_b]
                    acc = 0
                    nbits = 0
                    next_b += 1
                reset = True
                line1_y = y
            rx = row[x]
            ra = row[x - 1] if x else None
            rb = prev[x] if prev is not None else None
            for c in range(nc):
                tbl, L = tables[c]
                while nbits < L:
                    acc = ((acc << 8) | (buf[bpos] if bpos < blen else 0)) \
                        & 0xFFFFFFFFFF
                    bpos += 1
                    nbits += 8
                e = tbl[(acc >> (nbits - L)) & ((1 << L) - 1)]
                if e == 0:
                    raise ValueError("invalid Huffman code in entropy stream")
                nbits -= e >> 8
                ssss = e & 0xFF
                if ssss == 16:                 # H.2.3: diff = 32768 exactly
                    d = 32768
                elif ssss:
                    while nbits < ssss:
                        acc = ((acc << 8)
                               | (buf[bpos] if bpos < blen else 0)) \
                            & 0xFFFFFFFFFF
                        bpos += 1
                        nbits += 8
                    nbits -= ssss
                    v = (acc >> nbits) & ((1 << ssss) - 1)
                    d = v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1
                else:
                    d = 0
                if reset:
                    pred = default
                elif y == line1_y:             # first line of interval: Ra
                    pred = ra[c]
                elif x == 0:
                    pred = rb[c]
                else:
                    pred = _predict(ra[c], rb[c], prev[x - 1][c], sel)
                rx[c] = (pred + d) & 0xFFFF    # H.1.2.3 modulo 2^16
            reset = False
            mcus += 1
        out[y] = row
        prev = row

    out <<= pt                                  # H.2.2 inverse point xform
    dtype = np.uint8 if precision <= 8 else np.uint16
    res = out.astype(dtype)
    frame.samples = res[:, :, 0] if nc == 1 else res
