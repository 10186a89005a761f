"""Progressive JPEG (ITU-T T.81 Annex G, Huffman) — pure numpy.

Extends the baseline codec in jpeg.py with the progressive DCT mode:
spectral selection (per-scan [Ss, Se] coefficient bands), successive
approximation (point transform Al with refinement scans Ah > 0), EOB
runs (EOBn symbols G.1.2.2), and multi-scan parsing with DHT/DQT/DRI
updates between scans. Decoding accumulates quantized coefficients per
component across scans and performs one dequantize + IDCT pass at EOI —
the coefficient-domain formulation the spec defines (G.1.2) and every
production decoder uses.

The decoder is tested without libjpeg through a from-spec progressive
encoder in tests/encoders.py: its scan script uses successive
approximation on DC and per-component AC bands, and at 4:4:4 its output
must decode to bit-identical pixels as the baseline encoding of the same
image (both modes entropy-code the SAME quantized coefficients — T.81
G.1.1).

Reference analogue: the reference engine's media connectors are
out-of-scope live-device sources (/root/reference/src/video/
openCVSource.cpp); this module exists for the multimodal corpus-decode
path (multimodal.py) and is invoked per payload from Arrow-batched UDFs
— no Spark objects here.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import (
    ZIGZAG,
    _C,
    _extend,
    _FastBitReader,
    _huff_decode_fast,
    _peek_table,
    _unstuff_entropy,
    ycbcr_to_rgb,
)

# ---- decoder ---------------------------------------------------------------


def _restart(reader, boundaries, bidx):
    if bidx[0] < len(boundaries):
        reader.restart_at(boundaries[bidx[0]])
        bidx[0] += 1


def _decode_dc_scan(reader, units, dc_tabs, coefs, Al, first,
                    restart_interval, boundaries):
    """DC scan (Ss=Se=0). `units` is the MCU-interleaved (or single-
    component raster) unit list: each unit is [(ci, by, bx), ...]."""
    preds: dict[int, int] = {}
    bidx = [0]
    count = 0
    for unit in units:
        if restart_interval and count and count % restart_interval == 0:
            _restart(reader, boundaries, bidx)
            preds = {}
        for ci, by, bx in unit:
            blk = coefs[ci][by][bx]
            if first:
                tbl, L = dc_tabs[ci]
                size = _huff_decode_fast(reader, tbl, L)
                diff = _extend(reader.get(size), size)
                pred = preds.get(ci, 0) + diff
                preds[ci] = pred
                blk[0] = pred << Al
            else:
                if reader.get(1):
                    blk[0] |= 1 << Al
        count += 1


def _decode_ac_first(reader, blocks, tab, Ss, Se, Al,
                     restart_interval, boundaries):
    """AC initial scan (Ah=0) for one component — T.81 G.1.2.2 with
    EOBn run-length codes."""
    tbl, L = tab
    eobrun = 0
    bidx = [0]
    for count, blk in enumerate(blocks):
        if restart_interval and count and count % restart_interval == 0:
            _restart(reader, boundaries, bidx)
            eobrun = 0
        if eobrun > 0:
            eobrun -= 1
            continue
        k = Ss
        while k <= Se:
            rs = _huff_decode_fast(reader, tbl, L)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:          # ZRL: 16 zero coefficients
                    k += 16
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.get(r)
                break
            k += r
            if k > Se:
                raise ValueError("AC run past band end")
            blk[k] = _extend(reader.get(s), s) << Al
            k += 1


def _refine_nonzero(reader, blk, k, p1):
    """Correction bit for an already-nonzero coefficient (G.1.2.3)."""
    if reader.get(1) and (int(blk[k]) & p1) == 0:
        blk[k] += p1 if blk[k] >= 0 else -p1


def _decode_ac_refine(reader, blocks, tab, Ss, Se, Al,
                      restart_interval, boundaries):
    """AC refinement scan (Ah>0) for one component — the correction-bit
    automaton of T.81 G.1.2.3 (structured after the spec's flow chart;
    run lengths count zero-HISTORY coefficients only)."""
    tbl, L = tab
    p1 = 1 << Al
    eobrun = 0
    bidx = [0]
    for count, blk in enumerate(blocks):
        if restart_interval and count and count % restart_interval == 0:
            _restart(reader, boundaries, bidx)
            eobrun = 0
        k = Ss
        if eobrun == 0:
            while k <= Se:
                rs = _huff_decode_fast(reader, tbl, L)
                r, s = rs >> 4, rs & 0xF
                newval = 0
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.get(r)
                        break
                    # ZRL: pass over 16 zero-history coefficients
                else:
                    newval = p1 if reader.get(1) else -p1
                while k <= Se:
                    if blk[k] != 0:
                        _refine_nonzero(reader, blk, k, p1)
                    else:
                        r -= 1
                        if r < 0:
                            break
                    k += 1
                if newval and k <= Se:
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= Se:
                if blk[k] != 0:
                    _refine_nonzero(reader, blk, k, p1)
                k += 1
            eobrun -= 1


def decode_jpeg_progressive(data: bytes) -> np.ndarray:
    """Decode a progressive Huffman JPEG to (h, w, 3) uint8 RGB (or
    (h, w) for single-component streams). All tables come from the byte
    stream; scans may redefine DHT/DRI between SOS segments."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] = []   # (id, hs, vs, tq)
    h = w = 0
    restart_interval = 0
    n_scans = 0
    # per component: (blocks_y, blocks_x, 64) zigzag-ordered coefficients
    coefs: list[np.ndarray] = []
    grid: list[tuple[int, int, int, int]] = []    # (pad_by, pad_bx, by, bx)
    hmax = vmax = mcus_x = mcus_y = 0

    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1              # T.81 B.1.1.2 fill bytes
        if pos + 1 >= len(data):
            break
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:        # EOI
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
                q = np.zeros(64, dtype=np.int64)
                q[ZIGZAG] = vals
                qtabs[tq] = q                    # natural order, flat
        elif marker == 0xC4:                    # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1:p + 17])
                n = sum(bits)
                vals = list(seg[p + 17:p + 17 + n])
                htabs[(tc, th)] = _peek_table(bits, vals)
                p += 17 + n
        elif marker == 0xC2:                    # SOF2 progressive Huffman
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if h == 0 or w == 0 or h * w > (1 << 26):
                # corrupt-header guard — see jpeg.py
                raise ValueError(f"unreasonable JPEG dimensions {w}x{h}")
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
            mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
            for _, hs, vs, _tq in comps:
                pad_by, pad_bx = mcus_y * vs, mcus_x * hs
                # non-interleaved scans cover only the component's own
                # ceil-divided grid (T.81 A.2.2); padded rows/cols exist
                # solely for interleaved MCU geometry
                by = (-(-w * hs // hmax) + 7) // 8
                bx_ = (-(-h * vs // vmax) + 7) // 8
                grid.append((pad_by, pad_bx, bx_, by))
                coefs.append(
                    np.zeros((pad_by, pad_bx, 64), dtype=np.int32))
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG variant (arithmetic/lossless/"
                "hierarchical) in progressive decoder")
        elif marker == 0xDD:                    # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:                    # SOS
            if not comps:
                raise ValueError("SOS before SOF2")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, td_ta = seg[1 + 2 * i], seg[2 + 2 * i]
                scan.append((cs, td_ta >> 4, td_ta & 0xF))
            Ss, Se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            Ah, Al = ahal >> 4, ahal & 0xF
            n_scans += 1
            pos += seglen
            buf, boundaries, scan_end = _unstuff_entropy(data, pos)
            reader = _FastBitReader(buf)
            by_id = {c[0]: i for i, c in enumerate(comps)}
            idxs = [by_id[cs] for cs, _, _ in scan]
            if Ss == 0:
                if Se != 0:
                    raise ValueError(
                        "invalid progressive scan: DC band must be "
                        "Ss=Se=0 (sequential-style full-band scans are "
                        "illegal under SOF2)")
                units = []
                if ns == 1:
                    ci = idxs[0]
                    _pby, _pbx, nby, nbx = grid[ci]
                    units = [[(ci, by, bx)]
                             for by in range(nby) for bx in range(nbx)]
                else:
                    for my in range(mcus_y):
                        for mx in range(mcus_x):
                            unit = []
                            for ci in idxs:
                                _, hs, vs, _tq = comps[ci]
                                for by in range(vs):
                                    for bx in range(hs):
                                        unit.append((ci, my * vs + by,
                                                     mx * hs + bx))
                            units.append(unit)
                dc_tabs = {}
                if Ah == 0:
                    for (cs, td, _ta), ci in zip(scan, idxs):
                        dc_tabs[ci] = htabs[(0, td)]
                _decode_dc_scan(reader, units, dc_tabs, coefs, Al,
                                Ah == 0, restart_interval, boundaries)
            else:
                if ns != 1:
                    raise ValueError(
                        "progressive AC scans must be single-component")
                ci = idxs[0]
                _pby, _pbx, nby, nbx = grid[ci]
                blocks = [coefs[ci][by][bx]
                          for by in range(nby) for bx in range(nbx)]
                tab = htabs[(1, scan[0][2])]
                if Ah == 0:
                    _decode_ac_first(reader, blocks, tab, Ss, Se, Al,
                                     restart_interval, boundaries)
                else:
                    _decode_ac_refine(reader, blocks, tab, Ss, Se, Al,
                                      restart_interval, boundaries)
            pos = scan_end
            continue
        pos += seglen

    if not comps:
        raise ValueError("truncated JPEG: missing SOF2")
    if n_scans == 0:
        raise ValueError("truncated JPEG: missing SOS")

    # one dequantize + IDCT pass over every component (vectorized per
    # component: einsum over all blocks at once, like the encoder)
    planes = []
    for ci, (_, hs, vs, tq) in enumerate(comps):
        pad_by, pad_bx = grid[ci][0], grid[ci][1]
        qflat = qtabs[tq].astype(np.float64)
        plane = np.empty((pad_by * 8, pad_bx * 8))
        slab = max(1, (1 << 21) // max(pad_bx, 1))
        for r0 in range(0, pad_by, slab):
            r1 = min(pad_by, r0 + slab)
            zz = coefs[ci][r0:r1].reshape(-1, 64).astype(np.float64)
            nat = np.zeros_like(zz)
            nat[:, ZIGZAG] = zz
            nat *= qflat
            blocks = nat.reshape(r1 - r0, pad_bx, 8, 8)
            spatial = (_C.T @ blocks) @ _C    # same formulation as jpeg.py
            # (keeps baseline-vs-progressive decode bitwise identical)
            plane[r0 * 8:r1 * 8] = spatial.transpose(
                0, 2, 1, 3).reshape((r1 - r0) * 8, pad_bx * 8) + 128.0
        if hs != hmax or vs != vmax:
            plane = np.repeat(np.repeat(plane, vmax // vs, axis=0),
                              hmax // hs, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        return np.clip(planes[0], 0, 255).astype(np.uint8)
    ycc = np.stack(planes[:3], axis=-1)
    return ycbcr_to_rgb(ycc).astype(np.uint8)   # same truncation as jpeg.py
