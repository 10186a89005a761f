"""Progressive JPEG scans (ITU-T T.81 Annex G, Huffman) — pure numpy.

The scan decoder of SOF2 frames behind `jpeg.decode_jpeg`: spectral
selection (per-scan [Ss, Se] coefficient bands), successive
approximation (point transform Al with refinement scans Ah > 0) and
EOB runs (EOBn symbols, G.1.2.2). jpeg.py parses the markers (tables may
change between scans), keeps each component's quantized coefficients
across scans and runs the one dequantize + IDCT back end at EOI — the
coefficient-domain formulation the spec defines (G.1.2).

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

from .jpeg import _extend, _FastBitReader, _huff_decode_fast

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


def _progressive_scan(frame, scan, Ss, Se, Ah, Al, htabs, buf,
                      boundaries, restart_interval):
    """Decode one progressive scan into `frame.coefs`: a DC scan (first
    pass or refinement, interleaved or not) or an AC band scan of one
    component over its own block grid (first pass or refinement)."""
    reader = _FastBitReader(buf)
    coefs = frame.coefs
    if Ss == 0:
        if Se != 0:
            raise ValueError(
                "invalid progressive scan: DC band must be "
                "Ss=Se=0 (sequential-style full-band scans are "
                "illegal under SOF2)")
        if len(scan) == 1:
            ci = scan[0][0]
            nby, nbx = frame.grid[ci]
            units = [[(ci, by, bx)]
                     for by in range(nby) for bx in range(nbx)]
        else:
            units = []
            for my in range(frame.mcus_y):
                for mx in range(frame.mcus_x):
                    unit = []
                    for ci, _td, _ta in scan:
                        _, hs, vs, _tq = frame.comps[ci]
                        for by in range(vs):
                            for bx in range(hs):
                                unit.append((ci, my * vs + by,
                                             mx * hs + bx))
                    units.append(unit)
        dc_tabs = {}
        if Ah == 0:
            for ci, td, _ta in scan:
                dc_tabs[ci] = htabs[(0, td)]
        _decode_dc_scan(reader, units, dc_tabs, coefs, Al, Ah == 0,
                        restart_interval, boundaries)
        return
    if len(scan) != 1:
        raise ValueError("progressive AC scans must be single-component")
    ci, _td, ta = scan[0]
    nby, nbx = frame.grid[ci]
    blocks = [coefs[ci][by][bx] for by in range(nby) for bx in range(nbx)]
    tab = htabs[(1, ta)]
    if Ah == 0:
        _decode_ac_first(reader, blocks, tab, Ss, Se, Al,
                         restart_interval, boundaries)
    else:
        _decode_ac_refine(reader, blocks, tab, Ss, Se, Al,
                          restart_interval, boundaries)
