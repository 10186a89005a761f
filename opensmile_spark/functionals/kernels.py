"""Functional kernels — faithful NumPy transcriptions of the reference's
cFunctional* sub-components (/root/reference/src/functionals/*.cpp).

These are the single source of truth for functional semantics: the Spark
mapInArrow bank (bank.py) and the pytest oracle both call these functions,
and unit tests validate selected closed forms independently (tests/).

Contract mirrors cFunctionalComponent::process
(functionals.cpp:411-419): each family receives the raw window `x`, the
shared pre-pass values (sorted copy, min, max, mean — computed once per
window, functionals.cpp:349-365), and emits an ordered dict of named outputs.
All accumulation in float64 (the reference accumulates in double,
e.g. functionalMoments.cpp:95-110).

timeNorm semantics ('frames' | 'segment' | 'second') follow
parseTimeNormOption defaults per family:
  Extremes default 'frames' (functionalExtremes.cpp:61),
  Times/Segments/Onset default 'segment' (functionalTimes.cpp:75,
  functionalSegments.cpp:66, functionalOnset.cpp:53),
  Peaks2 default 'frames' (functionalPeaks2.cpp:118).
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "f_means", "f_moments", "f_extremes", "f_percentiles", "f_regression",
    "f_crossings", "f_times", "f_onset", "f_segments", "f_peaks", "f_peaks2",
    "f_samples", "f_dct", "f_lpc", "FAMILIES", "compute_all",
]


def _ratio_limit(x: float, limit1: float, excess: float) -> float:
    """smileMath_ratioLimit (/root/reference/src/smileutil/smileUtil.c:602-614):
    linear in [-limit1, limit1], tanh-compressed beyond."""
    if x > limit1:
        return math.tanh((math.sqrt(x - limit1 + 1.0) - 1.0) / (excess * 0.5)) * excess + limit1
    if x < -limit1:
        return math.tanh(-(math.sqrt(-(x + limit1) + 1.0) - 1.0) / (excess * 0.5)) * excess - limit1
    return x


# ---------------------------------------------------------------------------
# cFunctionalMeans (functionalMeans.cpp:117-264)
# ---------------------------------------------------------------------------

def f_means(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0):
    N = x.size
    out = {}
    absx = np.abs(x)
    nz = x != 0.0
    nnz = int(nz.sum())
    pos = x > 0.0
    neg = x < 0.0
    npos = int(pos.sum())
    nneg = int(neg.sum())

    absmean = float(absx.sum() / N)
    qmean = float((x * x).sum() / N)
    if nnz > 0:
        nzamean = float(x[nz].sum() / nnz)
        nzabsmean = float(absx[nz].sum() / nnz)
        nzqmean = float((x[nz] * x[nz]).sum() / nnz)
        nzgmean = float(math.exp(np.log(absx[nz]).sum() / nnz))
    else:
        nzamean = nzabsmean = nzqmean = nzgmean = 0.0
    posamean = float(x[pos].sum() / npos) if npos else 0.0
    posqmean = float((x[pos] ** 2).sum() / npos) if npos else 0.0
    negamean = float(x[neg].sum() / nneg) if nneg else 0.0
    negqmean = float((x[neg] ** 2).sum() / nneg) if nneg else 0.0

    out["amean"] = float(xmean)
    out["absmean"] = absmean
    out["qmean"] = qmean
    out["nzamean"] = nzamean
    out["nzabsmean"] = nzabsmean
    out["nzqmean"] = nzqmean
    out["nzgmean"] = nzgmean
    # nnz normalisation (functionalMeans.cpp:216-222)
    if timeNorm == "segment":
        out["nnz"] = nnz / N
    elif timeNorm == "second":
        out["nnz"] = nnz / T
    else:
        out["nnz"] = float(nnz)
    out["flatness"] = (nzgmean / absmean) if absmean != 0.0 else 1.0
    out["posamean"] = posamean
    out["negamean"] = negamean
    out["posqmean"] = posqmean
    out["posrqmean"] = math.sqrt(posqmean)
    out["negqmean"] = negqmean
    out["negrqmean"] = math.sqrt(negqmean)
    out["rqmean"] = math.sqrt(qmean)
    out["nzrqmean"] = math.sqrt(nzqmean)
    return out


# ---------------------------------------------------------------------------
# cFunctionalMoments (functionalMoments.cpp:89-166)
# ---------------------------------------------------------------------------

def f_moments(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
              doRatioLimit=False):
    N = x.size
    d = x - xmean
    m2 = float((d * d).sum() / N)          # population variance
    m3 = float((d ** 3).sum())
    m4 = float((d ** 4).sum())
    out = {"variance": m2}
    sqm2 = math.sqrt(m2) if m2 > 0 else 0.0
    out["stddev"] = sqm2
    # guard the composite denominators, not just m2: for subnormal variance
    # (~1e-310) N*m2*sqm2 underflows to exactly 0.0 — the C++ float division
    # would emit inf; we emit 0 (found by hypothesis, test_properties.py)
    d3 = N * m2 * sqm2
    d4 = N * m2 * m2
    out["skewness"] = (m3 / d3) if d3 > 0 else 0.0
    out["kurtosis"] = (m4 / d4) if d4 > 0 else 0.0
    out["amean"] = float(xmean)
    if m2 > 0:
        if doRatioLimit:
            if xmean != 0.0:
                out["stddevNorm"] = _ratio_limit(sqm2 / xmean, 10.0, 20.0)
                out["coeffOfVariation"] = _ratio_limit(
                    sqm2 / abs(xmean), 10.0, 20.0)
            else:
                out["stddevNorm"] = 20.0
                out["coeffOfVariation"] = 20.0
        else:
            mean1 = xmean if xmean != 0.0 else 1.0
            out["stddevNorm"] = sqm2 / mean1
            # coeffOfVariation = the STDDEV_NORM_ABS variant (|mean|
            # denominator, functionalMoments.cpp:136-160); the reference
            # emits only one of the two when both are enabled (shared
            # output slot quirk) — here both names are first-class
            amean1 = abs(xmean) if xmean != 0.0 else 1.0
            out["coeffOfVariation"] = sqm2 / amean1
    else:
        out["stddevNorm"] = 0.0
        out["coeffOfVariation"] = 0.0
    return out


# ---------------------------------------------------------------------------
# cFunctionalExtremes (functionalExtremes.cpp:93-137)
# ---------------------------------------------------------------------------

def f_extremes(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0):
    maxpos = float(np.argmax(x == xmax))
    minpos = float(np.argmax(x == xmin))
    if timeNorm == "segment":
        maxpos /= x.size
        minpos /= x.size
    elif timeNorm == "second" and T != 0.0:
        maxpos *= T
        minpos *= T
    return {
        "max": float(xmax), "min": float(xmin), "range": float(xmax - xmin),
        "maxPos": maxpos, "minPos": minpos, "amean": float(xmean),
        "maxameandist": float(xmax - xmean), "minameandist": float(xmean - xmin),
    }


# ---------------------------------------------------------------------------
# cFunctionalPercentiles (functionalPercentiles.cpp:288-413), interp=1
# ---------------------------------------------------------------------------

def _interp_pctl(p: float, s: np.ndarray) -> float:
    """Linear-interpolated percentile, idx = p*(N-1)
    (functionalPercentiles.cpp:297-315). Equals numpy 'linear' method."""
    N = s.size
    idx = p * (N - 1)
    i1 = int(math.floor(idx))
    i2 = int(math.ceil(idx))
    i1 = min(max(i1, 0), N - 1)
    i2 = min(max(i2, 0), N - 1)
    if i1 != i2:
        w1 = idx - i1
        w2 = i2 - idx
        return float(s[i1] * w2 + s[i2] * w1)
    return float(s[i1])


def _round_pctl(p: float, s: np.ndarray) -> float:
    """interp=0 mode (functionalPercentiles.cpp:288-294 getPctlIdx):
    sorted[round(p*(N-1))] clipped — C round() = half away from zero."""
    idx = int(math.floor(p * (s.size - 1) + 0.5))
    return float(s[min(max(idx, 0), s.size - 1)])


def f_percentiles(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
                  percentiles=(0.20, 0.50, 0.80),
                  pctlranges=((0, 2),), pctlquotients=(), interp=True):
    pick = _interp_pctl if interp else _round_pctl
    out = {}
    q1 = pick(0.25, xsorted)
    q2 = pick(0.50, xsorted)
    q3 = pick(0.75, xsorted)
    out["quartile1"] = q1
    out["quartile2"] = q2
    out["quartile3"] = q3
    out["iqr1-2"] = q2 - q1
    out["iqr2-3"] = q3 - q2
    out["iqr1-3"] = q3 - q1
    vals = []
    for p in percentiles:
        v = pick(p, xsorted)
        out[f"percentile{p * 100:.1f}"] = v
        vals.append(v)
    for a, b in pctlranges:
        out[f"pctlrange{a}-{b}"] = abs(vals[b] - vals[a])
    # pctlquotient[] (functionalPercentiles.cpp:66,403-410): ratio-limited
    # quotient p[a]/p[b]; NOTE the reference guards on the NUMERATOR only
    # (out[n0+pctlq1[i]] != 0.0) — replicated, including the resulting
    # inf -> ratioLimit behavior when the denominator is 0.
    for a, b in pctlquotients:
        if vals[a] != 0.0:
            out[f"pctlquotient{a}-{b}"] = _ratio_limit(
                vals[a] / vals[b] if vals[b] != 0.0 else math.inf
                if vals[a] > 0 else -math.inf, 50.0, 100.0)
        else:
            out[f"pctlquotient{a}-{b}"] = 0.0
    return out


# ---------------------------------------------------------------------------
# cFunctionalRegression (functionalRegression.cpp:140-432), linear part +
# centroid; normRegCoeff=0 (frames), normInputs=0, oldBuggyQerr=0
# ---------------------------------------------------------------------------

def f_regression(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
                 quadratic=True, oldBuggyQerr=False, qregExtras=False):
    N = x.size
    Nd = float(N)
    ii = np.arange(N, dtype=np.float64)
    asum = float(xmean) * Nd
    num = float((x * ii).sum())
    num2 = float((x * ii * ii).sum())

    centroid = (num / asum) if asum != 0.0 else 0.0
    if not math.isfinite(centroid):
        centroid = 0.0

    out = {}
    if N > 1:
        NNm1 = Nd * (Nd - 1.0)
        S1 = NNm1 / 2.0
        S2 = NNm1 * (2.0 * Nd - 1.0) / 6.0
        S1dS2 = S1 / S2
        tmp = Nd - S1 * S1dS2
        t = (asum - num * S1dS2) / tmp if tmp != 0.0 else 0.0
        m = (num - t * S1) / S2
        S3 = S1 * S1
        Nd1 = Nd - 1.0
        S4 = S2 * (3.0 * (Nd1 * Nd1 + Nd1) - 1.0) / 5.0
        if quadratic:
            S3S3 = S3 * S3
            S2S2 = S2 * S2
            S1S2 = S1 * S2
            S1S1 = S3
            det = S4 * S2 * Nd + 2.0 * S3 * S1S2 - S2S2 * S2 - S3S3 * Nd - S1S1 * S4
            if det != 0.0:
                a = ((S2 * Nd - S1S1) * num2 + (S1S2 - S3 * Nd) * num
                     + (S3 * S1 - S2S2) * asum) / det
                b = ((S1S2 - S3 * Nd) * num2 + (S4 * Nd - S2S2) * num
                     + (S3 * S2 - S4 * S1) * asum) / det
                c = ((S3 * S1 - S2S2) * num2 + (S3 * S2 - S4 * S1) * num
                     + (S4 * S2 - S3S3) * asum) / det
            else:
                a = b = c = 0.0
        else:
            a = b = c = 0.0
    else:
        m = 0.0
        t = c = float(x[0])
        a = b = 0.0

    e = x - (m * ii + t)
    lea = float(np.abs(e).sum())
    leq = float((e * e).sum())

    if quadratic:
        eq = x - (a * ii * ii + b * ii + c)
        qea = float(np.abs(eq).sum())
        qeq = float((eq * eq).sum())
    else:
        qea = qeq = 0.0

    def fin(v):
        return v if math.isfinite(v) else 0.0

    out["linregc1"] = fin(m)
    out["linregc2"] = fin(t)
    out["linregerrA"] = fin(lea / Nd)
    out["linregerrQ"] = fin(leq / Nd)
    if quadratic:
        out["qregc1"] = fin(a)
        out["qregc2"] = fin(b)
        out["qregc3"] = fin(c)
        # oldBuggyQerr compat flag (functionalRegression.cpp:85,405-411):
        # the reference DEFAULTS to 1, emitting length-UNnormalised
        # quadratic errors for old feature-set compatibility, while its own
        # docs direct new configs to 0; we default to the recommended
        # (normalised) behaviour and keep the flag for historical parity.
        if oldBuggyQerr:
            out["qregerrA"] = fin(qea)
            out["qregerrQ"] = fin(qeq)
        else:
            out["qregerrA"] = fin(qea / Nd)
            out["qregerrQ"] = fin(qeq / Nd)
    out["centroid"] = centroid
    if quadratic and qregExtras:
        # parabola vertex / endpoints / partial slopes
        # (functionalRegression.cpp:292-395, normRegCoeff=0, normInputs=0):
        # x0 = b/(-2a) clipped to [-N, N] (non-finite -> N);
        # y0 = c - b^2/(4a) (non-finite -> 0); yr = a(N-1)^2 + b(N-1) + c;
        # ls = (y0-c)/x0 when x0 > 0; rs = (yr-y0)/(N-1-x0) when x0 < N-1.
        with np.errstate(divide="ignore", invalid="ignore"):
            x0 = np.float64(b) / np.float64(-2.0 * a)
            if x0 < -Nd:
                x0 = -Nd
            if x0 > Nd:
                x0 = Nd
            if not math.isfinite(x0):
                x0 = Nd
            y0 = np.float64(c) - np.float64(b) * np.float64(b) \
                / np.float64(4.0 * a)
            if not math.isfinite(y0):
                y0 = 0.0
            yr = a * (Nd - 1.0) * (Nd - 1.0) + b * (Nd - 1.0) + c
            if not math.isfinite(yr):
                yr = 0.0
            ls = (float(y0) - c) / float(x0) if x0 > 0 else 0.0
            rs = ((yr - float(y0)) / (Nd - 1.0 - float(x0))
                  if x0 < Nd - 1.0 else 0.0)
        out["qregls"] = fin(float(ls))
        out["qregrs"] = fin(float(rs))
        out["qregx0"] = fin(float(x0))
        out["qregy0"] = fin(float(y0))
        out["qregyr"] = fin(float(yr))
        out["qregy0nn"] = fin(float(y0))   # == y0 with normInputs=0
        out["qregc3nn"] = fin(c)           # == c  with normInputs=0
    return out


# ---------------------------------------------------------------------------
# cFunctionalCrossings (functionalCrossings.cpp:85-121)
# ---------------------------------------------------------------------------

def f_crossings(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0):
    N = x.size
    amean = float(xmean)
    # vectorized transcription of the i = 1..N-2 loop
    # (functionalCrossings.cpp:106-110)
    if N >= 3:
        xm1, xc, xp1 = x[:-2], x[1:-1], x[2:]
        zcr = int((((xm1 * xp1 <= 0.0) & (xc == 0.0))
                   | (xm1 * xc < 0.0)).sum())
        a, b, c = xm1 - amean, xc - amean, xp1 - amean
        mcr = int((((a * c <= 0.0) & (b == 0.0)) | (a * b < 0.0)).sum())
    else:
        zcr = mcr = 0
    return {"zcr": zcr / N, "mcr": mcr / N, "amean": amean}


# ---------------------------------------------------------------------------
# cFunctionalTimes (functionalTimes.cpp:60-78 + process), norm=segment,
# useRobustPercentileRange=0, buggySecNorm irrelevant for segment norm
# ---------------------------------------------------------------------------

def f_times(x, xsorted, xmin, xmax, xmean, timeNorm="segment", T=1.0,
            buggySecNorm=False):
    N = x.size
    Nd = float(N)
    if timeNorm == "segment":
        Norm, Norm1, Norm2 = Nd, Nd - 1.0, Nd - 2.0
    elif timeNorm == "frames":
        Norm, Norm1, Norm2 = 1.0, (Nd - 1.0) / Nd, (Nd - 2.0) / Nd
    elif buggySecNorm:
        # pre-1.0.0 compat (functionalTimes.cpp:76,241-243): erroneously
        # divides the frame counts by T only (an extra factor of N vs the
        # corrected formula); the reference ships this as the DEFAULT for
        # config compatibility — here it is opt-in.
        Norm = Nd / T
        Norm1 = (Nd - 1.0) / T
        Norm2 = (Nd - 2.0) / T
    else:  # second, non-buggy (functionalTimes.cpp:89-93)
        Norm = 1.0 / T
        Norm1 = (Nd - 1.0) / (Nd * T)
        Norm2 = (Nd - 2.0) / (Nd * T)
    rng = xmax - xmin
    l25, l50, l75, l90 = (0.25 * rng + xmin, 0.50 * rng + xmin,
                          0.75 * rng + xmin, 0.90 * rng + xmin)
    n25 = int((x <= l25).sum())
    n50 = int((x <= l50).sum())
    n75 = int((x <= l75).sum())
    n90 = int((x <= l90).sum())
    d = np.diff(x)
    nR = int((d > 0).sum())
    nF = int((d < 0).sum())
    dd = d[1:] - d[:-1]  # a2 - a1
    nRC = int((dd < 0).sum())
    nLC = int((dd > 0).sum())
    out = {
        "upleveltime25": (N - n25) / Norm, "downleveltime25": n25 / Norm,
        "upleveltime50": (N - n50) / Norm, "downleveltime50": n50 / Norm,
        "upleveltime75": (N - n75) / Norm, "downleveltime75": n75 / Norm,
        "upleveltime90": (N - n90) / Norm, "downleveltime90": n90 / Norm,
        "risetime": nR / Norm1 if Norm1 != 0.0 else 0.0,
        "falltime": nF / Norm1 if Norm1 != 0.0 else 0.0,
        "leftctime": nLC / Norm2 if Norm2 != 0.0 else 0.0,
        "rightctime": nRC / Norm2 if Norm2 != 0.0 else 0.0,
        "duration": Nd * T if timeNorm == "second" else Nd,
    }
    return out


# ---------------------------------------------------------------------------
# cFunctionalOnset (functionalOnset.cpp:process), threshold=0, norm=segment
# ---------------------------------------------------------------------------

def f_onset(x, xsorted, xmin, xmax, xmean, timeNorm="segment", T=1.0,
            thresholdOnset=0.0, thresholdOffset=0.0, useAbsVal=False):
    N = x.size
    onsetPos = -1
    offsetPos = -1
    nOnsets = 0
    nOffsets = 0
    oo = 1 if x[0] > thresholdOnset else 0
    for i in range(1, N):
        cur = abs(x[i]) if useAbsVal else x[i]
        if cur > thresholdOnset and oo == 0:
            nOnsets += 1
            if onsetPos == -1:
                onsetPos = i
            oo = 1
        if cur <= thresholdOffset and oo == 1:
            nOffsets += 1
            offsetPos = i
            oo = 0
    if offsetPos == -1:
        offsetPos = N - 1
    if onsetPos == -1:
        onsetPos = 0
    if timeNorm == "segment":
        op, fp = onsetPos / N, offsetPos / N
    elif timeNorm == "second":
        op, fp = onsetPos * T, offsetPos * T
    else:
        op, fp = float(onsetPos), float(offsetPos)
    return {
        "onsetPos": op, "offsetPos": fp,
        "numOnsets": float(nOnsets), "numOffsets": float(nOffsets),
        "onsetRate": nOnsets / (N * T),
    }


# ---------------------------------------------------------------------------
# cFunctionalSegments, algorithms nonX / eqX (non-buggy variants,
# functionalSegments.cpp:656-725 & process_SegEqX), norm=segment
# ---------------------------------------------------------------------------

def _segment_runs_chx(x, Xval, segMinLng, maxNumSeg):
    """process_SegChX (functionalSegments.cpp, non-buggy variant): both X
    and non-X runs are segments; boundaries at changes between them."""
    seg_lens = []

    def add_segment(i, last):
        if len(seg_lens) < maxNumSeg:
            seg_lens.append(i - last)

    segStartIndex = 0
    segEndIndex = 0
    inSegment = 0
    segStart = 0
    segEnd = 0
    N = x.size
    for i in range(N):
        if x[i] != Xval:
            if inSegment == 1:
                segEnd = 0
                segStart += 1
                if segStart >= segMinLng:
                    inSegment = 2
                    add_segment(segStartIndex - 1, segEndIndex)
                    segStart = 0
            elif inSegment == 0:
                segStart += 1
                segStartIndex = i
                inSegment = 1
            elif inSegment == 2:
                segEnd = 0
            elif inSegment == 3:
                segStart += 1
                if segStart >= segMinLng:
                    inSegment = 2
                    segEnd = 0
                    segStart = 0
        else:
            if inSegment == 3:
                segStart = 0
                segEnd += 1
                if segEnd >= segMinLng:
                    inSegment = 0
                    add_segment(segEndIndex - 1, segStartIndex)
                    segEnd = 0
            elif inSegment == 2:
                segEnd += 1
                segEndIndex = i
                inSegment = 3
            elif inSegment == 1:
                segEnd += 1
                if segEnd >= segMinLng:
                    inSegment = 0
                    segEnd = 0
                    segStart = 0
    return seg_lens


def _segment_runs_old_buggy(x, Xval, mode, maxNumSeg):
    """process_Seg{ChX,NonX,EqX}_oldBuggy (functionalSegments.cpp:415-540,
    configs up to 2012-06-12, kept behind useOldBuggyChX): a 3-frame
    running average compared for EXACT equality with X; segMinLng is
    recomputed as N/maxNumSeg - 1 (>= 2) regardless of the option, and
    lastSeg starts at -segMinLng/2 (C truncating division)."""
    N = x.size
    segMinLng = N // maxNumSeg - 1
    if segMinLng < 2:
        segMinLng = 2
    ravgLng = 3
    lastSeg = -(segMinLng // 2)
    ravg = 0.0
    raLast = 0.0
    seg_lens = []

    def add_segment(i, last):
        if len(seg_lens) < maxNumSeg:
            seg_lens.append(i - last)
        return i

    for i in range(N):
        ravg += float(x[i])
        if i >= ravgLng:
            ravg -= float(x[i - ravgLng])
        ra = ravg / float(min(i + 1, ravgLng))
        if mode == "chX":
            cross = (ra != Xval and raLast == Xval) or \
                    (ra == Xval and raLast != Xval)
            raLast = ra
            if cross and i - lastSeg > segMinLng:
                lastSeg = add_segment(i, lastSeg)
        elif mode == "nonX":
            seg_start = ra != Xval and raLast == Xval
            seg_end = ra == Xval and raLast != Xval
            raLast = ra
            if seg_start:
                lastSeg = i
            if seg_end and i - lastSeg > segMinLng:
                lastSeg = add_segment(i - 1, lastSeg)
        else:  # eqX
            seg_end = ra != Xval and raLast == Xval
            seg_start = ra == Xval and raLast != Xval
            raLast = ra
            if seg_start:
                lastSeg = i
            if seg_end and i - lastSeg > segMinLng:
                lastSeg = add_segment(i, lastSeg)
    return seg_lens


def _segment_runs(x, Xval, mode, segMinLng, pauseMinLng, maxNumSeg):
    """State machine transcription of process_SegNonX / process_SegEqX."""
    if mode == "chX":
        return _segment_runs_chx(x, Xval, segMinLng, maxNumSeg)
    seg_lens = []

    def add_segment(i, last):
        if len(seg_lens) < maxNumSeg:
            seg_lens.append(i - last)

    segStartIndex = 0
    inSegment = 0
    segStart = 0
    segEnd = 0
    N = x.size
    i = 0
    for i in range(N):
        in_match = (x[i] != Xval) if mode == "nonX" else (x[i] == Xval)
        if in_match:
            if inSegment == 1:
                segEnd = 0
                segStart += 1
                if segStart >= segMinLng:
                    segStart = 0
                    inSegment = 2
            elif inSegment == 0:
                segStart += 1
                segStartIndex = i
                inSegment = 1
            elif inSegment == 2:
                segEnd = 0
        else:
            if inSegment == 2:
                segStart = 0
                segEnd += 1
                if segEnd >= pauseMinLng:
                    inSegment = 0
                    add_segment(i - segEnd, segStartIndex)
                    segEnd = 0
            elif inSegment == 1:
                segEnd += 1
                if segEnd >= pauseMinLng:
                    inSegment = 0
                    segEnd = 0
                    segStart = 0
    i = N
    if inSegment == 2:
        segEnd += 1
        add_segment(i - segEnd, segStartIndex)
    return seg_lens


def f_segments(x, xsorted, xmin, xmax, xmean, timeNorm="segment", T=1.0,
               algorithm="nonX", X=0.0, XisRel=False,
               segMinLng=3, pauseMinLng=2, maxNumSeg=20,
               useOldBuggyChX=False):
    N = x.size
    rng = xmax - xmin
    Xval = (xmin + rng * X) if XisRel else X
    if useOldBuggyChX:
        seg_lens = _segment_runs_old_buggy(x, Xval, algorithm, maxNumSeg)
    else:
        seg_lens = _segment_runs(x, Xval, algorithm, segMinLng, pauseMinLng,
                                 maxNumSeg)
    nSeg = len(seg_lens)
    sumLen = float(sum(seg_lens))
    maxLen = float(max(seg_lens)) if seg_lens else 0.0
    minLen = float(min(seg_lens)) if seg_lens else 0.0
    mean = sumLen / nSeg if nSeg > 1 else sumLen
    lenDev = 0.0
    for L in seg_lens:
        lenDev += (L - mean) ** 2
    if nSeg > 1:
        lenDev = math.sqrt(lenDev / nSeg)
    else:
        lenDev = 0.0

    out = {}
    # numSegments normalisation (functionalSegments.cpp process tail)
    if timeNorm == "second":
        out["numSegments"] = nSeg / (N * T if T != 0.0 else N)
    elif timeNorm == "segment":
        out["numSegments"] = nSeg / maxNumSeg
    else:
        out["numSegments"] = float(nSeg)
    if timeNorm == "segment":
        out["meanSegLen"] = mean / N
        out["maxSegLen"] = maxLen / N
        out["minSegLen"] = minLen / N
        out["segLenStddev"] = lenDev / N
    elif timeNorm == "second":
        Norm = T if T != 0.0 else 1.0
        out["meanSegLen"] = mean * Norm
        out["maxSegLen"] = maxLen * Norm
        out["minSegLen"] = minLen * Norm
        out["segLenStddev"] = lenDev * Norm
    else:
        out["meanSegLen"] = mean
        out["maxSegLen"] = maxLen
        out["minSegLen"] = minLen
        out["segLenStddev"] = lenDev
    return out


def _p2_unity(x: float, doRatioLimit: bool) -> float:
    """peaks2 ratioLimitUnity (functionalPeaks2.hpp:78-88): clamp to
    [-1, 1] when doRatioLimit, identity otherwise."""
    if doRatioLimit:
        if x > 1.0:
            return 1.0
        if x < -1.0:
            return -1.0
    return x


def _p2_mean_ratio(v: float, mean: float, doRatioLimit: bool) -> float:
    """peaks2 peakMeanMeanRatio/minMeanMeanRatio (functionalPeaks2.cpp:
    803-816, 851-857): ratioLimit(v/mean, 10, 10) when mean != 0, else
    ratioLimitMax (20 when limiting, the raw v in compat mode)."""
    if mean != 0.0:
        q = v / mean
        return _ratio_limit(q, 10.0, 10.0) if doRatioLimit else q
    return 20.0 if doRatioLimit else v


# ---------------------------------------------------------------------------
# cFunctionalPeaks2 (functionalPeaks2.cpp:314-919) — full automaton.
# relThresh=0.1, dynRelThresh=0, doRatioLimit=0, norm=frames, T=1
# ---------------------------------------------------------------------------

def f_peaks2(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
             relThresh=0.1, dynRelThresh=False, absThreshIn=None,
             doRatioLimit=False):
    """The full peaks2 automaton over parallel lists with branch min/max
    (the per-group Python passes dominated kernel CPU with one dict per
    extremum). Equality with the dict-based reference transcription in
    tests/peaks2_dictref.py is pinned by tests/test_peaks2_fast.py over
    randomized inputs."""
    N = x.size
    rng = float(xmax - xmin)
    absThresh = absThreshIn if absThreshIn is not None else relThresh * rng

    if dynRelThresh:
        def below(diff, base):
            if base == 0.0:
                return diff != 0.0
            return abs(diff / base) < relThresh
    else:
        def below(diff, base):
            return diff < absThresh

    # step 1 (vectorized): local extrema, i in [2, N-3]
    if N >= 5:
        xc = x[2:-2]
        is_max = (xc > x[1:-3]) & (xc > x[3:-1])
        is_min = (xc < x[1:-3]) & (xc < x[3:-1])
        which = np.flatnonzero(is_max | is_min)
        et = is_max[which]                       # bool array: True = max
        epos = (which + 2).tolist()
        eval_ = xc[which].tolist()
        et = et.tolist()
    else:
        et, epos, eval_ = [], [], []
    M = len(et)
    alive = [True] * M

    # step 2a
    x0 = float(x[0])
    lastVal = x0
    lastMin = x0
    lastMax = x0
    minFlag = 0
    last_max_i = -1
    for i in range(M):
        y = eval_[i]
        if et[i]:
            base = y if y < lastVal else lastVal
            d = y - lastVal
            if d < 0.0:
                d = -d
            if below(d, base):
                if below(y - lastMin, lastMin):
                    alive[i] = False
                else:
                    if y > lastMax * 1.05:
                        if last_max_i >= 0:
                            alive[last_max_i] = False
                        lastMax = y
                        last_max_i = i
                    else:
                        if minFlag:
                            lastMax = y
                            last_max_i = i
                        else:
                            alive[i] = False
                    minFlag = 0
            else:
                minFlag = 0
                lastMax = y
                last_max_i = i
        else:
            base = y if y < lastVal else lastVal
            d = y - lastVal
            if d < 0.0:
                d = -d
            if not below(d, base):
                minFlag = 1
                lastMin = y
        lastVal = y

    # step 2b
    lastMax = x0
    for i in range(M):
        if not alive[i]:
            continue
        if not et[i]:
            if below(lastMax - eval_[i], eval_[i]):
                alive[i] = False
        else:
            lastMax = eval_[i]

    # step 3: alternation
    lastMax = x0
    lastMin = x0
    minFlag = 0
    init = 1
    last_min_i = -1
    last_max_i = -1
    for i in range(M):
        if not alive[i]:
            continue
        y = eval_[i]
        if not et[i]:
            if not minFlag or init:
                lastMin = y
                last_min_i = i
                minFlag = 1
                init = 0
            else:
                if y >= lastMin:
                    alive[i] = False
                else:
                    if last_min_i != i and last_min_i >= 0:
                        alive[last_min_i] = False
                    last_min_i = i
                    lastMin = y
        else:
            if minFlag or init:
                lastMax = y
                last_max_i = i
                minFlag = 0
                init = 0
            else:
                if y <= lastMax:
                    alive[i] = False
                else:
                    if last_max_i != i and last_max_i >= 0:
                        alive[last_max_i] = False
                    last_max_i = i
                    lastMax = y

    ft = []
    fx = []
    fy = []
    for i in range(M):
        if alive[i]:
            ft.append(et[i])
            fx.append(epos[i])
            fy.append(eval_[i])
    F = len(ft)

    # stats pass 1
    peakMax = peakMin = 0.0
    peakDist = peakDiff = 0.0
    nPeakDist = 0
    peakMean = 0.0
    nPeaks = 0
    minMax = minMin = 0.0
    minDist = minDiff = 0.0
    nMinDist = 0
    minMean = 0.0
    nMins = 0
    lmx = lmy = None
    lnx = lny = None
    for i in range(F):
        y = fy[i]
        if not ft[i]:
            if lnx is None:
                minMin = minMax = y
            else:
                nMinDist += 1
                minDist += fx[i] - lnx
                d = y - lny
                minDiff += d if d >= 0 else -d
                if minMin > y:
                    minMin = y
                if minMax < y:
                    minMax = y
            lnx, lny = fx[i], y
            minMean += y
            nMins += 1
        else:
            if lmx is None:
                peakMin = peakMax = y
            else:
                nPeakDist += 1
                peakDist += fx[i] - lmx
                d = y - lmy
                peakDiff += d if d >= 0 else -d
                if peakMin > y:
                    peakMin = y
                if peakMax < y:
                    peakMax = y
            lmx, lmy = fx[i], y
            peakMean += y
            nPeaks += 1

    if nPeaks > 1:
        peakMean /= nPeaks
        if nPeakDist > 1:
            peakDist /= nPeakDist
            peakDiff /= nPeakDist
    if nMins > 0:
        minMean /= nMins
        if nMinDist > 1:
            minDist /= nMinDist
            minDiff /= nMinDist

    # stats pass 2 (reference quirk: max branch refs the last MIN — kept)
    peakStddevDist = peakStddevDiff = 0.0
    minStddevDist = minStddevDiff = 0.0
    lmx = None
    lnx = lny = None
    for i in range(F):
        y = fy[i]
        if not ft[i]:
            if lnx is not None:
                dd = fx[i] - lnx - minDist
                minStddevDist += dd * dd
                d = y - lny
                if d < 0:
                    d = -d
                dd = d - minDiff
                minStddevDiff += dd * dd
            lnx, lny = fx[i], y
        else:
            if lmx is not None:
                rx, ry = (lnx, lny) if lnx is not None else (lmx, lmy)
                dd = fx[i] - rx - peakDist
                peakStddevDist += dd * dd
                d = y - ry
                if d < 0:
                    d = -d
                dd = d - peakDiff
                peakStddevDiff += dd * dd
            lmx, lmy = fx[i], y
    if nPeakDist > 1:
        peakStddevDist /= nPeakDist
        peakStddevDiff /= nPeakDist
    peakStddevDist = math.sqrt(peakStddevDist) if peakStddevDist > 0 else 0.0
    peakStddevDiff = math.sqrt(peakStddevDiff) if peakStddevDiff > 0 else 0.0
    if nMinDist > 1:
        minStddevDist /= nMinDist
        minStddevDiff /= nMinDist
    minStddevDist = math.sqrt(minStddevDist) if minStddevDist > 0 else 0.0
    minStddevDiff = math.sqrt(minStddevDiff) if minStddevDiff > 0 else 0.0

    # slopes
    meanRS = meanFS = 0.0
    nRising = nFalling = 0
    minRS = maxRS = minFS = maxFS = 0.0
    lastIsMax = -1
    lastMaxV = x0
    lastMaxPos = 0
    lastMinV = x0
    lastMinPos = 0
    for i in range(F):
        if not ft[i]:
            lastMinV, lastMinPos = fy[i], fx[i]
            dpos = lastMinPos - lastMaxPos
            if dpos > 0:
                slope = (lastMaxV - lastMinV) / (dpos * T)
                meanFS += slope
                if nFalling == 0:
                    minFS = maxFS = slope
                else:
                    if slope < minFS:
                        minFS = slope
                    if slope > maxFS:
                        maxFS = slope
                nFalling += 1
                lastIsMax = 0
        else:
            lastMaxV, lastMaxPos = fy[i], fx[i]
            dpos = lastMaxPos - lastMinPos
            if dpos > 0:
                slope = (lastMaxV - lastMinV) / (dpos * T)
                meanRS += slope
                if nRising == 0:
                    minRS = maxRS = slope
                else:
                    if slope < minRS:
                        minRS = slope
                    if slope > maxRS:
                        maxRS = slope
                nRising += 1
                lastIsMax = 1

    xl = float(x[N - 1])
    if lastIsMax == 1:
        if N - 1 - lastMaxPos > 0:
            slope = (xl - lastMaxV) / ((N - 1 - lastMaxPos) * T)
            meanFS += slope
            if nFalling == 0:
                minFS = maxFS = slope
            else:
                if slope < minFS:
                    minFS = slope
                if slope > maxFS:
                    maxFS = slope
            nFalling += 1
    elif lastIsMax == 0:
        if N - 1 - lastMinPos > 0:
            slope = (xl - lastMinV) / ((N - 1 - lastMinPos) * T)
            meanRS += slope
            if nRising == 0:
                minRS = maxRS = slope
            else:
                if slope < minRS:
                    minRS = slope
                if slope > maxRS:
                    maxRS = slope
            nRising += 1
    else:
        slope = (xl - x0) / N
        if slope > 0:
            meanRS = maxRS = minRS = slope
            nRising = 1
        elif slope < 0:
            meanFS = maxFS = minFS = slope
            nFalling = 1

    if nRising > 1:
        meanRS /= nRising
    if nFalling > 1:
        meanFS /= nFalling

    stddevRS = stddevFS = 0.0
    lastMaxV = x0
    lastMaxPos = 0
    lastMinV = x0
    lastMinPos = 0
    for i in range(F):
        if not ft[i]:
            lastMinV, lastMinPos = fy[i], fx[i]
            dpos = lastMinPos - lastMaxPos
            if dpos > 0:
                slope = (lastMaxV - lastMinV) / (dpos * T)
                dd = slope - meanFS
                stddevFS += dd * dd
        else:
            lastMaxV, lastMaxPos = fy[i], fx[i]
            dpos = lastMaxPos - lastMinPos
            if dpos:
                slope = (lastMaxV - lastMinV) / (dpos * T)
                dd = slope - meanRS
                stddevRS += dd * dd
    if nRising > 1:
        stddevRS /= nRising
    if nFalling > 1:
        stddevFS /= nFalling
    stddevRS = math.sqrt(stddevRS) if stddevRS > 0 else 0.0
    stddevFS = math.sqrt(stddevFS) if stddevFS > 0 else 0.0

    if timeNorm == "second":
        peakDist *= T
        peakStddevDist *= T
        minDist *= T
        minStddevDist *= T
    elif timeNorm == "segment":
        peakDist /= N
        peakStddevDist /= N
        minDist /= N
        minStddevDist /= N

    numPeaks = (nPeaks / (N * T)) if timeNorm == "second" else float(nPeaks)

    return {
        "numPeaks": numPeaks,
        "meanPeakDist": float(peakDist),
        "peakDistStddev": peakStddevDist,
        "peakRangeAbs": peakMax - peakMin,
        "peakRangeRel": (_p2_unity(abs((peakMax - peakMin) / rng),
                                   doRatioLimit) if rng != 0.0
                         else peakMax - peakMin),
        "peakMean": peakMean,
        "peakMeanMeanDist": peakMean - float(xmean),
        "peakMeanMeanRatio": _p2_mean_ratio(peakMean, float(xmean),
                                            doRatioLimit),
        "ptpAmpMeanAbs": peakDiff,
        "ptpAmpMeanRel": (_p2_unity(peakDiff / rng, doRatioLimit)
                          if rng != 0.0 else peakDiff),
        "ptpAmpStddevAbs": peakStddevDiff,
        "ptpAmpStddevRel": (_p2_unity(peakStddevDiff / rng, doRatioLimit)
                            if rng != 0.0 else peakStddevDiff),
        "minRangeAbs": minMax - minMin,
        "minRangeRel": (_p2_unity(abs((minMax - minMin) / rng),
                                  doRatioLimit) if rng != 0.0
                        else minMax - minMin),
        "minMean": minMean,
        "minMeanMeanDist": float(xmean) - minMean,
        "minMeanMeanRatio": _p2_mean_ratio(minMean, float(xmean),
                                           doRatioLimit),
        "mtmAmpMeanAbs": minDiff,
        "mtmAmpMeanRel": (_p2_unity(minDiff / rng, doRatioLimit)
                          if rng != 0.0 else minDiff),
        "mtmAmpStddevAbs": minStddevDiff,
        "mtmAmpStddevRel": (_p2_unity(minStddevDiff / rng, doRatioLimit)
                            if rng != 0.0 else minStddevDiff),
        "meanRisingSlope": meanRS,
        "maxRisingSlope": maxRS,
        "minRisingSlope": minRS,
        "stddevRisingSlope": stddevRS,
        "meanFallingSlope": meanFS,
        "maxFallingSlope": maxFS,
        "minFallingSlope": minFS,
        "stddevFallingSlope": stddevFS,
        "covFallingSlope": (stddevFS / meanFS) if meanFS > 0.0 else 0.0,
        "covRisingSlope": (stddevRS / meanRS) if meanRS > 0.0 else 0.0,
    }


# ---------------------------------------------------------------------------
# cFunctionalPeaks — the LEGACY peak family (functionalPeaks.cpp:103-215),
# used by config/misc/emo_large.conf:265 and the IS11 set. Distinct algorithm
# from Peaks2: hysteresis thresholds 0.11*range (arm) / 0.09*range (fire),
# overlapFlag=1 (per-window state, loop starts at i=2). Quirks replicated:
#   - lastMin/lastMax init to 0.0, NOT in[0] (the in[0] init is commented out
#     in the reference, functionalPeaks.cpp:115-116)
#   - on a local max at i, lastMax is set to in[i] (the value AFTER the peak),
#     not the peak value lastVal (functionalPeaks.cpp:139-141); same for mins
#   - empty peak-distance list emits meanPeakDist = Nin+1 (:176)
# ---------------------------------------------------------------------------

def f_peaks(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0):
    N = x.size
    rng = float(xmax - xmin)
    peakDistSum = 0.0
    dists = []
    peakMean = 0.0
    nPeaks = 0
    lastMin = 0.0
    lastMax = 0.0
    curmaxPos = 0
    lastmaxPos = -1
    peakflag = 0
    if N >= 2:
        lastlastVal = float(x[0])
        lastVal = float(x[1])
        for i in range(2, N):
            cur = float(x[i])
            if lastlastVal < lastVal and lastVal > cur:      # local max
                if not peakflag:
                    lastMax = cur
                elif cur > lastMax:
                    lastMax = cur
                    curmaxPos = i
                if lastMax - lastMin > 0.11 * rng:
                    peakflag = 1
                    curmaxPos = i
            elif lastlastVal > lastVal and lastVal < cur:    # local min
                lastMin = cur
            if peakflag and (cur < lastMax - 0.09 * rng or i == N - 1):
                nPeaks += 1
                peakMean += lastMax
                if lastmaxPos >= 0:
                    dist = float(curmaxPos - lastmaxPos)
                    peakDistSum += dist
                    dists.append(dist)
                lastmaxPos = curmaxPos
                peakflag = 0
            lastlastVal = lastVal
            lastVal = cur
    nPeakDist = len(dists)
    stddev = 0.0
    if nPeakDist > 0:
        peakDist = peakDistSum / nPeakDist
        for d in dists:
            stddev += (d - peakDist) ** 2
        stddev = math.sqrt(stddev / nPeakDist)
    else:
        peakDist = float(N + 1)
        stddev = 0.0
    if timeNorm == "second":
        peakDist *= T
        stddev *= T
    elif timeNorm == "segment":
        peakDist /= N
        stddev /= N
    peakMean = peakMean / nPeaks if nPeaks > 0 else 0.0
    # NOTE: output names collide with peaks2 by design (the reference
    # distinguishes them via component instance names); request `peaks` and
    # `peaks2` in separate bank calls (compute_all is first-writer-wins).
    return {
        "numPeaks": float(nPeaks),
        "meanPeakDist": peakDist,
        "peakMean": peakMean,
        "peakMeanMeanDist": peakMean - float(xmean),
        "peakDistStddev": stddev,
    }


# ---------------------------------------------------------------------------
# cFunctionalSamples (functionalSamples.cpp:42) — values at relative positions
# ---------------------------------------------------------------------------

def f_samples(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
              positions=(0.0, 0.25, 0.5, 0.75, 1.0)):
    N = x.size
    out = {}
    for p in positions:
        # si = (int)((Nind - 1.0) * samplepos[spi]) — C cast TRUNCATES
        # (functionalSamples.cpp:107), not rounds
        idx = int((N - 1) * p)
        idx = min(max(idx, 0), N - 1)
        out[f"samplepos{p:g}"] = float(x[idx])
    return out


# ---------------------------------------------------------------------------
# cFunctionalDCT (functionalDCT.cpp:38-40) — DCT-II coefficients of window
# ---------------------------------------------------------------------------

def f_dct(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
          firstCoeff=1, lastCoeff=6):
    N = x.size
    out = {}
    n = np.arange(N, dtype=np.float64)
    factor = math.sqrt(2.0 / N)
    for k in range(firstCoeff, lastCoeff + 1):
        basis = np.cos(math.pi * k / N * (n + 0.5))
        out[f"dct{k}"] = float(factor * (x * basis).sum())
    return out


# ---------------------------------------------------------------------------
# cFunctionalLpc (functionalLpc.cpp:20-22) — LP coefficients via
# autocorrelation + Levinson-Durbin (smileUtil smileDsp_calcLpcAcf analogue)
# ---------------------------------------------------------------------------

def f_lpc(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0, order=4):
    N = x.size
    out = {}
    p = min(order, max(N - 1, 1))
    r = np.zeros(order + 1)
    for k in range(min(order, N - 1) + 1):
        r[k] = float((x[: N - k] * x[k:]).sum())
    if r[0] == 0.0:
        out["lpgain"] = 0.0
        for k in range(order):
            out[f"lpc{k}"] = 0.0
        return out
    a = np.zeros(order + 1)
    e = r[0]
    for i in range(1, p + 1):
        acc = r[i]
        for j in range(1, i):
            acc -= a[j] * r[i - j]
        k_i = acc / e if e != 0.0 else 0.0
        a_new = a.copy()
        a_new[i] = k_i
        for j in range(1, i):
            a_new[j] = a[j] - k_i * a[i - j]
        a = a_new
        e *= (1.0 - k_i * k_i)
    out["lpgain"] = float(e)
    for k in range(order):
        out[f"lpc{k}"] = float(a[k + 1]) if k + 1 <= p else 0.0
    return out


# ---------------------------------------------------------------------------
# cAcf / cAmdf analogues (/root/reference/src/dspcore/acf.cpp, amdf.cpp) —
# contour autocorrelation and average magnitude difference per window.
# f_amdf transcribes computeAMDF method=LIMIT (amdf.cpp:134-151):
# out[j] = sum_i |x[i] - x[i+j]| / (N - j), out[0] = 0.
# f_acf is the time-domain autocorrelation the lpc family already uses
# (smileDsp_calcLpcAcf analogue): r[k] = sum_i x[i]*x[i+k], plus the
# r[k]/r[0] normalisation (the spectral-domain cAcf reduces to this for a
# real contour by Wiener-Khinchin).
# ---------------------------------------------------------------------------

def f_acf(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
          max_lag: int = 4, normalize: bool = True):
    N = x.size
    out = {}
    r0 = float((x * x).sum())
    for k in range(max_lag + 1):
        r = float((x[: N - k] * x[k:]).sum()) if k < N else 0.0
        if normalize:
            out[f"acf{k}"] = r / r0 if r0 != 0.0 else 0.0
        else:
            out[f"acf{k}"] = r
    return out


def f_amdf(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
           max_lag: int = 4):
    N = x.size
    out = {"amdf0": 0.0}
    for j in range(1, max_lag + 1):
        if j < N:
            out[f"amdf{j}"] = float(np.abs(x[: N - j] - x[j:]).sum()) / (N - j)
        else:
            out[f"amdf{j}"] = 0.0
    return out


# ---------------------------------------------------------------------------
# cLsp analogue (/root/reference/src/lld/lsp.cpp): line spectral pairs of
# the LPC polynomial — roots of the sum/difference polynomials
# P(z) = A(z) + z^-(p+1) A(z^-1), Q(z) = A(z) - z^-(p+1) A(z^-1); LSPs are
# the sorted angles of the (interleaved, unit-circle) roots.
# ---------------------------------------------------------------------------

def f_lsp(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
          order: int = 4):
    lp = f_lpc(x, xsorted, xmin, xmax, xmean, order=order)
    # A(z) = 1 - sum a_k z^-k in the predictor convention used by f_lpc
    a = np.zeros(order + 1)
    a[0] = 1.0
    for k in range(order):
        a[k + 1] = -lp[f"lpc{k}"]
    p = np.concatenate([a, [0.0]]) + np.concatenate([[0.0], a[::-1]])
    q = np.concatenate([a, [0.0]]) - np.concatenate([[0.0], a[::-1]])
    out = {}
    angles = []
    for poly in (p, q):
        if np.allclose(poly, 0.0):
            continue
        roots = np.roots(poly)
        angles.extend(float(ang) for ang in np.angle(roots)
                      if 1e-9 < ang < math.pi - 1e-9)
    angles.sort()
    for i in range(order):
        out[f"lsp{i}"] = angles[i] if i < len(angles) else 0.0
    return out


# ---------------------------------------------------------------------------
# cFormantLpc analogue (/root/reference/src/lld/formantLpc.cpp): formant
# candidate frequencies/bandwidths from the LPC polynomial roots —
# freq = angle(root) / (2*pi) * fs, bandwidth = -ln(|root|) / pi * fs,
# keeping complex roots in the upper half plane sorted by frequency.
# fs defaults to 1 "frame rate" (the contour domain); pass T for seconds.
# ---------------------------------------------------------------------------

def f_formants(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
               order: int = 6, n_formants: int = 3):
    lp = f_lpc(x, xsorted, xmin, xmax, xmean, order=order)
    a = np.zeros(order + 1)
    a[0] = 1.0
    for k in range(order):
        a[k + 1] = -lp[f"lpc{k}"]
    out = {}
    cands = []
    if not np.allclose(a[1:], 0.0):
        roots = np.roots(a)
        fs = 1.0 / T if T != 0.0 else 1.0
        for rt in roots:
            ang = float(np.angle(rt))
            if 1e-9 < ang < math.pi - 1e-9 and abs(rt) > 1e-12:
                freq = ang / (2.0 * math.pi) * fs
                bw = -math.log(abs(rt)) / math.pi * fs
                cands.append((freq, bw))
        cands.sort()
    for i in range(n_formants):
        f, b = cands[i] if i < len(cands) else (0.0, 0.0)
        out[f"formantFreq{i + 1}"] = f
        out[f"formantBw{i + 1}"] = b
    return out


# ---------------------------------------------------------------------------
# cFunctionalModulation (functionalModulation.cpp:42-74) — modulation
# spectrum of the contour. The reference computes an STFT-averaged magnitude
# spectrum over fftWinSize windows with Hann weighting and interpolates to
# modSpecNumBins between modSpecMinFreq..modSpecMaxFreq; for the per-segment
# batch case (frameMode=full, zeroPad short segments) this reduces to one
# windowed FFT of the zero-padded contour — implemented exactly so here.
# ---------------------------------------------------------------------------

def f_modulation(x, xsorted, xmin, xmax, xmean, timeNorm="frames", T=1.0,
                 fft_win: int = 64, n_bins: int = 6,
                 min_freq: float = 0.01, max_freq: float = 0.4):
    N = x.size
    xc = x - xmean                       # remove DC (contour modulation only)
    if N < fft_win:
        xc = np.concatenate([xc, np.zeros(fft_win - N)])   # zeroPad policy
    else:
        xc = xc[:fft_win]
    win = 0.5 - 0.5 * np.cos(2 * math.pi * np.arange(fft_win) / fft_win)  # han
    mag = np.abs(np.fft.rfft(xc * win)) / fft_win
    freqs = np.fft.rfftfreq(fft_win, d=T)   # cycles per frame (T=1)
    out = {}
    centers = np.linspace(min_freq, max_freq, n_bins)
    for i, f in enumerate(centers):
        out[f"modSpec{i}"] = float(np.interp(f, freqs, mag))
    return out


# ---------------------------------------------------------------------------
# cPitchSmootherViterbi analogue (src/lld/pitchSmootherViterbi.cpp) — the
# sequential per-group DP that can never be a window expression: smooth a
# noisy contour by choosing, per frame, one of `n_levels` quantized
# candidates minimizing |obs - cand| + jump_cost * |cand_t - cand_{t-1}|.
# Returns the smoothed contour (same length as input) — used by
# bank-external per-conv kernels and applyInPandas (SURVEY.md §2.7).
# ---------------------------------------------------------------------------

def viterbi_smooth(x: np.ndarray, n_levels: int = 16,
                   jump_cost: float = 1.0) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    N = x.size
    if N == 0:
        return x
    lo, hi = float(x.min()), float(x.max())
    if hi == lo:
        return x.copy()
    levels = np.linspace(lo, hi, n_levels)
    # emission cost |obs - level|; transition cost jump_cost * |dl|
    trans = jump_cost * np.abs(levels[:, None] - levels[None, :])
    cost = np.abs(x[0] - levels)
    back = np.zeros((N, n_levels), dtype=np.int32)
    for t in range(1, N):
        total = cost[None, :] + trans          # [to, from] -> from axis=1
        back[t] = np.argmin(total, axis=1)
        cost = total[np.arange(n_levels), back[t]] + np.abs(x[t] - levels)
    path = np.empty(N, dtype=np.int32)
    path[-1] = int(np.argmin(cost))
    for t in range(N - 1, 0, -1):
        path[t - 1] = back[t][path[t]]
    return levels[path]


FAMILIES = {
    "means": f_means,
    "moments": f_moments,
    "extremes": f_extremes,
    "percentiles": f_percentiles,
    "regression": f_regression,
    "crossings": f_crossings,
    "times": f_times,
    "onset": f_onset,
    "segments": f_segments,
    "peaks": f_peaks,
    "peaks2": f_peaks2,
    "samples": f_samples,
    "dct": f_dct,
    "lpc": f_lpc,
    "lsp": f_lsp,
    "acf": f_acf,
    "amdf": f_amdf,
    "formants": f_formants,
    "modulation": f_modulation,
}


def compute_all(x: np.ndarray, families=None, options=None) -> dict:
    """Shared pre-pass + dispatch, mirroring cFunctionals::doProcessMatrix
    (functionals.cpp:320-390): min/max/mean computed once (:355-365), one
    sort shared by all order-statistics functionals (:349-353).

    Returns {name: value} with BARE functional names (the <input>_ prefix is
    added by the bank, mirroring the reference's <input>_<functional> naming,
    functionals.cpp:229-266). Names colliding across families keep the FIRST
    requested family's value (first-writer-wins); the redundant duplicates
    (amean from means/moments/extremes/crossings) are identical by
    construction, but `peaks` vs `peaks2` genuinely collide — request those
    in separate bank calls, like the reference's separate component
    instances. N==0 windows return {} (the reference emits nothing for empty
    segments, functionals.cpp:325-328).
    """
    x = np.asarray(x, dtype=np.float64)
    if x.size == 0:
        return {}
    families = families or list(FAMILIES)
    options = options or {}
    # sort once ONLY if an order-statistics family is enabled, mirroring the
    # reference's conditional shared sort (functionals.cpp:349-353)
    xsorted = np.sort(x) if "percentiles" in families else x
    xmin = float(x.min())
    xmax = float(x.max())
    xmean = float(x.sum() / x.size)
    out = {}
    for fam in families:
        fn = FAMILIES[fam]
        opts = options.get(fam, {})
        for name, val in fn(x, xsorted, xmin, xmax, xmean, **opts).items():
            if name not in out:
                out[name] = float(val)
    return out
