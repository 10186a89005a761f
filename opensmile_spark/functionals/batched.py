"""Cross-group vectorized functional computation: the one evaluator of a
family list over groups.

The per-group kernels (kernels.py) are the semantic source of truth; this
module computes the SAME formulas across ALL groups of a batch at once with
numpy reduceat — removing the per-group Python dispatch that dominates when
groups are small (the common case: tens of turns per session). All 19
families are batched under every option of their kernels.py signature, the
sequential automatons (peaks, peaks2, segments, onset) and the per-group
transforms (lpc, lsp, formants, modulation) included. Two per-group
Python loops are left: the in-place sort of each group's values for
percentiles, and the segment list of the two legacy segment automata
(chX, useOldBuggyChX), which have no run-length form.

`compute_groups` is the entry point — the analogue of cFunctionals' one
shared pre-pass plus dispatch of each enabled sub-component (openSMILE
src/functionals/functionals.cpp:320-390). functionals_kernel,
backfill_functionals and closed_session_functionals all evaluate their
groups through it, and `output_keys` names its outputs.

Numerical discipline: central moments are computed exactly as kernels.py
does (sum((x-mean)^k)), NOT via raw-moment expansion (which catastrophically
cancels for large means like reply-latency epochs). Equality with the
per-group path is pinned by tests/test_batched_kernels.py at rtol 1e-8:
reduceat adds in neither a sequential nor ndarray.sum's order (on 300
random segments of 1-400 values, numpy 1.26.4, it differed from a
sequential sum in 257 and from x[s:e].sum() in 225).

Each of means, moments, extremes, percentiles and regression has ONE
finisher (`_finish_*`) that turns per-window reductions into the named
outputs, options included. compute_batched (reduceat over groups) feeds
all five; compute_expanding (prefix scans over anchors) makes its own
reductions for the four EXPANDING_FAMILIES and shares their finishers.
"""

from __future__ import annotations

import numpy as np

from opensmile_spark.functionals.kernels import (
    _segment_runs, _segment_runs_old_buggy, compute_all,
)

_BIG = np.iinfo(np.int64).max


def _seg_sum(v, starts):
    return np.add.reduceat(v, starts)


def _neighbours(x, pad):
    """x[i-1] and x[i+1] for every element i, `pad` past either end."""
    xm1 = np.full_like(x, pad)
    xp1 = np.full_like(x, pad)
    xm1[1:] = x[:-1]
    xp1[:-1] = x[1:]
    return xm1, xp1


def _lag_sum(x, starts, pos_in, size_rep, k, kind="prod"):
    """Per-group lagged reduction without cross-group or tail leakage:
    sum over group-local i in [0, N-k) of x[i]*x[i+k] (kind="prod") or
    |x[i] - x[i+k]| (kind="absdiff") — the autocorrelation / AMDF segment
    sum shared by the lpc/acf/amdf batched families. Elementwise lag
    product over the concatenated array, the k trailing slots of every
    group zeroed (they would pair with the NEXT group's head), one
    reduceat. Groups with N <= k contribute an empty term set -> 0.0,
    matching the kernels' `if k < N else 0.0` guard."""
    n = x.size
    y = np.zeros(n)
    if k == 0:
        y = x * x if kind == "prod" else y
    elif k < n:
        if kind == "prod":
            y[: n - k] = x[: n - k] * x[k:]
        else:
            y[: n - k] = np.abs(x[: n - k] - x[k:])
    valid = pos_in < size_rep - k
    return np.add.reduceat(np.where(valid, y, 0.0), starts)


def _levinson_batched(x, starts, ends, pos_in, size_rep, order):
    """Levinson-Durbin over every group at once: returns (a, e, zero, p)
    where a is the (n_groups, order+1) coefficient matrix, e the final
    prediction error, zero the r0==0 early-exit mask, and p the per-group
    effective order min(order, max(N-1, 1)). Per-group scalar op order is
    identical to kernels.f_lpc (loops run over the lag index)."""
    n_groups = starts.size
    Ni = ends - starts
    r = np.stack([_lag_sum(x, starts, pos_in, size_rep, k)
                  for k in range(order + 1)], axis=1)
    zero = r[:, 0] == 0.0
    p = np.minimum(order, np.maximum(Ni - 1, 1))
    a = np.zeros((n_groups, order + 1))
    e = r[:, 0].copy()
    for i in range(1, order + 1):
        active = i <= p
        acc = r[:, i].copy()
        for j in range(1, i):
            acc = acc - a[:, j] * r[:, i - j]
        k_i = np.where(active & (e != 0.0),
                       acc / np.where(e != 0.0, e, 1.0), 0.0)
        a_new = a.copy()
        a_new[:, i] = k_i
        for j in range(1, i):
            a_new[:, j] = a[:, j] - k_i * a[:, i - j]
        a = np.where(active[:, None], a_new, a)
        e = np.where(active, e * (1.0 - k_i * k_i), e)
    return a, e, zero, p


def _lpc_poly_batched(x, starts, ends, pos_in, size_rep, order):
    """A(z) = 1 - sum lpc_k z^-(k+1) as an (n_groups, order+1) matrix,
    built from the SAME clamped lpc outputs the kernels expose (zero mask,
    effective-order cutoff) — the polynomial f_lsp/f_formants factor."""
    a, _e, zero, p = _levinson_batched(x, starts, ends, pos_in,
                                       size_rep, order)
    av = np.zeros((starts.size, order + 1))
    av[:, 0] = 1.0
    for k in range(order):
        av[:, k + 1] = -np.where(zero | (k + 1 > p), 0.0, a[:, k + 1])
    return av


# ---------------------------------------------------------------------------
# the per-family finishers. N is the window size (float64), one entry per
# window; every other argument is a per-window reduction made by the
# calling evaluator. Each returns the family's outputs in kernels.py order.
# ---------------------------------------------------------------------------

def _add(out, vals):
    """Merge one family's outputs into `out`; the first writer of a key
    shared by several families (amean) wins, as in compute_all."""
    for k, v in vals.items():
        out.setdefault(k, v)


def _means_terms(x):
    """Yields the per-element terms whose window sums _finish_means reads,
    in its order, one at a time (a caller that reduces each term before
    taking the next holds one term in memory, not 13)."""
    absx = np.abs(x)
    nz = x != 0.0
    pos = x > 0.0
    neg = x < 0.0
    for m in (nz, pos, neg):
        yield m.astype(np.float64)
    yield absx
    yield x * x
    yield np.where(nz, x, 0.0)
    yield np.where(nz, absx, 0.0)
    yield np.where(nz, x * x, 0.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        logabs = np.where(nz, np.log(np.where(nz, absx, 1.0)), 0.0)
    yield logabs
    for m in (pos, neg):
        yield np.where(m, x, 0.0)
        yield np.where(m, x * x, 0.0)


def _finish_means(N, mean, sums, opts):
    """sums: the window sums of the _means_terms, in their order."""
    (nnz, npos, nneg, sabs, sq, nz_s, nzabs_s, nzq_s, nzlog_s, pos_s,
     posq_s, neg_s, negq_s) = sums
    absmean = sabs / N
    qmean = sq / N
    safe_nnz = np.where(nnz > 0, nnz, 1.0)
    safe_np = np.where(npos > 0, npos, 1.0)
    safe_nn = np.where(nneg > 0, nneg, 1.0)
    nzqmean = np.where(nnz > 0, nzq_s / safe_nnz, 0.0)
    nzgmean = np.where(nnz > 0, np.exp(nzlog_s / safe_nnz), 0.0)
    posqmean = np.where(npos > 0, posq_s / safe_np, 0.0)
    negqmean = np.where(nneg > 0, negq_s / safe_nn, 0.0)
    tn = opts.get("timeNorm", "frames")
    return {
        "amean": mean,
        "absmean": absmean,
        "qmean": qmean,
        "nzamean": np.where(nnz > 0, nz_s / safe_nnz, 0.0),
        "nzabsmean": np.where(nnz > 0, nzabs_s / safe_nnz, 0.0),
        "nzqmean": nzqmean,
        "nzgmean": nzgmean,
        "nnz": (nnz / N if tn == "segment" else
                nnz / opts.get("T", 1.0) if tn == "second" else nnz),
        "flatness": np.where(absmean != 0.0, nzgmean
                             / np.where(absmean != 0, absmean, 1.0), 1.0),
        "posamean": np.where(npos > 0, pos_s / safe_np, 0.0),
        "negamean": np.where(nneg > 0, neg_s / safe_nn, 0.0),
        "posqmean": posqmean,
        "posrqmean": np.sqrt(posqmean),
        "negqmean": negqmean,
        "negrqmean": np.sqrt(negqmean),
        "rqmean": np.sqrt(qmean),
        "nzrqmean": np.sqrt(nzqmean),
    }


def _ratio_limit(q, limit1, excess):
    """kernels._ratio_limit (smileMath_ratioLimit) over an array, in its
    order of operations: linear in [-limit1, limit1], tanh-compressed
    beyond."""
    hi = np.tanh((np.sqrt(np.maximum(q, limit1) - limit1 + 1.0) - 1.0)
                 / (excess * 0.5)) * excess + limit1
    lo = np.tanh(-(np.sqrt(-(np.minimum(q, -limit1) + limit1) + 1.0) - 1.0)
                 / (excess * 0.5)) * excess - limit1
    return np.where(q > limit1, hi, np.where(q < -limit1, lo, q))


def _finish_moments(N, mean, M2, M3, M4, opts):
    """M2/M3/M4: window sums of the squared/cubed/4th-power deviations."""
    m2 = M2 / N
    sqm2 = np.where(m2 > 0, np.sqrt(np.where(m2 > 0, m2, 1.0)), 0.0)
    d3 = N * m2 * sqm2
    d4 = N * m2 * m2
    nz = mean != 0.0
    sn = sqm2 / np.where(nz, mean, 1.0)
    cv = sqm2 / np.where(nz, np.abs(mean), 1.0)
    if opts.get("doRatioLimit", False):
        sn = np.where(nz, _ratio_limit(sn, 10.0, 20.0), 20.0)
        cv = np.where(nz, _ratio_limit(cv, 10.0, 20.0), 20.0)
    return {
        "variance": m2,
        "stddev": sqm2,
        "skewness": np.where(d3 > 0, M3 / np.where(d3 > 0, d3, 1.0), 0.0),
        "kurtosis": np.where(d4 > 0, M4 / np.where(d4 > 0, d4, 1.0), 0.0),
        "amean": mean,
        "stddevNorm": np.where(m2 > 0, sn, 0.0),
        "coeffOfVariation": np.where(m2 > 0, cv, 0.0),
    }


def _finish_extremes(N, mean, gmax, gmin, maxpos, minpos, opts):
    """maxpos/minpos: window-local index of the first max/min (float64)."""
    tn, T = opts.get("timeNorm", "frames"), opts.get("T", 1.0)
    if tn == "segment":
        maxpos = maxpos / N
        minpos = minpos / N
    elif tn == "second" and T != 0.0:
        maxpos = maxpos * T
        minpos = minpos * T
    return {
        "max": gmax,
        "min": gmin,
        "range": gmax - gmin,
        "maxPos": maxpos,
        "minPos": minpos,
        "amean": mean,
        "maxameandist": gmax - mean,
        "minameandist": mean - gmin,
    }


def _finish_percentiles(N, pick, opts):
    """pick([(i1, i2), ...]) -> [(v1, v2), ...]: for each pair of 0-based
    rank arrays, every window's i1-th and i2-th smallest values. One pair
    per distinct fraction (the default list asks for 0.5 twice:
    quartile2 and percentile50.0)."""
    plist = list(opts.get("percentiles", (0.20, 0.50, 0.80)))
    pranges = list(opts.get("pctlranges", ((0, 2),)))
    pquots = list(opts.get("pctlquotients", ()))
    fracs = list(dict.fromkeys([0.25, 0.50, 0.75] + plist))
    last = (N - 1).astype(np.int64)
    idxf = [p * (N - 1.0) for p in fracs]
    if opts.get("interp", True):
        pairs = [(np.clip(np.floor(f).astype(np.int64), 0, last),
                  np.clip(np.ceil(f).astype(np.int64), 0, last))
                 for f in idxf]
    else:
        # _round_pctl: the rank C round() picks, no interpolation
        pairs = [(r, r) for r in (np.clip(np.floor(f + 0.5).astype(np.int64),
                                          0, last) for f in idxf)]
    pct = {p: np.where(i1 != i2, v1 * (i2 - f) + v2 * (f - i1), v1)
           for p, f, (i1, i2), (v1, v2) in zip(fracs, idxf, pairs,
                                               pick(pairs))}
    q1, q2, q3 = pct[0.25], pct[0.50], pct[0.75]
    out = {"quartile1": q1, "quartile2": q2, "quartile3": q3,
           "iqr1-2": q2 - q1, "iqr2-3": q3 - q2, "iqr1-3": q3 - q1}
    pvals = [pct[p] for p in plist]
    for p, v in zip(plist, pvals):
        out[f"percentile{p * 100:.1f}"] = v
    for a, b in pranges:
        out[f"pctlrange{a}-{b}"] = np.abs(pvals[b] - pvals[a])
    for a, b in pquots:
        # f_percentiles' pctlquotient with the same quirks: numerator-only
        # guard + smileMath_ratioLimit(q, 50, 100)
        va, vb = pvals[a], pvals[b]
        q = np.where(vb != 0.0, va / np.where(vb != 0.0, vb, 1.0),
                     np.where(va > 0, np.inf, -np.inf))
        out[f"pctlquotient{a}-{b}"] = np.where(
            va != 0.0, _ratio_limit(q, 50.0, 100.0), 0.0)
    return out


def _fin(v):
    return np.where(np.isfinite(v), v, 0.0)


def _qreg_extras(N, a, b, c):
    """f_regression's qregExtras from the raw parabola a*i^2 + b*i + c:
    vertex x0 (clipped to [-N, N], N when undefined), its value y0, the
    value yr at the last index and the mean slopes left (ls) and right
    (rs) of the vertex."""
    n1 = N - 1.0
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        x0 = b / (-2.0 * a)
        x0 = np.where(x0 < -N, -N, np.where(x0 > N, N, x0))
        x0 = np.where(np.isfinite(x0), x0, N)
        y0 = _fin(c - b * b / (4.0 * a))
        yr = _fin(a * n1 * n1 + b * n1 + c)
        ls = np.where(x0 > 0, (y0 - c) / np.where(x0 > 0, x0, 1.0), 0.0)
        rs = np.where(x0 < n1, (yr - y0) / np.where(x0 < n1, n1 - x0, 1.0),
                      0.0)
    return {"qregls": _fin(ls), "qregrs": _fin(rs), "qregx0": x0,
            "qregy0": y0, "qregyr": yr, "qregy0nn": y0, "qregc3nn": _fin(c)}


def _finish_regression(N, m, t, a, b, c, errs, centroid, opts):
    """m, t: the fitted line; a, b, c: the fitted parabola (all zero where
    f_regression zeroes them); errs: the sum of |residual| ("...errA") and
    of squared residuals ("...errQ") of each fit, under their output
    names."""
    quadratic = opts.get("quadratic", True)
    out = {"linregc1": _fin(m), "linregc2": _fin(t)}
    out.update((k, _fin(errs[k] / N)) for k in ("linregerrA", "linregerrQ"))
    if quadratic:
        out.update(qregc1=_fin(a), qregc2=_fin(b), qregc3=_fin(c))
        # oldBuggyQerr: the quadratic errors stay sums, not means
        buggy = opts.get("oldBuggyQerr", False)
        out.update((k, _fin(errs[k] if buggy else errs[k] / N))
                   for k in ("qregerrA", "qregerrQ"))
    out["centroid"] = _fin(centroid)
    if quadratic and opts.get("qregExtras", False):
        out.update(_qreg_extras(N, a, b, c))
    return out


# the families compute_expanding evaluates: each output is a prefix sum, a
# running extremum, a mergeable central moment or an order statistic.
# Regression is not one of them: its |residual| sums apply each window's
# own fit to every element of that window.
EXPANDING_FAMILIES = {"means", "extremes", "moments", "percentiles"}

# ---------------------------------------------------------------------------
# exact expanding-window statistics over many conversations at once.
#
# A call carries G conversations (one flat value array plus offsets) and A
# anchors, each a prefix length h of its own conversation. Prefix sums and
# running extrema must not cross a conversation edge — a cumsum over the
# flat array would make a conversation's bits depend on the ones before
# it — so every conversation becomes one row of a (rows, L) matrix and the
# scans run along axis 1. Conversations are grouped into power-of-two
# length classes so the padding stays under 2x; a row is padded past its
# last read position only, so each row scan equals that conversation's own
# 1-D scan bit for bit (`_Convs.length_classes`).
#
# Central moments over every prefix x[0:h] cannot use raw-moment expansion
# (module discipline above) and a per-element Welford scan is a Python loop.
# Instead: split each conversation into blocks of B on its own grid,
# compute each block's central stats EXACTLY (two-pass, vectorized),
# cumulate blocks with Chan/Pébay parallel combines (a scalar loop per
# conversation over its full blocks), then for each anchor h merge the
# cum-stats of the h//B full blocks with the exact two-pass stats of the
# <=B-element remainder (vectorized across all anchors). Work is
# O(N + A*B + N/B), and every sum is centered.
# ---------------------------------------------------------------------------

_CHAN_B = 256

# cells of one dense-select chunk: bounds the (anchors, L) rank-count matrix
_DENSE_CELLS = 1 << 21


def _chan_merge(sa, sb):
    """Chan/Pébay parallel combine of two central-stat dicts (n, mean, M2,
    M3, M4; vectorized or scalar). An empty side (n == 0) must carry zeros
    — the formulas then reduce to the other side exactly."""
    na, nb = sa["n"], sb["n"]
    n = na + nb
    safe = np.where(n > 0, n, 1.0)
    d = sb["mean"] - sa["mean"]
    M2a, M2b = sa["M2"], sb["M2"]
    M3a, M3b = sa["M3"], sb["M3"]
    return {
        "n": n,
        "mean": sa["mean"] + d * nb / safe,
        "M4": (sa["M4"] + sb["M4"]
               + d ** 4 * na * nb * (na * na - na * nb + nb * nb) / safe ** 3
               + 6.0 * d * d * (na * na * M2b + nb * nb * M2a) / safe ** 2
               + 4.0 * d * (na * M3b - nb * M3a) / safe),
        "M3": (M3a + M3b + d ** 3 * na * nb * (na - nb) / safe ** 2
               + 3.0 * d * (na * M2b - nb * M2a) / safe),
        "M2": M2a + M2b + d ** 2 * na * nb / safe,
    }


def _two_pass_stats(v, starts, sizes):
    """Exact central stats of the (non-empty) segments [starts[i],
    starts[i]+sizes[i]) of v."""
    n = sizes.astype(np.float64)
    mu = np.add.reduceat(v, starts) / n
    d = v - np.repeat(mu, sizes)
    d2 = d * d
    return {"n": n, "mean": mu, "M2": np.add.reduceat(d2, starts),
            "M3": np.add.reduceat(d2 * d, starts),
            "M4": np.add.reduceat(d2 * d2, starts)}


def _segments(starts, sizes):
    """Flat index of the concatenated segments [starts[i], starts[i] +
    sizes[i]), and each segment's offset in it."""
    offs = np.zeros(sizes.size, dtype=np.int64)
    offs[1:] = np.cumsum(sizes)[:-1]
    idx = (np.arange(int(sizes.sum()), dtype=np.int64)
           + np.repeat(starts - offs, sizes))
    return idx, offs


class _Convs:
    """The conversations and anchors of one compute_expanding call: flat
    float64 values `x`, conversation g at x[offs[g]:offs[g+1]], and anchor
    a reading the prefix of length h[a] of conversation ga[a]. Anchors are
    grouped by conversation, in conversation order."""

    def __init__(self, xs, hs):
        hs = [np.asarray(h, dtype=np.int64) for h in hs]
        lens = np.array([v.size for v in xs], dtype=np.int64)
        self.offs = np.zeros(lens.size + 1, dtype=np.int64)
        np.cumsum(lens, out=self.offs[1:])
        self.x = (np.concatenate(xs).astype(np.float64, copy=False)
                  if xs else np.empty(0))
        self.h = np.concatenate(hs) if hs else np.empty(0, dtype=np.int64)
        cnt = np.array([h.size for h in hs], dtype=np.int64)
        self.ga = np.repeat(np.arange(lens.size, dtype=np.int64), cnt)
        if not (self.h >= 1).all() or not (self.h <= lens[self.ga]).all():
            raise ValueError("compute_expanding: windows must be non-empty "
                             "prefixes of their conversation")
        self.lens, self.cnt = lens, cnt
        self.astart = np.zeros(lens.size + 1, dtype=np.int64)
        np.cumsum(cnt, out=self.astart[1:])
        # per conversation: the longest prefix any of its anchors reads
        self.m = np.zeros(lens.size, dtype=np.int64)
        np.maximum.at(self.m, self.ga, self.h)
        self.classes = self.length_classes(np.flatnonzero(self.m > 0))

    def length_classes(self, convs):
        """[(idx, anchors, rows)] per power-of-two class of m over `convs`
        (ascending, all with anchors): idx (rows, L) indexes each
        conversation's first m[g] values in x, padded by repeating its
        last one; anchors are the class's anchors and rows their rows."""
        m = self.m[convs]
        e = np.frexp(m.astype(np.float64))[1]
        conv_e = np.full(self.m.size, -1, dtype=np.int64)
        conv_e[convs] = e
        anchor_e = conv_e[self.ga]
        out = []
        for k in np.unique(e):
            cv = convs[e == k]
            mc = self.m[cv]
            col = np.minimum(np.arange(int(mc.max()), dtype=np.int64),
                             (mc - 1)[:, None])
            anchors = np.flatnonzero(anchor_e == k)
            out.append((self.offs[cv][:, None] + col, anchors,
                        np.searchsorted(cv, self.ga[anchors])))
        return out

    def at_anchors(self, scans):
        """scans(idx) -> list of (rows, L) row scans over a class's padded
        index matrix; returns each one read at every anchor's last
        position h-1, as float64."""
        got = [np.empty(self.h.size)
               for _ in scans(np.zeros((0, 1), dtype=np.int64))]
        for idx, anchors, rows in self.classes:
            for g, r in zip(got, scans(idx)):
                g[anchors] = r[rows, self.h[anchors] - 1]
        return got


def _dense_select(cv, convs, ranks, outs):
    """Dense order statistics for the anchors of `convs`, batched per
    length class: each row's stable argsort, then per anchor the in-window
    cumulative count over the sorted row, and for every rank t the first
    sorted position where that count reaches t — an in-window position, so
    it IS the t-th smallest element. Fills outs[r][s][a] with the
    ranks[r][s][a]-th smallest element of anchor a's window."""
    for idx, anchors, rows in cv.length_classes(convs):
        V = cv.x[idx]
        order = np.argsort(V, axis=1, kind="stable")
        sorted_vals = np.take_along_axis(V, order, axis=1)
        L = V.shape[1]
        step = max(1, _DENSE_CELLS // L)
        for c0 in range(0, anchors.size, step):
            a = anchors[c0:c0 + step]
            r = rows[c0:c0 + step]
            cum = np.cumsum(order[r] < cv.h[a][:, None], axis=1,
                            dtype=np.int32)
            # rows of `cum` are nondecreasing; offsetting row i by i*(L+1)
            # makes the flattened matrix sorted, so one searchsorted per
            # rank finds every row's first position with count >= t
            lift = np.arange(a.size, dtype=np.int64)
            key = (cum + (lift * (L + 1))[:, None]).ravel()
            for pair, out in zip(ranks, outs):
                for t, o in zip(pair, out):
                    j = np.searchsorted(key, t[a] + lift * (L + 1)) - lift * L
                    o[a] = sorted_vals[r, j]


def _coarse_select(x, his, ranks, B=_CHAN_B, W=256, chunk=8192):
    """_expanding_select's machinery for one long conversation x, its
    prefix lengths his and rank pairs: returns [(v1, v2)] float64.

    Offline 2D dominance counting, fully vectorized: global stable ranks g
    (ties by index), a coarse cumulative matrix M[k, v] = |{i < k*B :
    g[i] < v*W}| (N^2/(B*W) cells — a few thousand), per-anchor remainder
    rank-histograms for the <=B elements past the last block boundary, and
    a two-level select per rank: coarse bucket via monotone count
    comparison, then the exact member inside the <=W-wide bucket via a
    masked cumulative count over `order`. A pair's second rank reuses the
    first one's bucket scan; only anchors whose second rank lies in a
    later bucket are scanned again. O(N + A*(B + N/W + W)) work — linear
    like the Chan path, never the O(sum of window sizes) gather."""
    A = his.size
    outs = [(np.empty(A), np.empty(A)) for _ in ranks]
    x = x[:int(his.max())]            # no window reads past the longest
    n = x.size
    order = np.argsort(x, kind="stable")          # rank -> index
    sorted_vals = x[order]
    g = np.empty(n, dtype=np.int64)               # index -> rank
    g[order] = np.arange(n, dtype=np.int64)
    nb = (n + B - 1) // B
    nv = (n + W - 1) // W
    # M[k, v] = count(idx < k*B and g < v*W); build by 2D histogram + cumsum
    idx_blk = np.arange(n, dtype=np.int64) // B
    hist = np.bincount((idx_blk + 1) * (nv + 1) + g // W + 1,
                       minlength=(nb + 1) * (nv + 1)).reshape(nb + 1, nv + 1)
    M = hist.cumsum(axis=0).cumsum(axis=1)
    # order and sorted_vals as one row per rank bucket, so a bucket scan
    # copies whole rows (int32 halves the bytes; n < 2**31)
    buckets = np.full(nv * W, n, dtype=np.int32)
    buckets[:n] = order
    buckets = buckets.reshape(nv, W)
    bucket_vals = np.zeros(nv * W)
    bucket_vals[:n] = sorted_vals
    bucket_vals = bucket_vals.reshape(nv, W)

    for c0 in range(0, A, chunk):
        sel = slice(c0, min(c0 + chunk, A))
        h = his[sel]
        h32 = h.astype(np.int32)
        kk = h // B
        rr = h - kk * B
        m = h.size
        # remainder coarse histogram: ranks of elements [k*B, h)
        nzr = np.flatnonzero(rr > 0)
        gather, _ = _segments(kk[nzr] * B, rr[nzr])
        crem = np.bincount(np.repeat(nzr, rr[nzr]) * (nv + 1)
                           + g[gather] // W + 1,
                           minlength=m * (nv + 1)).reshape(m, nv + 1)
        ccoarse = M[kk] + np.cumsum(crem, axis=1)   # (m, nv+1) monotone rows

        def scan(t, r):
            """Bucket scan of rows r for ranks t: returns the selector
            of in-bucket ranks and the count through the bucket."""
            cc = ccoarse[r]
            # smallest v with cc[:, v] >= t  (rows monotone)
            v_star = (cc < t[:, None]).sum(axis=1)
            below = cc[np.arange(r.size), v_star - 1]
            inwin = (buckets[v_star - 1] < h32[r][:, None]).cumsum(
                axis=1, dtype=np.int16)

            def pick(tt):
                # in-bucket ranks are at most W: compare in int16 too
                j_star = (inwin < (tt - below).astype(np.int16)[:, None]
                          ).sum(axis=1)
                return bucket_vals[v_star - 1, j_star]
            return pick, cc[np.arange(r.size), v_star]

        every = np.arange(m, dtype=np.int64)
        for (t1, t2), (o1, o2) in zip(ranks, outs):
            t1 = np.asarray(t1[sel], dtype=np.int64)
            t2 = np.asarray(t2[sel], dtype=np.int64)
            pick, through = scan(t1, every)
            o1[sel] = pick(t1)
            same = t2 <= through
            v2 = pick(np.where(same, t2, t1))
            far = np.flatnonzero(~same)
            if far.size:
                pick_far, _ = scan(t2[far], far)
                v2[far] = pick_far(t2[far])
            o2[sel] = v2
    return outs


# below this n*A product the dense (A, n) path beats the coarse-matrix
# machinery's fixed cost; tests monkeypatch it to force the dense path
_SELECT_DENSE_CUTOFF = 32768


def _expanding_select(cv, ranks):
    """Exact order statistics over prefixes: for every anchor a of `cv`
    and every pair (t1, t2) in `ranks`, the t1[a]-th and t2[a]-th smallest
    (1-based, t1 <= t2) elements of its window — the selection core of
    expanding percentiles. Returns [(v1, v2)] float64.

    Conversations whose n*A is below the cutoff take the dense path
    together, batched per length class; the coarse machinery's fixed cost
    only pays off above it, so the others run it one by one. Both paths
    select by the SAME stable ranks (ties by index) and selection never
    performs a float operation, so they return identical bits (pinned by
    tests/test_batched_kernels.py::test_expanding_select_dense_matches)."""
    A = cv.h.size
    outs = [(np.empty(A), np.empty(A)) for _ in ranks]
    busy = cv.cnt > 0
    dense = busy & (cv.lens * cv.cnt <= _SELECT_DENSE_CUTOFF)
    if dense.any():
        _dense_select(cv, np.flatnonzero(dense), ranks, outs)
    for g in np.flatnonzero(busy & ~dense):
        sl = slice(cv.astart[g], cv.astart[g + 1])
        got = _coarse_select(cv.x[cv.offs[g]:cv.offs[g + 1]], cv.h[sl],
                             [(t1[sl], t2[sl]) for t1, t2 in ranks])
        for (o1, o2), (v1, v2) in zip(outs, got):
            o1[sl], o2[sl] = v1, v2
    return outs


def _expanding_stats(cv, B=_CHAN_B):
    """Exact central stats (n, mean, M2, M3, M4) of every anchor's
    prefix."""
    keys = ("mean", "M2", "M3", "M4")
    h = cv.h
    A = h.size
    kk = h // B
    rr = h - kk * B

    # cum-stats of the kk full blocks before each anchor. The block chain
    # stays a scalar loop per conversation: scalar and array float powers
    # round differently, so merging across conversations would move bits.
    sa = {k: np.zeros(A) for k in ("n",) + keys}
    nfull = np.zeros(cv.lens.size, dtype=np.int64)
    np.maximum.at(nfull, cv.ga, kk)
    chained = np.flatnonzero(nfull > 0)
    if chained.size:
        nblk = nfull[chained]
        first = np.zeros(chained.size, dtype=np.int64)
        first[1:] = np.cumsum(nblk)[:-1]
        total = int(nblk.sum())
        bstart = (np.repeat(cv.offs[chained] - B * first, nblk)
                  + B * np.arange(total, dtype=np.int64))
        gather = (bstart[:, None] + np.arange(B, dtype=np.int64)).ravel()
        blk = _two_pass_stats(cv.x[gather],
                              np.arange(total, dtype=np.int64) * B,
                              np.full(total, B, dtype=np.int64))
        for g, b0, nb in zip(chained, first, nblk):
            cum = {k: np.zeros(nb + 1) for k in sa}
            run = dict.fromkeys(sa, 0.0)
            for i in range(nb):
                run = _chan_merge(run, {k: blk[k][b0 + i] for k in blk})
                for k in run:
                    cum[k][i + 1] = run[k]
            sl = slice(cv.astart[g], cv.astart[g + 1])
            for k in sa:
                sa[k][sl] = cum[k][kk[sl]]

    rem = {k: np.zeros(A) for k in keys}
    rem["n"] = rr.astype(np.float64)
    nz = np.flatnonzero(rr > 0)
    if nz.size:
        gather, starts = _segments(cv.offs[cv.ga[nz]] + kk[nz] * B, rr[nz])
        rs = _two_pass_stats(cv.x[gather], starts, rr[nz])
        for k in keys:
            rem[k][nz] = rs[k]
    return _chan_merge(sa, rem)


def compute_expanding(x: np.ndarray, his: np.ndarray,
                      families, options=None) -> dict[str, np.ndarray]:
    """Expanding-window functionals: window j = x[0:his[j]] (his >= 1,
    ascending not required). O(N + A*B) prefix/blocked scans instead of the
    O(sum his) gather — the difference between linear and quadratic work
    for point-in-time backfills with unbounded lookback.

    Multi-conversation form: `x` a sequence of 1-D arrays, one per
    conversation, and `his` a sequence of as many prefix-length arrays.
    Every output is then the concatenation, in conversation order, of the
    per-conversation outputs, and each conversation's part is bit-identical
    to calling compute_expanding on that conversation alone: nothing
    accumulates across a conversation edge (see the section comment
    above). One call evaluates a whole block of conversations, so the
    Python dispatch is paid per block, not per conversation. Values are
    read as float64.

    `families` are drawn from EXPANDING_FAMILIES, and every key
    compute_all emits for them is returned. means/extremes are pure raw
    sums / running extrema (plain prefix scans); moments use the exact
    blocked-Chan central-stat machinery above (variance/skew/kurtosis from
    centered M2/M3/M4). Percentiles use the exact offline order-statistic
    machinery (_expanding_select), one selection per distinct fraction —
    bit-identical to sorting each window, never the gather. Every family
    finishes through the same _finish_* as compute_batched, so each takes
    the same options."""
    options = options or {}
    if not EXPANDING_FAMILIES.issuperset(families):
        raise ValueError("compute_expanding: no prefix form for "
                         f"{sorted(set(families) - EXPANDING_FAMILIES)}")
    if isinstance(x, np.ndarray):
        x, his = [x], [his]
    cv = _Convs(x, his)
    x = cv.x
    N = cv.h.astype(np.float64)
    out: dict[str, np.ndarray] = {}

    def pref(*vs):
        return cv.at_anchors(lambda idx: [np.cumsum(v[idx], axis=1)
                                          for v in vs])

    if "means" in families or "extremes" in families:
        (sx,) = pref(x)
        mean = sx / N

    if "means" in families:
        _add(out, _finish_means(N, mean, pref(*_means_terms(x)),
                                options.get("means", {})))

    if "extremes" in families:
        def extremes(idx):
            V = x[idx]
            rmax = np.maximum.accumulate(V, axis=1)
            rmin = np.minimum.accumulate(V, axis=1)
            col = np.arange(V.shape[1], dtype=np.int64)
            # first index achieving each running max/min: strict-update
            # points, then running max of the update positions (monotone by
            # construction)
            prev_max = np.empty_like(V)
            prev_max[:, 0] = -np.inf
            prev_max[:, 1:] = rmax[:, :-1]
            prev_min = np.empty_like(V)
            prev_min[:, 0] = np.inf
            prev_min[:, 1:] = rmin[:, :-1]
            return [rmax, rmin,
                    np.maximum.accumulate(np.where(V > prev_max, col, 0),
                                          axis=1),
                    np.maximum.accumulate(np.where(V < prev_min, col, 0),
                                          axis=1)]
        _add(out, _finish_extremes(N, mean, *cv.at_anchors(extremes),
                                   options.get("extremes", {})))

    if "percentiles" in families:
        _add(out, _finish_percentiles(
            N, lambda pairs: _expanding_select(
                cv, [(i1 + 1, i2 + 1) for i1, i2 in pairs]),
            options.get("percentiles", {})))

    if "moments" in families:
        st = _expanding_stats(cv)
        _add(out, _finish_moments(N, st["mean"], st["M2"], st["M3"],
                                  st["M4"], options.get("moments", {})))

    return out


def _peaks2_batched(x, starts, ends, gmin, gmax, gmean, opts):
    """Cross-group vectorized f_peaks2 (functionalPeaks2.cpp:314-919) —
    the LAST per-group family moved to the batched path. The 3-pass
    extremum automaton and 4 stats passes are transcribed lane-parallel:
    each group's scalar state (lastVal/lastMin/lastMax/minFlag/backref
    indices) becomes an (n_groups,) array and the sequential loop runs
    over the PADDED extremum index — step j touches extremum j of every
    group at once, so per-group operation order (and therefore float
    accumulation order) is IDENTICAL to kernels.f_peaks2. Cost per batch
    is O(M_max) numpy steps over all groups instead of O(sum M_g) Python
    steps; equality is pinned by tests/test_batched_kernels.py."""
    n_groups = starts.size
    sizes = ends - starts
    Nf = sizes.astype(np.float64)
    timeNorm = opts.get("timeNorm", "frames")
    T = opts.get("T", 1.0)
    relThresh = opts.get("relThresh", 0.1)
    dynRelThresh = opts.get("dynRelThresh", False)
    absThreshIn = opts.get("absThreshIn", None)
    doRatioLimit = opts.get("doRatioLimit", False)

    rng_ = gmax - gmin
    absThresh = (np.full(n_groups, float(absThreshIn))
                 if absThreshIn is not None else relThresh * rng_)

    if dynRelThresh:
        def below(diff, base):
            safe = np.where(base == 0.0, 1.0, base)
            return np.where(base == 0.0, diff != 0.0,
                            np.abs(diff / safe) < relThresh)
    else:
        def below(diff, base):
            return diff < absThresh

    x0 = x[starts].astype(np.float64)
    xl = x[ends - 1].astype(np.float64)

    # --- step 1: local extrema at group-local i in [2, N-3] ---
    n_el = x.size
    rep_starts = np.repeat(starts, sizes)
    iig = np.arange(n_el, dtype=np.int64) - rep_starts
    size_rep = np.repeat(sizes, sizes)
    interior = (iig >= 2) & (iig <= size_rep - 3)
    xm1, xp1 = _neighbours(x, np.inf)
    is_max_el = interior & (x > xm1) & (x > xp1)
    is_min_el = interior & (x < xm1) & (x < xp1)
    e_idx = np.flatnonzero(is_max_el | is_min_el)
    grp_rep = np.repeat(np.arange(n_groups, dtype=np.int64), sizes)
    e_grp = grp_rep[e_idx]
    Mg = np.bincount(e_grp, minlength=n_groups)
    M_max = int(Mg.max()) if e_idx.size else 0
    W = max(M_max, 1)
    # lattice is (W, n_groups) so step j reads CONTIGUOUS rows (the
    # (n_groups, W) layout makes every per-step slice a strided gather —
    # measured ~10x slower at 10k groups)
    Ev = np.zeros((W, n_groups))
    Et = np.zeros((W, n_groups), dtype=bool)
    Ep = np.zeros((W, n_groups))
    Va = np.zeros((W, n_groups), dtype=bool)
    if e_idx.size:
        first = np.concatenate(([0], np.cumsum(Mg)[:-1]))
        jr = np.arange(e_idx.size) - first[e_grp]
        Ev[jr, e_grp] = x[e_idx]
        Et[jr, e_grp] = is_max_el[e_idx]
        Ep[jr, e_grp] = iig[e_idx].astype(np.float64)
        Va[jr, e_grp] = True
    alive = Va.copy()

    # --- pass 2a (no alive guard: the scalar loop visits every extremum) ---
    lastVal = x0.copy()
    lastMin = x0.copy()
    lastMax = x0.copy()
    minFlag = np.zeros(n_groups, dtype=bool)
    lmi = np.full(n_groups, -1, dtype=np.int64)
    for j in range(M_max):
        act = Va[j]
        y = Ev[j]
        bel1 = below(np.abs(y - lastVal), np.minimum(y, lastVal))
        mx = act & Et[j]
        mn = act & ~Et[j]
        mb = mx & bel1
        bel2 = below(y - lastMin, lastMin)
        alive[j, mb & bel2] = False
        grow = mb & ~bel2
        big = grow & (y > lastMax * 1.05)
        rows = np.flatnonzero(big & (lmi >= 0))
        alive[lmi[rows], rows] = False
        take2 = grow & ~big & minFlag
        alive[j, grow & ~big & ~minFlag] = False
        mnb = mx & ~bel1                      # not-below max branch
        upd = big | take2 | mnb
        lastMax = np.where(upd, y, lastMax)
        lmi = np.where(upd, j, lmi)
        # minFlag=0 only on the not-bel2 and not-bel1 max branches — a max
        # killed via bel2 leaves minFlag UNCHANGED (kernels.py:1119 sits
        # inside the else:, not at the below(d,base) level)
        minFlag = minFlag & ~(grow | mnb)
        mnnb = mn & ~bel1                     # min branch, not below
        minFlag = minFlag | mnnb
        lastMin = np.where(mnnb, y, lastMin)
        lastVal = np.where(act, y, lastVal)

    # --- pass 2b ---
    lastMax = x0.copy()
    for j in range(M_max):
        act = Va[j] & alive[j, :]
        y = Ev[j]
        mn = act & ~Et[j]
        alive[j, mn & below(lastMax - y, y)] = False
        mx = act & Et[j]
        lastMax = np.where(mx, y, lastMax)

    # --- pass 3: alternation ---
    lastMax = x0.copy()
    lastMin = x0.copy()
    minFlag = np.zeros(n_groups, dtype=bool)
    init = np.ones(n_groups, dtype=bool)
    lni = np.full(n_groups, -1, dtype=np.int64)
    lmi = np.full(n_groups, -1, dtype=np.int64)
    for j in range(M_max):
        act = Va[j] & alive[j, :]
        y = Ev[j]
        mn = act & ~Et[j]
        mx = act & Et[j]
        take = mn & (~minFlag | init)
        other = mn & ~(~minFlag | init)
        alive[j, other & (y >= lastMin)] = False
        better = other & (y < lastMin)
        rows = np.flatnonzero(better & (lni != j) & (lni >= 0))
        alive[lni[rows], rows] = False
        updn = take | better
        lastMin = np.where(updn, y, lastMin)
        lni = np.where(updn, j, lni)
        minFlag = minFlag | take
        init = init & ~take
        takex = mx & (minFlag | init)
        otherx = mx & ~(minFlag | init)
        alive[j, otherx & (y <= lastMax)] = False
        betterx = otherx & (y > lastMax)
        rows = np.flatnonzero(betterx & (lmi != j) & (lmi >= 0))
        alive[lmi[rows], rows] = False
        updx = takex | betterx
        lastMax = np.where(updx, y, lastMax)
        lmi = np.where(updx, j, lmi)
        minFlag = minFlag & ~takex
        init = init & ~takex

    fin = Va & alive

    # --- stats pass 1 ---
    z = np.zeros
    peakMax, peakMin = z(n_groups), z(n_groups)
    peakDist, peakDiff = z(n_groups), z(n_groups)
    nPeakDist, peakMean, nPeaks = z(n_groups), z(n_groups), z(n_groups)
    minMax, minMin = z(n_groups), z(n_groups)
    minDist, minDiff = z(n_groups), z(n_groups)
    nMinDist, minMean, nMins = z(n_groups), z(n_groups), z(n_groups)
    lmx, lmy = z(n_groups), z(n_groups)
    lnx, lny = z(n_groups), z(n_groups)
    has_lm = np.zeros(n_groups, dtype=bool)
    has_ln = np.zeros(n_groups, dtype=bool)
    for j in range(M_max):
        act = fin[j]
        y = Ev[j]
        pos = Ep[j]
        mn = act & ~Et[j]
        firstn = mn & ~has_ln
        minMin = np.where(firstn, y, minMin)
        minMax = np.where(firstn, y, minMax)
        restn = mn & has_ln
        nMinDist += restn
        minDist += np.where(restn, pos - lnx, 0.0)
        minDiff += np.where(restn, np.abs(y - lny), 0.0)
        minMin = np.where(restn & (y < minMin), y, minMin)
        minMax = np.where(restn & (y > minMax), y, minMax)
        lnx = np.where(mn, pos, lnx)
        lny = np.where(mn, y, lny)
        minMean += np.where(mn, y, 0.0)
        nMins += mn
        has_ln |= mn
        mx = act & Et[j]
        firstm = mx & ~has_lm
        peakMin = np.where(firstm, y, peakMin)
        peakMax = np.where(firstm, y, peakMax)
        restm = mx & has_lm
        nPeakDist += restm
        peakDist += np.where(restm, pos - lmx, 0.0)
        peakDiff += np.where(restm, np.abs(y - lmy), 0.0)
        peakMin = np.where(restm & (y < peakMin), y, peakMin)
        peakMax = np.where(restm & (y > peakMax), y, peakMax)
        lmx = np.where(mx, pos, lmx)
        lmy = np.where(mx, y, lmy)
        peakMean += np.where(mx, y, 0.0)
        nPeaks += mx
        has_lm |= mx

    pm_div = nPeaks > 1
    peakMean = np.where(pm_div,
                        peakMean / np.where(pm_div, nPeaks, 1.0), peakMean)
    pd_div = nPeakDist > 1          # implies nPeaks > 1 (reference nesting)
    peakDist = np.where(pd_div,
                        peakDist / np.where(pd_div, nPeakDist, 1.0), peakDist)
    peakDiff = np.where(pd_div,
                        peakDiff / np.where(pd_div, nPeakDist, 1.0), peakDiff)
    mm_div = nMins > 0
    minMean = np.where(mm_div,
                       minMean / np.where(mm_div, nMins, 1.0), minMean)
    md_div = nMinDist > 1
    minDist = np.where(md_div,
                       minDist / np.where(md_div, nMinDist, 1.0), minDist)
    minDiff = np.where(md_div,
                       minDiff / np.where(md_div, nMinDist, 1.0), minDiff)

    # --- stats pass 2 (reference quirk kept: max branch refs last MIN) ---
    peakSDist, peakSDiff = z(n_groups), z(n_groups)
    minSDist, minSDiff = z(n_groups), z(n_groups)
    lmx2, lmy2 = z(n_groups), z(n_groups)
    lnx2, lny2 = z(n_groups), z(n_groups)
    has_lm2 = np.zeros(n_groups, dtype=bool)
    has_ln2 = np.zeros(n_groups, dtype=bool)
    for j in range(M_max):
        act = fin[j]
        y = Ev[j]
        pos = Ep[j]
        mn = act & ~Et[j]
        c = mn & has_ln2
        dd = pos - lnx2 - minDist
        minSDist += np.where(c, dd * dd, 0.0)
        ddf = np.abs(y - lny2) - minDiff
        minSDiff += np.where(c, ddf * ddf, 0.0)
        mx = act & Et[j]
        cm = mx & has_lm2
        rx = np.where(has_ln2, lnx2, lmx2)
        ry = np.where(has_ln2, lny2, lmy2)
        dd = pos - rx - peakDist
        peakSDist += np.where(cm, dd * dd, 0.0)
        ddf = np.abs(y - ry) - peakDiff
        peakSDiff += np.where(cm, ddf * ddf, 0.0)
        lnx2 = np.where(mn, pos, lnx2)
        lny2 = np.where(mn, y, lny2)
        has_ln2 |= mn
        lmx2 = np.where(mx, pos, lmx2)
        lmy2 = np.where(mx, y, lmy2)
        has_lm2 |= mx

    peakSDist = np.where(pd_div,
                         peakSDist / np.where(pd_div, nPeakDist, 1.0),
                         peakSDist)
    peakSDiff = np.where(pd_div,
                         peakSDiff / np.where(pd_div, nPeakDist, 1.0),
                         peakSDiff)
    peakSDist = np.where(peakSDist > 0,
                         np.sqrt(np.where(peakSDist > 0, peakSDist, 1.0)),
                         0.0)
    peakSDiff = np.where(peakSDiff > 0,
                         np.sqrt(np.where(peakSDiff > 0, peakSDiff, 1.0)),
                         0.0)
    minSDist = np.where(md_div,
                        minSDist / np.where(md_div, nMinDist, 1.0), minSDist)
    minSDiff = np.where(md_div,
                        minSDiff / np.where(md_div, nMinDist, 1.0), minSDiff)
    minSDist = np.where(minSDist > 0,
                        np.sqrt(np.where(minSDist > 0, minSDist, 1.0)), 0.0)
    minSDiff = np.where(minSDiff > 0,
                        np.sqrt(np.where(minSDiff > 0, minSDiff, 1.0)), 0.0)

    # --- slopes ---
    meanRS, meanFS = z(n_groups), z(n_groups)
    nRising, nFalling = z(n_groups), z(n_groups)
    minRS, maxRS = z(n_groups), z(n_groups)
    minFS, maxFS = z(n_groups), z(n_groups)
    lastIsMax = np.full(n_groups, -1, dtype=np.int64)
    lastMaxV = x0.copy()
    lastMaxPos = z(n_groups)
    lastMinV = x0.copy()
    lastMinPos = z(n_groups)

    def _acc_slope(c, slope, mean_, n_, mn_, mx_):
        mean_ += np.where(c, slope, 0.0)
        first = c & (n_ == 0)
        mn_ = np.where(first, slope, mn_)
        mx_ = np.where(first, slope, mx_)
        rest = c & (n_ > 0)
        mn_ = np.where(rest & (slope < mn_), slope, mn_)
        mx_ = np.where(rest & (slope > mx_), slope, mx_)
        n_ = n_ + c
        return mean_, n_, mn_, mx_

    for j in range(M_max):
        act = fin[j]
        y = Ev[j]
        pos = Ep[j]
        mn = act & ~Et[j]
        lastMinV = np.where(mn, y, lastMinV)
        lastMinPos = np.where(mn, pos, lastMinPos)
        dpos = lastMinPos - lastMaxPos
        c = mn & (dpos > 0)
        slope = (lastMaxV - lastMinV) / np.where(c, dpos * T, 1.0)
        meanFS, nFalling, minFS, maxFS = _acc_slope(
            c, slope, meanFS, nFalling, minFS, maxFS)
        lastIsMax = np.where(c, 0, lastIsMax)
        mx = act & Et[j]
        lastMaxV = np.where(mx, y, lastMaxV)
        lastMaxPos = np.where(mx, pos, lastMaxPos)
        dpos = lastMaxPos - lastMinPos
        c = mx & (dpos > 0)
        slope = (lastMaxV - lastMinV) / np.where(c, dpos * T, 1.0)
        meanRS, nRising, minRS, maxRS = _acc_slope(
            c, slope, meanRS, nRising, minRS, maxRS)
        lastIsMax = np.where(c, 1, lastIsMax)

    # trailing element closes the last half-slope
    c = (lastIsMax == 1) & (Nf - 1 - lastMaxPos > 0)
    slope = (xl - lastMaxV) / np.where(c, (Nf - 1 - lastMaxPos) * T, 1.0)
    meanFS, nFalling, minFS, maxFS = _acc_slope(
        c, slope, meanFS, nFalling, minFS, maxFS)
    c = (lastIsMax == 0) & (Nf - 1 - lastMinPos > 0)
    slope = (xl - lastMinV) / np.where(c, (Nf - 1 - lastMinPos) * T, 1.0)
    meanRS, nRising, minRS, maxRS = _acc_slope(
        c, slope, meanRS, nRising, minRS, maxRS)
    cneg = lastIsMax == -1
    slope = (xl - x0) / Nf
    rpos = cneg & (slope > 0)
    meanRS = np.where(rpos, slope, meanRS)
    maxRS = np.where(rpos, slope, maxRS)
    minRS = np.where(rpos, slope, minRS)
    nRising = np.where(rpos, 1.0, nRising)
    rneg = cneg & (slope < 0)
    meanFS = np.where(rneg, slope, meanFS)
    maxFS = np.where(rneg, slope, maxFS)
    minFS = np.where(rneg, slope, minFS)
    nFalling = np.where(rneg, 1.0, nFalling)

    r_div = nRising > 1
    meanRS = np.where(r_div, meanRS / np.where(r_div, nRising, 1.0), meanRS)
    f_div = nFalling > 1
    meanFS = np.where(f_div, meanFS / np.where(f_div, nFalling, 1.0), meanFS)

    # --- slope stddev (reference quirk kept: rising tests dpos != 0) ---
    stddevRS, stddevFS = z(n_groups), z(n_groups)
    lastMaxV = x0.copy()
    lastMaxPos = z(n_groups)
    lastMinV = x0.copy()
    lastMinPos = z(n_groups)
    for j in range(M_max):
        act = fin[j]
        y = Ev[j]
        pos = Ep[j]
        mn = act & ~Et[j]
        lastMinV = np.where(mn, y, lastMinV)
        lastMinPos = np.where(mn, pos, lastMinPos)
        dpos = lastMinPos - lastMaxPos
        c = mn & (dpos > 0)
        slope = (lastMaxV - lastMinV) / np.where(c, dpos * T, 1.0)
        dd = slope - meanFS
        stddevFS += np.where(c, dd * dd, 0.0)
        mx = act & Et[j]
        lastMaxV = np.where(mx, y, lastMaxV)
        lastMaxPos = np.where(mx, pos, lastMaxPos)
        dpos = lastMaxPos - lastMinPos
        c = mx & (dpos != 0)
        slope = (lastMaxV - lastMinV) / np.where(c, dpos * T, 1.0)
        dd = slope - meanRS
        stddevRS += np.where(c, dd * dd, 0.0)
    stddevRS = np.where(r_div,
                        stddevRS / np.where(r_div, nRising, 1.0), stddevRS)
    stddevFS = np.where(f_div,
                        stddevFS / np.where(f_div, nFalling, 1.0), stddevFS)
    stddevRS = np.where(stddevRS > 0,
                        np.sqrt(np.where(stddevRS > 0, stddevRS, 1.0)), 0.0)
    stddevFS = np.where(stddevFS > 0,
                        np.sqrt(np.where(stddevFS > 0, stddevFS, 1.0)), 0.0)

    if timeNorm == "second":
        peakDist = peakDist * T
        peakSDist = peakSDist * T
        minDist = minDist * T
        minSDist = minSDist * T
    elif timeNorm == "segment":
        peakDist = peakDist / Nf
        peakSDist = peakSDist / Nf
        minDist = minDist / Nf
        minSDist = minSDist / Nf
    numPeaks = nPeaks / (Nf * T) if timeNorm == "second" else nPeaks

    def unity(v):
        return np.clip(v, -1.0, 1.0) if doRatioLimit else v

    def mean_ratio(v):
        nz = gmean != 0.0
        q = np.where(nz, v / np.where(nz, gmean, 1.0), 0.0)
        if doRatioLimit:
            return np.where(nz, _ratio_limit(q, 10.0, 10.0), 20.0)
        return np.where(nz, q, v)

    rnz = rng_ != 0.0
    srng = np.where(rnz, rng_, 1.0)

    return {
        "numPeaks": numPeaks,
        "meanPeakDist": peakDist,
        "peakDistStddev": peakSDist,
        "peakRangeAbs": peakMax - peakMin,
        "peakRangeRel": np.where(
            rnz, unity(np.abs((peakMax - peakMin) / srng)),
            peakMax - peakMin),
        "peakMean": peakMean,
        "peakMeanMeanDist": peakMean - gmean,
        "peakMeanMeanRatio": mean_ratio(peakMean),
        "ptpAmpMeanAbs": peakDiff,
        "ptpAmpMeanRel": np.where(rnz, unity(peakDiff / srng), peakDiff),
        "ptpAmpStddevAbs": peakSDiff,
        "ptpAmpStddevRel": np.where(rnz, unity(peakSDiff / srng), peakSDiff),
        "minRangeAbs": minMax - minMin,
        "minRangeRel": np.where(
            rnz, unity(np.abs((minMax - minMin) / srng)), minMax - minMin),
        "minMean": minMean,
        "minMeanMeanDist": gmean - minMean,
        "minMeanMeanRatio": mean_ratio(minMean),
        "mtmAmpMeanAbs": minDiff,
        "mtmAmpMeanRel": np.where(rnz, unity(minDiff / srng), minDiff),
        "mtmAmpStddevAbs": minSDiff,
        "mtmAmpStddevRel": np.where(rnz, unity(minSDiff / srng), minSDiff),
        "meanRisingSlope": meanRS,
        "maxRisingSlope": maxRS,
        "minRisingSlope": minRS,
        "stddevRisingSlope": stddevRS,
        "meanFallingSlope": meanFS,
        "maxFallingSlope": maxFS,
        "minFallingSlope": minFS,
        "stddevFallingSlope": stddevFS,
        "covFallingSlope": np.where(
            meanFS > 0.0, stddevFS / np.where(meanFS > 0.0, meanFS, 1.0),
            0.0),
        "covRisingSlope": np.where(
            meanRS > 0.0, stddevRS / np.where(meanRS > 0.0, meanRS, 1.0),
            0.0),
    }


def _peaks_batched(x, starts, ends, gmin, gmax, gmean, opts):
    """Cross-group vectorized f_peaks (functionals.cpp legacy peak picker,
    kernels.py:1468) — lane-parallel transcription of the single-pass
    hysteresis automaton. Unlike peaks2 (whose loop visits only extrema),
    the reference loop visits EVERY element i in [2, N) because the close
    condition `cur < lastMax - 0.09*rng or i == N-1` is re-checked per
    element. The state, however, only CHANGES at strict-local-extremum
    detections (element q = i-1 with x[q-1] < x[q] > x[q+1] or the mirror),
    so the loop is re-expressed on the detection lattice: step j handles
    detection j of every group at once (branch updates + the same-index
    close check), then the run of plain elements before detection j+1 is
    folded into one precomputed per-run minimum — a run fires the close
    check iff `min(run) < lastMax - 0.09*rng` (the per-element check fires
    at the first crossing; peakflag then drops to 0 and cannot re-arm
    inside a run, so at most one emission per run and its position is
    never used). Per-group operation order is IDENTICAL to kernels.f_peaks;
    equality pinned by tests/test_batched_kernels.py."""
    n_groups = starts.size
    sizes = ends - starts
    Nf = sizes.astype(np.float64)
    timeNorm = opts.get("timeNorm", "frames")
    T = opts.get("T", 1.0)
    rng_ = gmax - gmin

    n_el = x.size
    rep_starts = np.repeat(starts, sizes)
    iig = np.arange(n_el, dtype=np.int64) - rep_starts
    size_rep = np.repeat(sizes, sizes)
    grp_rep = np.repeat(np.arange(n_groups, dtype=np.int64), sizes)
    xm1, xp1 = _neighbours(x, np.inf)
    # detection at loop index i=q+1 needs i in [2, N): q in [1, N-2]
    okq = (iig >= 1) & (iig <= size_rep - 2)
    is_max_el = okq & (xm1 < x) & (x > xp1)
    is_min_el = okq & (xm1 > x) & (x < xp1)
    ev_el = is_max_el | is_min_el
    e_idx = np.flatnonzero(ev_el)
    e_grp = grp_rep[e_idx]
    Mg = np.bincount(e_grp, minlength=n_groups)
    M_max = int(Mg.max()) if e_idx.size else 0
    Wl = max(M_max, 1)
    # (W, n_groups) lattice — step j reads contiguous rows (see peaks2)
    Ecur = np.zeros((Wl, n_groups))              # cur = x[q+1] at the event
    Et = np.zeros((Wl, n_groups), dtype=bool)    # detection is a local max
    Ei = np.zeros((Wl, n_groups))                # loop index i = q+1 (local)
    Va = np.zeros((Wl, n_groups), dtype=bool)
    Rmin = np.full((Wl, n_groups), np.inf)       # min over run AFTER event j
    Rlast = np.zeros((Wl, n_groups), dtype=bool)  # run contains i == N-1
    if e_idx.size:
        first = np.concatenate(([0], np.cumsum(Mg)[:-1]))
        jr = np.arange(e_idx.size) - first[e_grp]
        Ecur[jr, e_grp] = x[e_idx + 1]           # q <= N-2 -> q+1 in-group
        Et[jr, e_grp] = is_max_el[e_idx]
        Ei[jr, e_grp] = (iig[e_idx] + 1).astype(np.float64)
        Va[jr, e_grp] = True
        # runs: element at loop index i belongs to the run after its
        # group's latest event with q+1 <= i; event positions themselves
        # are handled in the lattice step
        ev_pos = np.zeros(n_el, dtype=bool)
        ev_pos[e_idx + 1] = True
        cum_ev = np.cumsum(ev_pos)
        base = cum_ev[starts] - ev_pos[starts]   # q >= 1 -> no event at s
        j_rep = cum_ev - np.repeat(base, sizes)  # events at local pos <= i
        run_m = ~ev_pos & (j_rep >= 1)
        idx_m = np.flatnonzero(run_m)
        if idx_m.size:
            key = grp_rep[idx_m] * np.int64(Wl) + (j_rep[idx_m] - 1)
            seg = np.ones(idx_m.size, dtype=bool)
            seg[1:] = key[1:] != key[:-1]
            seg_starts = np.flatnonzero(seg)
            mins = np.minimum.reduceat(x[idx_m], seg_starts)
            Rmin[(j_rep[idx_m[seg_starts]] - 1),
                 grp_rep[idx_m[seg_starts]]] = mins
        # the final run (after the group's LAST event) reaches i = N-1 iff
        # the last event sits before it; the forced `i == N-1` close then
        # fires inside that run
        gl = np.flatnonzero(Mg > 0)
        lp = Ei[Mg[gl] - 1, gl]                  # last event's local i
        Rlast[Mg[gl] - 1, gl] = lp < (sizes[gl] - 1)

    lastMin = np.zeros(n_groups)
    lastMax = np.zeros(n_groups)
    curmaxPos = np.zeros(n_groups)
    lastmaxPos = np.full(n_groups, -1.0)
    peakflag = np.zeros(n_groups, dtype=bool)
    nPeaks = np.zeros(n_groups)
    peakMeanSum = np.zeros(n_groups)
    nd = np.zeros(n_groups, dtype=np.int64)      # emitted distance count
    Dist = np.zeros((Wl + 1, n_groups))
    thr_hi = 0.11 * rng_
    thr_lo = 0.09 * rng_

    def emit(m):
        rows = np.flatnonzero(m)
        if rows.size == 0:
            return
        nPeaks[rows] += 1.0
        peakMeanSum[rows] += lastMax[rows]
        r2 = rows[lastmaxPos[rows] >= 0.0]
        Dist[nd[r2], r2] = curmaxPos[r2] - lastmaxPos[r2]
        nd[r2] += 1
        lastmaxPos[rows] = curmaxPos[rows]
        peakflag[rows] = False

    for j in range(M_max):
        act = Va[j]
        cur = Ecur[j]
        ismx = act & Et[j]
        ismn = act & ~Et[j]
        # local max branch (kernels.py:1485-1492): lastMax takes CUR (the
        # element after the extremum — reference quirk), the >0.11*rng
        # check can re-arm and re-point curmaxPos even when already set
        nf = ismx & ~peakflag
        up = ismx & peakflag & (cur > lastMax)
        lastMax = np.where(nf | up, cur, lastMax)
        curmaxPos = np.where(up, Ei[j], curmaxPos)
        trig = ismx & (lastMax - lastMin > thr_hi)
        peakflag = peakflag | trig
        curmaxPos = np.where(trig, Ei[j], curmaxPos)
        # local min branch
        lastMin = np.where(ismn, cur, lastMin)
        # close check at the event's own loop index
        emit(act & peakflag
             & ((cur < lastMax - thr_lo) | (Ei[j] == Nf - 1.0)))
        # close check folded over the run before the next event (peakflag
        # just cleared by the event-index close cannot re-fire here)
        emit(act & peakflag & ((Rmin[j] < lastMax - thr_lo) | Rlast[j]))

    nPeakDist = nd.astype(np.float64)
    has_d = nd > 0
    safe_d = np.where(has_d, nPeakDist, 1.0)
    peakDist = np.where(has_d, Dist.sum(axis=0) / safe_d, Nf + 1.0)
    live = np.arange(Wl + 1)[:, None] < nd[None, :]
    dev2 = np.where(live, (Dist - peakDist[None, :]) ** 2, 0.0)
    stddev = np.where(has_d, np.sqrt(dev2.sum(axis=0) / safe_d), 0.0)
    if timeNorm == "second":
        peakDist = peakDist * T
        stddev = stddev * T
    elif timeNorm == "segment":
        peakDist = peakDist / Nf
        stddev = stddev / Nf
    has_p = nPeaks > 0
    peakMean = np.where(has_p, peakMeanSum / np.where(has_p, nPeaks, 1.0),
                        0.0)
    return {
        "numPeaks": nPeaks,
        "meanPeakDist": peakDist,
        "peakMean": peakMean,
        "peakMeanMeanDist": peakMean - gmean,
        "peakDistStddev": stddev,
    }


def _segment_runs_batched(m, starts, ends, segMinLng, pauseMinLng,
                          maxNumSeg):
    """kernels._segment_runs (process_SegNonX / process_SegEqX) over every
    group at once, `m` the per-element match mask. Returns the lengths
    and groups of the recorded segments, in group then emission order.

    The automaton reduces exactly to run-length algebra: non-match runs
    of length >= max(pauseMinLng, 1) split a group into CLUSTERS
    (shorter gaps never reset the match counter — state 1/2 only advance
    segEnd); a cluster emits one segment iff its cumulative match count
    reaches max(segMinLng, 2) (the count is first compared on the second
    match), with the reference's length quirk length = last_match_pos -
    first_match_pos (the close formula i - segEnd - segStartIndex, both at
    gap-close and at EOF); only the first maxNumSeg emitted segments per
    group are recorded (add_segment's cap)."""
    n_el = m.size
    grp_rep = np.repeat(np.arange(starts.size, dtype=np.int64), ends - starts)
    new_run = np.ones(n_el, dtype=bool)
    new_run[1:] = (m[1:] != m[:-1]) | (grp_rep[1:] != grp_rep[:-1])
    r_start = np.flatnonzero(new_run)
    r_len = np.diff(np.append(r_start, n_el))
    r_match = m[r_start]
    r_grp = grp_rep[r_start]
    breaking = (~r_match) & (r_len >= max(pauseMinLng, 1))
    new_cluster = np.ones(r_start.size, dtype=bool)
    new_cluster[1:] = (r_grp[1:] != r_grp[:-1]) | breaking[:-1]
    c_start = np.flatnonzero(new_cluster)
    c_matches = np.add.reduceat(np.where(r_match, r_len, 0), c_start)
    first_m = np.minimum.reduceat(np.where(r_match, r_start, _BIG), c_start)
    last_m = np.maximum.reduceat(
        np.where(r_match, r_start + r_len - 1, -1), c_start)
    c_grp = r_grp[c_start]
    emitted = c_matches >= max(segMinLng, 2)
    # rank of each emitted cluster within its group (clusters are in
    # group-contiguous order: the global count minus the count before the
    # group's first cluster, carried forward as a running max)
    gstart = np.ones(c_grp.size, dtype=bool)
    gstart[1:] = c_grp[1:] != c_grp[:-1]
    cum = np.cumsum(emitted)
    rank = cum - np.maximum.accumulate(np.where(gstart, cum - emitted, 0))
    kept = emitted & (rank <= maxNumSeg)
    return (last_m - first_m)[kept].astype(np.float64), c_grp[kept]


def compute_batched(x: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                    families, options=None) -> dict[str, np.ndarray]:
    """x: concatenated values; [starts[i], ends[i]) are group slices that
    must tile x, and every group must be NON-EMPTY (ends[i] > starts[i]) —
    np.add.reduceat silently returns x[starts[i]] for an empty segment (and
    raises for starts[i] == x.size), so empty groups are rejected here
    rather than producing wrong numbers. Returns {functional_name:
    per-group array} for the requested kernels.FAMILIES under any of their
    options, names identical to kernels.py outputs. Option names are not
    checked here: compute_groups checks them."""
    options = options or {}
    if not (ends > starts).all():
        raise ValueError("compute_batched: empty group slice "
                         "(ends[i] <= starts[i]) — groups must be non-empty")
    n_groups = starts.size
    sizes = (ends - starts).astype(np.float64)
    N = sizes
    rep_starts = np.repeat(starts, (ends - starts))
    ii = np.arange(x.size, dtype=np.float64) - rep_starts  # 0..N-1 per group

    out: dict[str, np.ndarray] = {}

    s1 = _seg_sum(x, starts)
    mean = s1 / N
    mean_rep = np.repeat(mean, (ends - starts))

    gmax = np.maximum.reduceat(x, starts)
    gmin = np.minimum.reduceat(x, starts)

    if "means" in families:
        _add(out, _finish_means(N, mean, [_seg_sum(t, starts)
                                          for t in _means_terms(x)],
                                options.get("means", {})))

    if "moments" in families:
        d = x - mean_rep
        d2 = d * d
        _add(out, _finish_moments(N, mean, _seg_sum(d2, starts),
                                  _seg_sum(d2 * d, starts),
                                  _seg_sum(d2 * d2, starts),
                                  options.get("moments", {})))

    if "extremes" in families:
        idx = np.arange(x.size, dtype=np.int64)
        maxpos, minpos = ((np.minimum.reduceat(
            np.where(x == np.repeat(g, ends - starts), idx, _BIG), starts)
            - starts).astype(np.float64) for g in (gmax, gmin))
        _add(out, _finish_extremes(N, mean, gmax, gmin, maxpos, minpos,
                                   options.get("extremes", {})))

    if "percentiles" in families:
        xs = x.copy()
        for s, e in zip(starts, ends):
            xs[s:e].sort()
        _add(out, _finish_percentiles(
            N, lambda pairs: [(xs[starts + i1], xs[starts + i2])
                              for i1, i2 in pairs],
            options.get("percentiles", {})))

    if "regression" in families:
        # f_regression's own summation order: ndarray.sum equals a reduceat
        # behind a 0.0 slot (reduceat alone adds x[s] + sum(x[s+1:e])), so
        # the ill-conditioned closed forms and their residual sums are
        # bit-equal to the kernel's
        slot = np.arange(x.size) + np.repeat(
            np.arange(1, n_groups + 1), ends - starts)
        buf = np.zeros(x.size + n_groups)     # the 0.0 slots stay zero
        kstarts = slot[starts] - 1

        def ksum(v):
            buf[slot] = v
            return np.add.reduceat(buf, kstarts)

        num = ksum(x * ii)
        num2 = ksum(x * ii * ii)
        asum = ksum(x) / N * N
        with np.errstate(divide="ignore", invalid="ignore"):
            centroid = np.where(asum != 0.0, num / np.where(asum != 0, asum, 1), 0.0)
        NNm1 = N * (N - 1.0)
        S1 = NNm1 / 2.0
        S2 = NNm1 * (2.0 * N - 1.0) / 6.0
        safeS2 = np.where(S2 != 0, S2, 1.0)
        S1dS2 = S1 / safeS2
        tmp = N - S1 * S1dS2
        first_vals = x[starts]
        t_off = np.where(
            N > 1,
            np.where(tmp != 0, (asum - num * S1dS2) / np.where(tmp != 0, tmp, 1), 0.0),
            first_vals)
        m = np.where(N > 1, (num - t_off * S1) / safeS2, 0.0)
        S3 = S1 * S1
        N1 = N - 1.0
        S4 = S2 * (3.0 * (N1 * N1 + N1) - 1.0) / 5.0
        S3S3 = S3 * S3
        S2S2 = S2 * S2
        S1S2 = S1 * S2
        det = S4 * S2 * N + 2.0 * S3 * S1S2 - S2S2 * S2 - S3S3 * N - S3 * S4
        safed = np.where(det != 0, det, 1.0)
        a = np.where((N > 1) & (det != 0),
                     ((S2 * N - S3) * num2 + (S1S2 - S3 * N) * num
                      + (S3 * S1 - S2S2) * asum) / safed, 0.0)
        b = np.where((N > 1) & (det != 0),
                     ((S1S2 - S3 * N) * num2 + (S4 * N - S2S2) * num
                      + (S3 * S2 - S4 * S1) * asum) / safed, 0.0)
        c = np.where(N > 1,
                     np.where(det != 0,
                              ((S3 * S1 - S2S2) * num2 + (S3 * S2 - S4 * S1) * num
                               + (S4 * S2 - S3S3) * asum) / safed, 0.0),
                     first_vals)
        m_rep = np.repeat(m, (ends - starts))
        t_rep = np.repeat(t_off, (ends - starts))
        e = x - (m_rep * ii + t_rep)
        lea = ksum(np.abs(e))
        leq = ksum(e * e)
        a_rep = np.repeat(a, (ends - starts))
        b_rep = np.repeat(b, (ends - starts))
        c_rep = np.repeat(c, (ends - starts))
        eq = x - (a_rep * ii * ii + b_rep * ii + c_rep)
        qea = ksum(np.abs(eq))
        qeq = ksum(eq * eq)
        _add(out, _finish_regression(
            N, m, t_off, a, b, c,
            {"linregerrA": lea, "linregerrQ": leq, "qregerrA": qea,
             "qregerrQ": qeq}, centroid, options.get("regression", {})))

    if "crossings" in families or "times" in families:
        # interior masks: position-within-group helpers
        pos_in = ii
        size_rep = np.repeat(sizes, (ends - starts))

    if "crossings" in families:
        # i in [1, N-2]: x[i-1], x[i], x[i+1] with group-interior mask
        xm1, xp1 = _neighbours(x, 0.0)
        interior = (pos_in >= 1) & (pos_in <= size_rep - 2)
        zc = interior & (((xm1 * xp1 <= 0.0) & (x == 0.0)) | (xm1 * x < 0.0))
        am1 = xm1 - mean_rep
        a0 = x - mean_rep
        ap1 = xp1 - mean_rep
        mc = interior & (((am1 * ap1 <= 0.0) & (a0 == 0.0)) | (am1 * a0 < 0.0))
        out["zcr"] = _seg_sum(zc.astype(np.float64), starts) / N
        out["mcr"] = _seg_sum(mc.astype(np.float64), starts) / N
        out.setdefault("amean", mean)

    if "times" in families:
        topts = options.get("times", {})
        tn, T = topts.get("timeNorm", "segment"), topts.get("T", 1.0)
        if tn == "segment":
            Norm, Norm1, Norm2 = N, N - 1.0, N - 2.0
        elif tn == "frames":
            Norm = np.ones_like(N)
            Norm1 = (N - 1.0) / N
            Norm2 = (N - 2.0) / N
        elif topts.get("buggySecNorm", False):
            Norm, Norm1, Norm2 = N / T, (N - 1.0) / T, (N - 2.0) / T
        else:
            Norm = np.full_like(N, 1.0 / T)
            Norm1 = (N - 1.0) / (N * T)
            Norm2 = (N - 2.0) / (N * T)
        rng = gmax - gmin
        for frac, nm in ((0.25, "25"), (0.50, "50"), (0.75, "75"),
                         (0.90, "90")):
            lvl = np.repeat(frac * rng + gmin, (ends - starts))
            nle = _seg_sum((x <= lvl).astype(np.float64), starts)
            out[f"upleveltime{nm}"] = (N - nle) / Norm
            out[f"downleveltime{nm}"] = nle / Norm
        xm1, xp1 = _neighbours(x, 0.0)
        not_first = pos_in >= 1
        rise = not_first & (xm1 < x)
        fall = not_first & (xm1 > x)
        nR = _seg_sum(rise.astype(np.float64), starts)
        nF = _seg_sum(fall.astype(np.float64), starts)
        safe1 = np.where(Norm1 != 0, Norm1, 1.0)
        out["risetime"] = np.where(Norm1 != 0, nR / safe1, 0.0)
        out["falltime"] = np.where(Norm1 != 0, nF / safe1, 0.0)
        interior = (pos_in >= 1) & (pos_in <= np.repeat(sizes, (ends - starts)) - 2)
        dd = (xp1 - x) - (x - xm1)
        nRC = _seg_sum((interior & (dd < 0)).astype(np.float64), starts)
        nLC = _seg_sum((interior & (dd > 0)).astype(np.float64), starts)
        safe2 = np.where(Norm2 != 0, Norm2, 1.0)
        out["leftctime"] = np.where(Norm2 != 0, nLC / safe2, 0.0)
        out["rightctime"] = np.where(Norm2 != 0, nRC / safe2, 0.0)
        out["duration"] = N * T if tn == "second" else N

    if "samples" in families:
        # f_samples (functionalSamples.cpp:107): si = (int)((N-1)*p) — the
        # C cast TRUNCATES; (N-1)*p >= 0 so int64 astype matches exactly.
        # Pure per-group gather -> one fancy-index across all groups.
        positions = options.get("samples", {}).get(
            "positions", (0.0, 0.25, 0.5, 0.75, 1.0))
        Ni = (ends - starts).astype(np.int64)
        for p in positions:
            idx = ((Ni - 1).astype(np.float64) * p).astype(np.int64)
            np.clip(idx, 0, Ni - 1, out=idx)
            out[f"samplepos{p:g}"] = x[starts + idx]

    if "segments" in families:
        sopts = options.get("segments", {})
        algorithm = sopts.get("algorithm", "nonX")
        old_buggy = sopts.get("useOldBuggyChX", False)
        segMinLng = sopts.get("segMinLng", 3)
        pauseMinLng = sopts.get("pauseMinLng", 2)
        maxNumSeg = sopts.get("maxNumSeg", 20)
        Xval = np.broadcast_to(sopts.get("X", 0.0), starts.shape)
        if sopts.get("XisRel", False):
            Xval = gmin + (gmax - gmin) * Xval
        if algorithm == "chX" or old_buggy:
            # the two legacy automata have no run-length form: take each
            # group's segment list from the reference automaton
            runs = [_segment_runs_old_buggy(x[s:e], Xval[g], algorithm,
                                            maxNumSeg) if old_buggy else
                    _segment_runs(x[s:e], Xval[g], algorithm, segMinLng,
                                  pauseMinLng, maxNumSeg)
                    for g, (s, e) in enumerate(zip(starts, ends))]
            seg_grp = np.repeat(np.arange(n_groups, dtype=np.int64),
                                [len(r) for r in runs])
            seg_len = np.array([v for r in runs for v in r],
                               dtype=np.float64)
        else:
            Xrep = np.repeat(Xval, ends - starts)
            seg_len, seg_grp = _segment_runs_batched(
                (x != Xrep) if algorithm == "nonX" else (x == Xrep),
                starts, ends, segMinLng, pauseMinLng, maxNumSeg)
        nSeg = np.bincount(seg_grp, minlength=n_groups).astype(np.float64)
        safe_n = np.where(nSeg > 0, nSeg, 1.0)
        # bincount adds each group's lengths in order, as f_segments does
        sumLen = np.bincount(seg_grp, seg_len, minlength=n_groups)
        maxLen = np.full(n_groups, -np.inf)
        np.maximum.at(maxLen, seg_grp, seg_len)
        minLen = np.full(n_groups, np.inf)
        np.minimum.at(minLen, seg_grp, seg_len)
        maxLen = np.where(nSeg > 0, maxLen, 0.0)
        minLen = np.where(nSeg > 0, minLen, 0.0)
        meanL = np.where(nSeg > 1, sumLen / safe_n, sumLen)
        dev = np.bincount(seg_grp, (seg_len - meanL[seg_grp]) ** 2,
                          minlength=n_groups)
        lenDev = np.where(nSeg > 1, np.sqrt(dev / safe_n), 0.0)

        tn = sopts.get("timeNorm", "segment")
        T = sopts.get("T", 1.0)
        if tn == "second":
            out["numSegments"] = nSeg / (N * T if T != 0.0 else N)
            Norm = T if T != 0.0 else 1.0
            out["meanSegLen"] = meanL * Norm
            out["maxSegLen"] = maxLen * Norm
            out["minSegLen"] = minLen * Norm
            out["segLenStddev"] = lenDev * Norm
        elif tn == "segment":
            out["numSegments"] = nSeg / maxNumSeg
            out["meanSegLen"] = meanL / N
            out["maxSegLen"] = maxLen / N
            out["minSegLen"] = minLen / N
            out["segLenStddev"] = lenDev / N
        else:
            out["numSegments"] = nSeg
            out["meanSegLen"] = meanL
            out["maxSegLen"] = maxLen
            out["minSegLen"] = minLen
            out["segLenStddev"] = lenDev

    if "onset" in families:
        # f_onset's hysteresis automaton as a forward fill: after element
        # i >= 1 the state is 0 if cur <= thresholdOffset, else 1 if
        # cur > thresholdOnset, else unchanged; a group starts in state
        # x[0] > thresholdOnset (no abs). An onset is a set from state 0;
        # an offset is a reset from state 1 or in the same step as a set.
        oopts = options.get("onset", {})
        th_on = oopts.get("thresholdOnset", 0.0)
        th_off = oopts.get("thresholdOffset", 0.0)
        cur = np.abs(x) if oopts.get("useAbsVal", False) else x
        sets = cur > th_on
        resets = cur <= th_off
        code = np.where(resets, 0, np.where(sets, 1, -1))
        code[starts] = x[starts] > th_on
        idx = np.arange(x.size, dtype=np.int64)
        # every group's first element has a code, so no fill crosses groups
        state = code[np.maximum.accumulate(np.where(code >= 0, idx, 0))]
        prev = np.zeros_like(state)
        prev[1:] = state[:-1]
        not_first = ii >= 1.0
        up = not_first & sets & (prev == 0)
        down = not_first & resets & ((prev == 1) | sets)
        n_on = _seg_sum(up.astype(np.float64), starts)
        n_off = _seg_sum(down.astype(np.float64), starts)
        first_up = np.minimum.reduceat(
            np.where(up, idx, _BIG), starts) - starts
        last_down = np.maximum.reduceat(
            np.where(down, idx, -1), starts) - starts
        onset_pos = np.where(n_on > 0, first_up, 0).astype(np.float64)
        offset_pos = np.where(n_off > 0, last_down,
                              (ends - starts) - 1).astype(np.float64)
        tn = oopts.get("timeNorm", "segment")
        T = oopts.get("T", 1.0)
        if tn == "segment":
            op, fp = onset_pos / N, offset_pos / N
        elif tn == "second":
            op, fp = onset_pos * T, offset_pos * T
        else:
            op, fp = onset_pos, offset_pos
        out["onsetPos"] = op
        out["offsetPos"] = fp
        out["numOnsets"] = n_on
        out["numOffsets"] = n_off
        out["onsetRate"] = n_on / (N * T)

    if "dct" in families:
        # f_dct (functionalDCT.cpp:38-40): c_k = sqrt(2/N) *
        # sum_n x[n] cos(pi*k/N*(n+0.5)) — per-element basis with the
        # group-local index ii and per-group N, one reduceat per k.
        dopts = options.get("dct", {})
        first_c = dopts.get("firstCoeff", 1)
        last_c = dopts.get("lastCoeff", 6)
        N_rep = np.repeat(N, (ends - starts))
        factor = np.sqrt(2.0 / N)
        for k in range(first_c, last_c + 1):
            basis = np.cos(np.pi * k / N_rep * (ii + 0.5))
            out[f"dct{k}"] = factor * _seg_sum(x * basis, starts)

    if {"lpc", "acf", "amdf", "lsp", "formants"} & set(families):
        size_rep_f = np.repeat(N, (ends - starts))

    if "lpc" in families:
        # f_lpc (functionalLpc.cpp:20-22, kernels.py:1574): autocorrelation
        # via masked lag sums, then Levinson-Durbin vectorized ACROSS
        # groups — the recursion's per-group scalar op order is unchanged
        # (loops run over the lag index, numpy over the group axis)
        order = options.get("lpc", {}).get("order", 4)
        a, e, zero, p = _levinson_batched(x, starts, ends, ii,
                                          size_rep_f, order)
        out["lpgain"] = np.where(zero, 0.0, e)
        for k in range(order):
            out[f"lpc{k}"] = np.where(zero | (k + 1 > p), 0.0, a[:, k + 1])

    if "lsp" in families:
        # f_lsp (lsp.cpp analogue, kernels.py:1649): sum/difference
        # polynomials of A(z) both have LEADING AND TRAILING coefficient
        # +-1, so np.roots never trims — the stacked companion eigvals are
        # the identical LAPACK call per group
        order = options.get("lsp", {}).get("order", 4)
        av = _lpc_poly_batched(x, starts, ends, ii, size_rep_f, order)
        pp = np.concatenate([av, np.zeros((n_groups, 1))], axis=1) \
            + np.concatenate([np.zeros((n_groups, 1)), av[:, ::-1]], axis=1)
        qq = np.concatenate([av, np.zeros((n_groups, 1))], axis=1) \
            - np.concatenate([np.zeros((n_groups, 1)), av[:, ::-1]], axis=1)
        angs = []
        for poly in (pp, qq):
            deg = poly.shape[1] - 1
            comp = np.zeros((n_groups, deg, deg))
            comp[:, np.arange(1, deg), np.arange(deg - 1)] = 1.0
            comp[:, 0, :] = -poly[:, 1:] / poly[:, :1]
            ang = np.angle(np.linalg.eigvals(comp))
            ang = np.where((ang > 1e-9) & (ang < np.pi - 1e-9), ang, np.inf)
            angs.append(ang)
        allang = np.sort(np.concatenate(angs, axis=1), axis=1)
        for i in range(order):
            v = allang[:, i]
            out[f"lsp{i}"] = np.where(np.isfinite(v), v, 0.0)

    if "formants" in families:
        # f_formants (formantLpc.cpp analogue, kernels.py:1681): LPC-root
        # frequencies/bandwidths; A(z) has leading 1 so the full-size
        # companion matches np.roots except when trailing coefficients are
        # exactly zero (roots at 0 — filtered out either way)
        fopts = options.get("formants", {})
        order = fopts.get("order", 6)
        n_formants = fopts.get("n_formants", 3)
        T_f = fopts.get("T", 1.0)
        av = _lpc_poly_batched(x, starts, ends, ii, size_rep_f, order)
        trivial = np.all(np.abs(av[:, 1:]) <= 1e-8, axis=1)  # allclose(,0)
        comp = np.zeros((n_groups, order, order))
        comp[:, np.arange(1, order), np.arange(order - 1)] = 1.0
        comp[:, 0, :] = -av[:, 1:]
        roots = np.linalg.eigvals(comp)
        fs = 1.0 / T_f if T_f != 0.0 else 1.0
        ang = np.angle(roots)
        mag = np.abs(roots)
        okr = ((ang > 1e-9) & (ang < np.pi - 1e-9) & (mag > 1e-12)
               & ~trivial[:, None])
        freq = np.where(okr, ang / (2.0 * np.pi) * fs, np.inf)
        with np.errstate(divide="ignore"):
            bw = np.where(okr, -np.log(np.where(mag > 0, mag, 1.0))
                          / np.pi * fs, np.inf)
        sidx = np.lexsort((bw, freq), axis=1)     # tuple sort (freq, bw)
        freq_s = np.take_along_axis(freq, sidx, axis=1)
        bw_s = np.take_along_axis(bw, sidx, axis=1)
        for i in range(n_formants):
            if i < freq_s.shape[1]:
                fv, bv = freq_s[:, i], bw_s[:, i]
                ok = np.isfinite(fv)
                out[f"formantFreq{i + 1}"] = np.where(ok, fv, 0.0)
                out[f"formantBw{i + 1}"] = np.where(ok, bv, 0.0)
            else:
                out[f"formantFreq{i + 1}"] = np.zeros(n_groups)
                out[f"formantBw{i + 1}"] = np.zeros(n_groups)

    if "acf" in families:
        aopts = options.get("acf", {})
        max_lag = aopts.get("max_lag", 4)
        do_norm = aopts.get("normalize", True)
        r0 = _lag_sum(x, starts, ii, size_rep_f, 0)
        safe_r0 = np.where(r0 != 0.0, r0, 1.0)
        for k in range(max_lag + 1):
            rk = r0 if k == 0 else _lag_sum(x, starts, ii, size_rep_f, k)
            if do_norm:
                out[f"acf{k}"] = np.where(r0 != 0.0, rk / safe_r0, 0.0)
            else:
                out[f"acf{k}"] = rk

    if "amdf" in families:
        # f_amdf (amdf.cpp:134-151 method=LIMIT): mean |x[i]-x[i+j]| over
        # the N-j valid pairs; lag >= N -> 0
        max_lag = options.get("amdf", {}).get("max_lag", 4)
        out["amdf0"] = np.zeros(n_groups)
        Ni = ends - starts
        for j in range(1, max_lag + 1):
            s = _lag_sum(x, starts, ii, size_rep_f, j, kind="absdiff")
            ok = j < Ni
            out[f"amdf{j}"] = np.where(ok, s / np.where(ok, Ni - j, 1), 0.0)

    if "modulation" in families:
        # f_modulation (kernels.py:1716): per-group head gather into one
        # (n_groups, fft_win) matrix — truncate-or-zero-pad + hann + one
        # batched rfft; the fixed freq grid makes each modSpec bin a fixed
        # 2-point linear blend of magnitude columns
        mo = options.get("modulation", {})
        fft_win = mo.get("fft_win", 64)
        n_bins = mo.get("n_bins", 6)
        min_freq = mo.get("min_freq", 0.01)
        max_freq = mo.get("max_freq", 0.4)
        T_m = mo.get("T", 1.0)
        Ni = ends - starts
        col = np.arange(fft_win)
        gidx = np.minimum(starts[:, None] + col[None, :], x.size - 1)
        validm = col[None, :] < Ni[:, None]
        xc = np.where(validm, x[gidx] - mean[:, None], 0.0)
        win = 0.5 - 0.5 * np.cos(2 * np.pi * col / fft_win)
        mag = np.abs(np.fft.rfft(xc * win, axis=1)) / fft_win
        freqs = np.fft.rfftfreq(fft_win, d=T_m)
        centers = np.linspace(min_freq, max_freq, n_bins)
        for i, f in enumerate(centers):
            jhi = int(np.searchsorted(freqs, f))
            if jhi <= 0:
                out[f"modSpec{i}"] = mag[:, 0]
            elif jhi >= freqs.size:
                out[f"modSpec{i}"] = mag[:, -1]
            else:
                slope = ((mag[:, jhi] - mag[:, jhi - 1])
                         / (freqs[jhi] - freqs[jhi - 1]))
                out[f"modSpec{i}"] = (slope * (f - freqs[jhi - 1])
                                      + mag[:, jhi - 1])

    # peaks and peaks2 output names collide BY DESIGN (the reference
    # distinguishes instances by component name); compute_all resolves the
    # collision first-REQUESTED-wins, so write them in request order here
    for fam in families:
        if fam == "peaks2":
            vals = _peaks2_batched(x, starts, ends, gmin, gmax, mean,
                                   options.get("peaks2", {}))
        elif fam == "peaks":
            vals = _peaks_batched(x, starts, ends, gmin, gmax, mean,
                                  options.get("peaks", {}))
        else:
            continue
        _add(out, vals)

    return out


def output_keys(families, options=None) -> tuple:
    """Bare output names of `families`, in compute_all order — read off one
    compute_all call on a fixed 8-element probe (names depend on families
    and options only, never on the data). An option name a family's
    kernel does not take raises TypeError."""
    return tuple(compute_all(np.arange(1.0, 9.0), list(families), options))


def compute_groups(x: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                   families, options=None) -> dict[str, np.ndarray]:
    """{key: float64 array, one value per group} for every output key of
    `families` (output_keys order); group i is x[starts[i]:ends[i]],
    non-empty. One compute_batched call evaluates every family; the
    output_keys probe runs first, so a misspelled option raises
    TypeError as compute_all does."""
    keys = output_keys(families, options)
    out = compute_batched(x, starts, ends, families, options)
    return {k: out[k] for k in keys}
