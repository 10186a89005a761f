"""Property-based checks (FIXTURES.md §5, mirroring the reference's seeded
cRandom randomized inputs — utils.hpp:64-87): invariants that must hold for
ANY input, not just fixtures."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from opensmile_spark.functionals.kernels import compute_all, viterbi_smooth

# subnormals excluded: denormal arithmetic (5e-324 * 0.5 -> 0) breaks even
# ulp-tolerant order properties, and the engine's data plane (text-derived
# counts, latencies) never produces them
series = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
              allow_infinity=False, allow_subnormal=False, width=64),
    min_size=1, max_size=80,
)


def pre(vals):
    x = np.asarray(vals, dtype=np.float64)
    return x


@settings(max_examples=60, deadline=None)
@given(series)
def test_percentile_monotonicity_and_bounds(vals):
    x = pre(vals)
    out = compute_all(x, ["percentiles", "extremes"])

    def leq(a, b):
        # the reference's interpolation s[i1]*w2 + s[i2]*w1
        # (functionalPercentiles.cpp:297-315) can overshoot by 1 ulp when
        # s[i1] == s[i2]; the engine reproduces it faithfully, so the
        # property holds only up to ulp-scale tolerance
        return a <= b or np.isclose(a, b, rtol=1e-12, atol=0)

    assert leq(out["quartile1"], out["quartile2"])
    assert leq(out["quartile2"], out["quartile3"])
    assert leq(out["percentile20.0"], out["percentile50.0"])
    assert leq(out["percentile50.0"], out["percentile80.0"])
    assert leq(out["min"], out["percentile20.0"])
    assert leq(out["percentile80.0"], out["max"])
    assert out["pctlrange0-2"] >= 0
    assert out["range"] >= 0


@settings(max_examples=60, deadline=None)
@given(series)
def test_moments_invariants(vals):
    x = pre(vals)
    out = compute_all(x, ["moments", "means"])
    assert out["variance"] >= 0
    assert out["stddev"] >= 0
    assert out["qmean"] >= 0
    assert out["rqmean"] >= abs(out["amean"]) - 1e-6 * max(1, abs(out["amean"]))
    assert 0 <= out["nnz"] <= len(vals)


@settings(max_examples=60, deadline=None)
@given(series)
def test_times_fractions_in_unit_range(vals):
    x = pre(vals)
    out = compute_all(x, ["times", "crossings", "onset"])
    for k in ["upleveltime25", "downleveltime25", "upleveltime50",
              "downleveltime50", "upleveltime90", "risetime", "falltime"]:
        assert -1e-9 <= out[k] <= 1.0 + 1e-9, (k, out[k])
    assert 0 <= out["zcr"] <= 1
    assert 0 <= out["mcr"] <= 1
    assert 0 <= out["onsetPos"] <= 1
    assert out["duration"] == len(vals)


@settings(max_examples=40, deadline=None)
@given(series)
def test_all_outputs_finite(vals):
    x = pre(vals)
    out = compute_all(x, ["means", "moments", "extremes", "percentiles",
                          "regression", "crossings", "times", "onset",
                          "segments", "peaks2"])
    bad = {k: v for k, v in out.items() if not np.isfinite(v)}
    assert not bad, bad


@settings(max_examples=40, deadline=None)
@given(series)
def test_shift_invariance_of_shape_functionals(vals):
    """Adding a constant shifts location functionals but must leave the
    shape functionals (stddev, range, zcr on centered signal) unchanged."""
    x = pre(vals)
    shift = 17.5
    a = compute_all(x, ["moments", "extremes"])
    b = compute_all(x + shift, ["moments", "extremes"])
    assert np.isclose(a["stddev"], b["stddev"], rtol=1e-7, atol=1e-7)
    assert np.isclose(a["range"], b["range"], rtol=1e-7, atol=1e-7)
    assert np.isclose(b["amean"], a["amean"] + shift, rtol=1e-9, atol=1e-6)


@settings(max_examples=30, deadline=None)
@given(series, st.floats(min_value=0.1, max_value=10.0))
def test_viterbi_cost_never_worse_than_constant_path(vals, jump):
    """The DP path cost must be <= the best constant-level path cost."""
    x = pre(vals)
    out = viterbi_smooth(x, n_levels=8, jump_cost=jump)
    cost = np.abs(x - out).sum() + jump * np.abs(np.diff(out)).sum()
    levels = np.linspace(x.min(), x.max(), 8) if x.max() > x.min() else [x[0]]
    best_const = min(np.abs(x - lv).sum() for lv in levels)
    assert cost <= best_const + 1e-6


@settings(max_examples=25, deadline=None)
@given(st.lists(st.floats(min_value=0, max_value=100, allow_nan=False,
                          width=64), min_size=2, max_size=40),
       st.integers(min_value=1, max_value=5))
def test_backfill_prefix_property(vals, k):
    """Pure-kernel leakage property: functionals over the first n rows never
    depend on later rows (the numpy core of the Spark leakage guarantee,
    complemented by the Spark-level test in test_asof.py)."""
    x = pre(vals)
    n = max(1, len(x) - k)
    a = compute_all(x[:n], ["means", "moments"])
    y = x.copy()
    y[n:] = y[n:] * 1000 + 7
    b = compute_all(y[:n], ["means", "moments"])
    assert a == b


@settings(max_examples=40, deadline=None)
@given(series,
       st.floats(min_value=-1e9, max_value=1e9, allow_nan=False, width=64))
def test_expanding_chan_stats_match_pergroup(vals, offset):
    """Property pin of the blocked-Chan expanding path: for ANY series
    (plus an arbitrary large offset — the raw-moment-expansion killer) and
    every prefix, moments/percentiles outputs match the per-window kernel
    within the documented tolerance, with NO raw-expansion blowup."""
    from opensmile_spark.functionals.batched import compute_expanding

    x = pre(vals) + offset
    his = np.arange(1, x.size + 1)
    fams = ["moments", "percentiles"]
    ex = compute_expanding(x, his, fams)
    scale = max(abs(float(x.max())), abs(float(x.min())), 1.0)
    for gi, h in enumerate(his):
        want = compute_all(x[:h], fams)
        for k, v in want.items():
            rtol = 1e-7
            if k in ("stddevNorm", "coeffOfVariation"):
                # reference formula divides by the mean WHEN nonzero — a
                # discontinuity any summation-order difference can flip when
                # the mean cancels to ~ulp scale; exclude that knife edge,
                # and for partial cancellation widen rtol by the division's
                # condition number (ulp noise in the sum is amplified by
                # sum|x| / |sum| in the ratio — hypothesis found a case at
                # amplification ~1e10 where the fixed 1e-7 rtol is
                # unattainable by ANY summation order)
                sabs = float(np.abs(x[:h]).sum())
                s = abs(float(np.sum(x[:h])))
                if s < 1e-12 * max(sabs, 1e-300):
                    continue
                amp = sabs / max(s, 1e-300)
                rtol = max(rtol, 64 * np.finfo(float).eps * amp)
            if k in ("skewness", "kurtosis"):
                # sd-normalized central moments: when the spread sits at
                # float-cancellation scale relative to the offset (e.g.
                # [o, o, o, o+2e-16]), m3/(N*sd^3) is pure ulp noise and
                # ANY summation order yields a different number
                sd = float(np.std(x[:h]))
                if sd < 1e-6 * scale:
                    continue
            got = float(ex[k][gi])
            assert np.isclose(got, v, rtol=rtol, atol=1e-8 * scale), \
                (h, k, got, v)


# ---- smileconf parser totality + roundtrip ---------------------------------

_ident = st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,15}", fullmatch=True)
_value = st.one_of(
    st.integers(min_value=-10**6, max_value=10**6).map(str),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
              allow_infinity=False).map(lambda f: repr(round(f, 6))),
    st.from_regex(r"[A-Za-z0-9_ ;./-]{0,30}", fullmatch=True),
)


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=400))
def test_smileconf_parser_total_on_arbitrary_text(s):
    """parse_conf_text must never raise — malformed input lands in
    `unresolved`, never in an exception (the migration tool gets handed
    arbitrary user files)."""
    from opensmile_spark.smileconf import parse_conf_text

    p = parse_conf_text(s)
    assert isinstance(p.sections, list)
    assert all(isinstance(u, str) for u in p.unresolved)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.tuples(_ident, _ident, _value),
                min_size=1, max_size=12))
def test_smileconf_option_roundtrip(kvs):
    """Any generated [section:cType] body of key=value lines parses back
    to exactly those options (with numeric coercion)."""
    from opensmile_spark.smileconf import _coerce, parse_conf_text

    # unique keys per section; one section per (name-ish) tuple list
    lines = ["[s:cType]"]
    seen = set()
    expected = {}
    for k, _sub, v in kvs:
        if k in seen or v.strip() != v or not v:
            continue
        seen.add(k)
        lines.append(f"{k} = {v}")
        expected[k] = _coerce(v)
    p = parse_conf_text("\n".join(lines))
    sec = p.section("s")
    assert sec is not None and sec.ctype == "cType"
    assert sec.options == expected
