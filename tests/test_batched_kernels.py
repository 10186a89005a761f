"""Cross-group batched path == per-group reference path, bitwise-close."""

import numpy as np
import pytest

from opensmile_spark.functionals.batched import compute_batched
from opensmile_spark.functionals.kernels import FAMILIES, compute_all

FAMS = sorted(FAMILIES)


def make_groups(rng, n_groups=40):
    sizes = rng.randint(1, 60, n_groups)
    # force edge sizes
    sizes[0] = 1
    sizes[1] = 2
    sizes[2] = 3
    chunks = []
    kind = rng.randint(0, 4, n_groups)
    for i, sz in enumerate(sizes):
        if kind[i] == 0:
            chunks.append(np.full(sz, float(rng.randint(-3, 4))))   # const
        elif kind[i] == 1:
            chunks.append(np.arange(sz, dtype=float) * rng.rand())  # ramp
        elif kind[i] == 2:
            c = rng.randn(sz) * 10
            c[rng.rand(sz) < 0.4] = 0.0                             # zeros
            chunks.append(c)
        else:
            chunks.append(rng.rand(sz) * 1e5 + 1e7)  # large-mean (cancellation)
    x = np.concatenate(chunks)
    ends = np.cumsum(sizes)
    starts = ends - sizes
    return x, starts.astype(np.int64), ends.astype(np.int64)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_batched_equals_pergroup(seed):
    rng = np.random.RandomState(seed)
    x, starts, ends = make_groups(rng)
    bat = compute_batched(x, starts, ends, FAMS)
    for gi, (s, e) in enumerate(zip(starts, ends)):
        want = compute_all(x[s:e], FAMS)
        for k, v in want.items():
            got = float(bat[k][gi])
            # identical math, summation order differs: reduceat matches
            # neither a sequential sum nor ndarray.sum (on 300 random
            # segments of 1-400 values, numpy 1.26.4, it differed from the
            # first in 257 and the second in 225). The quadratic normal
            # equations amplify that to ~1e-11 relative on ill-conditioned
            # (large-mean) groups. Gates round to 6 significant digits.
            assert np.isclose(got, v, rtol=1e-8, atol=1e-10), (
                f"group {gi} (n={e - s}) {k}: batched={got} pergroup={v}")


def test_bank_uses_batched_and_matches(spark):
    """End-to-end: the Spark kernel (now batched inside) still equals the
    numpy oracle per group — rerun of the core parity contract."""
    from opensmile_spark.functionals import functionals_kernel
    from tests.conftest import make_conv

    cases = {
        "a": [5.0] * 7,
        "b": [2.0 * i + 3 for i in range(9)],
        "c": [0, 2, 0, 4, 0, 6, 1],
        "d": [7.0],
    }
    df = None
    for cid, vals in cases.items():
        d = make_conv(spark, cid, vals)
        df = d if df is None else df.unionByName(d)
    fams = FAMS + ["peaks2", "segments", "onset"]   # mixed batched + loop
    out = {r["conv_id"]: r for r in
           functionals_kernel(df, ["x"], ("conv_id",),
                              families=fams).collect()}
    for cid, vals in cases.items():
        want = compute_all(np.array(vals, dtype=float), fams)
        for k, v in want.items():
            assert np.isclose(out[cid][f"x_{k}"], v, rtol=1e-9,
                              atol=1e-10), (cid, k)


@pytest.mark.parametrize("seed", [0, 1])
def test_batched_custom_options_stay_fast_and_match(seed):
    """eGeMAPS-style custom percentiles (+quotients) must NOT evict the
    family from the reduceat path, and must equal the per-group kernel."""
    rng = np.random.RandomState(seed)
    x, starts, ends = make_groups(rng)
    opts = {"percentiles": {"percentiles": (0.10, 0.50, 0.90),
                            "pctlranges": ((0, 2), (0, 1)),
                            "pctlquotients": ((0, 1), (2, 0))},
            "means": {"timeNorm": "segment"},
            "times": {"timeNorm": "frames"}}
    fams = ["means", "percentiles", "times"]
    bat = compute_batched(x, starts, ends, fams, opts)
    assert "pctlquotient0-1" in bat and "pctlquotient2-0" in bat
    for gi, (s, e) in enumerate(zip(starts, ends)):
        want = compute_all(x[s:e], fams, opts)
        for k, v in want.items():
            assert np.isclose(float(bat[k][gi]), v, rtol=1e-9,
                              atol=1e-12), (gi, k)


def test_bank_keeps_family_batched_with_supported_options(spark):
    """eGeMAPS-style custom percentile options through the Spark kernel
    bank equal the per-group kernel."""
    from opensmile_spark.functionals import functionals_kernel
    from tests.conftest import make_conv

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = make_conv(spark, "a", vals)
    opts = {"percentiles": {"percentiles": (0.10, 0.50, 0.90),
                            "pctlquotients": ((0, 1),)}}
    row = functionals_kernel(df, ["x"], ("conv_id",),
                             families=["percentiles"],
                             options=opts).collect()[0]
    want = compute_all(np.array(vals), ["percentiles"], opts)
    for k, v in want.items():
        assert np.isclose(row[f"x_{k}"], v), k


def test_batched_rejects_empty_groups():
    with pytest.raises(ValueError):
        compute_batched(np.arange(4.0), np.array([0, 2]), np.array([2, 2]),
                        ["means"])


def test_legacy_peaks_family():
    """f_peaks (functionalPeaks.cpp hysteresis automaton): hand-traced
    sequences + quirk pins (empty dist list -> meanPeakDist = N+1;
    lastMin/lastMax init 0)."""
    from opensmile_spark.functionals.kernels import compute_all as ca

    # no peaks at all (monotone): nPeaks=0, meanPeakDist = N+1
    x = np.arange(10.0)
    out = ca(x, ["peaks"])
    assert out["numPeaks"] == 0.0
    assert out["meanPeakDist"] == 11.0
    assert out["peakMean"] == 0.0
    assert out["peakMeanMeanDist"] == -x.mean()
    # QUIRK pin: lastMax is set to in[i] (the value AFTER the local max,
    # functionalPeaks.cpp:139), so a sharp peak dropping straight to ~0
    # never arms the 0.11*range hysteresis -> zero peaks
    x = np.array([0.0, 2.0, 10.0, 1.0, 0.5, 0.2, 0.1, 0.0])
    out = ca(x, ["peaks"])
    assert out["numPeaks"] == 0.0
    # a shoulder peak (high value after the max) arms and fires on the drop:
    # max at i=3 (lastVal=10 > 9), lastMax=in[3]=9, fires at in[4]=1 < 8.1
    x = np.array([0.0, 5.0, 10.0, 9.0, 1.0, 0.0])
    out = ca(x, ["peaks"])
    assert out["numPeaks"] == 1.0
    assert out["peakMean"] == 9.0
    assert out["meanPeakDist"] == 7.0  # no dist pairs -> N+1
    # two such peaks -> one distance (8-3=5), stddev 0
    x = np.array([0.0, 5.0, 10.0, 9.0, 1.0, 0.0, 5.0, 10.0, 9.0, 1.0, 0.0])
    out = ca(x, ["peaks"])
    assert out["numPeaks"] == 2.0
    assert out["peakMean"] == 9.0
    assert out["meanPeakDist"] == 5.0
    assert out["peakDistStddev"] == 0.0


def test_samples_truncation_indexing():
    """(int)((N-1)*p) truncates (functionalSamples.cpp:107) — e.g. N=3,
    p=0.25 -> idx 0 (round would give 1 at p=0.5... pin several)."""
    from opensmile_spark.functionals.kernels import compute_all as ca

    x = np.array([10.0, 20.0, 30.0])
    out = ca(x, ["samples"])
    assert out["samplepos0.25"] == 10.0   # int(2*0.25)=0, round() would be 0
    assert out["samplepos0.5"] == 20.0    # int(1.0)=1
    x = np.array([10.0, 20.0, 30.0, 40.0, 50.0, 60.0])
    out = ca(x, ["samples"])
    assert out["samplepos0.5"] == 30.0    # int(5*0.5)=int(2.5)=2 (NOT 3)
    assert out["samplepos0.75"] == 40.0   # int(3.75)=3
    assert out["samplepos1"] == 60.0


def test_pctlquotient_numerator_guard():
    """pctlquotient guards on the NUMERATOR only (functionalPercentiles.cpp:
    403-410) and ratio-limits the quotient (50, 100)."""
    from opensmile_spark.functionals.kernels import compute_all as ca

    opts = {"percentiles": {"percentiles": (0.0, 1.0),
                            "pctlranges": ((0, 1),),
                            "pctlquotients": ((1, 0), (0, 1))}}
    # x in [0, 5]: p0=0, p1=5 -> quotient p1/p0 = 5/0 -> inf -> ratioLimit
    # caps at limit1+excess=150; p0/p1 = 0 -> numerator guard -> 0
    x = np.array([0.0, 1.0, 2.0, 5.0])
    out = ca(x, ["percentiles"], opts)
    assert out["pctlquotient0-1"] == 0.0
    assert abs(out["pctlquotient1-0"] - 150.0) < 1e-9
    # in-range quotient passes through linearly
    x = np.array([2.0, 4.0])
    out = ca(x, ["percentiles"], opts)
    assert np.isclose(out["pctlquotient1-0"], 2.0)


@pytest.mark.parametrize("seed", [0, 1])
def test_expanding_equals_pergroup(seed):
    """Prefix-scan expanding path == per-window kernel for means/extremes,
    including ties (first-occurrence argmax/argmin) and all-zero prefixes."""
    from opensmile_spark.functionals.batched import compute_expanding

    rng = np.random.RandomState(seed)
    x = np.concatenate([
        rng.randn(50) * 10,
        np.zeros(5),
        np.array([3.0, 3.0, -3.0, -3.0]),     # ties for extrema positions
        rng.rand(40) * 1e5,
    ])
    his = np.unique(rng.randint(1, x.size + 1, 60))
    ex = compute_expanding(x, his, ["means", "extremes"])
    for gi, h in enumerate(his):
        want = compute_all(x[:h], ["means", "extremes"])
        for k, v in want.items():
            got = float(ex[k][gi])
            assert np.isclose(got, v, rtol=1e-9, atol=1e-12), (h, k, got, v)


def test_expanding_deep_blocks_mega_conversation():
    """The blocked-Chan cumulation across ~80 blocks (a 20k-turn mega
    conversation with epoch-scale drift) must stay pinned to the per-window
    kernel at sampled prefixes — the regime where per-block float error
    could accumulate if the merge were unstable."""
    from opensmile_spark.functionals.batched import compute_expanding

    rng = np.random.RandomState(11)
    n = 20_000
    x = 1.6e9 + np.cumsum(rng.randn(n) * 3.0) + 40.0 * rng.rand(n)
    his = np.unique(np.concatenate([
        np.array([1, 2, 3, 255, 256, 257, 512, 513]),
        rng.randint(1, n + 1, 20), np.array([n])]))
    fams = ["means", "extremes", "moments", "percentiles"]
    ex = compute_expanding(x, his, fams)
    scale = float(np.abs(x).max())
    for gi, h in enumerate(his):
        want = compute_all(x[:h], fams)
        for k, v in want.items():
            if k in ("stddevNorm", "coeffOfVariation"):
                # reference formula divides by the mean WHEN nonzero — a
                # discontinuity any summation-order difference can flip when
                # the mean cancels to ~ulp scale; exclude that knife edge
                sabs = float(np.abs(x[:h]).sum())
                if abs(float(np.sum(x[:h]))) < 1e-12 * max(sabs, 1e-300):
                    continue
            got = float(ex[k][gi])
            assert np.isclose(got, v, rtol=1e-7, atol=1e-8 * scale), \
                (h, k, got, v)


@pytest.mark.parametrize("case", ["randn", "epoch_offset", "constant",
                                  "linear", "quadratic", "drift"])
def test_expanding_moments_regression_equals_pergroup(case):
    """Blocked-Chan expanding path == per-window kernel for moments and
    percentiles, including the classic killers of raw-moment expansion:
    epoch-scale offsets, constant prefixes, exact linear and quadratic
    contours, and slow drift. Spans several Chan blocks (N > 3*B) and
    pins the N=1/N=2 guards. Regression has no expanding form: backfill
    gathers it, and compute_expanding refuses it."""
    from opensmile_spark.functionals.batched import compute_expanding

    rng = np.random.RandomState(7)
    n = 900                                    # > 3 blocks of 256
    i = np.arange(n, dtype=np.float64)
    x = {
        "randn": rng.randn(n) * 10,
        # 1.7e9-scale mean, unit variance: raw expansion loses ~all digits
        "epoch_offset": 1.7e9 + rng.randn(n),
        "constant": np.full(n, 123.25),
        "linear": 3.0 * i - 40.0,
        "quadratic": 0.5 * i * i - 2.0 * i + 7.0,
        "drift": 1e4 + np.cumsum(rng.randn(n)),
    }[case]
    his = np.unique(np.concatenate([
        np.array([1, 2, 3, 4]), rng.randint(1, n + 1, 50), np.array([n])]))
    fams = ["moments", "percentiles"]
    ex = compute_expanding(x, his, fams)
    for gi, h in enumerate(his):
        want = compute_all(x[:h], fams)
        scale = max(abs(float(x[:h].max())), abs(float(x[:h].min())), 1.0)
        for k, v in want.items():
            if k in ("stddevNorm", "coeffOfVariation"):
                # reference formula divides by the mean WHEN nonzero — a
                # discontinuity any summation-order difference can flip when
                # the mean cancels to ~ulp scale; exclude that knife edge
                sabs = float(np.abs(x[:h]).sum())
                if abs(float(np.sum(x[:h]))) < 1e-12 * max(sabs, 1e-300):
                    continue
            got = float(ex[k][gi])
            assert np.isclose(got, v, rtol=1e-8, atol=1e-9 * scale), \
                (case, h, k, got, v)
    with pytest.raises(ValueError, match="regression"):
        compute_expanding(x, his, ["moments", "regression"])


@pytest.mark.parametrize("opts", [
    {"timeNorm": "second", "T": 0.25},
    {"timeNorm": "segment"},
    {"relThresh": 0.02},                      # near-zero: many extrema live
    {"relThresh": 0.45},                      # high: most extrema culled
    {"dynRelThresh": True, "relThresh": 0.1},
    {"absThreshIn": 1.5},
    {"doRatioLimit": True},
    {"dynRelThresh": True, "relThresh": 0.3, "doRatioLimit": True,
     "timeNorm": "second", "T": 0.1},
])
def test_peaks2_batched_option_sweep(opts):
    """peaks2 is batched under EVERY option combination — sweep each
    branch of the automaton's thresholding (static/dynamic/absolute),
    ratio limiting, and time normalization against the per-group kernel,
    on series dense in local extrema (the regime where pass-2a/2b/3
    culling decisions diverge fastest if any lane-parallel branch is
    wrong)."""
    rng = np.random.RandomState(42)
    chunks, sizes = [], []
    for gi in range(50):
        n = rng.randint(1, 80)
        kind = gi % 4
        if kind == 0:
            arr = np.sin(np.arange(n) * 1.1) * 5 + rng.randn(n)  # oscillating
        elif kind == 1:
            arr = rng.randn(n) * 0.01 + 3.0        # tiny range (thresh edge)
        elif kind == 2:
            arr = np.zeros(n)                      # constant -> range 0
        else:
            arr = rng.randn(n) * 10
            arr[rng.rand(n) < 0.3] = 0.0           # plateaus break extrema
        chunks.append(arr.astype(float))
        sizes.append(n)
    x = np.concatenate(chunks)
    ends = np.cumsum(sizes).astype(np.int64)
    starts = ends - np.array(sizes, dtype=np.int64)
    bat = compute_batched(x, starts, ends, ["peaks2"], {"peaks2": opts})
    for gi, (s, e) in enumerate(zip(starts, ends)):
        want = compute_all(x[s:e], ["peaks2"], {"peaks2": opts})
        for k, v in want.items():
            got = float(bat[k][gi])
            assert np.isclose(got, v, rtol=1e-10, atol=1e-12), (
                f"group {gi} (n={e - s}) opts={opts} {k}: "
                f"batched={got} pergroup={v}")


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_segments_onset_automaton_reduction(seed):
    """Adversarial pin for the round-4 run-length reductions of the
    segments and onset automatons: sparse/zero-heavy series whose gap and
    run lengths cluster AROUND the thresholds (pauseMinLng=2, segMinLng=3),
    where any off-by-one in the cluster algebra flips a segment."""
    rng = np.random.RandomState(seed)
    chunks, sizes = [], []
    for _ in range(60):
        n = rng.randint(1, 40)
        # alternating runs of matches/zeros with lengths 1..4 (straddling
        # both thresholds), occasionally negative values (still matches)
        parts, is_match = [], rng.rand() < 0.5
        while sum(len(p) for p in parts) < n:
            ln = rng.randint(1, 5)
            parts.append((rng.randn(ln) + 2.0) * (1 if is_match else 0.0)
                         if is_match else np.zeros(ln))
            is_match = not is_match
        arr = np.concatenate(parts)[:n]
        # sprinkle sign flips so onset rising/falling edges differ from
        # segment match edges
        flip = rng.rand(n) < 0.2
        arr = np.where(flip, -arr, arr)
        chunks.append(arr)
        sizes.append(n)
    x = np.concatenate(chunks)
    ends = np.cumsum(sizes).astype(np.int64)
    starts = ends - np.array(sizes, dtype=np.int64)
    bat = compute_batched(x, starts, ends, ["segments", "onset"])
    for gi, (s, e) in enumerate(zip(starts, ends)):
        want = compute_all(x[s:e], ["segments", "onset"])
        for k, v in want.items():
            got = float(bat[k][gi])
            assert np.isclose(got, v, rtol=1e-12, atol=1e-12), (
                f"group {gi} (n={e - s}) {k}: batched={got} pergroup={v} "
                f"series={x[s:e].tolist()}")


@pytest.mark.parametrize("kind", ["walk", "plateau", "const", "zeros",
                                  "tiny", "spiky"])
def test_lag_and_spectral_families_match_kernels(kind):
    """Round-4d batched families (lpc/acf/amdf via masked lag sums,
    modulation via one batched rfft) against the per-group kernels, over
    shape-adversarial inputs: plateaus (ties), constants (rng=0, r0!=0),
    all-zeros (r0==0 early-exit), 1-4 element groups (N <= order / N <=
    lag), and heavy-tailed spikes."""
    rng = np.random.RandomState(hash(kind) % 2**31)
    fams = ["lpc", "acf", "amdf", "modulation"]
    xs, sizes = [], []
    for _ in range(50):
        n = rng.randint(1, 5) if kind == "tiny" else rng.randint(1, 120)
        v = rng.randn(n)
        if kind == "walk":
            v = np.cumsum(v)
        elif kind == "plateau":
            v = np.round(v * 2) / 2.0
        elif kind == "const":
            v = np.full(n, float(rng.randint(-2, 3)))
        elif kind == "zeros":
            v = np.zeros(n)
        elif kind == "spiky":
            v[rng.rand(n) < 0.3] *= 50
        xs.append(v)
        sizes.append(n)
    x = np.concatenate(xs)
    ends = np.cumsum(sizes).astype(np.int64)
    starts = ends - np.array(sizes, dtype=np.int64)
    bat = compute_batched(x, starts, ends, fams, {})
    for gi, (s, e) in enumerate(zip(starts, ends)):
        want = compute_all(x[s:e], fams, {})
        for k, v in want.items():
            got = float(bat[k][gi])
            assert np.isclose(got, v, rtol=1e-9, atol=1e-12), (
                f"group {gi} (n={e - s}) kind={kind} {k}: "
                f"batched={got} pergroup={v}")


@pytest.mark.parametrize("fams,opts", [
    (["lpc"], {"lpc": {"order": 8}}),
    (["lpc"], {"lpc": {"order": 1}}),
    (["acf"], {"acf": {"max_lag": 7, "normalize": False}}),
    (["amdf"], {"amdf": {"max_lag": 9}}),
    (["modulation"], {"modulation": {"fft_win": 32, "n_bins": 4,
                                     "min_freq": 0.0, "max_freq": 0.5}}),
    (["peaks"], {"peaks": {"timeNorm": "second", "T": 0.01}}),
    (["peaks"], {"peaks": {"timeNorm": "segment"}}),
    # the peaks/peaks2 name collision must resolve first-REQUESTED-wins
    (["peaks", "peaks2"], {}),
    (["peaks2", "peaks"], {}),
])
def test_lag_families_options_and_peaks_collision(fams, opts):
    rng = np.random.RandomState(17)
    for trial in range(4):
        sizes = rng.randint(1, 150, size=25)
        xs = [np.cumsum(rng.randn(n)) if trial % 2 == 0
              else np.round(rng.randn(n), 1) for n in sizes]
        x = np.concatenate(xs)
        ends = np.cumsum(sizes).astype(np.int64)
        starts = ends - sizes.astype(np.int64)
        bat = compute_batched(x, starts, ends, fams, opts)
        for gi, (s, e) in enumerate(zip(starts, ends)):
            want = compute_all(x[s:e], fams, opts)
            for k, v in want.items():
                got = float(bat[k][gi])
                assert np.isclose(got, v, rtol=1e-9, atol=1e-12), (
                    f"group {gi} (n={e - s}) fams={fams} {k}: "
                    f"batched={got} pergroup={v}")


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5, 6, 7])
def test_peaks_legacy_automaton_lattice(seed):
    """Adversarial pin for the legacy f_peaks lattice transcription: series
    engineered so close events fire INSIDE inter-detection runs (slow
    descents through the 0.09*rng hysteresis), at detection indices, and
    via the forced i == N-1 close; plateaus suppress detections while the
    per-element close check keeps running."""
    rng = np.random.RandomState(seed)
    xs, sizes = [], []
    for _ in range(80):
        n = rng.randint(1, 60)
        style = rng.randint(4)
        if style == 0:        # triangle waves: many arm/close cycles
            v = np.abs(((np.arange(n) * rng.uniform(0.2, 2.0)) % 7) - 3.5)
        elif style == 1:      # slow descent after one sharp peak
            v = np.concatenate([np.linspace(0, 10, max(n // 4, 1)),
                                np.linspace(10, 0, n)])[:n]
        elif style == 2:      # plateau-heavy quantized walk
            v = np.round(np.cumsum(rng.randn(n)))
        else:                 # noise
            v = rng.randn(n) * rng.uniform(0.1, 5.0)
        xs.append(v.astype(np.float64))
        sizes.append(n)
    x = np.concatenate(xs)
    ends = np.cumsum(sizes).astype(np.int64)
    starts = ends - np.array(sizes, dtype=np.int64)
    bat = compute_batched(x, starts, ends, ["peaks"], {})
    for gi, (s, e) in enumerate(zip(starts, ends)):
        want = compute_all(x[s:e], ["peaks"], {})
        for k, v in want.items():
            got = float(bat[k][gi])
            assert np.isclose(got, v, rtol=1e-12, atol=1e-12), (
                f"group {gi} (n={e - s}) {k}: batched={got} pergroup={v} "
                f"series={x[s:e].tolist()}")


@pytest.mark.parametrize("fams,opts", [
    (["lsp"], {}),
    (["lsp"], {"lsp": {"order": 6}}),
    (["formants"], {}),
    (["formants"], {"formants": {"order": 4, "n_formants": 2, "T": 0.5}}),
])
def test_lsp_formants_companion_eigvals_match_roots(fams, opts):
    """lsp/formants batched via stacked companion eigvals: both
    polynomials carry leading coefficient 1 (and lsp trailing +-1), so
    np.roots' trim path never fires and per-group results match the
    kernels to eigensolver precision (residual ulp differences come from
    the batched autocorrelation input, bounded ~1e-12 relative)."""
    rng = np.random.RandomState(31)
    for trial in range(5):
        sizes = rng.randint(1, 120, size=30)
        xs = [np.cumsum(rng.randn(n)) if trial % 2 == 0
              else np.zeros(n) if trial == 3 else rng.randn(n)
              for n in sizes]
        x = np.concatenate(xs)
        ends = np.cumsum(sizes).astype(np.int64)
        starts = ends - sizes.astype(np.int64)
        bat = compute_batched(x, starts, ends, fams, opts)
        for gi, (s, e) in enumerate(zip(starts, ends)):
            want = compute_all(x[s:e], fams, opts)
            for k, v in want.items():
                got = float(bat[k][gi])
                assert np.isclose(got, v, rtol=1e-9, atol=1e-12), (
                    f"group {gi} (n={e - s}) fams={fams} {k}: "
                    f"batched={got} pergroup={v}")


def test_expanding_select_dense_matches(monkeypatch):
    """The dense small-input path of _expanding_select must return the
    SAME BITS as the coarse-matrix machinery (both select elements via
    stable ranks; selection performs no float op) — adversarial ties,
    -0.0/0.0 mixes, and NaN included, since the driver's byte hash
    distinguishes -0.0 from 0.0. Both paths return float64, float32
    input included. With W=8 buckets the machinery's paired scan serves
    both i1 == i2 pairs and pairs whose second rank lies in the next
    bucket (rescanned)."""
    from opensmile_spark.functionals import batched

    def next_bucket(x, his, t1, t2, W):
        g = np.empty(x.size, dtype=np.int64)
        g[np.argsort(x, kind="stable")] = np.arange(x.size)
        return sum(int(r[a - 1] // W != r[b - 1] // W) for r, a, b in
                   ((np.sort(g[:h]), a, b) for h, a, b in zip(his, t1, t2)))

    rng = np.random.RandomState(23)
    same = far = 0
    for n in (1, 2, 7, 66, 250, 700):
        cases = [rng.rand(n)]
        tie = np.repeat(rng.rand(max(1, n // 4)), 4)[:n].copy()
        cases.append(tie)
        z = rng.rand(n).copy()
        z[::3] = 0.0
        z[1::4] = -0.0
        cases.append(z)
        nanx = rng.rand(n).copy()
        nanx[::5] = np.nan
        cases.append(nanx)
        cases.append(rng.rand(n).astype(np.float32))
        for x in cases:
            his = np.arange(1, x.size + 1, dtype=np.int64)
            ranks = []
            for p in (0.25, 0.5, 0.75, 0.2, 0.8):
                idxf = p * (his.astype(float) - 1.0)
                ranks.append((
                    np.clip(np.floor(idxf).astype(np.int64), 0, his - 1) + 1,
                    np.clip(np.ceil(idxf).astype(np.int64), 0, his - 1) + 1))
            monkeypatch.setattr(batched, "_SELECT_DENSE_CUTOFF", 1 << 60)
            dense = batched._expanding_select(batched._Convs([x], [his]),
                                              ranks)
            for B, W in ((batched._CHAN_B, 256), (16, 8)):
                machinery = batched._coarse_select(x, his, ranks, B=B, W=W)
                for d, m in zip(dense, machinery):
                    for dv, mv in zip(d, m):
                        assert dv.dtype == mv.dtype == np.float64, (n, x.dtype)
                        assert dv.tobytes() == mv.tobytes(), (n, W, x[:8])
            if x.dtype == np.float64:
                for t1, t2 in ranks:
                    same += int((t1 == t2).sum())
                    far += next_bucket(x, his, t1, t2, 8)
    assert same > 0 and far > 0, (same, far)


def test_expanding_block_equals_alone():
    """compute_expanding over one block of conversations gives each
    conversation exactly the bits of calling it on that conversation
    alone: nothing accumulates across a conversation edge. Lengths around
    the 256-row Chan block and one conversation long enough for the
    coarse order-statistic path; ties, NaN, +-0.0 and a 1e9 offset."""
    from opensmile_spark.functionals import batched
    from opensmile_spark.functionals.batched import compute_expanding

    rng = np.random.RandomState(5)
    lens = (1, 2, 39, 255, 256, 257, 511, 512, 513, 600, 5000)
    xs, hs = [], []
    for i, n in enumerate(lens):
        x = np.round(rng.randn(n) * 3.0)               # ties
        x[i % 3::7] = 0.0
        x[(i + 1) % 5::9] = -0.0
        x[(i + 2) % 4::13] = np.nan
        if i % 2:
            x = x + 1e9
        xs.append(x)
        h = [v for v in (1, 256, 257, 512, 513, n) if v <= n]
        h += list(rng.randint(1, n + 1, 6 if n < 5000 else 40))
        hs.append(np.array(h, dtype=np.int64))
    # the long conversation takes the coarse select, the others the dense
    assert lens[-1] * hs[-1].size > batched._SELECT_DENSE_CUTOFF
    fams = ["means", "moments", "extremes", "percentiles"]
    block = compute_expanding(xs, hs, fams)
    pos = 0
    for x, h in zip(xs, hs):
        alone = compute_expanding(x, h, fams)
        assert list(alone) == list(block)
        for k, v in alone.items():
            assert v.tobytes() == block[k][pos:pos + h.size].tobytes(), (
                x.size, k)
        pos += h.size
    assert pos == block["amean"].size


# --- the family router (batched.output_keys / batched.compute_groups) ------

ROUTER_CASES = [
    (["peaks", "peaks2"], None),
    (["peaks2", "peaks"], None),
    # onset with a threshold and eqX segments, mixed with families that
    # share keys (amean)
    (["means", "onset", "crossings", "percentiles"],
     {"onset": {"thresholdOnset": 1.0, "thresholdOffset": 0.5}}),
    (["segments", "means", "peaks2", "regression"],
     {"segments": {"algorithm": "eqX", "X": 0.0}}),
    # a family requested first owns the shared key (amean)
    (["moments", "means", "extremes"], {"moments": {"doRatioLimit": True}}),
]


@pytest.mark.parametrize("fams,opts", ROUTER_CASES)
def test_output_keys_is_compute_all_order(fams, opts):
    """Names in compute_all order."""
    from opensmile_spark.functionals.batched import output_keys

    x = np.random.RandomState(5).randn(17)
    keys = output_keys(fams, opts)
    assert isinstance(keys, tuple)
    assert list(keys) == list(compute_all(x, fams, opts))


@pytest.mark.parametrize("fams,opts", ROUTER_CASES)
def test_compute_groups_matches_pergroup(fams, opts):
    """Every key, in output_keys order, equals per-group compute_all."""
    from opensmile_spark.functionals.batched import (
        compute_groups, output_keys,
    )

    rng = np.random.RandomState(9)
    x, starts, ends = make_groups(rng)
    got = compute_groups(x, starts, ends, fams, opts)
    assert tuple(got) == output_keys(fams, opts)
    for gi, (s, e) in enumerate(zip(starts, ends)):
        want = compute_all(x[s:e], fams, opts)
        for k, v in want.items():
            g = got[k][gi]
            assert got[k].dtype == np.float64
            assert np.isclose(g, v, rtol=1e-8, atol=1e-10), (gi, k, g, v)


# explicit defaults, as presets.egemaps_style and smileconf write them
DEFAULT_OPTION_CASES = [
    (["segments"], {"segments": {"algorithm": "nonX", "X": 0.0}}),
    (["moments"], {"moments": {"doRatioLimit": False}}),
    (["percentiles"], {"percentiles": {"interp": True}}),
]


@pytest.mark.parametrize("fams,opts", DEFAULT_OPTION_CASES)
def test_explicit_default_options_stay_batched(fams, opts):
    """An option set to its kernels.py default changes nothing: every key
    keeps the bits of the call without it."""
    from opensmile_spark.functionals.batched import compute_groups

    x, starts, ends = make_groups(np.random.RandomState(4))
    got = compute_groups(x, starts, ends, fams, opts)
    want = compute_groups(x, starts, ends, fams)
    assert list(got) == list(want)
    for k, v in want.items():
        assert got[k].tobytes() == v.tobytes(), k


# --- every kernel option is batched ---------------------------------------

# settings for the timeNorm/T parameters every kernel takes (most ignore them)
TIME_CASES = [{"timeNorm": tn} for tn in ("frames", "segment", "second")] + [
    {"T": 0.25}, {"timeNorm": "second", "T": 0.25},
    {"timeNorm": "segment", "T": 4.0}]

# one or more option sets per (family, parameter) of the kernels.FAMILIES
# signatures, each setting that parameter to a non-default value
OPTION_CASES = {
    ("moments", "doRatioLimit"): [{"doRatioLimit": True}],
    ("extremes", "T"): [{"timeNorm": "second", "T": 0.25},
                        {"timeNorm": "second", "T": 0.0}],
    ("percentiles", "percentiles"): [
        {"percentiles": (0.0, 0.1, 0.5, 0.9, 1.0)}],
    ("percentiles", "pctlranges"): [{"pctlranges": ((0, 2), (1, 2), (2, 0))}],
    ("percentiles", "pctlquotients"): [
        {"pctlquotients": ((0, 1), (2, 0), (1, 1))},
        {"percentiles": (0.0, 0.05, 1.0), "pctlquotients": ((2, 1), (0, 2))}],
    ("percentiles", "interp"): [
        {"interp": False},
        {"interp": False, "percentiles": (0.1, 0.3, 0.7, 0.9),
         "pctlquotients": ((3, 0),)}],
    ("regression", "quadratic"): [{"quadratic": False},
                                  {"quadratic": False, "qregExtras": True}],
    ("regression", "oldBuggyQerr"): [{"oldBuggyQerr": True}],
    ("regression", "qregExtras"): [{"qregExtras": True},
                                   {"qregExtras": True, "oldBuggyQerr": True}],
    ("times", "timeNorm"): [{"timeNorm": "frames"}, {"timeNorm": "second"}],
    ("times", "T"): [{"timeNorm": "second", "T": 0.25}, {"T": 0.25}],
    ("times", "buggySecNorm"): [
        {"timeNorm": "second", "T": 0.5, "buggySecNorm": True},
        {"buggySecNorm": True}],
    ("onset", "thresholdOnset"): [
        {"thresholdOnset": t, "thresholdOffset": 0.0}
        for t in (-1.0, -0.5, 0.5, 1.0)],
    ("onset", "thresholdOffset"): [
        {"thresholdOnset": t, "thresholdOffset": o}
        for t, o in ((0.0, -0.5), (1.0, 0.5), (0.5, 1.0), (-1.0, 1.0))],
    ("onset", "useAbsVal"): [
        {"useAbsVal": True},
        {"useAbsVal": True, "thresholdOnset": 1.0, "thresholdOffset": 0.5},
        {"useAbsVal": True, "thresholdOnset": -0.5,
         "thresholdOffset": 0.5}],
    ("segments", "algorithm"): [{"algorithm": "eqX"}, {"algorithm": "chX"}],
    ("segments", "X"): [{"X": 1.0}, {"X": -0.5},
                        {"algorithm": "eqX", "X": 2.0},
                        {"algorithm": "chX", "X": 1.0}],
    ("segments", "XisRel"): [
        {"XisRel": True, "X": 0.5},
        {"algorithm": "eqX", "XisRel": True, "X": 1.0},
        {"algorithm": "chX", "XisRel": True, "X": 0.25}],
    ("segments", "segMinLng"): [{"segMinLng": v} for v in (0, 1, 2, 5)] + [
        {"algorithm": "eqX", "segMinLng": 1},
        {"algorithm": "chX", "segMinLng": 2}],
    ("segments", "pauseMinLng"): [{"pauseMinLng": v} for v in (0, 1, 3)] + [
        {"algorithm": "eqX", "pauseMinLng": 1, "segMinLng": 2}],
    ("segments", "maxNumSeg"): [
        {"maxNumSeg": 2}, {"maxNumSeg": 1, "timeNorm": "frames"},
        {"algorithm": "chX", "maxNumSeg": 3}],
    ("segments", "useOldBuggyChX"): [
        {"useOldBuggyChX": True, "algorithm": a, "maxNumSeg": n}
        for a in ("nonX", "eqX", "chX") for n in (20, 4)],
    ("peaks2", "relThresh"): [{"relThresh": 0.02}, {"relThresh": 0.4}],
    ("peaks2", "dynRelThresh"): [{"dynRelThresh": True}],
    ("peaks2", "absThreshIn"): [{"absThreshIn": 0.5}],
    ("peaks2", "doRatioLimit"): [{"doRatioLimit": True}],
    ("samples", "positions"): [{"positions": (0.1, 0.5, 0.99)}],
    ("dct", "firstCoeff"): [{"firstCoeff": 0}],
    ("dct", "lastCoeff"): [{"lastCoeff": 3}, {"firstCoeff": 2,
                                              "lastCoeff": 9}],
    ("lpc", "order"): [{"order": 2}, {"order": 7}],
    ("lsp", "order"): [{"order": 2}, {"order": 6}],
    ("acf", "max_lag"): [{"max_lag": 9}],
    ("acf", "normalize"): [{"normalize": False}],
    ("amdf", "max_lag"): [{"max_lag": 9}],
    ("formants", "order"): [{"order": 4}, {"order": 8}],
    ("formants", "n_formants"): [{"n_formants": 5}],
    ("modulation", "fft_win"): [{"fft_win": 16}, {"fft_win": 128}],
    ("modulation", "n_bins"): [{"n_bins": 3}],
    ("modulation", "min_freq"): [{"min_freq": 0.0}],
    ("modulation", "max_freq"): [{"max_freq": 0.5}],
}


def _kernel_params():
    """(family, parameter) for every option of every kernels.FAMILIES
    signature (the five leading parameters are the shared pre-pass)."""
    import inspect

    return [(fam, p) for fam, fn in FAMILIES.items()
            for p in list(inspect.signature(fn).parameters)[5:]]


def _option_groups():
    """Groups of sizes 1, 2, 3 and up to 80: integer ties and zeros,
    rounded noise, zero-heavy runs, integer ramps and oscillations, with
    -0.0 sprinkled into every kind."""
    rng = np.random.RandomState(19)
    sizes = np.concatenate([[1, 2, 3, 1, 2, 3], rng.randint(1, 81, 64)])
    chunks = []
    for i, n in enumerate(sizes):
        kind = i % 5
        if kind == 0:
            v = rng.randint(-3, 4, n).astype(float)
        elif kind == 1:
            v = np.round(rng.randn(n) * 2.0, 1)
        elif kind == 2:
            v = np.where(rng.rand(n) < 0.5, 0.0, rng.randn(n))
        elif kind == 3:
            v = np.arange(n, dtype=float) * 2.0 - n
        else:
            v = np.sin(np.arange(n) * 0.7) * 3.0 + rng.randn(n) * 0.3
        v[rng.rand(n) < 0.15] = -0.0
        chunks.append(v)
    x = np.concatenate(chunks)
    ends = np.cumsum(sizes).astype(np.int64)
    return x, ends - sizes.astype(np.int64), ends


@pytest.mark.parametrize("fam,param", _kernel_params())
def test_every_kernel_option_is_batched(fam, param):
    """compute_groups is compute_batched's output alone, so every
    parameter of every kernel must be evaluated there: each option set
    equals the per-group kernel. A kernel parameter with no case fails
    here."""
    from opensmile_spark.functionals.batched import (
        compute_groups, output_keys,
    )

    cases = (TIME_CASES if param in ("timeNorm", "T") else []) \
        + OPTION_CASES.get((fam, param), [])
    assert cases, f"no option case for {fam}.{param}"
    x, starts, ends = _option_groups()
    for opts in cases:
        options = {fam: opts}
        got = compute_groups(x, starts, ends, [fam], options)
        bat = compute_batched(x, starts, ends, [fam], options)
        assert tuple(got) == output_keys([fam], options)
        for k, v in got.items():
            assert v.tobytes() == bat[k].tobytes(), (opts, k)
        for gi, (s, e) in enumerate(zip(starts, ends)):
            for k, v in compute_all(x[s:e], [fam], options).items():
                assert np.isclose(got[k][gi], v, rtol=1e-8, atol=1e-10), (
                    opts, gi, x[s:e].tolist(), k, got[k][gi], v)


def test_misspelled_option_raises():
    """An option name no kernel takes raises TypeError, as compute_all
    does, instead of being ignored."""
    from opensmile_spark.functionals.batched import compute_groups

    x, starts, ends = _option_groups()
    with pytest.raises(TypeError):
        compute_groups(x, starts, ends, ["means", "onset"],
                       {"onset": {"thresholdOnSet": 1.0}})


@pytest.mark.parametrize("fam", FAMS)
def test_zero_groups_every_family(fam):
    """A call with no groups returns an empty float64 array for every key
    of the family, as a call with groups returns one value per group."""
    from opensmile_spark.functionals.batched import (
        compute_groups, output_keys,
    )

    empty = np.empty(0, dtype=np.int64)
    got = compute_groups(np.empty(0), empty, empty, [fam])
    assert tuple(got) == output_keys([fam])
    for k, v in got.items():
        assert v.dtype == np.float64 and v.shape == (0,), k


def _expanding_cases():
    """(family, options) for every family compute_expanding takes: its
    defaults, then every option case of its kernel's parameters."""
    from opensmile_spark.functionals.batched import EXPANDING_FAMILIES

    out = []
    for fam in sorted(EXPANDING_FAMILIES):
        cases = [None]
        for f, p in _kernel_params():
            if f == fam:
                cases += [{fam: o} for o in (
                    (TIME_CASES if p in ("timeNorm", "T") else [])
                    + OPTION_CASES.get((f, p), [])) if {fam: o} not in cases]
        out += [pytest.param(fam, o, id=f"{fam}-{i}")
                for i, o in enumerate(cases)]
    return out


@pytest.mark.parametrize("fam,opts", _expanding_cases())
def test_expanding_family_emits_every_key(fam, opts):
    """Backfill routes by family: a family in EXPANDING_FAMILIES takes
    compute_expanding alone, so compute_expanding must return every key
    compute_all emits for it, under each option, and match it on sampled
    prefixes (a 600-value conversation crosses two Chan blocks)."""
    from opensmile_spark.functionals.batched import compute_expanding

    x, starts, ends = _option_groups()
    xs = [x[s:e] for s, e in zip(starts, ends)]
    xs.append(np.round(np.random.RandomState(3).randn(600) * 4.0, 1) + 1e6)
    edges = np.array([1, 2, 3, 255, 256, 257, 512, 513])
    hs = [np.unique(np.concatenate([edges[edges <= v.size], [v.size],
                                    np.arange(4, v.size, 5)])) for v in xs]
    ex = compute_expanding(xs, hs, [fam], opts)
    pos = 0
    for v, h in zip(xs, hs):
        for gi, n in enumerate(h):
            want = compute_all(v[:n], [fam], opts)
            assert list(ex) == list(want)
            scale = max(float(np.abs(v[:n]).max()), 1.0)
            for k, w in want.items():
                if k in ("stddevNorm", "coeffOfVariation") and \
                        abs(float(v[:n].sum())) < 1e-12 * scale * n:
                    continue      # the kernel's divide-when-nonzero edge
                got = ex[k][pos + gi]
                assert np.isclose(got, w, rtol=1e-8, atol=1e-9 * scale), (
                    opts, v[:n].tolist(), k, got, w)
        pos += h.size
