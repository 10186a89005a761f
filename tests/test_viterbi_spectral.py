"""Viterbi smoother (DP optimality vs brute force), modulation family,
chX segments, spectral stats sanity."""

import itertools

import numpy as np
import pytest

from opensmile_spark.functionals.kernels import (
    f_modulation, f_segments, viterbi_smooth,
)


def brute_force_path(x, levels, jump_cost):
    best, best_cost = None, np.inf
    for path in itertools.product(range(len(levels)), repeat=len(x)):
        c = sum(abs(x[t] - levels[p]) for t, p in enumerate(path))
        c += jump_cost * sum(
            abs(levels[path[t]] - levels[path[t - 1]])
            for t in range(1, len(path)))
        if c < best_cost:
            best_cost, best = c, path
    return np.array([levels[p] for p in best]), best_cost


def test_viterbi_optimal_vs_brute_force():
    rng = np.random.RandomState(7)
    x = rng.rand(6) * 4
    out = viterbi_smooth(x, n_levels=4, jump_cost=0.8)
    levels = np.linspace(x.min(), x.max(), 4)
    want, want_cost = brute_force_path(x, levels, 0.8)
    got_cost = (np.abs(x - out).sum()
                + 0.8 * np.abs(np.diff(out)).sum())
    assert got_cost == pytest.approx(want_cost)


def test_viterbi_denoises_step_signal():
    rng = np.random.RandomState(1)
    clean = np.repeat([1.0, 8.0], 25)
    noisy = clean + rng.randn(50) * 0.2
    out = viterbi_smooth(noisy, n_levels=12, jump_cost=3.0)
    # smoothed signal has exactly one jump, near the true boundary
    jumps = np.flatnonzero(np.abs(np.diff(out)) > 1.0)
    assert len(jumps) == 1
    assert abs(jumps[0] - 24) <= 2


def test_viterbi_edge_cases():
    assert viterbi_smooth(np.array([])).size == 0
    assert np.allclose(viterbi_smooth(np.full(5, 3.0)), 3.0)


def test_modulation_detects_dominant_frequency():
    # contour oscillating with period 8 frames -> freq 0.125 cycles/frame
    x = np.sin(2 * np.pi * np.arange(64) / 8) * 2 + 5
    out = f_modulation(x, np.sort(x), x.min(), x.max(), x.mean(),
                       fft_win=64, n_bins=8, min_freq=0.03125,
                       max_freq=0.25)
    vals = list(out.values())
    # bin centers linspace(0.03125, 0.25, 8); 0.125 is bin index 3
    assert int(np.argmax(vals)) == 3
    # constant contour -> all ~0 (DC removed)
    c = np.full(64, 7.0)
    outc = f_modulation(c, np.sort(c), 7.0, 7.0, 7.0, fft_win=64)
    assert all(v == pytest.approx(0.0, abs=1e-12) for v in outc.values())


def test_segments_chx_counts_both_run_kinds():
    # alternating runs of zeros and non-zeros, all length 3
    x = np.array([0, 0, 0, 1, 1, 1, 0, 0, 0, 2, 2, 2], dtype=np.float64)
    out = f_segments(x, np.sort(x), 0.0, 2.0, x.mean(),
                     algorithm="chX", segMinLng=2, timeNorm="frames")
    # chX counts both X-runs and non-X runs as segments
    assert out["numSegments"] >= 2


def test_spectral_stats_spark(spark):
    from opensmile_spark.spectral import spectral_stats, token_spectrum
    from tests.conftest import make_conv

    df = make_conv(spark, "s", [1.0, 2.0]) \
        .withColumn("text", __import__("pyspark.sql.functions",
                                       fromlist=["lit"]).lit(
            "alpha beta gamma alpha beta alpha"))
    out = spectral_stats(token_spectrum(df, n_buckets=8)).collect()[0]
    # 3 distinct tokens over 8 buckets: entropy of (3,2,1)/6 distribution
    p = np.array([3, 2, 1]) / 6
    want_entropy = -(p * np.log2(p)).sum()
    assert out["spec_entropy"] == pytest.approx(want_entropy)
    assert out["spec_energy"] == pytest.approx(9 + 4 + 1)
    assert 0 <= out["spec_rolloff"] <= 7
    assert out["spec_flatness"] > 0


def test_viterbi_smooth_df_small_batches(spark):
    """viterbi_smooth_df at 64-row Arrow batches (conversations straddle
    batch edges): carried string and timestamp columns pass through
    unchanged and every conversation equals the driver-side smoother."""
    import pandas as pd
    from pyspark.sql import functions as F

    from opensmile_spark.operators import viterbi_smooth_df

    rng = np.random.RandomState(3)
    rows = []
    for k, n in (("a", 150), ("b", 7), ("c", 1), ("d", 90), ("e", 40)):
        for i in range(n):
            rows.append((k, i, float(rng.rand() * 10 + (i // 20) * 5),
                         f"{k}-{i}", 1_704_067_200.0 + 37.5 * i))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, x double, role string, "
              "epoch double") \
        .withColumn("ts", F.timestamp_seconds("epoch"))
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(conf, "64")
    try:
        out = viterbi_smooth_df(df, "x", n_levels=8, jump_cost=2.0,
                                carry_cols="all")
        got = out.toPandas()
    finally:
        spark.conf.set(conf, "10000")
    assert out.schema["role"].dataType.simpleString() == "string"
    assert out.schema["ts"].dataType.simpleString() == "timestamp"
    want = df.toPandas()
    key = ["conv_id", "turn_idx"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    for c in ("conv_id", "turn_idx", "x", "role", "epoch", "ts"):
        assert (got[c] == want[c]).all(), c
    for k, g in want.groupby("conv_id"):
        exp = viterbi_smooth(g["x"].to_numpy(), 8, 2.0)
        assert np.array_equal(got.loc[g.index, "x_vit"].to_numpy(), exp), k
    assert isinstance(got["ts"].iloc[0], pd.Timestamp)
