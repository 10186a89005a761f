"""Window-operator parity vs a literal numpy transcription of the reference
loops (contourSmoother.cpp:84-116, deltaRegression.cpp:102-160) with
PAD_FIRST clamped boundaries."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensmile_spark.operators import delta_regression, sma, preemphasis
from tests.conftest import make_conv


def np_sma(x, win=3, no_zero=False):
    k = win // 2
    N = len(x)
    xc = lambda i: x[min(max(i, 0), N - 1)]  # noqa: E731  clamp = PAD_FIRST
    y = np.empty(N)
    for n in range(N):
        if no_zero:
            if x[n] == 0.0:
                y[n] = 0.0
                continue
            acc, cnt = x[n], 1
            for w in range(1, k + 1):
                if xc(n - w) != 0.0:
                    acc += xc(n - w)
                    cnt += 1
                if xc(n + w) != 0.0:
                    acc += xc(n + w)
                    cnt += 1
            y[n] = acc / cnt
        else:
            acc = x[n]
            for w in range(1, k + 1):
                acc += xc(n - w) + xc(n + w)
            y[n] = acc / win
    return y


def np_delta(x, dw=2):
    N = len(x)
    xc = lambda i: x[min(max(i, 0), N - 1)]  # noqa: E731
    if dw == 0:
        return np.array([x[n] - xc(n - 1) for n in range(N)])
    norm = 2.0 * sum(i * i for i in range(1, dw + 1))
    return np.array([
        sum(i * (xc(n + i) - xc(n - i)) for i in range(1, dw + 1)) / norm
        for n in range(N)
    ])


@pytest.mark.parametrize("win", [3, 5])
def test_sma_matches_reference_loop(spark, win):
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = sma(make_conv(spark, "c", vals), ["x"], win)
    got = np.array([r[f"x_sma{win}"] for r in
                    df.orderBy("turn_idx").collect()])
    assert np.allclose(got, np_sma(np.array(vals), win))


def test_sma_nozero(spark):
    vals = [0.0, 2.0, 0.0, 4.0, 6.0, 0.0, 8.0]
    df = sma(make_conv(spark, "c", vals), ["x"], 3, no_zero_sma=True)
    got = np.array([r["x_sma3nz"] for r in df.orderBy("turn_idx").collect()])
    assert np.allclose(got, np_sma(np.array(vals), 3, no_zero=True))
    assert got[0] == 0.0 and got[2] == 0.0 and got[5] == 0.0


@pytest.mark.parametrize("dw", [0, 1, 2])
def test_delta_matches_reference_loop(spark, dw):
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = delta_regression(make_conv(spark, "c", vals), ["x"], dw)
    got = np.array([r["x_de"] for r in df.orderBy("turn_idx").collect()])
    assert np.allclose(got, np_delta(np.array(vals), dw))


def test_delta_first_row_zero(spark):
    # deltawin=0 at n=0: x[0]-x[-1 clamped to 0] = 0
    df = delta_regression(make_conv(spark, "c", [5.0, 7.0]), ["x"], 0)
    rows = {r["turn_idx"]: r["x_de"] for r in df.collect()}
    assert rows[0] == 0.0 and rows[1] == 2.0


def test_preemphasis(spark):
    vals = [2.0, 4.0, 8.0]
    df = preemphasis(make_conv(spark, "c", vals), ["x"], k=0.5)
    got = [r["x_pe"] for r in df.orderBy("turn_idx").collect()]
    assert got == [2.0 - 0.5 * 2.0, 4.0 - 0.5 * 2.0, 8.0 - 0.5 * 4.0]


def test_multi_conv_isolation(spark):
    # smoothing must never mix conversations
    a = make_conv(spark, "a", [1.0, 1.0, 1.0])
    b = make_conv(spark, "b", [100.0, 100.0, 100.0])
    df = sma(a.unionByName(b), ["x"], 3)
    vals = {(r["conv_id"], r["turn_idx"]): r["x_sma3"] for r in df.collect()}
    assert all(v == 1.0 for k, v in vals.items() if k[0] == "a")
    assert all(v == 100.0 for k, v in vals.items() if k[0] == "b")


def test_median_smooth_even_window_raises(spark):
    from opensmile_spark.operators import median_smooth

    df = make_conv(spark, "a", [1.0, 2.0, 3.0])
    with pytest.raises(ValueError, match="odd"):
        median_smooth(df, ["x"], win=4)


def test_window_weights_reference_formulas():
    import numpy as np

    from opensmile_spark.operators import window_weights

    N = 9
    for f in ("rectangular", "hanning", "hamming", "triangular",
              "powtriangular", "bartlett", "sine", "gauss", "blackman",
              "blackman-harris", "bartlett-hann", "lanczos"):
        w = window_weights(f, N)
        assert w.shape == (N,) and np.isfinite(w).all(), f
    # smileDsp_winHan: 0.5*(1-cos(2*pi*i/(N-1))) — endpoint 0, centre 1
    han = window_weights("hanning", N)
    assert han[0] == 0.0 and np.isclose(han[(N - 1) // 2], 1.0)
    ham = window_weights("hamming", N)
    assert np.isclose(ham[0], 0.08) and np.isclose(ham[4], 1.0)
    # triangular uses N denominators (smileUtil.c winTri), bartlett N-1
    tri = window_weights("triangular", N)
    assert np.isclose(tri[0], 2.0 / N)
    bar = window_weights("bartlett", N)
    assert bar[0] == 0.0 and np.isclose(bar[4], 1.0)
    gau = window_weights("gauss", N, sigma=0.4)
    assert np.isclose(gau[4], 1.0) and gau[0] < gau[4]
    lac = window_weights("lanczos", N)
    assert np.isclose(lac[4], 1.0)   # sinc(0) = 1 at centre
    rrc = window_weights("hanning", N, square_root=True)
    assert np.allclose(rrc * rrc, han)


def test_apply_window_and_weighted_sma(spark):
    import numpy as np

    from opensmile_spark.operators import (
        apply_window, frame_vector, weighted_sma, window_weights,
    )
    from tests.conftest import make_conv

    vals = [float(v) for v in [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]]
    df = make_conv(spark, "a", vals)
    framed = frame_vector(df, "x", 3).filter(F.size("x_frame") == 3)
    win = apply_window(framed, "x_frame", "hanning").toPandas()
    w = window_weights("hanning", 3)
    for _, r in win.iterrows():
        assert np.allclose(np.array(r["x_frame_win"]),
                           np.array(r["x_frame"]) * w)

    sm = weighted_sma(df, ["x"], 3, "hamming").toPandas() \
        .sort_values("turn_idx")
    w3 = window_weights("hamming", 3)
    got = sm["x_wham3"].to_numpy()
    assert np.isnan(got[:2]).all()
    for t in range(2, len(vals)):
        want = float(np.dot(w3, vals[t - 2:t + 1]) / w3.sum())
        assert np.isclose(got[t], want)


def test_contour_direction_and_meta_segments(spark):
    import numpy as np

    from opensmile_spark.operators import contour_direction, segment_by_meta
    from tests.conftest import make_conv

    vals = [10.0, 10, 10, 10, 50, 80, 90, 10, 5, 2]
    df = contour_direction(make_conv(spark, "a", vals), "x",
                           st_frames=2, lt_frames=4).toPandas() \
        .sort_values("turn_idx")
    # zero-filled ring buffer: early frames divide by FULL length
    assert np.isclose(df["x_dirscore"].iloc[0], 10.0 / 2 - 10.0 / 4)
    assert df["x_direction"].iloc[5] == 1.0    # steep rise
    assert df["x_direction"].iloc[9] == -1.0   # steep fall

    meta = make_conv(spark, "a", [1.0] * 6).withColumn(
        "role", F.when(F.col("turn_idx") < 2, "u")
        .when(F.col("turn_idx") < 3, "a").otherwise("u"))
    seg = segment_by_meta(meta, "role").toPandas().sort_values("turn_idx")
    assert seg["meta_seg"].tolist() == [0, 0, 1, 2, 2, 2]
