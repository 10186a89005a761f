"""cWindower — the reference's 11 window functions as Spark operators.

Weight formulas are faithful transcriptions of smileDsp_win*
(/root/reference/src/smileutil/smileUtil.c): all use the symmetric N-1
denominator except Triangle (uses N, and the squared variant is Triangle^2
per smileDsp_winTrP... Tri here). Defaults mirror cWindower::myFetchConfig
(/root/reference/src/dspcore/windower.cpp:40-112): gauss sigma=0.4,
blackman alpha=0.16 (alpha0=(1-a)/2, alpha1=0.5, alpha2=a/2),
blackman-harris (0.35875, 0.48829, 0.14128, 0.01168),
bartlett-hann (0.62, 0.48, 0.38). `squareRoot` option (windower.cpp:48)
takes sqrt of the weights (root-raised-cosine et al).

Two Spark surfaces:
  apply_window   multiply a framed array column element-wise with the
                 weight vector (the literal cWindower contract: framer ->
                 windower) — zip_with over literal weights, zero Python.
  weighted_sma   recency weighting as a trailing-window smoother: one
                 window spec, a sum of lag() terms with literal weights —
                 the "windowed mean with a shaped kernel" an analytics user
                 actually asks for. Emits null until the window is full
                 (frames before L-1 have no complete window).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def window_weights(func: str, N: int, sigma: float = 0.4,
                   alpha: float = 0.16, alphas=None,
                   square_root: bool = False) -> np.ndarray:
    """Weight vector of length N for the named window function."""
    i = np.arange(N, dtype=np.float64)
    NN = float(N)
    f = func.lower()
    if f in ("rectangular", "rec"):
        w = np.ones(N)
    elif f in ("hanning", "hann", "han"):
        w = 0.5 * (1.0 - np.cos(2.0 * math.pi * i / (NN - 1.0)))
    elif f in ("hamming", "ham"):
        w = 0.54 - 0.46 * np.cos(2.0 * math.pi * i / (NN - 1.0))
    elif f in ("triangular", "tri", "powtriangular", "trp"):
        w = np.where(i < N // 2, 2.0 * (i + 1.0) / NN, 2.0 * (NN - i) / NN)
        if f in ("powtriangular", "trp"):
            w = w * w
    elif f in ("bartlett", "bar"):
        w = np.where(i < N // 2, 2.0 * i / (NN - 1.0),
                     2.0 * (NN - 1.0 - i) / (NN - 1.0))
    elif f in ("sine", "cosine", "sin"):
        w = np.sin(math.pi * i / (NN - 1.0))
    elif f in ("gauss", "gau"):
        t = (i - (NN - 1.0) / 2.0) / (sigma * (NN - 1.0) / 2.0)
        w = np.exp(-0.5 * t * t)
    elif f in ("blackman", "bla"):
        a0, a1, a2 = ((1.0 - alpha) * 0.5, 0.5, alpha * 0.5) \
            if alphas is None else alphas
        t = 2.0 * math.pi * i / (NN - 1.0)
        w = a0 - a1 * np.cos(t) + a2 * np.cos(2.0 * t)
    elif f in ("blackman-harris", "blh"):
        a0, a1, a2, a3 = alphas or (0.35875, 0.48829, 0.14128, 0.01168)
        t = 2.0 * math.pi * i / (NN - 1.0)
        w = a0 - a1 * np.cos(t) + a2 * np.cos(2.0 * t) - a3 * np.cos(3.0 * t)
    elif f in ("bartlett-hann", "bah"):
        a0, a1, a2 = alphas or (0.62, 0.48, 0.38)
        w = (a0 - a1 * np.abs(i / (NN - 1.0) - 0.5)
             - a2 * np.cos(2.0 * math.pi * i / (NN - 1.0)))
    elif f in ("lanczos", "lac"):
        y = math.pi * (2.0 * i / (NN - 1.0) - 1.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            w = np.where(y != 0.0, np.sin(y) / y, 1.0)
    else:
        raise ValueError(f"unknown window function: {func}")
    if square_root:
        w = np.sqrt(np.maximum(w, 0.0))
    return w


def apply_window(df: DataFrame, frame_col: str, func: str = "hanning",
                 out_col: str | None = None, **kw) -> DataFrame:
    """Element-wise window weighting of a framed array column (the
    cFramer -> cWindower contract). Frame length is taken from the first
    non-null frame's static length — pass frames of uniform length."""
    n = df.select(F.size(F.col(frame_col)).alias("n")) \
        .filter(F.col("n") > 0).first()
    if n is None:
        return df.withColumn(out_col or frame_col + "_win",
                             F.col(frame_col))
    w = window_weights(func, int(n["n"]), **kw)
    wlit = F.array(*[F.lit(float(v)) for v in w])
    return df.withColumn(
        out_col or frame_col + "_win",
        F.zip_with(F.col(frame_col), wlit, lambda x, y: x * y),
    )


def weighted_sma(
    df: DataFrame,
    cols: list[str],
    length: int = 5,
    func: str = "hamming",
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    normalize: bool = True,
    suffix: str | None = None,
    **kw,
) -> DataFrame:
    """Trailing recency-weighted mean: out[t] = sum_j w[j] * x[t-L+1+j]
    (/ sum(w) when normalize). Null until a full window exists. One window
    spec, JVM-side lag sum — whole-stage-codegen friendly, no Python."""
    w = window_weights(func, length, **kw)
    denom = float(w.sum()) if normalize else 1.0
    suffix = suffix or f"_w{func[:3]}{length}"
    win = Window.partitionBy(*partition_cols).orderBy(order_col)
    out = df
    for c in cols:
        expr = None
        for j, wj in enumerate(w):
            term = F.lag(F.col(c), length - 1 - j).over(win) * F.lit(float(wj))
            expr = term if expr is None else expr + term
        out = out.withColumn(c + suffix, expr / F.lit(denom))
    return out
