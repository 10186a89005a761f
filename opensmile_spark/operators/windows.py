"""Sliding-context operators — the cWindowProcessor family.

The reference's window processors read a block with `pre` lookback / `post`
lookahead rows; out-of-range reads are padded by repeating the first/last
frame (DMEM_PAD_FIRST default — /root/reference/src/core/dataMemoryLevel.cpp:
1686-1711, dataMemoryLevel.hpp:26-28; the window processor reads with a -pre
start offset, windowProcessor.cpp:117). In Spark that's lag/lead plus a
coalesce to the partition's first/last value (clamping an out-of-range index
to [0, N-1] always yields exactly the first/last frame).

All operators are pure built-in column expressions over a single
Window.partitionBy(conv).orderBy(order) — one shuffle for the whole LLD->
smoothed->delta chain, whole-stage codegen'd, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opensmile_spark.util import epoch_seconds, sql_double, sql_ident


def _w(partition_cols, order_col):
    return Window.partitionBy(*partition_cols).orderBy(order_col)


def _over(partition_cols, order_col, frame: str = "") -> str:
    keys = ", ".join(map(sql_ident, partition_cols))
    return f"OVER (PARTITION BY {keys} ORDER BY {sql_ident(order_col)}{frame})"


_WHOLE = " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"


def clamped_lag(col: str, i: int, partition_cols, order_col) -> str:
    """SQL text of x[n-i] with PAD_FIRST semantics (repeat first frame);
    `col` is a column name."""
    c = sql_ident(col)
    return (f"coalesce(lag({c}, {i}) {_over(partition_cols, order_col)}, "
            f"first({c}) {_over(partition_cols, order_col, _WHOLE)})")


def clamped_lead(col: str, i: int, partition_cols, order_col) -> str:
    """SQL text of x[n+i] with PAD_FIRST semantics at the end (repeat last
    frame); `col` is a column name."""
    c = sql_ident(col)
    return (f"coalesce(lead({c}, {i}) {_over(partition_cols, order_col)}, "
            f"last({c}) {_over(partition_cols, order_col, _WHOLE)})")


def sma(
    df: DataFrame,
    cols: list[str],
    sma_win: int = 3,
    no_zero_sma: bool = False,
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    suffix: str | None = None,
) -> DataFrame:
    """cContourSmoother (/root/reference/src/dspcore/contourSmoother.cpp:84-116).

    Centered moving average over an odd window, boundary frames clamped
    (PAD_FIRST). noZeroSma: zero inputs stay zero, zeros never enter the
    average (contourSmoother.cpp:92-103) — nameAppend 'sma'/'sma3nz' per the
    reference convention (GeMAPSv01b_core.lld.conf.inc sma usage).
    """
    if sma_win % 2 == 0:
        sma_win += 1
    suffix = suffix or (f"_sma{sma_win}nz" if no_zero_sma else f"_sma{sma_win}")
    # ONE withColumns call (a single Project node instead of a chain); each
    # column is one SQL text parsed once, not a Column tree built over one
    # py4j call per node
    return df.withColumns({
        c + suffix: F.expr(_sma_sql(c, sma_win, no_zero_sma,
                                    partition_cols, order_col))
        for c in cols
    })


def _sma_sql(c: str, sma_win: int, no_zero_sma: bool, partition_cols,
             order_col: str) -> str:
    neighbors = [sql_ident(c)]
    for i in range(1, sma_win // 2 + 1):
        neighbors.append(clamped_lag(c, i, partition_cols, order_col))
        neighbors.append(clamped_lead(c, i, partition_cols, order_col))
    if no_zero_sma:
        nz = f"filter(array({', '.join(neighbors)}), x -> (x != 0.0D))"
        return (f"CASE WHEN ({neighbors[0]} = 0.0D) THEN 0.0D ELSE "
                f"(aggregate({nz}, 0.0D, (x, y) -> (x + y)) "
                f"/ CAST(size({nz}) AS DOUBLE)) END")
    total = neighbors[0]
    for n in neighbors[1:]:
        total = f"({total} + {n})"
    return f"({total} / {sql_double(sma_win)})"


def delta_regression(
    df: DataFrame,
    cols: list[str],
    deltawin: int = 2,
    abs_output: bool = False,
    half_wave_rect: bool = False,
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    suffix: str = "_de",
) -> DataFrame:
    """cDeltaRegression (/root/reference/src/dspcore/deltaRegression.cpp:102-160).

    delta[n] = sum_i i*(x[n+i]-x[n-i]) / (2*sum_i i^2), window clamped at
    boundaries (PAD_FIRST); deltawin=0 degenerates to the simple difference
    x[n]-x[n-1] (deltaRegression.cpp:148-160). Suffix '_de' per reference
    naming (deltaRegression.cpp nameAppend).
    """
    return df.withColumns({
        c + suffix: F.expr(_delta_sql(c, deltawin, abs_output, half_wave_rect,
                                      partition_cols, order_col))
        for c in cols
    })


def _delta_sql(c: str, deltawin: int, abs_output: bool,
               half_wave_rect: bool, partition_cols, order_col: str) -> str:
    if deltawin > 0:
        norm = 2.0 * sum(i * i for i in range(1, deltawin + 1))
        num = "0.0D"
        for i in range(1, deltawin + 1):
            later = clamped_lead(c, i, partition_cols, order_col)
            prior = clamped_lag(c, i, partition_cols, order_col)
            num = f"({num} + ({sql_double(i)} * ({later} - {prior})))"
        d = f"({num} / {sql_double(norm)})"
    else:
        d = f"({sql_ident(c)} - {clamped_lag(c, 1, partition_cols, order_col)})"
    if half_wave_rect:
        d = f"greatest({d}, 0.0D)"
    elif abs_output:
        d = f"abs({d})"
    return d


def preemphasis(
    df: DataFrame,
    cols: list[str],
    k: float = 0.97,
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    suffix: str = "_pe",
) -> DataFrame:
    """cVectorPreemphasis: y[t] = x[t] - k*x[t-1]
    (/root/reference/src/dspcore/vectorPreemphasis.cpp)."""
    return df.withColumns({
        c + suffix: F.expr(
            f"({sql_ident(c)} - ({sql_double(k)} * "
            f"{clamped_lag(c, 1, partition_cols, order_col)}))")
        for c in cols
    })


def trailing_agg(
    df: DataFrame,
    col: str,
    agg: str = "avg",
    frame_rows: int | None = None,
    range_seconds: float | None = None,
    anchor: str = "right",
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    out_col: str | None = None,
) -> DataFrame:
    """frameMode=fixed windows (winToVecProcessor.cpp:326-332, 438-458).

    anchor ('frameCenterSpecial', winToVecProcessor.cpp:76-83):
      'right' -> [-size, 0] trailing/causal, 'mid' -> centered,
      'left' -> [0, +size] leading.
    Row windows over order_col; time-range windows over ts seconds.
    'right' anchoring is the only leakage-safe choice for point-in-time
    features (ring-buffer causality, dataMemoryLevel.hpp:296-311).
    """
    fn = getattr(F, agg)
    if frame_rows is not None:
        if anchor == "right":
            lo, hi = -(frame_rows - 1), 0
        elif anchor == "mid":
            lo, hi = -(frame_rows // 2), frame_rows // 2
        else:
            lo, hi = 0, frame_rows - 1
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(order_col)
            .rowsBetween(lo, hi)
        )
    else:
        secs = float(range_seconds)
        if anchor == "right":
            lo, hi = -secs, 0.0
        elif anchor == "mid":
            lo, hi = -secs / 2, secs / 2
        else:
            lo, hi = 0.0, secs
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(epoch_seconds(ts_col))
            .rangeBetween(lo, hi)
        )
    return df.withColumn(out_col or f"{col}_{agg}_w", fn(col).over(w))


def contour_direction(
    df: DataFrame,
    col: str,
    st_frames: int = 3,
    lt_frames: int = 10,
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
) -> DataFrame:
    """cPitchDirection analogue (/root/reference/src/lld/pitchDirection.cpp:
    596-633): short-term vs long-term trailing means of a contour;
      direction = 1 (rise)  when smean > lmean^1.01,
                 -1 (fall)  when smean < lmean^(1/1.01),
                  0 (flat)  otherwise;
      score = smean - lmean.
    The reference's ring buffers start ZERO-FILLED, so early frames divide
    the partial sum by the FULL buffer length (pitchDirection.cpp:605-606)
    — replicated with sum(trailing)/L, not avg(trailing)."""
    w = _w(partition_cols, order_col)
    smean = (F.sum(col).over(w.rowsBetween(-(st_frames - 1), 0))
             / F.lit(float(st_frames)))
    lmean = (F.sum(col).over(w.rowsBetween(-(lt_frames - 1), 0))
             / F.lit(float(lt_frames)))
    direction = (
        F.when(smean > F.pow(lmean, F.lit(1.01)), F.lit(1.0))
        .when(smean < F.pow(lmean, F.lit(1.0 / 1.01)), F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    return (
        df.withColumn(f"{col}_direction", direction)
        .withColumn(f"{col}_dirscore", smean - lmean)
    )


def median_smooth(
    df: DataFrame,
    cols: list[str],
    win: int = 5,
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    suffix: str | None = None,
) -> DataFrame:
    """cPitchSmoother / cFormantSmoother median filtering analogue
    (/root/reference/src/lldcore/pitchSmoother.cpp, lld/formantSmoother.cpp:
    median smoothing of noisy contours): centered window of `win` frames
    (shrinking at partition edges), interpolated median (mean of the two
    middle order statistics for even counts — equals quantile_cont 0.5).
    Built-in exprs only: collect_list window + sort_array + element_at."""
    if win % 2 != 1:
        raise ValueError("median window must be odd")
    half = win // 2
    w = _w(partition_cols, order_col).rowsBetween(-half, half)
    out = df
    suffix = suffix or f"_med{win}"
    for c in cols:
        arr = F.sort_array(F.collect_list(F.col(c)).over(w))
        n = F.size(arr)
        lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
        hi = F.element_at(arr, (n / 2 + 1).cast("int"))
        out = out.withColumn(c + suffix, (lo + hi) / 2.0)
    return out
