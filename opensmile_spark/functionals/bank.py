"""The functional bank — Spark execution of the cFunctionals component.

Reference: cFunctionals maps each element's window to nFunctValues summary
statistics via registered cFunctional* sub-components
(/root/reference/src/functionals/functionals.cpp:320-390; dispatch :368-380;
output naming `<input>_<functional>` :229-266). Two physical strategies here,
mirroring how cFunctionals shares one min/max/mean/sort pre-pass across all
sub-components (:349-365):

1. `functionals_kernel` — one mapInArrow pass over key-sorted input that
   evaluates every enabled family for every value column over blocks of
   whole groups (groupbatch.group_blocks feeding batched.compute_groups;
   the shared pre-pass lives inside the numpy kernels, since Catalyst
   cannot CSE across a UDF boundary — SURVEY.md §4).
2. `functionals_sql` — pure built-in aggregate expressions for the families
   that are single-pass aggregates (means/moments/extremes/percentiles/
   regression closed forms). Zero Python, map-side partial aggregation,
   whole-stage codegen — the fast path at 100 TB.

Both emit identical column names so they are interchangeable and
cross-checkable.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opensmile_spark.exprcache import expr_memo
from opensmile_spark.functionals.batched import compute_groups, output_keys
from opensmile_spark.groupbatch import group_blocks

DEFAULT_FAMILIES = [
    "means", "moments", "extremes", "percentiles", "regression",
    "crossings", "times", "onset", "segments", "peaks2",
]

# numpy twins of the cVectorOperation exprs (operators/vector_ops.py:20,
# vectorOperation.cpp op table) for in-kernel lane derivation — equality
# with the withColumn pipeline is pinned by
# tests/test_prepartitioned.py::test_derive_matches_vector_op
DERIVE_OPS = {
    "sq": lambda x: x * x,
    "abs": np.abs,
    "log": lambda x: np.where(x > 0.0, np.log(np.where(x > 0.0, x, 1.0)),
                              0.0),
    "log1p": np.log1p,
    "sqrt": lambda x: np.sqrt(np.abs(x)),
    "dBp": lambda x: 10.0 * np.where(
        x > 0.0, np.log10(np.where(x > 0.0, x, 1.0)), 0.0),
    "fconv_mel": lambda x: 1127.0 * np.log1p(x / 700.0),
}


def feature_names(value_cols, families=None, options=None) -> list[str]:
    """Static output names (<input>_<functional>, functionals.cpp:236-241)."""
    keys = output_keys(families or DEFAULT_FAMILIES, options)
    return [f"{c}_{k}" for c in value_cols for k in keys]


def functionals_kernel(
    df: DataFrame,
    value_cols: list[str],
    group_cols=("conv_id",),
    order_col: str = "turn_idx",
    families: list[str] | None = None,
    options: dict | None = None,
    pre_partitioned: bool = False,
    repartition_cols: list | None = None,
    derive: list[str] | None = None,
) -> DataFrame:
    """One output row per group; columns <value>_<functional>.

    `repartition_cols` (default: group_cols) — the shuffle key. Any PREFIX
    of group_cols is always correct (rows sharing the full key share the
    prefix, so every group stays within one partition), and partitioning by
    the parent key alone lets Catalyst ELIDE the exchange entirely when the
    input is already hash-partitioned on it — e.g. (conv_id,) for
    (conv_id, session_id) grouping downstream of the window chain makes the
    whole LLD -> smooth -> sessionize -> functionals pipeline a
    single-shuffle job. Trade-off: coarser keys concentrate skew (all of a
    mega-conversation's sessions in one task) — fine at conv_id cardinality,
    use the full key or salting for coarse parents.

    Physical strategy: repartition by the group key, sort within partitions
    by (key, order), then ONE mapInArrow pass. groupbatch.group_blocks turns
    the Arrow batches into blocks of whole groups (holding back a group that
    straddles a batch edge) and the kernel reads zero-copy numpy views of
    each block — no pandas materialization. This amortizes the Python/Arrow
    round trip over thousands of groups per call — per-group applyInPandas
    costs ~5-20 ms of pandas overhead for millisecond kernels, which at 10^9
    sessions is the difference between hours and weeks. The blockwise
    execution mirrors the reference's blocksizeWriter/Reader batching
    discipline (dataMemoryLevel.hpp:239-241).

    pre_partitioned=True skips the repartition+sort — the zero-shuffle path
    for input that is already laid out group-contiguously, e.g. a table
    bucketed by conv_id and sorted by (group_cols, order_col), or parquet
    written via .repartition(*group_cols).sortWithinPartitions(*group_cols,
    order_col) with files below spark.sql.files.maxPartitionBytes (so a scan
    task always reads whole files and every group stays contiguous within
    one task). This is the 100 TB fast path: bucketed Iceberg feeds the
    kernel with no exchange at all. The caller owns the layout guarantee —
    violating it silently splits groups across tasks and produces duplicate
    partial rows per group."""
    families = families or DEFAULT_FAMILIES
    group_cols = list(group_cols)
    # `derive`: elementwise cVectorOperation lanes (DERIVE_OPS) computed
    # INSIDE the kernel worker from the transferred lanes — the fused form
    # of vector_op(...) |> functionals_kernel(...). The reference's big
    # presets run functionals over derived LLDs as a matter of course
    # (log-energy, de-coefficients; e.g. ComParE_2016 functionals cover
    # both LLD and derived contours), and fusing the projection into the
    # kernel means those lanes never cross the executor<->worker socket:
    # at 100 TB, 1+len(derive) functional lanes per transferred byte.
    derive = list(derive or [])
    for op in derive:
        if op not in DERIVE_OPS:
            raise ValueError(f"unknown derive op {op!r}; "
                             f"have {sorted(DERIVE_OPS)}")
    lanes = [(c, None) for c in value_cols] + [
        (f"{c}__{op}", (c, op)) for c in value_cols for op in derive]
    feats = feature_names([ln for ln, _ in lanes], families, options)

    key_schema = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in group_cols
    )
    schema = key_schema + ", n_turns long, " + ", ".join(
        f"`{n}` double" for n in feats
    )
    out_cols = group_cols + ["n_turns"] + feats

    def _emit(rb, starts, ends):
        """One block of whole groups (groupbatch.group_blocks) -> one
        output RecordBatch: keys taken from each group's first row, then
        n_turns and every feature column."""
        cols: dict = {}
        base: dict = {}
        for c, spec in lanes:
            if spec is None:
                xs = rb.column(c).to_numpy(zero_copy_only=False) \
                    .astype(np.float64, copy=False)
                base[c] = xs
            else:
                src, op = spec
                xs = DERIVE_OPS[op](base[src])
            for k, v in compute_groups(xs, starts, ends, families,
                                       options).items():
                cols[f"{c}_{k}"] = v
        arrays = [rb.column(c).take(starts) for c in group_cols]
        arrays.append(pa.array(ends - starts, type=pa.int64()))
        # from_pandas=True: NaN -> null, the nullness the engine has always
        # emitted for undefined functionals
        arrays += [pa.array(cols[f], type=pa.float64(), from_pandas=True)
                   for f in feats]
        return pa.RecordBatch.from_arrays(arrays, names=out_cols)

    def run(batches):
        for rb, starts, ends in group_blocks(batches, group_cols):
            yield _emit(rb, starts, ends)

    in_cols = group_cols + value_cols
    if pre_partitioned:
        # order_col is never read by the kernel (order comes from the
        # layout guarantee); excluding it from the projection keeps it out
        # of the scan AND the Arrow transfer — one fewer lane per row on
        # the worker socket, which on the 100 TB layout is pure savings.
        proj = df.select(*in_cols)
    else:
        rcols = list(repartition_cols) if repartition_cols else group_cols
        assert rcols == group_cols[: len(rcols)], \
            "repartition_cols must be a prefix of group_cols"
        proj = df.select(*in_cols, order_col) \
            .repartition(*rcols) \
            .sortWithinPartitions(*group_cols, order_col) \
            .select(*in_cols)
    return proj.mapInArrow(run, schema=schema)


def functionals_sql(
    df: DataFrame,
    value_cols: list[str],
    group_cols=("conv_id",),
    order_col: str = "turn_idx",
    percentiles=(0.20, 0.50, 0.80),
) -> DataFrame:
    """SQL-native fast path: single groupBy with built-in aggregates.

    Covers the single-pass families with the exact reference formulas:
      means   (functionalMeans.cpp:117-264): amean absmean qmean rqmean
              nzamean nzabsmean nzqmean nnz
      moments (functionalMoments.cpp:95-166): variance stddev skewness
              kurtosis stddevNorm  (population moments, guards replicated)
      extremes(functionalExtremes.cpp:93-137): max min range maxameandist
              minameandist
      percentiles (functionalPercentiles.cpp:297-315, interp=1): exact
              linear-interpolated — Spark `percentile` (exact), NOT
              percentile_approx
      regression (functionalRegression.cpp:219-240): linregc1/c2 closed form
              over the 0..N-1 index axis.

    All map-side combinable except `percentile` (which buffers per group) —
    still no Python, no extra shuffle beyond the groupBy. All percentile
    outputs of a column share ONE percentile(x, array(...)) aggregate (r6):
    the scalar calls each kept their own value buffer and per-group sort —
    5 identical buffers per column; the array form computes every requested
    percentile from a single buffer with the same interpolation, so the
    doubles are identical (guide §1.2 per-task work).

    The percentile aggregates run in a SEPARATE groupBy joined back on the
    group key (r6): `percentile` is TypedImperative, and ONE such function
    in the aggregate list forces the whole operator into
    ObjectHashAggregateExec, which does not participate in whole-stage
    codegen — every declarative sum/moment/extreme in the bank was paying
    interpreted per-row evaluation for it (~2x the stage, measured:
    interpreted full agg 1.0 s vs 0.46 s split at sf0.1). Split, the wide
    declarative aggregate compiles (HashAggregateExec) and the small
    percentile-only ObjectHashAggregate runs beside it; both sides hang
    off the SAME window subtree, so the shuffle is shared (ReusedExchange)
    and the join is null-safe (<=>), so a NULL group key survives it. The
    null-safe join keys on (coalesce(key), isnull(key)), which costs one
    exchange of the aggregated rows (one row per group) on each side.
    Aggregation semantics per group are untouched — the same aggregate
    functions see the same rows — so the doubles are identical.

    Expression construction is memoized (exprcache.expr_memo): the bank's
    ~160 aggregate/projection Columns cost ~0.7 s of py4j round trips to
    build — more than executing the query on 100k rows — and are a pure
    function of (group_cols, value_cols, order_col, percentiles).
    """
    group_cols = list(group_cols)
    proj_cols, pct_aggs, aggs, final = _fsql_exprs(
        tuple(group_cols), tuple(value_cols), order_col,
        tuple(float(p) for p in percentiles))
    proj = df.select(*proj_cols)
    decl = proj.groupBy(*group_cols).agg(*aggs)
    pct_keys = [F.col(c).alias(f"__pk{i}") for i, c in enumerate(group_cols)]
    pct = proj.groupBy(*pct_keys).agg(*pct_aggs)
    # null-safe: a NULL group key is a group of its own and must not be
    # dropped by the join
    out = decl.join(pct, [F.col(c).eqNullSafe(F.col(f"__pk{i}"))
                          for i, c in enumerate(group_cols)])
    return out.select(*group_cols, *final)


@expr_memo
def _fsql_exprs(group_cols: tuple, value_cols: tuple, order_col: str,
                percentiles: tuple):
    """Unresolved expression lists for functionals_sql (see its docstring):
    (projection cols, percentile aggs, declarative aggs, final select)."""
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    proj_cols = [
        *group_cols,
        *value_cols,
        (F.row_number().over(w) - 1).cast("double").alias("__i"),
    ]

    pct_list = [0.25, 0.50, 0.75]
    for p in percentiles:
        if float(p) not in pct_list:
            pct_list.append(float(p))
    pidx = {p: i + 1 for i, p in enumerate(pct_list)}   # element_at: 1-based

    pct_aggs = [
        F.percentile(F.col(c), F.array(*[F.lit(p) for p in pct_list]))
        .alias(f"__pct_{c}")
        for c in value_cols
    ]

    aggs = [F.count("*").cast("long").alias("n_turns")]
    final: list = ["n_turns"]
    for c in value_cols:
        x = F.col(c)
        n = F.count(x)
        nd = n.cast("double")
        mean = F.sum(x) / nd
        # central-moment aggregators (numerically stable): var_pop instead
        # of E[x^2]-mean^2 (which catastrophically cancels for large-mean
        # columns); Spark's skewness/kurtosis are population central-moment
        # based (kurtosis is EXCESS -> +3 to match functionalMoments.cpp)
        m2 = F.var_pop(x)
        sd = F.when(m2 > 0, F.stddev_pop(x)).otherwise(0.0)
        skw = F.when(m2 > 0, F.skewness(x)).otherwise(0.0)
        krt = F.when(m2 > 0, F.kurtosis(x) + F.lit(3.0)).otherwise(0.0)
        nnz = F.sum(F.when(x != 0.0, 1).otherwise(0)).cast("double")

        aggs += [
            mean.alias(f"{c}_amean"),
            (F.sum(F.abs(x)) / nd).alias(f"{c}_absmean"),
            (F.sum(x * x) / nd).alias(f"{c}_qmean"),
            F.sqrt(F.sum(x * x) / nd).alias(f"{c}_rqmean"),
            nnz.alias(f"{c}_nnz"),
            F.when(nnz > 0, F.sum(F.when(x != 0.0, x)) / nnz)
            .otherwise(0.0).alias(f"{c}_nzamean"),
            F.when(nnz > 0, F.sum(F.when(x != 0.0, F.abs(x))) / nnz)
            .otherwise(0.0).alias(f"{c}_nzabsmean"),
            F.when(nnz > 0, F.sum(F.when(x != 0.0, x * x)) / nnz)
            .otherwise(0.0).alias(f"{c}_nzqmean"),
            m2.alias(f"{c}_variance"),
            sd.alias(f"{c}_stddev"),
            skw.alias(f"{c}_skewness"),
            krt.alias(f"{c}_kurtosis"),
            F.when(m2 <= 0, 0.0)
            .when(mean != 0.0, sd / mean)
            .otherwise(sd).alias(f"{c}_stddevNorm"),
            F.when(m2 <= 0, 0.0)
            .when(mean != 0.0, sd / F.abs(mean))
            .otherwise(sd).alias(f"{c}_coeffOfVariation"),
            F.max(x).alias(f"{c}_max"),
            F.min(x).alias(f"{c}_min"),
            (F.max(x) - F.min(x)).alias(f"{c}_range"),
            (F.max(x) - mean).alias(f"{c}_maxameandist"),
            (mean - F.min(x)).alias(f"{c}_minameandist"),
        ]

        def _pq(p, _c=c):
            return F.element_at(F.col(f"`__pct_{_c}`"), pidx[float(p)])

        final += [
            f"{c}_amean", f"{c}_absmean", f"{c}_qmean", f"{c}_rqmean",
            f"{c}_nnz", f"{c}_nzamean", f"{c}_nzabsmean", f"{c}_nzqmean",
            f"{c}_variance", f"{c}_stddev", f"{c}_skewness", f"{c}_kurtosis",
            f"{c}_stddevNorm", f"{c}_coeffOfVariation",
            f"{c}_max", f"{c}_min", f"{c}_range",
            f"{c}_maxameandist", f"{c}_minameandist",
            _pq(0.25).alias(f"{c}_quartile1"),
            _pq(0.50).alias(f"{c}_quartile2"),
            _pq(0.75).alias(f"{c}_quartile3"),
            (_pq(0.75) - _pq(0.25)).alias(f"{c}_iqr1-3"),
        ]
        for p in percentiles:
            final.append(_pq(p).alias(f"{c}_percentile{p * 100:.1f}"))
        if len(percentiles) >= 3:
            final.append(
                F.abs(_pq(percentiles[-1]) - _pq(percentiles[0]))
                .alias(f"{c}_pctlrange0-2")
            )
        # linear regression on index axis i=0..N-1 (functionalRegression.cpp:
        # 219-240): S1=N(N-1)/2, S2=N(N-1)(2N-1)/6,
        # t=(sum_y - num*S1/S2)/(N - S1^2/S2), m=(num - t*S1)/S2
        i = F.col("__i")
        num = F.sum(x * i)
        asum = F.sum(x)
        S1 = nd * (nd - 1) / 2
        S2 = nd * (nd - 1) * (2 * nd - 1) / 6
        denom = nd - S1 * S1 / S2
        t_off = F.when((n > 1) & (denom != 0), (asum - num * S1 / S2) / denom) \
            .otherwise(F.when(n > 1, 0.0).otherwise(F.first(x)))
        m_slope = F.when(n > 1, (num - t_off * S1) / S2).otherwise(0.0)
        aggs += [
            m_slope.alias(f"{c}_linregc1"),
            t_off.alias(f"{c}_linregc2"),
        ]
        final += [f"{c}_linregc1", f"{c}_linregc2"]

    return proj_cols, pct_aggs, aggs, final
