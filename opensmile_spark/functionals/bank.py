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
2. `functionals_sql` — pure built-in expressions for the families that
   are single-pass aggregates (means/moments/extremes/regression closed
   forms) plus exact percentiles, in one groupBy. Zero Python; the
   declarative bank combines map-side and compiles whole-stage; the
   percentiles, not map-side combinable, are a whole-group window on
   the rows the groupBy already reads — the fast path at 100 TB.

Both emit identical column names so they are interchangeable and
cross-checkable.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opensmile_spark.functionals.batched import compute_groups, output_keys
from opensmile_spark.groupbatch import group_blocks
from opensmile_spark.util import sql_double, sql_ident

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
        if rcols != group_cols[: len(rcols)]:
            raise ValueError("repartition_cols must be a prefix of group_cols")
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
    """SQL-native fast path: one groupBy with built-in aggregates.

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

    One projection, then one groupBy. The declarative aggregates combine
    map-side and compile whole-stage (HashAggregateExec). All percentile
    outputs of a column come from ONE percentile(x, array(...)): the
    array form computes every requested percentile from a single value
    buffer and sort, with the same interpolation. That call is a window
    over the whole group (PARTITION BY the key, no ORDER BY), so the sort
    the row_number window puts on (key, order_col) serves it: no extra
    sort or shuffle. Every row of a group carries the group's array, and
    each percentile output is max(element_at(array, i)) in the one
    aggregate, which returns that value's bits. As an aggregate, the
    TypedImperative `percentile` would force the whole operator into the
    interpreted ObjectHashAggregateExec (measured ~2x the stage at
    sf0.1). A NULL key is a group of its own in the window and in the
    groupBy alike.

    Every expression is SQL text (_fsql_exprs), parsed once per builder
    call: built node by node as Columns, the bank's ~160 aggregate and
    projection expressions cost one py4j round trip per node — more than
    executing the query on 100k rows. Doubles are written `0.0D`: a bare
    `0.0` parses as DECIMAL.
    """
    group_cols = list(group_cols)
    proj_cols, aggs = _fsql_exprs(group_cols, value_cols, order_col,
                                  percentiles)
    keys = [sql_ident(c) for c in group_cols]
    return df.selectExpr(*proj_cols) \
        .groupBy(*map(F.expr, keys)).agg(*map(F.expr, aggs))


def _fsql_named(c: str) -> dict:
    """SQL text of functionals_sql's declarative per-column aggregates of
    value column `c`, by functional name (amean ... minameandist)."""
    x = sql_ident(c)
    n = f"count({x})"
    nd = f"CAST({n} AS DOUBLE)"
    mean = f"(sum({x}) / {nd})"
    # central-moment aggregators (numerically stable): var_pop instead
    # of E[x^2]-mean^2 (which catastrophically cancels for large-mean
    # columns); Spark's skewness/kurtosis are population central-moment
    # based (kurtosis is EXCESS -> +3 to match functionalMoments.cpp)
    m2 = f"var_pop({x})"
    sd = f"CASE WHEN ({m2} > 0) THEN stddev_pop({x}) ELSE 0.0D END"
    skw = f"CASE WHEN ({m2} > 0) THEN skewness({x}) ELSE 0.0D END"
    krt = f"CASE WHEN ({m2} > 0) THEN (kurtosis({x}) + 3.0D) ELSE 0.0D END"
    nz = f"({x} != 0.0D)"
    nnz = f"CAST(sum(CASE WHEN {nz} THEN 1 ELSE 0 END) AS DOUBLE)"

    def nz_mean(v):
        return (f"CASE WHEN ({nnz} > 0) THEN (sum(CASE WHEN {nz} THEN {v}"
                f" END) / {nnz}) ELSE 0.0D END")

    def sd_norm(m):
        return (f"CASE WHEN ({m2} <= 0) THEN 0.0D WHEN ({mean} != 0.0D)"
                f" THEN ({sd} / {m}) ELSE {sd} END")

    return {
        "amean": mean,
        "absmean": f"(sum(abs({x})) / {nd})",
        "qmean": f"(sum(({x} * {x})) / {nd})",
        "rqmean": f"sqrt((sum(({x} * {x})) / {nd}))",
        "nnz": nnz,
        "nzamean": nz_mean(x),
        "nzabsmean": nz_mean(f"abs({x})"),
        "nzqmean": nz_mean(f"({x} * {x})"),
        "variance": m2,
        "stddev": sd,
        "skewness": skw,
        "kurtosis": krt,
        "stddevNorm": sd_norm(mean),
        "coeffOfVariation": sd_norm(f"abs({mean})"),
        "max": f"max({x})",
        "min": f"min({x})",
        "range": f"(max({x}) - min({x}))",
        "maxameandist": f"(max({x}) - {mean})",
        "minameandist": f"({mean} - min({x}))",
    }


def _fsql_exprs(group_cols, value_cols, order_col: str, percentiles):
    """SQL text of functionals_sql's expressions (see its docstring):
    (projection, aggregates in output order)."""
    keys = ", ".join(map(sql_ident, group_cols))
    pct_list = [0.25, 0.50, 0.75]
    for p in percentiles:
        if float(p) not in pct_list:
            pct_list.append(float(p))
    pidx = {p: i + 1 for i, p in enumerate(pct_list)}   # element_at: 1-based
    pct_arr = ", ".join(map(sql_double, pct_list))

    proj_cols = [
        *map(sql_ident, [*group_cols, *value_cols]),
        f"CAST((row_number() OVER (PARTITION BY {keys} ORDER BY "
        f"{sql_ident(order_col)}) - 1) AS DOUBLE) AS __i",
        *(f"percentile({sql_ident(c)}, array({pct_arr}), 1) OVER "
          f"(PARTITION BY {keys}) AS {sql_ident('__pct_' + c)}"
          for c in value_cols),
    ]

    aggs = ["CAST(count(*) AS BIGINT) AS n_turns"]
    for c in value_cols:
        named = _fsql_named(c)
        aggs += [f"{e} AS {sql_ident(f'{c}_{k}')}" for k, e in named.items()]

        x = sql_ident(c)
        n = f"count({x})"
        nd = f"CAST({n} AS DOUBLE)"
        pct_col = sql_ident("__pct_" + c)

        def pq(p):
            # every row of a group carries the group's array: max picks
            # its value bit for bit
            return f"max(element_at({pct_col}, {pidx[float(p)]}))"

        pcts = {
            "quartile1": pq(0.25),
            "quartile2": pq(0.50),
            "quartile3": pq(0.75),
            "iqr1-3": f"({pq(0.75)} - {pq(0.25)})",
            **{f"percentile{p * 100:.1f}": pq(p) for p in percentiles},
        }
        if len(percentiles) >= 3:
            pcts["pctlrange0-2"] = \
                f"abs(({pq(percentiles[-1])} - {pq(percentiles[0])}))"
        aggs += [f"{e} AS {sql_ident(f'{c}_{k}')}" for k, e in pcts.items()]
        # linear regression on index axis i=0..N-1 (functionalRegression.cpp:
        # 219-240): S1=N(N-1)/2, S2=N(N-1)(2N-1)/6,
        # t=(sum_y - num*S1/S2)/(N - S1^2/S2), m=(num - t*S1)/S2
        num = f"sum(({x} * __i))"
        s1 = f"(({nd} * ({nd} - 1)) / 2)"
        s2 = f"((({nd} * ({nd} - 1)) * (({nd} * 2) - 1)) / 6)"
        denom = f"({nd} - (({s1} * {s1}) / {s2}))"
        t_off = (f"CASE WHEN (({n} > 1) AND ({denom} != 0)) THEN "
                 f"((sum({x}) - (({num} * {s1}) / {s2})) / {denom}) ELSE "
                 f"CASE WHEN ({n} > 1) THEN 0.0D ELSE first({x}) END END")
        m_slope = (f"CASE WHEN ({n} > 1) THEN (({num} - ({t_off} * {s1}))"
                   f" / {s2}) ELSE 0.0D END")
        aggs += [f"{m_slope} AS {sql_ident(c + '_linregc1')}",
                 f"{t_off} AS {sql_ident(c + '_linregc2')}"]

    return proj_cols, aggs
