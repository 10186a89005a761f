"""Skew handling (SURVEY.md §4 skew row).

The reference has no skew problem (single machine; skew = a long file). At
10^12 turns a mega-conversation makes one Spark task arbitrarily large.

1. `salted_partial_stats`: decomposable per-key functionals (amean,
   absmean, qmean, rqmean, variance, stddev, min, max, range, nnz) need
   no salting. They are one groupBy over `functionals_sql`'s expressions;
   Spark's partial/final aggregation already spreads a hot key over every
   map task and merges one partial row per task. Order statistics
   (percentiles) are not decomposable and are not produced here —
   callers needing them on mega-convs use the kernel path (explicitly
   NOT silently approximated).

2. `overlap_salt`: bucket rows with `pre` boundary rows replicated into the
   next bucket so sliding-window ops (sma/delta with lookback `pre`,
   lookahead `post`) stay exact per bucket; duplicated outputs are dropped
   by an `is_owner` flag — the ring-buffer-overlap analogue
   (dataMemoryLevel.hpp:239-241 blocksize negotiation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opensmile_spark.functionals.bank import _fsql_named

#: salted_partial_stats' per-column functionals, in output order
_STATS = ("amean", "absmean", "qmean", "rqmean", "variance", "stddev",
          "min", "max", "range", "nnz")


def overlap_salt(
    df: DataFrame,
    max_rows: int = 100_000,
    pre: int = 2,
    post: int = 2,
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    bucket_col: str = "salt_bucket",
    owner_col: str = "is_owner",
    dense_index: bool = False,
) -> DataFrame:
    """Assign each row an owning bucket of <= max_rows rows per conversation
    and replicate `pre` rows into the following bucket / `post` rows into the
    preceding one. Window ops then partition by (conv, bucket); rows with
    is_owner=false exist only as context and their outputs are dropped.

    dense_index=True declares that `order_col` is ALREADY a dense 0-based
    per-key index (true for `turn_idx` by construction of the transcript
    schema): the bucket then derives directly from it — a pure map-side
    projection with NO per-key window. This matters precisely on the
    skewed inputs this operator exists for: the default row_number path
    must itself sort the mega-conversation in one task before any salting
    happens, re-creating the straggler it is meant to remove."""
    if dense_index:
        d = df.withColumn("__rn", F.col(order_col).cast("long"))
    else:
        w = Window.partitionBy(*partition_cols).orderBy(order_col)
        d = df.withColumn("__rn", F.row_number().over(w) - 1)
    d = d.withColumn(bucket_col, (F.col("__rn") / max_rows).cast("int"))
    owner = d.withColumn(owner_col, F.lit(True))

    pos_in = F.col("__rn") % max_rows
    # last `pre` rows of bucket b also feed bucket b+1
    pre_rows = (
        d.filter(pos_in >= max_rows - pre)
        .withColumn(bucket_col, F.col(bucket_col) + 1)
        .withColumn(owner_col, F.lit(False))
    )
    # first `post` rows of bucket b also feed bucket b-1
    post_rows = (
        d.filter((pos_in < post) & (F.col(bucket_col) > 0))
        .withColumn(bucket_col, F.col(bucket_col) - 1)
        .withColumn(owner_col, F.lit(False))
    )
    return owner.unionByName(pre_rows).unionByName(post_rows).drop("__rn")


def salted_partial_stats(df: DataFrame, cols: list[str],
                         by=("conv_id",)) -> DataFrame:
    """Per-key decomposable functionals for skewed keys: n_turns, then per
    column amean/absmean/qmean/rqmean/variance/stddev/min/max/range/nnz,
    each `functionals_sql`'s expression (over the column's non-null
    values), in one groupBy.

    Every aggregate is declarative, so Spark runs a partial aggregate in
    each map task and merges once after one shuffle (var_pop merges its
    partials with the centred Chan update): a hot key reaches its reducer
    as one partial row per map task. Salting the key would add exchanges,
    not parallelism."""
    aggs = [F.count("*").cast("long").alias("n_turns")]
    for c in cols:
        named = _fsql_named(c)
        aggs += [F.expr(named[k]).alias(f"{c}_{k}") for k in _STATS]
    return df.groupBy(*by).agg(*aggs)
