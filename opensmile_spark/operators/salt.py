"""Skew handling — salted repartition with boundary overlap.

The reference has no skew problem (single machine; skew = a long file). At
10^12 turns a mega-conversation makes one Spark task arbitrarily large. Two
remedies here (SURVEY.md §4 skew row):

1. `salted_partial_stats`: spread each key's rows over `salt_buckets`
   salts (a hash of `order_col`), aggregate per (key, salt) into partials
   (count, sums, mean, M2, min, max, nonzero count), then combine the
   partials per key into EXACT amean/absmean/qmean/rqmean/variance/
   stddev/min/max/range/nnz with the reference's population formulas.
   Variance combines with Chan's centered formula over a window giving
   each salt its key's mean, never the cancelling E[x^2] - mean^2. The
   heavy shuffle thus runs over `salt_buckets` reducers per hot key.
   Order statistics (percentiles) are not decomposable and are not
   produced on this path — callers needing them on mega-convs use the
   kernel path (explicitly NOT silently approximated).

2. `overlap_salt`: bucket rows with `pre` boundary rows replicated into the
   next bucket so sliding-window ops (sma/delta with lookback `pre`,
   lookahead `post`) stay exact per bucket; duplicated outputs are dropped
   by an `is_owner` flag — the ring-buffer-overlap analogue
   (dataMemoryLevel.hpp:239-241 blocksize negotiation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


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


def salted_partial_stats(
    df: DataFrame,
    cols: list[str],
    by=("conv_id",),
    salt_buckets: int = 16,
    order_col: str = "turn_idx",
) -> DataFrame:
    """Exact two-level aggregation for decomposable functionals on skewed
    keys: partial sums per (key, salt) then exact combine per key.

    Emits amean/absmean/qmean/rqmean/variance/stddev/min/max/range/nnz with
    the reference's population formulas — identical results to the direct
    groupBy, but the heavy shuffle is spread over `salt_buckets` reducers
    per hot key (AQE skew-join handles joins; this handles the agg)."""
    by = list(by)
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(order_col)), F.lit(salt_buckets))
    )
    # per-bucket partials carry (n, mean, M2=var_pop*n) so variance combines
    # with Chan's parallel central-moment formula — NOT the raw E[x^2]-mean^2
    # expansion, which catastrophically cancels for large-mean columns
    partial = salted.groupBy(*by, "__salt").agg(
        F.count("*").alias("__n"),
        *[e for c in cols for e in (
            F.sum(c).alias(f"__s1_{c}"),
            F.avg(c).alias(f"__mu_{c}"),
            (F.var_pop(c) * F.count(c)).alias(f"__m2_{c}"),
            F.sum(F.col(c) * F.col(c)).alias(f"__s2_{c}"),
            F.sum(F.abs(F.col(c))).alias(f"__sa_{c}"),
            F.min(c).alias(f"__mn_{c}"),
            F.max(c).alias(f"__mx_{c}"),
            F.sum(F.when(F.col(c) != 0.0, 1).otherwise(0)).alias(f"__nz_{c}"),
        )],
    )
    # the partial table is tiny (keys x salt_buckets rows); a window gives
    # each bucket the whole-key mean so the cross-bucket correction term
    # sum(n_i * (mean_i - mean_tot)^2) is computed centered, never expanded
    wk = Window.partitionBy(*by)
    for c in cols:
        mt = F.sum(F.col("__n") * F.col(f"__mu_{c}")).over(wk) \
            / F.sum("__n").over(wk)
        partial = partial.withColumn(
            f"__dev_{c}",
            F.col("__n") * F.pow(F.col(f"__mu_{c}") - mt, 2),
        )
    n = F.sum("__n").cast("double")
    aggs = [F.sum("__n").cast("long").alias("n_turns")]
    for c in cols:
        s1 = F.sum(f"__s1_{c}")
        s2 = F.sum(f"__s2_{c}")
        sa = F.sum(f"__sa_{c}")
        mu = s1 / n
        m2 = (F.sum(f"__m2_{c}") + F.sum(f"__dev_{c}")) / n
        aggs += [
            mu.alias(f"{c}_amean"),
            (sa / n).alias(f"{c}_absmean"),
            (s2 / n).alias(f"{c}_qmean"),
            F.sqrt(s2 / n).alias(f"{c}_rqmean"),
            m2.alias(f"{c}_variance"),
            F.when(m2 > 0, F.sqrt(m2)).otherwise(0.0).alias(f"{c}_stddev"),
            F.min(f"__mn_{c}").alias(f"{c}_min"),
            F.max(f"__mx_{c}").alias(f"{c}_max"),
            (F.max(f"__mx_{c}") - F.min(f"__mn_{c}")).alias(f"{c}_range"),
            F.sum(f"__nz_{c}").cast("double").alias(f"{c}_nnz"),
        ]
    return partial.groupBy(*by).agg(*aggs)
