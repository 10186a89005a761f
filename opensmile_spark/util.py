"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_seconds(col) -> Column:
    """Fractional epoch seconds from TIMESTAMP or TIMESTAMP_NTZ.

    TIMESTAMP_NTZ cannot be cast to double directly (Spark 4); route through
    TIMESTAMP. The engine pins spark.sql.session.timeZone=UTC (session.py) so
    NTZ values are interpreted as UTC — matching DuckDB's naive epoch(ts)
    and keeping timestamp arithmetic oracle-comparable.
    """
    if isinstance(col, str):
        col = F.col(col)
    # micros -> double -> * 1e-6: exactly the op sequence the DuckDB oracle
    # uses (0.000001 * epoch_us(ts)), so epochs are bit-identical across
    # engines (micros < 2^53 are exact in double; one shared multiply).
    return F.unix_micros(col.cast("timestamp")).cast("double") * F.lit(0.000001)


def sql_ident(name: str) -> str:
    """`name` as one backtick-quoted SQL identifier (an embedded backtick
    doubled), so spaces, hyphens and dots stay inside the column name."""
    return "`" + name.replace("`", "``") + "`"


def sql_double(x: float) -> str:
    """`x` as a SQL DOUBLE literal: a bare 0.2 would parse as DECIMAL."""
    return repr(float(x)) + "D"


def ensure_min_partitions(df, factor: int = 1):
    """Repartition small-split inputs up to the cluster's default
    parallelism BEFORE a CPU-heavy map side (hashing, shingling, scoring).

    A 100 TB table arrives in thousands of splits, but a small local file
    (or a badly-compacted partition) can arrive as ONE — and every map-side
    expression upstream of the first exchange then runs on one core while
    the rest of the cluster idles. One cheap shuffle of the narrow input
    fixes the imbalance; no-op when the input is already parallel enough."""
    sc = df.sparkSession.sparkContext
    target = max(2, sc.defaultParallelism * factor)
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def round_sig(col, sig: int = 6):
    """Round to `sig` significant digits with the exact op sequence
    ROUND(x * 10^e) / 10^e, e = (sig-1) - FLOOR(LOG10(ABS(x))) — mirrored
    verbatim in the DuckDB oracles so both engines round identically at any
    magnitude (fixed-decimal ROUND(x, 6) is sub-ulp for |x| > ~1e10)."""
    if isinstance(col, str):
        col = F.col(col)
    e = F.lit(float(sig - 1)) - F.floor(F.log10(F.abs(col)))
    p = F.pow(F.lit(10.0), e)
    # |x| < 1e-9 flushes to 0: sig-rounding would otherwise preserve pure
    # FP noise (e.g. a residual of 7e-15 where the other engine got 0.0)
    return F.when(F.abs(col) < 1e-9, F.lit(0.0)).otherwise(F.round(col * p, 0) / p)
