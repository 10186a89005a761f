"""Transcript-table derivation from the driver's `events` table.

The correctness gate (driver) compares Spark queries against DuckDB SQL over
the shared parquet tables (region..embeddings). There is no transcripts table
in that set, so we derive one *deterministically* from `events` with logic
expressible identically in Spark and ANSI/DuckDB SQL — both engines then see
byte-identical transcript rows and every engine operator can be oracle-checked.
The DuckDB side is the `transcripts` CTE of `__spark_entry__.SQL_PREFIX`.

Mapping (pure, deterministic, no floats in strings):
    conv_id  = 'u' || user_id
    turn_idx = row_number over (partition by user_id order by ts, event_id) - 1
    role     = click->user, view->assistant, purchase->tool, signup->user,
               error->system
    text     = repeat(event_type || ' ', 1 + event_id % 7) || props
    tool     = 'checkout' when role='tool' else NULL
    ts       = ts

This mirrors the reference's source abstraction: cWaveSource /
cCsvSource are just scans that materialize a time-indexed level
(/root/reference/src/iocore/waveSource.cpp:37-48, csvSource.cpp:43-51);
here the scan is a parquet read plus deterministic column exprs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the `transcripts` CTE of `__spark_entry__.SQL_PREFIX`
    over {sf_dir}/events.parquet.

    turn_idx's window partitions by the DERIVED conv_id (a bijection of
    user_id, so the numbering is identical to the SQL's PARTITION BY
    user_id) — this makes every downstream conv_id window/groupBy reuse
    THE SAME hash exchange, so the whole LLD -> smooth -> delta ->
    sessionize chain runs on one shuffle instead of two (asserted by
    tools/plan_audit.py)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "conv_id", F.concat(F.lit("u"), F.col("user_id").cast("string")))
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    role = (
        F.when(F.col("event_type") == "click", "user")
        .when(F.col("event_type") == "view", "assistant")
        .when(F.col("event_type") == "purchase", "tool")
        .when(F.col("event_type") == "signup", "user")
        .otherwise("system")
    )
    return ev.select(
        F.col("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.concat(
            F.repeat(F.concat(F.col("event_type"), F.lit(" ")),
                     (F.lit(1) + F.col("event_id") % 7).cast("int")),
            F.col("props"),
        ).alias("text"),
        F.when(F.col("event_type") == "purchase", F.lit("checkout"))
        .otherwise(F.lit(None).cast("string")).alias("tool"),
        F.col("ts"),
    )
