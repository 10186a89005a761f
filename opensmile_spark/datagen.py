"""Deterministic synthetic transcript corpus generator.

Analogue of the reference's cSignalGenerator test source
(/root/reference/src/dsp/signalGenerator.cpp — synthetic sine/noise/const
signals used as deterministic fixtures): we generate conversation transcripts
with the exact input_hint schema

    conv_id string, turn_idx int, role string, text string, tool string,
    ts timestamp

entirely from spark.range + hash-based column expressions, so generation is
distributed, reproducible at any scale (no driver-side RNG, no external data),
and cheap (whole-stage codegen, zero Python).

Determinism: every pseudo-random draw is xxhash64(id, tag, seed) mapped to a
uniform in [0, 1). Same seed + same n -> identical corpus on any cluster size.

Skew: `mega_conv_factor` gives conv "c0" ~factor x the median turn count —
the fixture for the salted-repartition path (SURVEY.md §4 skew row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_VOCAB = [
    "spark", "window", "feature", "agg", "join", "shuffle", "table", "query",
    "batch", "stream", "merge", "anchor", "turn", "reply", "tool", "plan",
    "run", "check", "build", "test", "scale", "skew", "salt", "hash", "sort",
    "read", "write", "commit", "data", "row",
]

_TOOLS = ["search", "calc", "code", "fetch"]


def _u(col, tag: str, seed: int):
    """Deterministic uniform in [0,1) from xxhash64 — distributed, seedable."""
    h = F.xxhash64(col, F.lit(tag), F.lit(seed))
    # xxhash64 is signed 64-bit; fold to [0, 1)
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / F.lit(1_000_000_007.0)


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 1000,
    turns_per_conv: int = 30,
    seed: int = 42,
    mega_conv_factor: int = 1,
    session_gap_prob: float = 0.05,
    session_gap_s: float = 900.0,
    base_gap_s: float = 20.0,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic transcripts with schema per BASELINE.json input_hint.

    ts is strictly increasing per conv: cumulative sum of per-turn gaps
    (mostly ~base_gap_s, occasionally session_gap_s to create session
    boundaries for the cTurnDetector-analogue sessionizer).
    """
    n_mega_extra = (mega_conv_factor - 1) * turns_per_conv if mega_conv_factor > 1 else 0
    total = n_convs * turns_per_conv + n_mega_extra

    df = spark.range(0, total, 1, partitions or spark.sparkContext.defaultParallelism)
    # first n_mega_extra + turns_per_conv ids belong to conv 0 (the mega conv)
    mega_cut = turns_per_conv * 1 + n_mega_extra
    df = df.withColumn(
        "conv_n",
        F.when(F.col("id") < mega_cut, F.lit(0)).otherwise(
            ((F.col("id") - mega_cut) / turns_per_conv).cast("long") + 1
        ),
    ).withColumn(
        "turn_idx",
        F.when(F.col("id") < mega_cut, F.col("id")).otherwise(
            (F.col("id") - mega_cut) % turns_per_conv
        ).cast("int"),
    )

    u_role = _u(F.col("id"), "role", seed)
    u_gap = _u(F.col("id"), "gap", seed)
    u_sess = _u(F.col("id"), "sess", seed)
    u_len = _u(F.col("id"), "len", seed)

    # role cycle user -> assistant -> (sometimes tool); system only at turn 0
    role = (
        F.when(F.col("turn_idx") == 0, F.lit("system"))
        .when(F.col("turn_idx") % 2 == 1, F.lit("assistant"))
        .when(u_role < 0.2, F.lit("tool"))
        .otherwise(F.lit("user"))
    )

    # text: n words drawn from the fixed vocabulary by hash
    n_words = (F.lit(1) + (u_len * 40).cast("int"))
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda i: F.element_at(
            F.array(*[F.lit(w) for w in _VOCAB]),
            (F.pmod(F.xxhash64(F.col("id"), i, F.lit(seed)), F.lit(len(_VOCAB)))
             + F.lit(1)).cast("int"),
        ),
    )
    text = F.array_join(words, " ")

    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(*[F.lit(t) for t in _TOOLS]),
            (F.pmod(F.xxhash64(F.col("id"), F.lit("tool"), F.lit(seed)),
                    F.lit(len(_TOOLS))) + F.lit(1)).cast("int"),
        ),
    ).otherwise(F.lit(None).cast("string"))

    gap = (
        F.when(F.col("turn_idx") == 0, F.lit(0.0))
        .when(u_sess < session_gap_prob, F.lit(session_gap_s) + u_gap * 60.0)
        .otherwise(F.lit(1.0) + u_gap * base_gap_s)
    )

    # strictly increasing ts per conv: cumulative gap sum (one bounded shuffle,
    # partitioned by conv — scales linearly with data).  The per-conv day
    # offset wraps at 73 000 days (~year 2224) so ts stays inside pandas'
    # datetime64[ns] range (max ~2262) at ANY corpus size — beyond the wrap,
    # conversations share calendar days, which no operator assumes away
    # (all windowing is per conv_id).  Identical output below 73k convs.
    w = Window.partitionBy("conv_n").orderBy("turn_idx") \
        .rowsBetween(Window.unboundedPreceding, 0)
    epoch = (F.lit(1_704_067_200.0)
             + F.pmod(F.col("conv_n"), F.lit(73_000)) * 86400.0
             + F.sum(gap).over(w))

    return df.select(
        F.concat(F.lit("c"), F.col("conv_n")).alias("conv_id"),
        F.col("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.timestamp_seconds(epoch).alias("ts"),
    )
