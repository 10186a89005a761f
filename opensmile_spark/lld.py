"""LLD (low-level descriptor) layer — the cVectorProcessor analogue.

The reference computes per-frame descriptors from windows of raw signal
(cEnergy /root/reference/src/lldcore/energy.cpp:36-44, cIntensity
intensity.cpp, cMZcr mzcr.cpp:33-37, cSpectral spectral.cpp:31-63, pitch via
pitchBase.cpp:41-58). For the transcript payload each acoustic LLD has a
text-domain analogue computed per turn with *built-in* column expressions —
JVM-side, whole-stage-codegen'd, zero Python in the hot path:

    char_len       energy analogue          length(text)
    token_cnt      loudness analogue        whitespace token count
    punct_density  intensity analogue       punctuation chars / char_len
    caps_ratio     intensity analogue       uppercase chars / char_len
    ttr            spectral-flatness analog type-token ratio
    reply_latency  pitch analogue           ts - lag(ts) seconds
    role_change    crossings analogue       role != lag(role)
    is_tool        voicing-gate analogue    role == 'tool'

Every formula has a DuckDB twin in the `lld` CTE of
`__spark_entry__.SQL_PREFIX`, the oracle the correctness gate runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def compute_lld(transcripts: DataFrame, keep_text: bool = False) -> DataFrame:
    """transcripts (input_hint schema) -> LLD table keyed (conv_id, turn_idx, ts).

    Single narrow projection + one window (lag) — the lag shuffles by conv_id
    once; everything else stays in whole-stage codegen. At scale the input
    should already be bucketed/partitioned by conv_id so the lag window
    reuses that distribution. The projection is SQL text (_LLD_EXPRS),
    parsed once per call instead of built as a Column tree over one py4j
    call per node.
    """
    return transcripts.selectExpr(
        "conv_id", "turn_idx", "ts",
        *(["text", "role", "tool"] if keep_text else []),
        *(f"{e} AS {name}" for name, e in _LLD_EXPRS.items()))


# Spark-dialect LLD expressions in output column order. The two lag columns
# (reply_latency, role_change) carry an OVER clause; streaming_lld takes
# every other one. The epoch is util.epoch_seconds' op sequence.
_TOKS = r"split(trim(text), '\\s+')"
_CHAR_LEN = "CAST(length(text) AS DOUBLE)"
_W = "OVER (PARTITION BY conv_id ORDER BY turn_idx)"
_EPOCH = "(CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS DOUBLE) * 1.0E-6D)"
_LLD_EXPRS = {
    "char_len": _CHAR_LEN,
    "token_cnt": f"CAST(size({_TOKS}) AS DOUBLE)",
    "punct_density": "(CAST(length(regexp_replace(text, '[^.,!?;:]', ''))"
                     f" AS DOUBLE) / {_CHAR_LEN})",
    "caps_ratio": "(CAST(length(regexp_replace(text, '[^A-Z]', ''))"
                  f" AS DOUBLE) / {_CHAR_LEN})",
    "ttr": f"(CAST(size(array_distinct({_TOKS})) AS DOUBLE)"
           f" / CAST(size({_TOKS}) AS DOUBLE))",
    "reply_latency": f"coalesce(({_EPOCH} - lag({_EPOCH}) {_W}), 0.0D)",
    "role_change": f"CASE WHEN (role != coalesce(lag(role) {_W}, role))"
                   " THEN 1.0D ELSE 0.0D END",
    "is_tool": "CASE WHEN (role = 'tool') THEN 1.0D ELSE 0.0D END",
}
