"""Per-conversation Viterbi smoothing — the stateful sequential op class.

cPitchSmootherViterbi (/root/reference/src/lld/pitchSmootherViterbi.cpp) runs
a dynamic program over per-frame candidate lattices; the defining property is
sequential dependence across frames, which can never be a window expression
(SURVEY.md §2.7). The transcript analogue smooths any noisy per-turn contour
(e.g. reply cadence) by a DP over quantized levels with a jump cost.

Execution: mapInArrow over conv-partitioned, turn-sorted input, in blocks of
whole conversations (groupbatch.group_blocks — the same blockwise layout as
the functional bank) — per conversation the DP is O(N * levels^2) numpy;
conversations are independent, so this parallelizes across the cluster
exactly like the kernel bank.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from opensmile_spark.functionals.kernels import viterbi_smooth
from opensmile_spark.groupbatch import group_blocks


def viterbi_smooth_df(
    df: DataFrame,
    col: str,
    n_levels: int = 16,
    jump_cost: float = 1.0,
    partition_cols=("conv_id",),
    order_col: str = "turn_idx",
    suffix: str = "_vit",
    carry_cols=None,
) -> DataFrame:
    """carry_cols: extra columns threaded through the kernel unchanged
    ("all" = every other column) — mid-pipeline callers (the smileconf
    config runner) need ts and friends to survive for later stages."""
    group_cols = list(partition_cols)
    in_cols = group_cols + [order_col, col]
    if carry_cols == "all":
        carry = [c for c in df.columns if c not in in_cols]
    else:
        carry = [c for c in (carry_cols or []) if c not in in_cols]
    in_cols = in_cols + carry
    schema_parts = [
        f"`{c}` {df.schema[c].dataType.simpleString()}" for c in in_cols
    ]
    schema = ", ".join(schema_parts) + f", `{col}{suffix}` double"

    def run(batches):
        for rb, starts, ends in group_blocks(batches, group_cols):
            x = rb.column(col).to_numpy(zero_copy_only=False) \
                .astype(np.float64, copy=False)
            out = np.empty(rb.num_rows)
            for s, e in zip(starts, ends):
                out[s:e] = viterbi_smooth(x[s:e], n_levels, jump_cost)
            yield rb.append_column(f"{col}{suffix}",
                                   pa.array(out, from_pandas=True))

    proj = (
        df.select(*in_cols)
        .repartition(*group_cols)
        .sortWithinPartitions(*group_cols, order_col)
    )
    return proj.mapInArrow(run, schema=schema)
