"""Structured Streaming surface — the incremental/online half of the engine.

The reference is an incremental real-time engine (tick loop,
/root/reference/src/core/componentManager.cpp:1416-1520; about.rst:29-36).
Spark's analogue is Structured Streaming:

  cExternalSource push source  -> readStream (rate/kafka/file) or
                                  MemoryStream in tests
  ring-buffer bounded lateness -> withWatermark(ts, delay)
  cTurnDetector sessionisation -> session_window(ts, gap) aggregation
  incremental LLDs             -> same stateless column exprs as batch
                                  (compute_lld works on streaming frames)
  stateful ops (adaptive MVN,
  Viterbi-style smoothing)     -> applyInPandasWithState per conv_id
  cExternalSink callback       -> foreachBatch / memory sink

Everything here reuses the batch expressions — one logical definition,
two execution modes (the Spark-first replacement for the reference's single
dataflow graph running either offline or online).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_lld(transcripts_stream: DataFrame) -> DataFrame:
    """Stateless LLD columns on a streaming transcripts frame.

    lag-based LLDs (reply_latency, role_change) are *stateful* in streaming
    and are therefore not computed here — they belong to the sessionized
    aggregate (below) or the stateful smoother. Everything else is the exact
    batch expression set: compute_lld's own SQL text minus its OVER columns.
    """
    from opensmile_spark.lld import _LLD_EXPRS

    return transcripts_stream.selectExpr(
        "conv_id", "turn_idx", "ts",
        *(f"{e} AS {name}" for name, e in _LLD_EXPRS.items()
          if " OVER " not in e))


def streaming_session_functionals(
    lld_stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    value_col: str = "char_len",
) -> DataFrame:
    """Per-(conv, session-window) incremental functional aggregates.

    session_window(ts, gap) IS the cTurnDetector timeout rule
    (turnDetector.cpp:58-62) executed by the state store; the watermark is
    the lateness bound the reference enforces physically with its ring
    buffer (dataMemoryLevel.hpp:245 noHang). Aggregates limited to the
    single-pass (partial-combinable) functional subset — order statistics
    need the batch kernel over closed sessions. Each aggregate is
    functionals_sql's own SQL text for that functional.
    """
    from opensmile_spark.functionals.bank import _fsql_named
    from opensmile_spark.util import sql_ident

    named = _fsql_named(value_col)
    feats = ("amean", "absmean", "qmean", "rqmean", "variance", "max",
             "min", "nnz")
    return (
        lld_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"),
             *(F.expr(named[k]).alias(f"{value_col}_{k}") for k in feats))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
            *(F.col(sql_ident(f"{value_col}_{k}")) for k in feats),
        )
    )


def stateful_expanding_stats(
    lld_stream: DataFrame,
    value_col: str = "char_len",
) -> DataFrame:
    """Causal expanding mean/M2 per conversation via applyInPandasWithState —
    the streaming twin of mvn(mode='expanding') and the execution slot for
    any sequential per-conv operator (the Viterbi-smoother class of ops,
    pitchSmootherViterbi.cpp, that can never be a window expression).

    State = (count, mean, M2) Welford accumulator carried across
    micro-batches; emits one row per input turn with the running stats at
    that turn (ts <= now ⇒ leakage-free). The per-batch update is the
    vectorized Welford recursion: mean_k from shifted cumulative sums,
    M2_k = M2_{k-1} + (x_k − mean_{k-1})(x_k − mean_k).

    Output mode is 'update' with NoTimeout: in this pyspark build the
    ProcessingTimeTimeout + append combination crashes the Arrow state
    worker (observed: empty-crash loop under Trigger.AvailableNow).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (f"conv_id string, turn_idx int, {value_col} double, "
                  f"run_mean double, run_std double, n long")
    state_schema = "n long, mean double, m2 double"

    def fn(key, pdfs, state):
        if state.exists:
            n0, mean0, m20 = state.get
        else:
            n0, mean0, m20 = 0, 0.0, 0.0
        frames = []
        for pdf in pdfs:
            frames.append(pdf)
        if not frames:
            state.update((n0, mean0, m20))
            return
        pdf = pd.concat(frames, ignore_index=True).sort_values("turn_idx")
        x = pdf[value_col].to_numpy(dtype=np.float64)
        k = np.arange(1, len(x) + 1, dtype=np.float64)
        n = n0 + k
        means = (n0 * mean0 + np.cumsum(x)) / n
        prev_means = np.concatenate(([mean0], means[:-1]))
        m2 = m20 + np.cumsum((x - prev_means) * (x - means))
        stds = np.sqrt(np.maximum(m2 / n, 0.0))
        state.update((int(n[-1]), float(means[-1]), float(m2[-1])))
        yield pd.DataFrame({
            "conv_id": key[0],
            "turn_idx": pdf["turn_idx"].to_numpy(),
            value_col: x,
            "run_mean": means,
            "run_std": stds,
            "n": n.astype(np.int64),
        })

    return (
        lld_stream.select("conv_id", "turn_idx", value_col)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def closed_session_functionals(
    lld_stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    value_col: str = "char_len",
    families: list[str] | None = None,
):
    """FULL functional vectors (incl. order statistics / peaks2 — anything
    the incremental aggregate above cannot express) over CLOSED sessions:
    the streaming analogue of the reference's EOI flush
    (componentManager.cpp:1485-1502 runs extra ticks at EOI so full-input
    ops see the whole segment).

    Mechanics: session_window aggregation in APPEND mode collects each
    session's (ts-ordered) values; append + watermark means a session row
    is emitted exactly once, when the watermark passes its close — at that
    point the whole segment is known, so the batch kernel runs on it inside
    foreachBatch: one mapInArrow pass hands every session of an Arrow batch
    to batched.compute_groups at once. State is bounded by session length
    (the reference's ring buffer bound); the kernel never sees an open
    session.

    Returns (sessions_stream, process_batch): start with
      sessions_stream.writeStream.outputMode("append")
          .foreachBatch(lambda df, _: sink(process_batch(df))).start()
    where process_batch(df) -> DataFrame applies the kernel batch-side.
    """
    import numpy as np
    import pyarrow as pa

    from opensmile_spark.functionals.batched import (
        compute_groups, output_keys,
    )

    families = families or ["means", "moments", "percentiles", "segments",
                            "peaks2"]
    feat_names = [f"{value_col}_{k}" for k in output_keys(families)]

    sessions = (
        lld_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sort_array(
                F.collect_list(F.struct("ts", "turn_idx", value_col))
            ).alias("__rows"),
        )
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
            F.transform("__rows", lambda r: r[value_col]).alias("__xs"),
        )
    )
    key_cols = ["conv_id", "session_start", "session_end", "n_turns"]

    def kernel(batches):
        """Each row is one closed session: the __xs list offsets are the
        group bounds of the flattened values."""
        for rb in batches:
            if not rb.num_rows:
                continue
            xs = rb.column("__xs")
            offsets = xs.offsets.to_numpy().astype(np.int64)
            x = xs.flatten().to_numpy(zero_copy_only=False) \
                .astype(np.float64, copy=False)
            feats = compute_groups(x, offsets[:-1] - offsets[0],
                                   offsets[1:] - offsets[0], families)
            # from_pandas=True: NaN -> null, as the other kernels emit it
            yield pa.RecordBatch.from_arrays(
                [rb.column(c) for c in key_cols]
                + [pa.array(v, type=pa.float64(), from_pandas=True)
                   for v in feats.values()],
                names=key_cols + feat_names)

    schema = ", ".join(
        [f"`{c}` {sessions.schema[c].dataType.simpleString()}"
         for c in key_cols] + [f"`{n}` double" for n in feat_names])

    def process_batch(batch_df: DataFrame) -> DataFrame:
        return batch_df.mapInArrow(kernel, schema=schema)

    return sessions, process_batch


def dedup_stream(
    stream_df: DataFrame,
    key=None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Exact-duplicate drop at INGEST (streaming twin of dedup.exact_dedup):
    state-store dropDuplicates on the content hash, bounded by the
    watermark — a duplicate arriving within `watermark` of the original is
    dropped; the state for older keys is evicted (the unbounded-state
    pitfall of naive streaming dedup is the point of the bound). `key`
    defaults to md5(text)."""
    key_expr = key if key is not None else F.md5(F.col(text_col))
    return (
        stream_df.withColumn("__content_key", key_expr)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__content_key"])
        .drop("__content_key")
    )


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         output_mode: str = "append"):
    """Drive a streaming frame to completion against available data (the
    Trigger.AvailableNow EOI analogue — componentManager.cpp:1485-1502 runs
    extra ticks at EOI so full-input ops flush). Returns the query handle;
    caller reads `SELECT * FROM {name}`."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory").queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
