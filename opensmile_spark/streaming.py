"""Structured Streaming surface — the incremental/online half of the engine.

The reference is an incremental real-time engine (tick loop,
componentManager.cpp:1416-1520; about.rst:29-36). Spark's analogue is
Structured Streaming:

  cExternalSource push source  -> readStream (rate/kafka/file)
  ring-buffer bounded lateness -> withWatermark(ts, delay)
  cTurnDetector sessionisation -> closed_session_functionals: one
                                  applyInPandasWithState processor per
                                  conv_id with an event-time gap timeout
  end-of-input ticks           -> run_stream_to_memory(flush=...): the
                                  state left after AvailableNow, read back
                                  through the statestore source
  incremental LLDs             -> compute_lld's stateless exprs
  stateful ops (adaptive MVN)  -> stateful_expanding_stats: one
                                  applyInPandasWithState processor per
                                  conv_id holding its values seen so far
  cExternalSink callback       -> foreachBatch / memory sink

Both stateful processors evaluate through the batch operators' calls
(batched.compute_groups per session, compute_expanding per turn): this
module computes no statistic of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_lld(transcripts_stream: DataFrame) -> DataFrame:
    """Stateless LLD columns on a streaming transcripts frame.

    lag-based LLDs (reply_latency, role_change) are *stateful* in streaming
    and are therefore not computed here. Everything else is the exact
    batch expression set: compute_lld's own SQL text minus its OVER columns.
    """
    from opensmile_spark.lld import _LLD_EXPRS

    return transcripts_stream.selectExpr(
        "conv_id", "turn_idx", "ts",
        *(f"{e} AS {name}" for name, e in _LLD_EXPRS.items()
          if " OVER " not in e))


def stateful_expanding_stats(
    lld_stream: DataFrame,
    value_col: str = "char_len",
) -> DataFrame:
    """Causal expanding mean/std per conversation via applyInPandasWithState
    — the streaming twin of backfill_functionals' expanding grid and the
    execution slot for sequential per-conv operators (the Viterbi-smoother
    class, pitchSmootherViterbi.cpp, that can never be a window expression).

    The state holds the conversation's values so far as float64 bytes (8
    per turn). A micro-batch's rows are sorted by turn_idx and appended;
    each new turn's run_mean/run_std are `amean`/`stddev` of the moments
    family's batched.compute_expanding call, so they are bit-equal to
    backfill_functionals(families=["moments"]) anchored at every turn when
    ts increases with turn_idx. One row per input turn (ts <= now ⇒
    leakage-free), conv_id and turn_idx keeping the input's types; n is
    the turn count so far.
    Append mode with NoTimeout: the state lives as long as the query."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from opensmile_spark.functionals.batched import compute_expanding

    key_t, idx_t = (lld_stream.schema[c].dataType.simpleString()
                    for c in ("conv_id", "turn_idx"))
    out_schema = (f"conv_id {key_t}, turn_idx {idx_t}, {value_col} double, "
                  f"run_mean double, run_std double, n long")

    def fn(key, pdfs, state):
        held = np.frombuffer((state.getOption or (b"",))[0], np.float64)
        pdf = pd.concat(pdfs, ignore_index=True).sort_values("turn_idx")
        x = np.concatenate([held, pdf[value_col].to_numpy(np.float64)])
        n = np.arange(held.size + 1, x.size + 1, dtype=np.int64)
        got = compute_expanding(x, n, ["moments"])
        state.update((x.tobytes(),))
        yield pd.DataFrame({
            "conv_id": key[0],
            "turn_idx": pdf["turn_idx"].to_numpy(),
            value_col: x[held.size:],
            "run_mean": got["amean"],
            "run_std": got["stddev"],
            "n": n,
        })

    return (
        lld_stream.select("conv_id", "turn_idx", value_col)
        .groupBy("conv_id")
        .applyInPandasWithState(fn, out_schema, "x binary", "append",
                                GroupStateTimeout.NoTimeout)
    )


def closed_session_functionals(
    lld_stream: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    value_col: str = "char_len",
    families: list[str] | None = None,
):
    """Functional vectors per (conv_id, session): the cTurnDetector
    inactivity timeout (turnDetector.cpp:35-72) as one
    applyInPandasWithState processor per conv_id.

    Rows ordered by (ts, turn_idx); a turn more than `gap` after the
    previous one starts a new session, as in sessionize and Spark's
    session windows (which merge windows [ts, ts + gap) that touch). The
    state holds the rows not yet emitted. A session is emitted once the
    watermark reaches its end (last ts + gap), on new data or on its
    event-time timeout; Spark drops rows older than the previous
    micro-batch's watermark. The sessions of one call go through one
    batched.compute_groups.

    Returns (stream, flush). `flush(checkpoint)` is a batch frame of the
    sessions still in the stream's state at `checkpoint`, computed by the
    same function; run_stream_to_memory(stream, name, flush=flush)
    appends it at end of input."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from opensmile_spark.functionals.batched import (
        compute_groups, output_keys,
    )
    from opensmile_spark.util import sql_ident

    spark = lld_stream.sparkSession
    families = families or ["means", "moments", "percentiles", "segments",
                            "peaks2"]
    feat_names = [f"{value_col}_{k}" for k in output_keys(families)]
    gap_us = spark.sql(f"SELECT INTERVAL {gap}").first()[0] \
        // pd.Timedelta(microseconds=1)
    schema = ", ".join(
        [f"conv_id {lld_stream.schema['conv_id'].dataType.simpleString()}",
         "__start long", "__end long", "n_turns long"]
        + [f"`{n}` double" for n in feat_names])
    cols = ("__us", "turn_idx", value_col)     # held as us, turn_idx, x
    dtypes = (np.int64, np.int64, np.float64)

    def split(key, us, ti, x, until_us):
        """(frame of the sessions ending at or before until_us, the rows
        of the later ones, the later ones' ends)."""
        o = np.lexsort((ti, us))
        us, ti, x = us[o], ti[o], x[o]
        cut = np.flatnonzero(np.diff(us) > gap_us) + 1
        starts, ends = np.r_[0, cut], np.r_[cut, len(us)]
        end_us = us[ends - 1] + gap_us
        k = int(np.searchsorted(end_us, until_us, side="right"))
        s = np.append(starts, len(us))[k]   # closed sessions are a prefix
        feats = compute_groups(x[:s], starts[:k], ends[:k], families) if k \
            else dict.fromkeys(feat_names, np.empty(0))
        closed = pd.DataFrame({
            "conv_id": [key] * k, "__start": us[starts[:k]],
            "__end": end_us[:k], "n_turns": ends[:k] - starts[:k],
            **dict(zip(feat_names, feats.values()))})
        return closed, (us[s:], ti[s:], x[s:]), end_us[k:]

    def step(key, pdfs, state):
        parts = [state.getOption or ((),) * 3] + [
            [pdf[c] for c in cols] for pdf in pdfs]
        rows = [np.concatenate([np.asarray(p[i], t) for p in parts])
                for i, t in enumerate(dtypes)]
        closed, rest, open_ends = split(
            key[0], *rows, state.getCurrentWatermarkMs() * 1000)
        if len(open_ends):
            state.update(tuple(a.tolist() for a in rest))
            # fires once watermark_ms > timeout, i.e. watermark >= end
            state.setTimeoutTimestamp(int(open_ends[0] - 1) // 1000)
        else:
            state.remove()
        if len(closed):
            yield closed

    def emit(pdf):
        return split(pdf["conv_id"].iloc[0],
                     *(pdf[c].to_numpy(t) for c, t in zip(cols, dtypes)),
                     np.inf)[0]

    def bounds(df):
        ts = lld_stream.schema["ts"].dataType
        return df.select(
            "conv_id",
            F.timestamp_micros("__start").cast(ts).alias("session_start"),
            F.timestamp_micros("__end").cast(ts).alias("session_end"),
            "n_turns", *(F.col(sql_ident(n)) for n in feat_names))

    stream = (   # ts stays in: Spark drops late rows on that column
        lld_stream.withWatermark("ts", watermark)
        .select("conv_id", "ts", "turn_idx", value_col,
                F.unix_micros("ts").alias("__us"))
        .groupBy("conv_id")
        .applyInPandasWithState(
            step, schema, "us array<long>, turn_idx array<long>, "
            "x array<double>", "append", GroupStateTimeout.EventTimeTimeout)
    )

    def flush(checkpoint: str) -> DataFrame:
        left = spark.read.format("statestore").load(checkpoint).selectExpr(
            "key.conv_id AS conv_id", "inline(arrays_zip(value.groupState.us,"
            " value.groupState.turn_idx, value.groupState.x)) AS "
            f"(__us, turn_idx, {sql_ident(value_col)})")
        return bounds(left.groupBy("conv_id").applyInPandas(emit, schema))

    return bounds(stream), flush


def run_stream_to_memory(stream_df: DataFrame, name: str, flush=None):
    """Drive a streaming frame through all available input
    (Trigger.AvailableNow) into the memory table `name` in append mode,
    under a temporary checkpoint. `flush(checkpoint)`, if given, returns
    what the stream still holds in its state at end of input
    (closed_session_functionals' second value); it is appended to `name` —
    the reference's end-of-input ticks (componentManager.cpp:1485-1502).
    Returns the query handle."""
    import os
    import shutil
    import tempfile

    checkpoint = tempfile.mkdtemp(prefix="osk_stream_ckpt_")
    try:
        q = stream_df.writeStream.outputMode("append").format("memory") \
            .queryName(name).option("checkpointLocation", checkpoint) \
            .trigger(availableNow=True).start()
        q.awaitTermination()
        if flush is not None and os.listdir(f"{checkpoint}/commits"):
            spark = stream_df.sparkSession
            spark.table(name).unionByName(flush(checkpoint)) \
                .localCheckpoint().createOrReplaceTempView(name)
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return q
