"""Seeded inputs of the benchmark and the numpy oracle they are checked
against.

Inputs are made with the engine's own generator (`generate_transcripts`)
and written to parquet under the run's work directory before any timing;
the workloads read only that parquet. The oracle re-derives the expected
outputs on the driver with plain numpy from the same parquet files and the
reference kernels (`functionals.kernels.compute_all`), never from the
engine's Spark operators.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MEGA_CONV = "c0"           # datagen puts the mega conversation at conv 0
ANCHOR_EVERY = 5           # one anchor on every 5th turn
DAY2_FRACTION = 20         # 1 in 20 conversations (5%) gets a second day
DAY2_TURNS = 10
DAY2_FIRST_TURN = 1_000_000  # day-2 turn indices start here


def write_inputs(spark, out_dir: str, seed: int, n_convs: int, turns: int,
                 mega_factor: int = 1) -> dict:
    """Generate the transcript corpus and its anchor grid as parquet.

    Anchors sit at the timestamp of every 5th turn, so ties between a turn
    and an anchor occur (and are visible, per `asof_join`'s contract)."""
    from opensmile_spark.datagen import generate_transcripts

    paths = {"turns": os.path.join(out_dir, "turns"),
             "anchors": os.path.join(out_dir, "anchors")}
    generate_transcripts(spark, n_convs=n_convs, turns_per_conv=turns,
                         seed=seed, mega_conv_factor=mega_factor) \
        .write.mode("overwrite").parquet(paths["turns"])
    write_anchors(spark.read.parquet(paths["turns"]), paths["anchors"])
    return paths


def write_anchors(turns_df, path: str) -> None:
    from pyspark.sql import functions as F

    turns_df.filter(F.col("turn_idx") % ANCHOR_EVERY == ANCHOR_EVERY - 1) \
        .select("conv_id", F.col("ts").alias("anchor_ts")) \
        .write.mode("overwrite").parquet(path)


def write_day2(spark, turns_path: str, out_dir: str, seed: int) -> dict:
    """A second day of turns for a seeded 5% of conversations: their first
    10 turns replayed one day later, numbered from DAY2_FIRST_TURN.
    Writes the day-2 corpus (day 1 plus the append), its anchors, and the
    day-1 watermark table an incremental refresh starts from."""
    from pyspark.sql import functions as F

    paths = {"turns": os.path.join(out_dir, "turns_day2"),
             "anchors": os.path.join(out_dir, "anchors_day2"),
             "watermark": os.path.join(out_dir, "watermark_day1")}
    day1 = spark.read.parquet(turns_path)
    picked = F.pmod(F.xxhash64("conv_id", F.lit(seed)),
                    F.lit(DAY2_FRACTION)) == 0
    day1.groupBy("conv_id") \
        .agg(F.max("ts").alias("max_ts"), F.count(F.lit(1)).alias("n_rows")) \
        .write.mode("overwrite").parquet(paths["watermark"])
    append = (day1.filter(picked & (F.col("turn_idx") < DAY2_TURNS))
              .select("conv_id",
                      (F.col("turn_idx") + DAY2_FIRST_TURN).alias("turn_idx"),
                      "role", "text", "tool",
                      (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts")))
    day1.unionByName(append).write.mode("overwrite").parquet(paths["turns"])
    write_anchors(spark.read.parquet(paths["turns"]), paths["anchors"])
    return paths


# --- driver-side oracle -----------------------------------------------------

def epoch_us(table: pa.Table, col: str) -> pd.DataFrame:
    """The table as pandas, with timestamp column `col` as int64 epoch
    microseconds (Spark writes UTC instants, whatever the parquet type)."""
    i = table.schema.get_field_index(col)
    us = table.column(i).cast(pa.timestamp("us")).cast(pa.int64())
    return table.set_column(i, col, us).to_pandas()


def load_turns(path: str) -> pd.DataFrame:
    """Turns with their LLD values, sorted by (conv_id, turn_idx); ts as
    int64 epoch microseconds."""
    t = epoch_us(pq.read_table(path, columns=["conv_id", "turn_idx", "role",
                                              "text", "ts"]), "ts")
    t["char_len"] = t["text"].str.len().astype(np.float64)
    t["token_cnt"] = t["text"].str.strip().str.split().str.len() \
        .astype(np.float64)
    return t.drop(columns="text").sort_values(
        ["conv_id", "turn_idx"], ignore_index=True)


def load_anchors(path: str) -> pd.DataFrame:
    a = epoch_us(pq.read_table(path), "anchor_ts")
    return a.sort_values(["conv_id", "anchor_ts"], ignore_index=True)


def sample_convs(turns: pd.DataFrame, n: int, seed: int,
                 always=()) -> list[str]:
    convs = sorted(set(turns["conv_id"]) - set(always))
    rng = np.random.default_rng(seed)
    picked = rng.choice(len(convs), size=min(n, len(convs)), replace=False)
    return sorted(always) + sorted(convs[i] for i in picked)


def _clamped(x: np.ndarray, i: int) -> tuple[np.ndarray, np.ndarray]:
    """(x[n-i], x[n+i]) with the first/last value repeated past the ends,
    as `operators.windows.clamped_lag` / `clamped_lead` do."""
    idx = np.arange(x.size)
    return (x[np.maximum(idx - i, 0)], x[np.minimum(idx + i, x.size - 1)])


def session_lanes(conv: pd.DataFrame) -> dict[int, dict[str, np.ndarray]]:
    """compute_lld -> sma(3) -> delta_regression(2) -> sessionize(600 s) for
    one conversation (rows in turn order): {session_id: {lane: values}}."""
    lanes = {}
    for c in ("char_len", "token_cnt"):
        x = conv[c].to_numpy()
        prev, nxt = _clamped(x, 1)
        lanes[f"{c}_sma3"] = (x + prev + nxt) / 3.0
    s = lanes["char_len_sma3"]
    num = 0.0
    for i in (1, 2):
        prev, nxt = _clamped(s, i)
        num = num + float(i) * (nxt - prev)
    lanes["char_len_sma3_de"] = num / 10.0
    epoch = conv["ts"].to_numpy().astype(np.float64) * 0.000001
    new = np.ones(epoch.size, dtype=bool)
    new[1:] = (epoch[1:] - epoch[:-1]) > 600.0
    sid = np.cumsum(new) - 1
    return {int(k): {ln: v[sid == k] for ln, v in lanes.items()}
            for k in np.unique(sid)}


def count_sessions(turns: pd.DataFrame) -> int:
    epoch = turns["ts"].to_numpy().astype(np.float64) * 0.000001
    conv = turns["conv_id"].to_numpy()
    new = np.ones(len(turns), dtype=bool)
    new[1:] = (conv[1:] != conv[:-1]) | ((epoch[1:] - epoch[:-1]) > 600.0)
    return int(new.sum())


def visible_counts(turns: pd.DataFrame, anchors: pd.DataFrame) -> np.ndarray:
    """Per anchor (in `anchors` row order): turns of its conversation with
    ts <= anchor_ts."""
    t = turns.sort_values(["conv_id", "ts"])
    out = np.zeros(len(anchors), dtype=np.int64)
    bounds = {k: (s, e) for k, s, e in _runs(t["conv_id"].to_numpy())}
    ts = t["ts"].to_numpy()
    for k, s, e in _runs(anchors["conv_id"].to_numpy()):
        if k in bounds:
            ts_s, ts_e = bounds[k]
            out[s:e] = np.searchsorted(ts[ts_s:ts_e],
                                       anchors["anchor_ts"].to_numpy()[s:e],
                                       side="right")
    return out


def _runs(keys: np.ndarray):
    """(key, start, end) of each run of equal consecutive keys."""
    if keys.size == 0:
        return
    change = np.flatnonzero(keys[1:] != keys[:-1]) + 1
    starts = np.concatenate([[0], change])
    ends = np.concatenate([change, [keys.size]])
    for s, e in zip(starts, ends):
        yield keys[s], int(s), int(e)


def anchor_oracle(turns: pd.DataFrame, anchors: pd.DataFrame,
                  convs: list[str], value_cols: list[str],
                  families: list[str], max_per_conv: int = 8) -> dict:
    """{(conv_id, anchor_ts_us): {"n_visible", "<col>_last", and every
    "<col>_<functional>" from compute_all over the visible prefix}}."""
    from opensmile_spark.functionals.kernels import compute_all

    out = {}
    for conv in convs:
        t = turns[turns["conv_id"] == conv].sort_values(["ts", "turn_idx"])
        ts = t["ts"].to_numpy()
        a = anchors[anchors["conv_id"] == conv]["anchor_ts"].to_numpy()
        if a.size > max_per_conv:
            a = a[np.linspace(0, a.size - 1, max_per_conv).astype(int)]
        for at in a:
            hi = int(np.searchsorted(ts, at, side="right"))
            rec = {"n_visible": hi}
            for c in value_cols:
                x = t[c].to_numpy()[:hi]
                rec[f"{c}_last"] = x[-1] if hi else np.nan
                for k, v in compute_all(x, families).items():
                    rec[f"{c}_{k}"] = v
            out[(conv, int(at))] = rec
    return out


ILL_CONDITIONED = 1e9  # |value| past this is a ratio over a mean of ~0


def compare(expected: dict, got: dict, what: str, rtol: float = 1e-9,
            atol: float = 1e-9) -> list[str]:
    """Errors for every shared key whose values differ beyond tolerance.

    A ratio over a mean that is zero up to rounding (stddevNorm, centroid,
    ... of a delta lane) is huge on one side and, where that side's sum
    cancelled exactly, the kernel's zero-mean fallback on the other; which
    one comes out depends on summation order, so such values are not
    compared."""
    errs = []
    for k, v in expected.items():
        if k not in got:
            continue
        g = got[k]
        g = math.nan if g is None else float(g)
        v = float(v)
        if any(math.isfinite(x) and abs(x) > ILL_CONDITIONED for x in (g, v)):
            continue
        if math.isnan(v) or math.isnan(g):
            ok = math.isnan(v) and math.isnan(g)
        else:   # np.isclose's rule, without its per-call overhead
            ok = g == v or abs(g - v) <= atol + rtol * abs(v)
        if not ok:
            errs.append(f"{what}: {k} = {g!r}, oracle {v!r}")
    return errs
