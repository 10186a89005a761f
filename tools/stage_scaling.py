"""Per-stage two-level scaling table (BASELINE.md row 8 planned rows).

Runs each pipeline layer the baseline doc enumerates — (a) LLD, (b)
windowed sma+delta, (c) sessionization, (d) per-session functional bank,
(e) point-in-time backfill as-of merge — as an ISOLATED stage (its input
pre-materialized to /dev/shm parquet, so the timer sees one operator,
not its lineage) at local[8] and local[32] on the same deterministic
seed-42 synthetic corpus (FIXTURES.md §1), and prints ONE JSON line:

  {"rows": N, "anchors": A, "levels": [8, 32], "stages": {
     "lld": {"t8": .., "t32": .., "rows_per_sec_8": ..,
              "rows_per_sec_32": .., "efficiency": ..}, ...}}

efficiency = (t8 / t32) / 4 per stage, min-of-REPS back-to-back pairs
(the same pair protocol as bench.py's north-rule block; see BENCH.md for
why paired ratios beat per-level mins on a shared host). local[32] is
the WHOLE sandbox box — above ~26 effective cores the shared host's
bandwidth grant, not the engine, can gate the wide level (bench.py's
4-vs-16 block exists precisely to dodge that); these rows are the
documented per-layer throughput complement, not the north-rule headline.

Usage: python tools/stage_scaling.py [--convs 400000] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.stages import bench_spark  # noqa: E402

BASE = "/dev/shm/opensmile_spark_stage_scaling"
SCRATCH = BASE + "_scratch"


def prepare(convs: int) -> dict:
    """Materialize the corpus + each stage's input once (untimed)."""
    from pyspark.sql import functions as F

    from opensmile_spark.datagen import generate_transcripts
    from opensmile_spark.lld import compute_lld

    s = bench_spark("stage_scaling",
                    int(os.environ.get("SPARK_GRAFT_CPUS", "32")), SCRATCH)
    t = generate_transcripts(s, n_convs=convs, turns_per_conv=30,
                             partitions=64)
    (t.repartition(192, "conv_id")
      .sortWithinPartitions("conv_id", "turn_idx")
      .write.mode("overwrite").parquet(f"{BASE}/transcripts"))
    t2 = s.read.parquet(f"{BASE}/transcripts")
    lld = compute_lld(t2)
    (lld.repartition(192, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite").parquet(f"{BASE}/lld"))
    lld2 = s.read.parquet(f"{BASE}/lld")
    # anchors: every 8th turn — a realistic point-in-time feature grid
    (lld2.filter(F.col("turn_idx") % 8 == 0)
         .select("conv_id", F.col("ts").alias("anchor_ts"))
         .repartition(64, "conv_id")
         .write.mode("overwrite").parquet(f"{BASE}/anchors"))
    n_rows = lld2.count()
    n_anchors = s.read.parquet(f"{BASE}/anchors").count()
    s.stop()
    return {"rows": n_rows, "anchors": n_anchors}


def stage_plans(s):
    """name -> (DataFrame to evaluate, rows processed)."""
    from pyspark.sql import functions as F

    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import (
        backfill_functionals, delta_regression, sessionize, sma,
    )

    t = s.read.parquet(f"{BASE}/transcripts")
    lld = s.read.parquet(f"{BASE}/lld")
    anchors = s.read.parquet(f"{BASE}/anchors")
    cols = ["char_len", "token_cnt", "reply_latency"]
    return {
        "lld": compute_lld(t),
        "windows_sma_delta": delta_regression(
            sma(lld, cols, 3), ["char_len"], 2),
        "sessionize": sessionize(lld, gap_seconds=43200.0),
        "functionals_kernel": functionals_kernel(
            sessionize(lld, gap_seconds=43200.0),
            ["char_len", "token_cnt"], ("conv_id", "session_id"),
            families=["means", "moments", "percentiles", "regression"],
            repartition_cols=("conv_id",)),
        "backfill_asof": backfill_functionals(
            lld, anchors, ["char_len"], families=["means", "moments"]),
    }


def main():
    from opensmile_spark.io import null_sink

    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=400_000)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--levels", type=int, nargs=2, default=(8, 32))
    args = ap.parse_args()

    meta = prepare(args.convs)
    lo, hi = args.levels
    names = None
    times: dict[str, dict[int, list[float]]] = {}
    for rep in range(args.reps):
        order = (lo, hi) if rep % 2 == 0 else (hi, lo)
        for n in order:
            s = bench_spark("stage_scaling", n, SCRATCH)
            s.conf.set("spark.sql.files.maxPartitionBytes", "16m")
            plans = stage_plans(s)
            names = list(plans)
            # warm-up: spawn workers + JIT the scan path once per session
            null_sink(s.read.parquet(f"{BASE}/lld").select("char_len").limit(
                1_000_000))
            for name, df in plans.items():
                t0 = time.time()
                null_sink(df)
                dt = time.time() - t0
                times.setdefault(name, {}).setdefault(n, []).append(dt)
            s.stop()

    out = {"rows": meta["rows"], "anchors": meta["anchors"],
           "levels": [lo, hi], "reps": args.reps, "stages": {}}
    for name in names:
        pairs = [
            (a / b) / (hi / lo)
            for a, b in zip(times[name][lo], times[name][hi])]
        t_lo, t_hi = min(times[name][lo]), min(times[name][hi])
        out["stages"][name] = {
            f"t{lo}": round(t_lo, 2), f"t{hi}": round(t_hi, 2),
            f"rows_per_sec_{lo}": round(meta["rows"] / t_lo, 1),
            f"rows_per_sec_{hi}": round(meta["rows"] / t_hi, 1),
            "efficiency": round(max(pairs), 3),
            "efficiency_per_pair": [round(p, 3) for p in pairs],
        }
    print(json.dumps(out))
    shutil.rmtree(BASE, ignore_errors=True)
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    main()
