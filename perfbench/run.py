"""Benchmark of the point-in-time feature engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads: session_vectors and
pit_backfill (see perfbench/README.md). One process drives Spark on
local[4]; everything it writes (inputs, Spark scratch, traces) stays under
.perfbench_work/ in the checkout.

With --trace 0 the run times the workload untraced and reports the
end-to-end metrics; with --trace 1 it times untraced and traced iterations,
walks every layer as its own job, re-runs the job on local[1] and reports
the per-layer metrics. Either way human-readable lines come first and the
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SETUP_REPS = 3        # set-up runs per process; setup_s takes their median
WARMUP = 2            # untimed warm-up iterations after the cold one
MIN_WARM = 3          # undisturbed warm iterations per run, at least
MAX_STEAL = 0.05      # an iteration is disturbed if the hypervisor took more
                      # than this share of the machine's CPU time during it
TRACE_REPS = 1        # untraced and traced warm iterations in a traced run

MASTER = "local[4]"

END_TO_END_UNITS = {"setup_s": "s", "warm_s": "s",
                    "vectors_per_s": "vectors/s", "peak_rss_mb": "MB"}

PER_LAYER_UNITS = {
    "session.start_s": "s", "datagen.gen_s": "s", "cold_s": "s",
    "lld.build_ms": "ms", "lld.exec_s": "s", "lld.rows_out": "count",
    "windows.build_ms": "ms", "windows.exec_s": "s",
    "windows.shuffle_bytes": "bytes",
    "sessionize.exec_s": "s", "sessionize.sessions_out": "count",
    "fkernel.build_ms": "ms", "fkernel.exec_s": "s",
    "fkernel.python_total_ms": "ms", "fkernel.python_boot_ms": "ms",
    "fkernel.python_bytes_sent": "bytes",
    "fkernel.python_bytes_received": "bytes",
    "fkernel.shuffle_bytes": "bytes",
    "fsql.build_ms": "ms", "fsql.exec_s": "s", "fsql.wscg_stages": "count",
    "fsql.object_hash_aggs": "count", "fsql.shuffle_bytes": "bytes",
    "batched.ms_per_1k_groups": "ms", "batched.ms_per_1k_anchors": "ms",
    "asof.join_exec_s": "s", "asof.join_shuffle_bytes": "bytes",
    "backfill.build_ms": "ms", "backfill.exec_s": "s",
    "backfill.python_total_ms": "ms", "backfill.python_bytes_sent": "bytes",
    "backfill.mega_exec_s": "s", "backfill.rest_exec_s": "s",
    "checkpoint.run_s": "s", "checkpoint.files_written": "count",
    "checkpoint.bytes_written": "bytes", "checkpoint.manifest_rows": "count",
    "incremental.exec_s": "s", "incremental.stale_convs": "count",
    "incremental.recompute_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "job.speedup_1_to_4": "ratio", "trace.overhead_pct": "%",
}


def configure_env() -> None:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the engine from it."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def start_spark(master: str):
    from opensmile_spark import get_spark

    return get_spark("perfbench", master=master, shuffle_partitions=8,
                     extra_conf={
                         # a fixed, pre-touched heap: peak RSS then moves
                         # with off-heap, JIT and Python-worker memory, not
                         # with when the collector chose to grow the heap
                         "spark.driver.memory": "1g",
                         "spark.local.dir": os.path.join(WORK, "spark-local"),
                         "spark.sql.warehouse.dir":
                             os.path.join(WORK, "warehouse"),
                         "spark.driver.extraJavaOptions":
                             "-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir="
                             + os.path.join(WORK, "tmp"),
                         "spark.ui.showConsoleProgress": "false",
                     })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits on end of its stdin
        proc.wait(timeout=60)


class Stats:
    """Outcome of every timed iteration of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.vectors: list[int] = []
        self.peak_rss_mb = 0.0
        self.steal_share = 0.0   # of the last iteration

    def iterate(self, wl, runner) -> float | None:
        """One timed iteration, then its untimed output check. Returns the
        iteration's wall time, or None if it raised or failed the check;
        `steal_share` is then the share of CPU time the host took."""
        from tracing import engine_peak_rss_mb, host_steal_s

        self.attempted += 1
        try:
            s0 = host_steal_s()
            t0 = time.perf_counter()
            result = wl.iteration(runner)
            dt = time.perf_counter() - t0
            self.steal_share = ((host_steal_s() - s0)
                                / (dt * (os.cpu_count() or 1)))
            vectors, errs = wl.check(result)
        except Exception:   # a failed iteration is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            self.peak_rss_mb = max(self.peak_rss_mb, engine_peak_rss_mb())
        if errs:
            print(f"check failed ({len(errs)}): " + "; ".join(errs[:5]),
                  file=sys.stderr)
            self.failed += 1
            return None
        self.vectors.append(vectors)
        return dt


def warm_loop(stats: Stats, wl, runner, seconds: float, min_iters: int,
              warmup: int) -> list[float]:
    """Warm iteration times: `warmup` untimed iterations (the JIT is still
    compiling for several iterations after the cold one), then iterations
    until `seconds` have passed with at least `min_iters` undisturbed ones
    (host steal at most MAX_STEAL), or until twice `seconds` have passed.
    Returns the undisturbed times, or all of them if none was."""
    for _ in range(warmup):
        stats.iterate(wl, runner)
    clean: list[float] = []
    disturbed: list[float] = []
    t0 = time.perf_counter()
    while True:
        dt = stats.iterate(wl, runner)
        if dt is not None:
            (clean if stats.steal_share <= MAX_STEAL
             else disturbed).append(dt)
        elif stats.failed > stats.attempted // 2 + 1:
            break
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds and len(clean) >= min_iters:
            break
        if elapsed >= 2 * seconds and len(clean + disturbed) >= min_iters:
            break
    if disturbed:
        print("disturbed by the host: "
              + ", ".join(f"{d:.2f}" for d in disturbed) + " s")
    return clean or disturbed


def run(args) -> dict:
    from tracing import Tracer
    from workloads import WORKLOADS, Runner

    tracer = Tracer(f"{args.workload}-{args.seed}")
    with tracer.span("session", master=MASTER) as rec:
        spark = start_spark(MASTER)
    start_s = rec["dur_s"]
    wl = WORKLOADS[args.workload](spark, WORK, args.seed)
    stats = Stats()
    try:
        gens = []
        for _ in range(SETUP_REPS):
            with tracer.span("datagen") as rec:
                wl.setup()
            gens.append(rec["dur_s"])
        wl.prepare()
        print(f"workload {wl.name}: {json.dumps(wl.describe())}")

        # the first iteration in the fresh session: a single sample per
        # run, which host contention moves by a quarter, so it is printed
        # here and reported as a per-layer metric, without a bound
        cold_s = _or_nan(stats.iterate(wl, Runner()))
        if args.trace:
            warm = warm_loop(stats, wl, Runner(), 0, TRACE_REPS, 1)
            vals = {"session.start_s": start_s,
                    "datagen.gen_s": statistics.median(gens),
                    "cold_s": cold_s,
                    **traced_metrics(wl, tracer, stats, args.seed, warm)}
            metrics = {k: {"value": float(v), "unit": PER_LAYER_UNITS[k]}
                       for k, v in vals.items()}
            tracer.dump(os.path.join(WORK, f"trace-{tracer.run_id}.json"))
        else:
            warm = warm_loop(stats, wl, Runner(), args.seconds, MIN_WARM,
                             WARMUP)
            metrics = end_to_end(start_s, gens, warm, stats)
        print(f"session start {start_s:.2f} s; set-up runs "
              + ", ".join(f"{g:.2f}" for g in gens)
              + f" s; cold iteration {cold_s:.2f} s; warm iterations "
              + ", ".join(f"{w:.2f}" for w in warm) + " s")
    finally:
        stop_spark(wl.spark)
    return {"correct": stats.failed == 0, "attempted": stats.attempted,
            "failed": stats.failed, "metrics": metrics}


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else float("nan")


def _or_nan(x):
    return float("nan") if x is None else x


def end_to_end(start_s, gens, warm, stats: Stats) -> dict:
    warm_s = _median(warm)
    vals = {
        "setup_s": start_s + statistics.median(gens),
        "warm_s": warm_s,
        "vectors_per_s": _median(stats.vectors) / warm_s,
        "peak_rss_mb": stats.peak_rss_mb,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]}
            for k, v in vals.items()}


def traced_metrics(wl, tracer, stats: Stats, seed: int, warm) -> dict:
    """Traced iterations, the layer walk and the one-core re-run."""
    from layers import walk
    from tracing import JobCounter, TracedRunner
    from workloads import Runner

    traced = []
    for i in range(TRACE_REPS):
        with JobCounter(wl.spark, f"traced-{i}") as jobs:
            traced.append(stats.iterate(wl, TracedRunner(tracer)))
    vals = {f"spark.{k}": v for k, v in jobs.counts().items()}
    warm_s = _median(warm)
    vals["trace.overhead_pct"] = (_median(traced) / warm_s - 1.0) * 100.0

    layer_vals, errs = walk(wl.spark, wl, tracer, seed)
    vals.update(layer_vals)
    stats.attempted += 1
    if errs:
        print("layer walk check failed: " + "; ".join(errs[:5]),
              file=sys.stderr)
        stats.failed += 1

    # the same job on one core: a local[1] session in the same, already
    # warm JVM, one timed iteration
    wl.spark.stop()
    with tracer.span("session", master="local[1]"):
        wl.spark = start_spark("local[1]")
    t1 = stats.iterate(wl, Runner())
    vals["job.speedup_1_to_4"] = _or_nan(t1) / warm_s
    return vals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["session_vectors", "pit_backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)   # nothing left from a past run
    configure_env()
    import opensmile_spark  # noqa: F401  fail fast without the engine

    result = run(args)
    for name, m in result["metrics"].items():
        print(f"{name:32s} {m['value']:14.4f} {m['unit']}")
    print(f"{'error_rate':32s} "
          f"{result['failed'] / result['attempted']:14.4f} ratio")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
