"""The benchmark's point-in-time workloads.

Each workload writes its seeded inputs once per set-up, then runs
iterations of its job through the engine's public functions. An iteration
is timed by the caller; `check` runs afterwards, untimed, and compares the
iteration's outputs with the numpy oracle in `corpus`.

Jobs go through a runner: `Runner` (the timed path) sinks each DataFrame
into Spark's `noop` writer, `tracing.TracedRunner` executes the DataFrame's
own plan so its operator metrics can be read. Either way the sampled output
rows come back through an observation on the same job, so checking adds no
Spark job to a timed iteration.
"""

from __future__ import annotations

import itertools
import os

import corpus as C

SESSION_LANES = ["char_len_sma3", "token_cnt_sma3", "char_len_sma3_de"]
KERNEL_FAMILIES = ["means", "moments", "percentiles", "regression", "peaks2"]
BACKFILL_COLS = ["char_len", "token_cnt"]
PIT_FAMILIES = ["means", "moments", "extremes", "percentiles"]
FULL_FAMILIES = PIT_FAMILIES + ["regression"]

_obs_ids = itertools.count()


class Runner:
    """Untraced job runner: the path every end-to-end metric is timed on."""

    def run(self, name: str, df, exprs) -> dict:
        from pyspark.sql import Observation

        obs = Observation(f"{name}_{next(_obs_ids)}")
        df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
        return obs.get


def sampled_rows(key_cond, df):
    """Observation aggregates: row count and the rows matching key_cond."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    if "anchor_ts" in df.columns:
        cols.append(F.unix_micros("anchor_ts").alias("anchor_us"))
    return [F.count(F.lit(1)).alias("rows"),
            F.collect_list(F.when(key_cond, F.struct(*cols))).alias("sample")]


def session_chain(transcripts):
    """compute_lld -> sma(3) -> delta_regression(2) -> sessionize(600 s)."""
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import delta_regression, sessionize, sma

    lld = sma(compute_lld(transcripts), ["char_len", "token_cnt"], 3)
    lld = delta_regression(lld, ["char_len_sma3"], 2)
    return sessionize(lld, gap_seconds=600.0)


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")

    def setup(self) -> None:
        """Generate and write the inputs (timed as set-up)."""
        self.paths = C.write_inputs(self.spark, self.inputs, self.seed,
                                    **self.sizes)

    def prepare(self) -> None:
        """Load the inputs on the driver and build the oracle (untimed)."""
        raise NotImplementedError

    def iteration(self, runner: Runner) -> dict:
        raise NotImplementedError

    def check(self, result: dict) -> tuple[int, list[str]]:
        """(feature vectors emitted, errors) for one iteration's result."""
        raise NotImplementedError

    def describe(self) -> dict:
        return dict(self.sizes)


class SessionVectors(Workload):
    """Per-session feature vectors over many small conversations: the window
    chain, the Arrow boundary and the batched numpy kernels; no as-of work
    and no writes."""

    name = "session_vectors"
    sizes = {"n_convs": 1000, "turns": 40}

    def prepare(self) -> None:
        from opensmile_spark.functionals.kernels import compute_all

        turns = C.load_turns(self.paths["turns"])
        self.n_turns = len(turns)
        self.n_sessions = C.count_sessions(turns)
        self.sample = C.sample_convs(turns, 70, self.seed)
        self.oracle = {}
        for conv in self.sample:
            rows = turns[turns["conv_id"] == conv]
            for sid, lanes in C.session_lanes(rows).items():
                rec = {"n_turns": float(len(lanes["char_len_sma3"]))}
                for ln, x in lanes.items():
                    for k, v in compute_all(
                            x, KERNEL_FAMILIES + ["extremes"]).items():
                        rec[f"{ln}_{k}"] = v
                self.oracle[(conv, sid)] = rec

    def iteration(self, runner: Runner) -> dict:
        from pyspark.sql import functions as F

        from opensmile_spark.functionals import (
            functionals_kernel, functionals_sql,
        )

        sessions = session_chain(self.spark.read.parquet(self.paths["turns"]))
        kern = functionals_kernel(
            sessions, SESSION_LANES, ("conv_id", "session_id"),
            families=KERNEL_FAMILIES, repartition_cols=("conv_id",))
        sql = functionals_sql(sessions, SESSION_LANES,
                              ("conv_id", "session_id"))
        key = F.col("conv_id").isin(self.sample)
        return {
            "kernel": runner.run("fkernel", kern, sampled_rows(key, kern)),
            "sql": runner.run("fsql", sql, sampled_rows(key, sql)),
        }

    def check(self, result: dict) -> tuple[int, list[str]]:
        errs, vectors = [], 0
        # SQL aggregates sum in another order than numpy: looser tolerance
        for part, rtol in (("kernel", 1e-9), ("sql", 1e-6)):
            obs = result[part]
            vectors += obs["rows"]
            if obs["rows"] != self.n_sessions:
                errs.append(f"{part}: {obs['rows']} rows for "
                            f"{self.n_sessions} sessions")
            got = {(r["conv_id"], r["session_id"]): r.asDict()
                   for r in obs["sample"]}
            if len(got) != len(obs["sample"]) or set(got) != set(self.oracle):
                errs.append(f"{part}: sampled sessions differ from oracle")
                continue
            for k, exp in self.oracle.items():
                errs += C.compare(exp, got[k], f"{part} {k}", rtol=rtol,
                                  atol=rtol)
        return vectors, errs


class PitBackfill(Workload):
    """Point-in-time training set over skewed data: asof_join plus an
    expanding backfill, with one mega conversation holding half the turns."""

    name = "pit_backfill"
    sizes = {"n_convs": 500, "turns": 40, "mega_factor": 500}

    def prepare(self) -> None:
        turns = C.load_turns(self.paths["turns"])
        anchors = C.load_anchors(self.paths["anchors"])
        self.n_anchors = len(anchors)
        self.visible_total = int(C.visible_counts(turns, anchors).sum())
        convs = C.sample_convs(turns, 25, self.seed, always=[C.MEGA_CONV])
        self.oracle = C.anchor_oracle(turns, anchors, convs, BACKFILL_COLS,
                                      PIT_FAMILIES)
        self.sample_convs = [c for c in convs if c != C.MEGA_CONV]
        self.mega_ts = [t for c, t in self.oracle if c == C.MEGA_CONV]
        self.mega_rows = int((turns["conv_id"] == C.MEGA_CONV).sum())
        self.n_turns = len(turns)

    def describe(self) -> dict:
        return {**self.sizes, "mega_rows": self.mega_rows,
                "mega_share": self.mega_rows / self.n_turns}

    def _key(self):
        from pyspark.sql import functions as F

        return (F.col("conv_id").isin(self.sample_convs)
                | ((F.col("conv_id") == C.MEGA_CONV)
                   & F.unix_micros("anchor_ts").isin(self.mega_ts)))

    def iteration(self, runner: Runner) -> dict:
        from pyspark.sql import functions as F

        from opensmile_spark.lld import compute_lld
        from opensmile_spark.operators import asof_join, backfill_functionals

        lld = compute_lld(self.spark.read.parquet(self.paths["turns"]))
        anchors = self.spark.read.parquet(self.paths["anchors"])
        joined = asof_join(anchors, lld.select("conv_id", "ts", "turn_idx",
                                               *BACKFILL_COLS),
                           value_cols=BACKFILL_COLS)
        feats = backfill_functionals(lld, anchors, BACKFILL_COLS,
                                     families=PIT_FAMILIES)
        key = self._key()
        return {
            "asof": runner.run("asof", joined, sampled_rows(key, joined)),
            "backfill": runner.run(
                "backfill", feats,
                sampled_rows(key, feats)
                + [F.sum("n_visible").alias("visible")]),
        }

    def check(self, result: dict) -> tuple[int, list[str]]:
        errs, vectors = [], 0
        for part in ("asof", "backfill"):
            obs = result[part]
            vectors += obs["rows"]
            if obs["rows"] != self.n_anchors:
                errs.append(f"{part}: {obs['rows']} rows for "
                            f"{self.n_anchors} anchors")
            got = {(r["conv_id"], r["anchor_us"]): r.asDict()
                   for r in obs["sample"]}
            if len(got) != len(obs["sample"]) or set(got) != set(self.oracle):
                errs.append(f"{part}: sampled anchors differ from oracle")
                continue
            for k, exp in self.oracle.items():
                if part == "asof":
                    exp = {c: exp[f"{c}_last"] for c in BACKFILL_COLS}
                errs += C.compare(exp, got[k], f"{part} {k}")
        if result["backfill"]["visible"] != self.visible_total:
            errs.append("backfill: n_visible total "
                        f"{result['backfill']['visible']} != "
                        f"{self.visible_total} turns at or before anchors")
        return vectors, errs


WORKLOADS = {w.name: w for w in (SessionVectors, PitBackfill)}
