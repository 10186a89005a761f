"""Per-layer walk of the traced run.

Every engine module on the flagship path is called once more as its own
job, on input the previous layer materialised to parquet, inside a span.
The walk records construction time (py4j, ms), execution time of the
layer's executed plan, and the operator metrics Spark keeps on that plan:
shuffle bytes, Python-boundary time and bytes, codegen stages.

The walk runs on the workload's own corpus, so one traced run of any
workload reports every layer; the numbers differ by corpus shape (many
small conversations, one mega conversation, or a daily refresh).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.dataset as pads

import corpus as C
import tracing as T
from workloads import (
    BACKFILL_COLS, FULL_FAMILIES, KERNEL_FAMILIES, PIT_FAMILIES,
    SESSION_LANES,
)


def _materialise(spark, df, path: str):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _run(tracer, name: str, build, metrics: dict, prefix: str):
    """Build a layer's DataFrame and execute its plan inside one span;
    returns (DataFrame, rows, plan nodes)."""
    with tracer.span(name) as rec:
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        rows, nodes = T.execute_traced(df)
        t2 = time.perf_counter()
        rec.update(rows=rows, build_ms=(t1 - t0) * 1e3, exec_s=t2 - t1)
    metrics[f"{prefix}.build_ms"] = (t1 - t0) * 1e3
    metrics[f"{prefix}.exec_s"] = t2 - t1
    return df, rows, nodes


def _python(metrics: dict, prefix: str, nodes, *names: str) -> None:
    """Python-boundary metrics of the MapInArrow/MapInPandas operators."""
    src = {"python_total_ms": "pythonTotalTime",
           "python_boot_ms": "pythonBootTime",
           "python_bytes_sent": "pythonDataSent",
           "python_bytes_received": "pythonDataReceived"}
    for n in names:
        metrics[f"{prefix}.{n}"] = T.metric_sum(nodes, src[n], "MapIn")


def _shuffle(nodes) -> float:
    return T.metric_sum(nodes, "shuffleBytesWritten")


def batched_sample(seed: int, metrics: dict) -> None:
    """Driver-side kernel cost on a fixed sample: compute_batched over 1000
    groups of 40 values, compute_expanding over 4000 anchors of a
    20000-value conversation; the median of 5 calls each."""
    from opensmile_spark.functionals.batched import (
        compute_batched, compute_expanding,
    )

    rng = np.random.default_rng(seed)
    x = rng.integers(1, 400, size=40_000).astype(np.float64)
    starts = np.arange(0, 40_000, 40)
    ends = starts + 40
    his = np.arange(5, 20_001, 5)

    def med(fn) -> float:
        ts = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts) * 1e3

    metrics["batched.ms_per_1k_groups"] = med(lambda: compute_batched(
        x, starts, ends, ["means", "moments", "percentiles", "regression"])) \
        / (starts.size / 1000)
    metrics["batched.ms_per_1k_anchors"] = med(lambda: compute_expanding(
        x[:20_000], his, PIT_FAMILIES)) / (his.size / 1000)


def walk(spark, wl, tracer, seed: int) -> tuple[dict, list[str]]:
    """Per-layer metrics on the workload's corpus, and the errors the
    checks of the resumable run and the incremental refresh found."""
    from pyspark.sql import functions as F

    from opensmile_spark.checkpoint import read_output, run_resumable
    from opensmile_spark.functionals import (
        functionals_kernel, functionals_sql,
    )
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import (
        asof_join, backfill_functionals, delta_regression, sessionize, sma,
    )
    from opensmile_spark.operators.asof import incremental_backfill

    out = os.path.join(wl.work, "layers")
    m: dict = {}
    turns = spark.read.parquet(wl.paths["turns"])
    anchors = spark.read.parquet(wl.paths["anchors"])

    lld, m["lld.rows_out"], _ = _run(
        tracer, "lld", lambda: compute_lld(turns), m, "lld")
    lld = _materialise(spark, lld, os.path.join(out, "lld"))

    win, _, nodes = _run(
        tracer, "operators.windows",
        lambda: delta_regression(sma(lld, ["char_len", "token_cnt"], 3),
                                 ["char_len_sma3"], 2), m, "windows")
    m["windows.shuffle_bytes"] = _shuffle(nodes)
    win = _materialise(spark, win, os.path.join(out, "windows"))

    sess, _, _ = _run(tracer, "operators.sessionize",
                      lambda: sessionize(win, gap_seconds=600.0), m,
                      "sessionize")
    del m["sessionize.build_ms"]
    sess = _materialise(spark, sess, os.path.join(out, "sessions"))
    m["sessionize.sessions_out"] = sess.select("conv_id", "session_id") \
        .distinct().count()

    _, _, nodes = _run(
        tracer, "functionals.bank.kernel",
        lambda: functionals_kernel(sess, SESSION_LANES,
                                   ("conv_id", "session_id"),
                                   families=KERNEL_FAMILIES,
                                   repartition_cols=("conv_id",)),
        m, "fkernel")
    _python(m, "fkernel", nodes, "python_total_ms", "python_boot_ms",
            "python_bytes_sent", "python_bytes_received")
    m["fkernel.shuffle_bytes"] = _shuffle(nodes)

    _, _, nodes = _run(
        tracer, "functionals.bank.sql",
        lambda: functionals_sql(sess, SESSION_LANES,
                                ("conv_id", "session_id")), m, "fsql")
    m["fsql.wscg_stages"] = T.node_count(nodes, "WholeStageCodegen")
    m["fsql.object_hash_aggs"] = T.node_count(nodes, "ObjectHashAggregate")
    m["fsql.shuffle_bytes"] = _shuffle(nodes)

    with tracer.span("functionals.batched"):
        batched_sample(seed, m)

    _, _, nodes = _run(
        tracer, "operators.asof.asof_join",
        lambda: asof_join(anchors, lld.select("conv_id", "ts", "turn_idx",
                                              *BACKFILL_COLS),
                          value_cols=BACKFILL_COLS), m, "asof.join")
    del m["asof.join.build_ms"]
    m["asof.join_exec_s"] = m.pop("asof.join.exec_s")
    m["asof.join_shuffle_bytes"] = _shuffle(nodes)

    def backfill(keep, families=PIT_FAMILIES):
        return backfill_functionals(lld.filter(keep), anchors.filter(keep),
                                    BACKFILL_COLS, families=families)

    _, _, nodes = _run(tracer, "operators.asof.backfill",
                       lambda: backfill(F.lit(True)), m, "backfill")
    _python(m, "backfill", nodes, "python_total_ms", "python_bytes_sent")
    mega = F.col("conv_id") == C.MEGA_CONV
    for part, keep in (("mega", mega), ("rest", ~mega)):
        sub: dict = {}
        _run(tracer, f"operators.asof.backfill.{part}",
             lambda: backfill(keep), sub, "b")
        m[f"backfill.{part}_exec_s"] = sub["b.exec_s"]

    # resumable run and incremental refresh over the conversations outside
    # the mega conversation (the regression family gathers O(sum window))
    rest_path = os.path.join(out, "rest_turns")
    rest_turns = _materialise(spark, turns.filter(~mega), rest_path)
    rest_anchors = anchors.filter(~mega)
    ckpt = os.path.join(out, "ckpt")
    with tracer.span("checkpoint.run_resumable") as rec:
        t0 = time.perf_counter()
        res = run_resumable(
            spark, lambda s: backfill_functionals(
                compute_lld(rest_turns), rest_anchors, BACKFILL_COLS,
                families=FULL_FAMILIES),
            ckpt, n_buckets=16, run_id="layers")
        rec["run_s"] = m["checkpoint.run_s"] = time.perf_counter() - t0
    data = pads.dataset(os.path.join(ckpt, "data"), partitioning="hive")
    manifest = pads.dataset(os.path.join(ckpt, "manifest")).to_table()
    m["checkpoint.files_written"] = len(data.files)
    m["checkpoint.bytes_written"] = sum(os.path.getsize(f)
                                        for f in data.files)
    m["checkpoint.manifest_rows"] = manifest.num_rows
    errs = []
    rows_out = int(np.sum(manifest.column("rows_out").to_numpy()))
    n_anchors = rest_anchors.count()
    if not rows_out == data.count_rows() == res["rows_out"] == n_anchors:
        errs.append(f"checkpoint: manifest rows_out {rows_out}, written "
                    f"{data.count_rows()}, anchors {n_anchors}")

    day2 = C.write_day2(spark, rest_path, out, seed)
    prev_wm = spark.read.parquet(day2["watermark"])
    with tracer.span("operators.asof.incremental_backfill") as rec:
        t0 = time.perf_counter()
        feats, max_ts = incremental_backfill(
            read_output(spark, ckpt).drop("bucket"), prev_wm,
            compute_lld(spark.read.parquet(day2["turns"])),
            spark.read.parquet(day2["anchors"]), BACKFILL_COLS,
            families=FULL_FAMILIES)
        rec["rows"], _ = T.execute_traced(feats)
        rec["exec_s"] = m["incremental.exec_s"] = time.perf_counter() - t0
    cur = max_ts.alias("c").join(prev_wm.alias("p"), "conv_id")
    stale = cur.filter((F.col("c.max_ts") != F.col("p.max_ts"))
                       | (F.col("c.n_rows") != F.col("p.n_rows")))
    m["incremental.stale_convs"] = stale.count()
    m["incremental.recompute_ratio"] = \
        m["incremental.stale_convs"] / prev_wm.count()
    errs += check_refresh(spark, feats, day2, rec["rows"], seed)
    return m, errs


def check_refresh(spark, feats, day2: dict, n_rows: int,
                  seed: int) -> list[str]:
    """The refreshed features have one row per day-2 anchor, match the
    numpy oracle on sampled anchors, and equal a full recompute of the
    sampled conversations (stale ones included) bit for bit."""
    from pyspark.sql import functions as F

    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import backfill_functionals

    turns = C.load_turns(day2["turns"])
    anchors = C.load_anchors(day2["anchors"])
    errs = []
    if n_rows != len(anchors):
        errs.append(f"incremental: {n_rows} rows for {len(anchors)} anchors")
    stale = sorted(turns.loc[turns["turn_idx"] >= C.DAY2_FIRST_TURN,
                             "conv_id"].unique())
    sample = sorted(set(C.sample_convs(turns, 20, seed)) | set(stale[:5]))
    key = F.col("conv_id").isin(sample)

    def rows(df):
        p = df.filter(key).withColumn("anchor_ts", F.unix_micros("anchor_ts")) \
            .toPandas()
        return p.sort_values(["conv_id", "anchor_ts"], ignore_index=True)

    mine = rows(feats)
    full = rows(backfill_functionals(
        compute_lld(spark.read.parquet(day2["turns"]).filter(key)),
        spark.read.parquet(day2["anchors"]).filter(key), BACKFILL_COLS,
        families=FULL_FAMILIES))
    if len(mine) != len(full) or list(mine.columns) != list(full.columns):
        return errs + [f"incremental: {len(mine)} sampled rows, full "
                       f"recompute {len(full)}"]
    errs += [f"incremental: {c} differs from a full recompute"
             for c in full.columns
             if not np.array_equal(mine[c].to_numpy(), full[c].to_numpy(),
                                   equal_nan=mine[c].dtype.kind == "f")]
    oracle = C.anchor_oracle(turns, anchors, sample, BACKFILL_COLS,
                             FULL_FAMILIES, max_per_conv=10)
    got = {(r["conv_id"], r["anchor_ts"]): r
           for r in mine.to_dict("records")}
    for k, exp in oracle.items():
        if k not in got:
            errs.append(f"incremental: anchor {k} missing")
        else:
            errs += C.compare(exp, got[k], f"incremental {k}")
    return errs
