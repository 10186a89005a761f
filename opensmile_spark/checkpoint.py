"""Resumable runs: per-partition checkpoint manifest + lineage + metrics.

The reference has no resumability (restart = rerun the file; SURVEY.md §4).
At 10^12 turns a backfill must survive restarts, so the engine processes the
conv_id keyspace in hash buckets and records one manifest row per completed
bucket. On resume, completed buckets are skipped; output written per bucket
is idempotent (overwrite-by-partition).

Layout under `base_dir`:
  manifest/   parquet rows: bucket, status, rows_out, wall_sec, finished_at,
              run_id, lineage (input path + query name)
  data/bucket=NNN/  the bucket's output parquet

This is plain-parquet "poor man's Iceberg overwrite-by-filter": each bucket
directory is replaced atomically-enough for a single writer, and the
manifest is append-only with last-writer-wins per bucket (dedup on read).
Swap `data/` writes for `writeTo(table).overwritePartitions()` when an
Iceberg catalog is on the classpath (not in this sandbox).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_dir(base_dir: str) -> str:
    return os.path.join(base_dir, "manifest")


def completed_buckets(spark: SparkSession, base_dir: str) -> set[int]:
    md = _manifest_dir(base_dir)
    if not os.path.isdir(md) or not any(
            f.endswith(".parquet") for f in os.listdir(md)):
        return set()
    m = spark.read.parquet(md)
    done = (
        m.groupBy("bucket")
        .agg(F.max_by("status", "finished_at").alias("status"))
        .filter(F.col("status") == "done")
    )
    return {r["bucket"] for r in done.collect()}


_MANIFEST_SCHEMA = (
    "bucket int, status string, rows_out long, wall_sec double, "
    "finished_at double, run_id string, lineage string"
)


def _append_manifest(spark: SparkSession, base_dir: str, rows: list) -> None:
    spark.createDataFrame(rows, _MANIFEST_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(_manifest_dir(base_dir))


def run_resumable(
    spark: SparkSession,
    build_query,
    base_dir: str,
    n_buckets: int = 64,
    key_col: str = "conv_id",
    run_id: str | None = None,
    lineage: dict | None = None,
) -> dict:
    """Execute `build_query(spark) -> DataFrame` resumably, bucketed on
    pmod(xxhash64(key), n_buckets).

    Fresh run (no completed buckets): ONE job — `build_query` is invoked
    once, the input is scanned once, and the output lands as
    data/bucket=N/ via partitionBy; per-bucket row counts come from an
    Observation attached to the same job (zero extra passes). The manifest
    gains one row per bucket, all stamped with the job's wall time.

    Resume (some buckets done): only the missing buckets are recomputed,
    one filtered job per bucket, its row count again from an Observation
    on the write job — each write is idempotent (overwrite-by-partition),
    so a crash mid-resume loses at most one bucket of work. The per-bucket
    filter path is the RESTART path only; the happy path never re-executes
    the query per bucket.

    Returns run metrics {buckets_done, buckets_skipped, rows_out, wall_sec}.
    """
    from pyspark.sql import Observation

    run_id = run_id or f"run{int(time.time())}"
    done = completed_buckets(spark, base_dir)
    rows_out = 0
    t0 = time.time()
    lineage_json = json.dumps(lineage or {})
    bucket_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))

    if not done:
        df = build_query(spark).withColumn("bucket",
                                           bucket_expr.cast("int"))
        obs = Observation(f"ckpt_{run_id}")
        df = df.observe(obs, *[
            F.sum(F.when(F.col("bucket") == b, 1).otherwise(0))
            .cast("long").alias(f"b{b}")
            for b in range(n_buckets)
        ])
        df.write.mode("overwrite").partitionBy("bucket") \
            .parquet(os.path.join(base_dir, "data"))
        got = obs.get
        counts = [int(got.get(f"b{b}") or 0) for b in range(n_buckets)]
        rows_out = sum(counts)
        wall = round(time.time() - t0, 3)
        now = float(time.time())
        _append_manifest(spark, base_dir, [
            (b, "done", c, wall, now, run_id, lineage_json)
            for b, c in enumerate(counts)])
    else:
        for b in sorted(set(range(n_buckets)) - done):
            t1 = time.time()
            obs = Observation(f"ckpt_{run_id}_b{b}")
            part = build_query(spark).filter(bucket_expr == b) \
                .observe(obs, F.count(F.lit(1)).alias("rows"))
            part.write.mode("overwrite") \
                .parquet(os.path.join(base_dir, "data", f"bucket={b}"))
            rows = int(obs.get["rows"])
            rows_out += rows
            _append_manifest(spark, base_dir, [
                (b, "done", rows, round(time.time() - t1, 3),
                 float(time.time()), run_id, lineage_json)])

    return {
        "run_id": run_id,
        "buckets_done": n_buckets - len(done),
        "buckets_skipped": len(done),
        "rows_out": rows_out,
        "wall_sec": round(time.time() - t0, 3),
    }


def read_output(spark: SparkSession, base_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, "data"))
