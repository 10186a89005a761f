"""Incremental (cross-snapshot) corpus deduplication.

Production training-data pipelines ingest SNAPSHOTS: each new crawl/batch
must be deduplicated against everything already ingested WITHOUT
re-scanning the historical corpus — the historical side is reduced once
to a persisted fingerprint store and every new batch is (a) deduplicated
within itself and (b) anti-joined against the store. This is the
incremental complement of `dedup.exact_dedup` (which deduplicates one
static corpus) and mirrors how the reference engine processes appended
input incrementally rather than recomputing closed history
(/root/reference/src/core/dataMemory.cpp growDyn ring semantics: new
frames join fixed history).

100 TB design:
- The store holds ONLY (fp, first_id) — ~16 bytes/doc + layout, not the
  corpus. It is written `partitionBy(bucket)` with bucket = pmod(fp, B):
  a new batch repartitioned on the same bucket key joins co-located, and
  a bucket-pruned read serves point lookups.
- `keep` decisions are one map-side fingerprint pass over the new batch,
  one within-batch hash aggregation, and one fp-key join against the
  store — the join's shuffle carries fingerprints, never document text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_FP_METHODS = ("xxhash64", "md5_64")


def fingerprint_expr(text_col: str, method: str = "xxhash64"):
    """Content-fingerprint column. `xxhash64` is the production default
    (JVM, fastest); `md5_64` (first 15 hex digits of md5 as a BIGINT —
    60 bits, always positive) is the DuckDB-portable variant the oracle
    gates use."""
    if method == "xxhash64":
        return F.xxhash64(F.col(text_col))
    if method == "md5_64":
        return F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10) \
            .cast("bigint")
    raise ValueError(f"unknown fingerprint method {method!r}; "
                     f"expected one of {_FP_METHODS}")


def build_fingerprint_store(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            method: str = "xxhash64",
                            n_buckets: int = 256) -> DataFrame:
    """Reduce a corpus to its fingerprint store: one row per distinct
    content fingerprint, carrying the smallest owning id (the canonical
    survivor, matching exact_dedup's min-id convention) and the bucket
    column to `write.partitionBy("bucket")` on."""
    fp = fingerprint_expr(text_col, method)
    return (docs.select(F.col(id_col).alias("first_id"), fp.alias("fp"))
            .groupBy("fp").agg(F.min("first_id").alias("first_id"))
            .withColumn("bucket",
                        F.pmod(F.col("fp"), F.lit(n_buckets)).cast("int")))


def incremental_dedup(new_docs: DataFrame, store: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      method: str = "xxhash64") -> DataFrame:
    """Per-document decision table for a new snapshot against the
    historical fingerprint store: every new doc gains

      fp            content fingerprint
      batch_dup     True iff another doc in THIS batch shares fp with a
                    smaller id (within-batch dedup, min-id survivor)
      seen          True iff fp exists in the store
      keep          not batch_dup and not seen"""
    fp = fingerprint_expr(text_col, method)
    base = new_docs.withColumn("fp", fp)
    base = base.withColumn(
        "batch_dup",
        F.col(id_col) != F.min(id_col).over(Window.partitionBy("fp")))

    seen_fps = store.select(F.col("fp").alias("__seen_fp")).distinct()
    return (base.join(seen_fps, base["fp"] == F.col("__seen_fp"), "left")
            .withColumn("seen", F.col("__seen_fp").isNotNull())
            .drop("__seen_fp")
            .withColumn("keep", ~F.col("batch_dup") & ~F.col("seen")))


def append_to_store(decisions: DataFrame, id_col: str = "doc_id",
                    n_buckets: int = 256) -> DataFrame:
    """The store delta for this batch: kept docs' fingerprints, ready to
    append to the partitioned store (same layout as
    build_fingerprint_store)."""
    return (decisions.filter(F.col("keep"))
            .select(F.col("fp"), F.col(id_col).alias("first_id"))
            .groupBy("fp").agg(F.min("first_id").alias("first_id"))
            .withColumn("bucket",
                        F.pmod(F.col("fp"), F.lit(n_buckets)).cast("int")))
