"""Iceberg-first table read boundary.

The engine's production data plane is an Iceberg catalog (transcripts
partitioned by bucket(conv_id) so the per-conversation kernels read
group-contiguous files with zero shuffle — see functionals/bank.py
pre_partitioned). Every read takes a `source` that is EITHER a catalog
table name (routed through `spark.table`, the V2 API Iceberg registers
under) OR a filesystem path (routed through parquet, for runs without an
Iceberg runtime jar on the classpath). The engine code above this
module is identical for both — only this boundary switches. The write
side is parquet only: checkpoint.py owns the bucketed feature layout.

Catalog maintenance (compaction, snapshot expiry) is intentionally NOT
wrapped: those are `CALL catalog.system.rewrite_data_files(...)` /
`expire_snapshots(...)` SQL procedures an operator schedules, not engine
logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def is_path(source: str) -> bool:
    """Catalog table names have no '/'; anything path-like goes to parquet."""
    return "/" in source or source.endswith(".parquet")


def read_table(spark: SparkSession, source: str) -> DataFrame:
    """Read transcripts/features from an Iceberg catalog table (by name)
    or a parquet path. Iceberg tables arrive through `spark.table`, so
    snapshot isolation, partition pruning and metadata-based split
    planning are the catalog's; parquet paths get the same DataFrame."""
    if is_path(source):
        return spark.read.parquet(source)
    return spark.table(source)
