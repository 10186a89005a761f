"""SparkSession factory tuned for the engine.

Settings are chosen for correctness-reproducibility (UTC session timezone
so timestamp arithmetic matches the DuckDB oracle) and for wide codegen'd
aggregates. What Spark already defaults to (AQE with partition coalescing
and skew-join handling, 10000-record Arrow batches) is left to Spark;
tests/test_session.py pins those defaults.

On a real cluster the same builder is used by spark-submit --py-files; only
master/memory change. Shuffle partitioning is the caller's knob: at 100 TB
set spark.sql.shuffle.partitions ~ 2-3x total cores and let AQE coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "opensmile_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master defaults to local[$SPARK_GRAFT_CPUS or *] for the sandbox; on a
    cluster pass None and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # functional banks are WIDE: a 3-column functionals_sql already
        # carries ~100 aggregation-buffer fields, and the default
        # spark.sql.codegen.maxFields=100 silently evicts such operators
        # from whole-stage codegen into interpreted evaluation (~2x on the
        # aggregate stage, measured). 1000 keeps reference-width banks
        # codegen'd; oversized generated methods still fall back safely.
        .config("spark.sql.codegen.maxFields", "1000")
        # the JVM-wide cache of COMPILED generated classes defaults to 100
        # entries — fewer than the distinct codegen units a multi-operator
        # engine cycles through (the 10-stage pipeline suite alone
        # overflows it), so steady-state runs were paying janino
        # recompilation of evicted classes on every query (~28% of the
        # whole suite, measured: 6.9 -> 5.0 s repeated A/B). Sized by the
        # operator working set, not by data volume or core count; worst
        # case cost is tens of KB of bytecode per cached class.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # one BLAS/OpenMP thread per python worker: each worker owns one
        # task slot, so library-level threading inside a worker (numpy
        # eigvals/roots in the lsp/formants kernels) oversubscribes the
        # executor's cores — slots x BLAS-threads threads competing for
        # slots cores. Pinning keeps kernel scaling linear in slots, on
        # this sandbox and on a real executor alike.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
