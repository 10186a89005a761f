import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from opensmile_spark import get_spark

    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


def make_conv(spark, conv_id, values, gap_s=10.0, ts0=1_704_067_200.0,
              gaps=None):
    """Tiny deterministic conv table: one LLD column `x` from `values`.

    Mirrors the reference TestSession pattern (push a small matrix through
    one operator — /root/reference/progsrc/include/tests/testSession.hpp:69-89).
    """
    from pyspark.sql import functions as F

    rows = []
    t = ts0
    for i, v in enumerate(values):
        if i > 0:
            t += gaps[i - 1] if gaps else gap_s
        rows.append((conv_id, i, float(v), t))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, x double, epoch double")
    return df.withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")


def count_jobs(spark, fn):
    """Run `fn()` under a fresh Spark job group: (its result, the number
    of Spark jobs it started)."""
    import uuid

    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
