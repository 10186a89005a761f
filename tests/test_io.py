"""IO wrappers: csv round trip, line ranges, lag-delayed sink, partitioned
sink."""

import os

from pyspark.sql import functions as F

from opensmile_spark.io import (
    csv_sink, csv_source, null_sink, parquet_dump, partitioned_sink,
)
from tests.conftest import make_conv


def test_csv_roundtrip_and_line_range(spark, tmp_path):
    df = make_conv(spark, "c", [1.0, 2.0, 3.0, 4.0, 5.0]).drop("ts")
    p = str(tmp_path / "csv")
    csv_sink(df.orderBy("turn_idx").coalesce(1), p)
    back = csv_source(spark, p)
    assert back.count() == 5
    ranged = csv_source(spark, p, start=1, end=3)
    assert ranged.count() == 3


def test_csv_sink_lag(spark, tmp_path):
    df = make_conv(spark, "c", [1.0, 2.0, 3.0, 4.0]).drop("ts")
    p = str(tmp_path / "lagged")
    csv_sink(df, p, lag=2)
    back = csv_source(spark, p)
    idx = sorted(int(r["turn_idx"]) for r in back.collect())
    assert idx == [0, 1]                     # trailing 2 frames withheld


def test_null_and_parquet_and_partitioned(spark, tmp_path):
    df = make_conv(spark, "a", [1.0, 2.0]).unionByName(
        make_conv(spark, "b", [3.0]))
    null_sink(df)                            # just must not raise
    pq = str(tmp_path / "pq")
    parquet_dump(df, pq)
    assert spark.read.parquet(pq).count() == 3
    ps = str(tmp_path / "parts")
    partitioned_sink(df.withColumn("session_id", F.lit(0)), ps)
    assert os.path.isdir(f"{ps}/conv_id=a/session_id=0")


def test_csv_line_range_no_global_window(spark, tmp_path):
    """The line-range plan must not funnel the file through one task:
    no empty-partition Window (global orderBy) in the plan."""
    import pandas as pd

    from opensmile_spark.io import csv_sink, csv_source

    df = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a"] * 40, "turn_idx": range(40),
                      "x": range(40)}))
    p = str(tmp_path / "lines.csv")
    csv_sink(df, p)
    ranged = csv_source(spark, p, start=5, end=14)
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition()" not in plan.replace(" ", "")
    # rows are correct regardless of partitioning
    assert ranged.count() == 10


def test_arff_sink(spark, tmp_path):
    import glob

    from opensmile_spark.io import arff_sink

    df = spark.createDataFrame(
        [("a", 1, 2.5), ("b", 2, 3.5)], "conv_id string, n long, v double")
    p = str(tmp_path / "out_arff")
    arff_sink(df, p, relation="feats",
              extra_literal_cols={"class": "train"}, single_file=True)
    txt = "".join(open(f).read() for f in sorted(glob.glob(p + "/part-*")))
    assert txt.startswith("@relation feats")
    assert "@attribute v numeric" in txt
    assert "@attribute class string" in txt
    assert "a,1,2.5,train" in txt
    # sidecar layout for the parallel path
    p2 = str(tmp_path / "out_arff2")
    arff_sink(df, p2, relation="feats")
    assert open(p2 + "/header.arff").read().startswith("@relation feats")
    assert spark.read.csv(p2 + "/data").count() == 2


def test_arff_roundtrip_both_layouts(spark, tmp_path):
    """arff_sink -> arff_source roundtrip: the sidecar layout (parallel
    CSV parts + header.arff) and the single-file layout both reproduce
    values, names, declaration order, and the numeric->double mapping,
    including the appended literal class column."""
    from pyspark.sql import functions as F

    from opensmile_spark.io import arff_sink, arff_source

    df = spark.range(20).select(
        F.col("id").alias("frame"),
        (F.col("id") * 1.5).alias("energy"),
        F.concat(F.lit("seg"), F.col("id") % 3).alias("label"))

    p1 = str(tmp_path / "sidecar")
    arff_sink(df, p1, relation="feats",
              extra_literal_cols={"klass": "train"})
    back1 = arff_source(spark, p1)
    assert back1.columns == ["frame", "energy", "label", "klass"]
    assert [f.dataType.simpleString() for f in back1.schema.fields] == \
        ["double", "double", "string", "string"]
    rows = {int(r["frame"]): r for r in back1.collect()}
    assert len(rows) == 20
    assert rows[4]["energy"] == 6.0
    assert rows[4]["label"] == "seg1" and rows[4]["klass"] == "train"

    p2 = str(tmp_path / "single")
    arff_sink(df, p2, relation="feats", single_file=True,
              extra_literal_cols={"klass": "train"})
    back2 = arff_source(spark, p2)
    a = sorted(map(tuple, back1.collect()))
    b = sorted(map(tuple, back2.collect()))
    assert a == b


def test_nan_inf_check_policies(spark):
    """arff_naninfzero_checker analogue: exact per-column counts, zero
    scrub, and the fail gate."""

    import pytest
    from pyspark.sql import functions as F

    from opensmile_spark.io import nan_inf_check

    df = spark.createDataFrame(
        [(1.0, 2.0), (float("nan"), float("inf")),
         (3.0, float("-inf"))], "a double, b double")
    _, counts = nan_inf_check(df)
    assert counts == {"a": (1, 0), "b": (0, 2)}

    fixed, _ = nan_inf_check(df, policy="zero")
    vals = sorted(fixed.select(F.col("a") + F.col("b")).toPandas()
                  .iloc[:, 0].tolist())
    assert vals == [0.0, 3.0, 3.0]
    _, c2 = nan_inf_check(fixed)
    assert c2 == {"a": (0, 0), "b": (0, 0)}

    with pytest.raises(ValueError, match="NaN/Inf"):
        nan_inf_check(df, policy="fail")
