"""IO wrappers: csv round trip, line ranges, lag-delayed sink, null sink,
ARFF source."""

import pytest
from pyspark.sql import functions as F

from opensmile_spark.io import arff_source, csv_sink, csv_source, null_sink
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


def test_null_sink_forces_evaluation(spark):
    df = make_conv(spark, "a", [1.0, 2.0]).unionByName(
        make_conv(spark, "b", [3.0]))
    null_sink(df)                            # just must not raise
    with pytest.raises(Exception, match="boom"):
        null_sink(df.select(F.raise_error(F.lit("boom"))))


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


ARFF = """% written by openSMILE arffSink
@relation 'openSMILE_features'

@attribute name string
% one comment inside the header
@attribute frameTime numeric
@attribute pcm_LOGenergy_sma numeric
@attribute class {yes,no}

@data

% and one inside the data
'unknown',0.000000,-6.251e+00,?
'a, b',0.010000,?,yes
"""


def test_arff_source_reads_opensmile_arff(spark, tmp_path):
    """ARFF as openSMILE and Weka write it: attribute names in declaration
    order, numeric -> double and every other type -> string; '%' lines
    are comments, single-quoted values lose their quotes and may hold
    commas, and '?' is a missing value in numeric and nominal columns."""
    p = tmp_path / "smile.arff"
    p.write_text(ARFF)
    back = arff_source(spark, str(p))
    assert back.columns == ["name", "frameTime", "pcm_LOGenergy_sma",
                            "class"]
    assert [f.dataType.simpleString() for f in back.schema.fields] == \
        ["string", "double", "double", "string"]
    got = back.orderBy("frameTime").collect()
    assert list(map(tuple, got)) == [("unknown", 0.0, -6.251, None),
                                     ("a, b", 0.01, None, "yes")]
