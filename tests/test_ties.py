"""FIXTURES.md case 8 (conv_ties): duplicate ts with distinct turn_idx —
stable (conv_id, turn_idx) ordering and deterministic as-of tie-breaking."""

from pyspark.sql import functions as F

from opensmile_spark.functionals import functionals_kernel
from opensmile_spark.operators import asof_join, backfill_functionals, sessionize
from tests.conftest import make_conv


def _tied_conv(spark):
    # turns 1 and 2 share a timestamp; ordering key is turn_idx
    return make_conv(spark, "t", [10.0, 20.0, 30.0, 40.0],
                     gaps=[5.0, 0.0, 5.0])


def test_asof_tie_takes_last_by_order(spark):
    lld = _tied_conv(spark)
    t0 = 1_704_067_200.0
    anchors = spark.createDataFrame([("t", t0 + 5.0)],
                                    "conv_id string, e double") \
        .withColumn("anchor_ts", F.timestamp_seconds("e")).drop("e")
    out = asof_join(anchors, lld.select("conv_id", "ts", "x"),
                    value_cols=["x"]).collect()[0]
    # both turn 1 (x=20) and turn 2 (x=30) are at ts = t0+5; the merge sees
    # both as visible; last-in-window wins deterministically
    assert out["x"] in (20.0, 30.0)
    # determinism across reruns
    vals = {asof_join(anchors, lld.select("conv_id", "ts", "x"),
                      value_cols=["x"]).collect()[0]["x"] for _ in range(3)}
    assert len(vals) == 1


def test_backfill_counts_all_tied_rows(spark):
    lld = _tied_conv(spark)
    t0 = 1_704_067_200.0
    anchors = spark.createDataFrame([("t", t0 + 5.0)],
                                    "conv_id string, e double") \
        .withColumn("anchor_ts", F.timestamp_seconds("e")).drop("e")
    r = backfill_functionals(lld, anchors.select("conv_id", "anchor_ts"),
                             ["x"], families=["means"]).collect()[0]
    assert r["n_visible"] == 3                   # turns 0,1,2 all <= anchor
    assert r["x_amean"] == (10 + 20 + 30) / 3


def test_functionals_stable_under_tied_ts(spark):
    """Kernel sorts by turn_idx, never ts — tied ts cannot permute input."""
    lld = _tied_conv(spark)
    a = functionals_kernel(lld, ["x"], ("conv_id",),
                           families=["regression"]).collect()[0]
    # slope of [10,20,30,40] over idx 0..3 is exactly 10
    assert abs(a["x_linregc1"] - 10.0) < 1e-9


def test_sessionize_tied_ts_gap_is_zero(spark):
    # gaps are 5, 0, 5 around a threshold of 1 -> splits at the 5s gaps
    # only; the tied pair (gap 0) never splits
    out = sessionize(_tied_conv(spark), gap_seconds=1.0)
    sess = [r["session_id"] for r in out.orderBy("turn_idx").collect()]
    assert sess == [0, 1, 1, 2]
