"""Skew handling: overlap_salt's dense-index fast path and window
exactness, and salted_partial_stats' values and plan.

(The driver gate `salted_sma_equivalence` — which since round 5 also
carries the per-conv salted_partial_stats columns — pins the
salt-and-stitch exactness against DuckDB; these tests pin the round-4
dense_index projection path against the row_number path, and
salted_partial_stats against a numpy oracle and functionals_sql.)
"""

import math

import numpy as np
from pyspark.sql import functions as F

_STATS = ("amean", "absmean", "qmean", "rqmean", "variance", "stddev",
          "min", "max", "range", "nnz")


def _conv(spark, n):
    rows = [("m", i, float((i * 7) % 13)) for i in range(n)] + \
           [("s", i, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, x double")
    return df.withColumn(
        "ts", F.timestamp_micros((F.col("turn_idx") * 1_000_000).cast("long")))


def test_dense_index_equals_row_number_path(spark):
    from opensmile_spark.operators import overlap_salt

    df = _conv(spark, 97)
    a = overlap_salt(df, max_rows=20, pre=2, post=2).orderBy(
        "conv_id", "salt_bucket", "turn_idx", "is_owner")
    b = overlap_salt(df, max_rows=20, pre=2, post=2,
                     dense_index=True).orderBy(
        "conv_id", "salt_bucket", "turn_idx", "is_owner")
    assert a.collect() == b.collect()


def test_dense_path_has_no_window(spark):
    from opensmile_spark.operators import overlap_salt

    df = _conv(spark, 50)
    plan = overlap_salt(df, max_rows=20, dense_index=True)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan
    plan_win = overlap_salt(df, max_rows=20)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" in plan_win


def test_salted_sma_equals_plain(spark):
    from opensmile_spark.operators import overlap_salt, sma

    df = _conv(spark, 97)
    plain = sma(df, ["x"], 3).select("conv_id", "turn_idx", "x_sma3")
    salted = overlap_salt(df, max_rows=20, pre=1, post=1, dense_index=True)
    stitched = (sma(salted, ["x"], 3,
                    partition_cols=("conv_id", "salt_bucket"))
                .filter(F.col("is_owner"))
                .select("conv_id", "turn_idx", "x_sma3"))
    key = ["conv_id", "turn_idx"]
    a = plain.orderBy(*key).collect()
    b = stitched.orderBy(*key).collect()
    assert a == b


def _skewed(spark):
    """One hot key of 20,000 rows, 50 small keys, a key with one NULL
    value and an all-NULL key."""
    rng = np.random.default_rng(3)
    rows = [("hot", i, float(v)) for i, v in
            enumerate(np.round(rng.normal(1e4, 3.0, 20_000), 3))]
    for k in range(50):
        n = 1 + k % 7
        vals = rng.integers(-3, 4, n).astype(float)
        rows += [(f"k{k}", i, float(v)) for i, v in enumerate(vals)]
    rows += [("one_null", 0, 1.0), ("one_null", 1, 3.0),
             ("one_null", 2, None)]
    rows += [("all_null", 0, None), ("all_null", 1, None)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, x double"), rows


def _oracle(vals):
    x = np.array([v for v in vals if v is not None])
    var = float(np.var(x))
    return {"amean": x.mean(), "absmean": np.abs(x).mean(),
            "qmean": (x * x).mean(), "rqmean": math.sqrt((x * x).mean()),
            "variance": var, "stddev": math.sqrt(var) if var > 0 else 0.0,
            "min": x.min(), "max": x.max(), "range": x.max() - x.min(),
            "nnz": float(np.count_nonzero(x))}


def test_salted_partial_stats_matches_oracle_over_non_null(spark):
    """Every statistic is over the key's non-null values (x = [1, 3, NULL]
    has amean 2 and variance 1); n_turns counts every row. An all-NULL
    key matches functionals_sql on the same rows, and so does every
    other key."""
    from opensmile_spark.functionals import functionals_sql
    from opensmile_spark.operators import salted_partial_stats

    df, rows = _skewed(spark)
    out = salted_partial_stats(df, ["x"])
    assert out.columns == ["conv_id", "n_turns"] + [
        f"x_{k}" for k in _STATS]
    got = {r["conv_id"]: r for r in out.collect()}
    by_key = {}
    for key, _i, v in rows:
        by_key.setdefault(key, []).append(v)
    assert set(got) == set(by_key)
    for key, vals in by_key.items():
        assert got[key]["n_turns"] == len(vals)
        if key == "all_null":
            continue
        want = _oracle(vals)
        for k in _STATS:
            np.testing.assert_allclose(got[key][f"x_{k}"], want[k],
                                       rtol=1e-9, atol=0, err_msg=(key, k))
    one = got["one_null"]
    assert (one["x_amean"], one["x_variance"]) == (2.0, 1.0)

    ref = {r["conv_id"]: r for r in functionals_sql(df, ["x"]).collect()}
    for key in by_key:
        for k in _STATS:
            a, b = got[key][f"x_{k}"], ref[key][f"x_{k}"]
            if key == "all_null" or a is None or b is None:
                assert a == b, (key, k, a, b)
            else:
                np.testing.assert_allclose(a, b, rtol=1e-12, atol=0,
                                           err_msg=(key, k))


def test_salted_partial_stats_plan_is_one_partial_final_aggregate(spark):
    """Spark's own partial/final HashAggregate pair over one shuffle: no
    salt column, no second groupBy, no window."""
    from opensmile_spark.operators import salted_partial_stats

    df, _rows = _skewed(spark)
    plan = salted_partial_stats(df, ["x"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "ObjectHashAggregate" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
