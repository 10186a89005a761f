"""exprcache memoization + the r6 functionals_sql percentile split.

The split moved `percentile` into its own groupBy joined back on the group
key (so the wide declarative aggregate whole-stage-compiles); these tests
pin (a) the memo's contract and (b) BIT-exact equality of the split's
percentile outputs against the direct single-aggregate percentile
formulation on adversarial groups — ties, -0.0/0.0 (SQL sort ties them,
Percentile's boxed-key ordering does not — equality must survive both),
NaN, nulls, all-null, singleton, two-element."""

import pytest

from opensmile_spark.exprcache import expr_memo, freeze


def test_expr_memo_same_args_same_object():
    calls = []

    @expr_memo
    def build(a, b=3):
        calls.append((a, b))
        return [a, b]

    r1 = build(1, b=2)
    r2 = build(1, b=2)
    assert r1 is r2
    assert len(calls) == 1
    r3 = build(1, b=4)
    assert r3 is not r1
    assert len(calls) == 2


def test_expr_memo_freezes_dicts_and_lists():
    @expr_memo
    def build(opts):
        return object()

    assert build({"a": [1, 2]}) is build({"a": [1, 2]})
    assert build({"a": [1, 2]}) is not build({"a": [1, 3]})
    assert freeze({"b": {1, 2}, "a": [1]}) == (("a", (1,)), ("b", (1, 2)))


def test_expr_memo_unhashable_falls_through():
    import numpy as np

    calls = []

    @expr_memo
    def build(arr):
        calls.append(1)
        return object()

    a = np.arange(3)
    build(a)
    build(a)
    assert len(calls) == 2          # uncacheable -> direct call each time


ADVERSARIAL = {
    "g_ties": [1.0, 1.0, 1.0, 2.0, 2.0, 3.0],
    "g_zeros": [-0.0, 0.0, -0.0, 0.0, 1.0],
    "g_nan": [1.0, float("nan"), 2.0, float("nan")],
    "g_null": [None, 1.0, None, 5.0, 2.5],
    "g_allnull": [None, None, None],
    "g_one": [42.5],
    "g_two": [1.5, -7.25],
    "g_extreme": [-1e300, 1e300, 5e-324, -5e-324, 0.1],
    "g_const": [7.0] * 9,
    "g_many": [float(i % 17) * 0.3 - 2.0 for i in range(400)],
}


def test_split_percentiles_bit_exact_vs_direct(spark):
    from pyspark.sql import functions as F

    from opensmile_spark.functionals import functionals_sql

    rows = [(g, i, v) for g, vals in ADVERSARIAL.items()
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, v double")

    got = functionals_sql(df, ["v"])

    # direct formulation: ONE percentile(x, array(...)) aggregate (the
    # pre-split physical strategy), same pct order as _fsql_exprs
    pct_list = [0.25, 0.50, 0.75, 0.2, 0.8]
    direct = (
        df.groupBy("conv_id")
        .agg(F.percentile(F.col("v"), F.array(*[F.lit(p) for p in pct_list]))
             .alias("p"))
        .select("conv_id",
                *[F.element_at("p", i + 1).alias(f"d{i}")
                  for i in range(len(pct_list))])
    )
    names = {"v_quartile1": "d0", "v_quartile2": "d1", "v_quartile3": "d2",
             "v_percentile20.0": "d3", "v_percentile80.0": "d4"}
    j = got.select("conv_id", *[F.col(f"`{c}`") for c in names]) \
        .join(direct, "conv_id")
    # string cast distinguishes -0.0 from 0.0 and NaN from numbers — the
    # same discrimination the driver's byte-hash applies
    bad = j.filter(" OR ".join(
        f"(cast(`{a}` as string) IS DISTINCT FROM cast(`{b}` as string))"
        for a, b in names.items()))
    assert bad.count() == 0, bad.collect()


def test_split_join_loses_no_groups(spark):
    """Every group (incl. all-null value groups and the NULL-key group)
    must survive the decl-pct join with the full aggregate row set."""
    from opensmile_spark.functionals import functionals_sql

    groups = {**ADVERSARIAL, None: [4.0, 1.0, 2.0]}
    rows = [(g, i, v) for g, vals in groups.items()
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, v double")
    out = functionals_sql(df, ["v"]).collect()
    assert len(out) == len(groups)
    assert {r["conv_id"] for r in out} == set(groups)
    by_g = {r["conv_id"]: r for r in out}
    assert by_g["g_allnull"]["n_turns"] == 3
    assert by_g["g_one"]["v_quartile2"] == 42.5
    assert by_g[None]["n_turns"] == 3
    assert by_g[None]["v_quartile2"] == 2.0
