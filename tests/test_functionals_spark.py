"""Spark functional bank == numpy oracle, per group, allclose at every
conv_id (the parity requirement from BASELINE.json north_star), plus
kernel-path vs SQL-fast-path agreement."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensmile_spark.functionals import (
    DEFAULT_FAMILIES,
    compute_all,
    functionals_kernel,
    functionals_sql,
)
from tests.conftest import make_conv

CASES = {
    "conv_const": [5.0] * 20,
    "conv_ramp": [2.0 * i + 3 for i in range(15)],
    "conv_wave": [0, 4, 0, 4, 0, 4, 0, 4, 0, 4, 0],
    "conv_spiky": [1, 1, 1, 9, 1, 1, 1, 1, 7, 1, 1, 1],
    "conv_zeros": [0, 2, 0, 4, 0, 6, 0, 0, 3, 0],
    "conv_single": [7.0],
    "conv_rand": list(np.random.RandomState(42).rand(40) * 10),
}


@pytest.fixture(scope="module")
def case_df(spark):
    df = None
    for cid, vals in CASES.items():
        d = make_conv(spark, cid, vals)
        df = d if df is None else df.unionByName(d)
    return df.cache()


def test_kernel_matches_oracle_every_conv(spark, case_df):
    out = functionals_kernel(case_df, ["x"], ("conv_id",),
                             families=DEFAULT_FAMILIES)
    rows = {r["conv_id"]: r.asDict() for r in out.collect()}
    assert set(rows) == set(CASES)
    for cid, vals in CASES.items():
        oracle = compute_all(np.array(vals, dtype=np.float64),
                             DEFAULT_FAMILIES)
        got = rows[cid]
        assert got["n_turns"] == len(vals)
        for name, want in oracle.items():
            have = got[f"x_{name}"]
            assert np.isclose(have, want, rtol=1e-6, atol=1e-8), (
                f"{cid} x_{name}: engine={have} oracle={want}")


def test_sql_path_matches_kernel_path(spark, case_df):
    fk = functionals_kernel(case_df, ["x"], ("conv_id",),
                            families=["means", "moments", "extremes",
                                      "percentiles", "regression"])
    fs = functionals_sql(case_df, ["x"])
    shared = sorted(set(fk.columns) & set(fs.columns) - {"conv_id", "n_turns"})
    assert len(shared) >= 20
    a = {r["conv_id"]: r for r in
         fk.select("conv_id", *[F.col(f"`{c}`") for c in shared]).collect()}
    b = {r["conv_id"]: r for r in
         fs.select("conv_id", *[F.col(f"`{c}`") for c in shared]).collect()}
    for cid in CASES:
        for c in shared:
            assert np.isclose(a[cid][c], b[cid][c], rtol=1e-7, atol=1e-9), (
                f"{cid} {c}: kernel={a[cid][c]} sql={b[cid][c]}")


def test_grouping_by_session(spark):
    # two sessions within one conv -> two functional rows
    df = make_conv(spark, "s", [1.0, 2.0, 3.0, 10.0, 20.0, 30.0]) \
        .withColumn("session_id", (F.col("turn_idx") >= 3).cast("int"))
    out = functionals_kernel(df, ["x"], ("conv_id", "session_id"),
                             families=["means"])
    rows = {r["session_id"]: r["x_amean"] for r in out.collect()}
    assert rows[0] == pytest.approx(2.0)
    assert rows[1] == pytest.approx(20.0)


def test_repartition_cols_not_prefix_raises(spark, case_df):
    """A repartition key that is not a prefix of the group key would split
    groups across tasks; it is rejected with ValueError (not an assert,
    which python -O strips)."""
    df = case_df.withColumn("session_id", F.lit(0))
    with pytest.raises(ValueError, match="prefix"):
        functionals_kernel(df, ["x"], ("conv_id", "session_id"),
                           families=["means"],
                           repartition_cols=("session_id",))


def test_emo_large_style_preset(spark):
    from opensmile_spark.presets import emo_large_style
    from opensmile_spark.transcripts import transcripts_from_events

    out = emo_large_style(
        transcripts_from_events(spark, "/root/testdata/sf0.001"))
    cols = out.columns
    # legacy peaks outputs present, bare-named (no peaks2 in this set)
    assert "char_len_sma3_numPeaks" in cols
    assert "char_len_sma3_peakDistStddev" in cols
    assert "char_len_sma3_de_samplepos0.5" in cols
    assert out.count() > 100


# --- functionals_sql percentiles in one pass ------------------------------
# The percentiles are a whole-group `percentile(x, array(...), 1)` window
# feeding the same groupBy as the declarative bank (each output is
# max(element_at(array, i)) over rows that all carry the group's array);
# these tests pin BIT-exact equality of those outputs against the direct
# single-aggregate percentile formulation on adversarial groups — ties,
# -0.0/0.0 (SQL sort ties them, Percentile's boxed-key ordering does not —
# equality must survive both), NaN, nulls, all-null, singleton,
# two-element — for several percentile sets and for a two-column key with
# NULL in its second column, and that no group is lost.

PCT_SETS = [(0.20, 0.50, 0.80), (0.1, 0.25, 0.9, 0.99), (0.5,)]


def _k2(i):
    """Second key column of the adversarial rows: NULL, 1, 0, NULL, ..."""
    return None if i % 3 == 0 else i % 2


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


def test_window_percentiles_bit_exact_vs_direct(spark):
    from pyspark.sql import functions as F

    from opensmile_spark.functionals import functionals_sql

    rows = [(g, _k2(i), i, v) for g, vals in ADVERSARIAL.items()
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, k2 int, turn_idx int, v double")

    for keys in (["conv_id"], ["conv_id", "k2"]):
        n_groups = df.select(*keys).distinct().count()
        for pcts in PCT_SETS:
            got = functionals_sql(df, ["v"], keys, percentiles=pcts)
            assert ("v_pctlrange0-2" in got.columns) == (len(pcts) >= 3)

            # direct formulation: ONE percentile(x, array(...)) aggregate,
            # same pct order as _fsql_exprs
            pct_list = [0.25, 0.50, 0.75]
            pct_list += [p for p in pcts if p not in pct_list]
            direct = (
                df.groupBy(*keys)
                .agg(F.percentile(F.col("v"),
                                  F.array(*[F.lit(p) for p in pct_list]))
                     .alias("p"))
                .select(*[F.col(k).alias(f"__d_{k}") for k in keys],
                        *[F.element_at("p", i + 1).alias(f"d{i}")
                          for i in range(len(pct_list))])
            )
            names = {"v_quartile1": "d0", "v_quartile2": "d1",
                     "v_quartile3": "d2",
                     **{f"v_percentile{p * 100:.1f}":
                        f"d{pct_list.index(p)}" for p in pcts}}
            # null-safe: the NULL-key groups are compared too
            j = got.select(*keys, *[F.col(f"`{c}`") for c in names]) \
                .join(direct, [F.col(k).eqNullSafe(F.col(f"__d_{k}"))
                               for k in keys])
            assert j.count() == n_groups == got.count()
            # string cast distinguishes -0.0 from 0.0 and NaN from numbers
            # — the same discrimination the driver's byte-hash applies
            bad = j.filter(" OR ".join(
                f"(cast(`{a}` as string) IS DISTINCT FROM "
                f"cast(`{b}` as string))" for a, b in names.items()))
            assert bad.count() == 0, (keys, pcts, bad.collect())


def test_one_pass_loses_no_groups(spark):
    """Every group (incl. all-null value groups, the NULL-key group and
    the groups whose second key column is NULL) comes out of the one
    groupBy with the full aggregate row set."""
    from opensmile_spark.functionals import functionals_sql

    groups = {**ADVERSARIAL, None: [4.0, 1.0, 2.0]}
    rows = [(g, _k2(i), i, v) for g, vals in groups.items()
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "conv_id string, k2 int, turn_idx int, v double")
    for pcts in PCT_SETS:
        out = functionals_sql(df, ["v"], percentiles=pcts).collect()
        assert len(out) == len(groups)
        assert {r["conv_id"] for r in out} == set(groups)
        by_g = {r["conv_id"]: r for r in out}
        assert by_g["g_allnull"]["n_turns"] == 3
        assert by_g["g_one"]["v_quartile2"] == 42.5
        assert by_g[None]["n_turns"] == 3
        assert by_g[None]["v_quartile2"] == 2.0

        out = functionals_sql(df, ["v"], ("conv_id", "k2"),
                              percentiles=pcts).collect()
        want = {(g, _k2(i)) for g, vals in groups.items()
                for i in range(len(vals))}
        assert len(out) == len(want)
        assert {(r["conv_id"], r["k2"]) for r in out} == want
        by_g = {(r["conv_id"], r["k2"]): r for r in out}
        # g_null's rows 0 and 3 (None, 5.0) share k2 NULL
        assert by_g[("g_null", None)]["n_turns"] == 2
        assert by_g[("g_null", None)]["v_quartile2"] == 5.0
        assert by_g[(None, None)]["v_quartile2"] == 4.0
        assert by_g[(None, 1)]["n_turns"] == 1
