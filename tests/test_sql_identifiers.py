"""Column names that need quoting, and literal types, in the SQL-text
builders.

functionals_sql, sma, delta_regression and minhash_signatures render their
expressions as SQL text. A column name with a space or a hyphen must stay
one identifier, and a bare fractional literal (0.2) would parse as DECIMAL
and turn a feature column DECIMAL. Each operator runs once on plain names
and once on awkward ones (one NULL group key in both runs): every feature
column must be DOUBLE and the values bit-equal across the two runs.
"""

import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

PLAIN = {"g": "conv_id", "o": "turn_idx", "x": "x", "y": "y"}
AWKWARD = {"g": "conv id-k", "o": "turn idx-k", "x": "char len-x",
           "y": "tok-cnt y"}


def _bits(v):
    return struct.pack("<d", v) if isinstance(v, float) else v


def _rows(df, renamed=lambda c: c):
    """Rows of df with awkward output names mapped back to plain ones,
    floats as their 8 bytes (so -0.0 and NaN payloads compare exactly)."""
    out = df.toDF(*[renamed(c) for c in df.columns])
    return sorted((tuple(_bits(v) for v in r) for r in out.collect()),
                  key=repr)


@pytest.fixture(scope="module")
def frames(spark):
    rows = []
    for g, vals in [("a", [1.0, -0.0, 0.2, 7.5, 0.2]),
                    ("b", [3.25, 3.25]),
                    (None, [4.0, 1.0, 2.0, 0.0])]:
        for i, v in enumerate(vals):
            rows.append((g, i, v, float(i) * 0.1 - v))
    base = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, x double, y double")

    def as_names(names):
        return base.toDF(*[names[k] for k in ("g", "o", "x", "y")])

    return as_names(PLAIN), as_names(AWKWARD)


def _plain_name(c):
    for k, a in AWKWARD.items():
        c = c.replace(a, PLAIN[k])
    return c


def _check(plain_df, awk_df, feature_cols):
    schema = {f.name: f.dataType for f in awk_df.schema.fields}
    for c in feature_cols:
        assert isinstance(schema[c], DoubleType), (c, schema[c])
    assert _rows(awk_df, _plain_name) == _rows(plain_df)


def test_functionals_sql_awkward_names(frames):
    from opensmile_spark.functionals import functionals_sql

    plain, awk = frames
    p = functionals_sql(plain, ["x", "y"], group_cols=("conv_id",),
                        order_col="turn_idx")
    a = functionals_sql(awk, [AWKWARD["x"], AWKWARD["y"]],
                        group_cols=(AWKWARD["g"],), order_col=AWKWARD["o"])
    feats = [c for c in a.columns if c not in (AWKWARD["g"], "n_turns")]
    assert len(feats) == 2 * 29
    _check(p, a, feats)
    assert a.filter(F.col(f"`{AWKWARD['g']}`").isNull()).count() == 1


def test_sma_delta_awkward_names(frames):
    from opensmile_spark.operators import delta_regression, sma

    plain, awk = frames

    def chain(df, names):
        kw = dict(partition_cols=(names["g"],), order_col=names["o"])
        cols = [names["x"], names["y"]]
        df = sma(df, cols, 3, **kw)
        df = sma(df, cols, 5, no_zero_sma=True, **kw)
        df = delta_regression(df, cols, 2, **kw)
        return delta_regression(df, [names["x"]], 0, abs_output=True,
                                suffix="_d0", **kw)

    a = chain(awk, AWKWARD)
    feats = [c for c in a.columns if c not in awk.columns]
    assert len(feats) == 7
    _check(chain(plain, PLAIN), a, feats)


def test_minhash_signatures_awkward_names(spark):
    from opensmile_spark.dedup import minhash_signatures

    docs = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (None, "a doc with a null id"),
            (4, ""),
            (5, None)]
    plain = spark.createDataFrame(docs, "doc_id long, text string")
    awk = plain.toDF("doc id-k", "doc text-x")
    p = minhash_signatures(plain, n_hashes=6)
    a = minhash_signatures(awk, id_col="doc id-k", text_col="doc text-x",
                           n_hashes=6)
    assert a.columns == ["doc id-k"] + [f"mh{i}" for i in range(6)]
    assert _rows(a, lambda c: c.replace("doc id-k", "doc_id")) == _rows(p)
