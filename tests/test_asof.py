"""As-of merge + point-in-time backfill: leakage property tests
(FIXTURES.md case conv_late_anchor; north-star zero-leakage requirement)."""

import numpy as np
from pyspark.sql import functions as F

from opensmile_spark.functionals.kernels import compute_all
from opensmile_spark.operators import asof_join, backfill_functionals
from tests.conftest import make_conv


def _anchors(spark, conv_id, epochs):
    df = spark.createDataFrame(
        [(conv_id, float(e)) for e in epochs], "conv_id string, epoch double"
    )
    return df.withColumn("anchor_ts", F.timestamp_seconds("epoch")).drop("epoch")


def test_asof_basic_and_ties(spark):
    t0 = 1_704_067_200.0
    lld = make_conv(spark, "c", [10.0, 20.0, 30.0], gap_s=10.0)  # ts at 0,10,20
    anchors = _anchors(spark, "c", [t0 - 5, t0, t0 + 15, t0 + 100])
    out = asof_join(anchors, lld.select("conv_id", "ts", "x"),
                    value_cols=["x"])
    vals = {r["anchor_ts"].timestamp() - t0: r["x"] for r in out.collect()}
    assert vals[-5.0] is None          # before all turns
    assert vals[0.0] == 10.0           # tie: turn AT anchor is visible
    assert vals[15.0] == 20.0
    assert vals[100.0] == 30.0


def test_asof_strict(spark):
    t0 = 1_704_067_200.0
    lld = make_conv(spark, "c", [10.0, 20.0], gap_s=10.0)
    anchors = _anchors(spark, "c", [t0, t0 + 10])
    out = asof_join(anchors, lld.select("conv_id", "ts", "x"),
                    value_cols=["x"], strict=True)
    vals = {r["anchor_ts"].timestamp() - t0: r["x"] for r in out.collect()}
    assert vals[0.0] is None           # strict: tie NOT visible
    assert vals[10.0] == 10.0


def test_backfill_leakage_property(spark):
    """Perturbing any row with ts > anchor never changes anchor features."""
    t0 = 1_704_067_200.0
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0]
    lld = make_conv(spark, "c", vals, gap_s=10.0)
    anchors = _anchors(spark, "c", [t0 + 25])   # sees turns 0,1,2
    base = backfill_functionals(lld, anchors, ["x"], families=["means",
                                                               "moments"])
    b = base.collect()[0]
    assert b["n_visible"] == 3
    expected = compute_all(np.array(vals[:3]), ["means", "moments"])
    assert abs(b["x_amean"] - expected["amean"]) < 1e-12
    assert abs(b["x_stddev"] - expected["stddev"]) < 1e-12

    # perturb the future
    lld2 = lld.withColumn(
        "x", F.when(F.col("turn_idx") >= 3, F.col("x") * 999 + 1).otherwise(F.col("x"))
    )
    p = backfill_functionals(lld2, anchors, ["x"],
                             families=["means", "moments"]).collect()[0]
    assert p["x_amean"] == b["x_amean"]
    assert p["x_stddev"] == b["x_stddev"]


def test_backfill_empty_window_and_grid_completeness(spark):
    t0 = 1_704_067_200.0
    lld = make_conv(spark, "c", [1.0, 2.0], gap_s=10.0)
    anchors = _anchors(spark, "c", [t0 - 100, t0 + 5, t0 + 1000])
    out = backfill_functionals(lld, anchors, ["x"], families=["means"])
    rows = {r["anchor_ts"].timestamp() - t0: r for r in out.collect()}
    assert len(rows) == 3                      # grid complete
    assert rows[-100.0]["n_visible"] == 0
    # empty window: the features are null (not NaN), the row is kept
    assert rows[-100.0]["x_amean"] is None
    assert rows[5.0]["n_visible"] == 1
    assert rows[1000.0]["n_visible"] == 2


def test_backfill_bounded_trailing_window(spark):
    t0 = 1_704_067_200.0
    lld = make_conv(spark, "c", [1.0, 2.0, 4.0, 8.0], gap_s=10.0)
    anchors = _anchors(spark, "c", [t0 + 30])
    out = backfill_functionals(lld, anchors, ["x"], families=["means"],
                               window_seconds=15.0)
    r = out.collect()[0]
    # window (anchor-15, anchor]: turns at t0+20, t0+30
    assert r["n_visible"] == 2
    assert r["x_amean"] == 6.0


def test_backfill_regression_equals_compute_all(spark):
    """families=['regression'] is gathered on an unbounded grid as on a
    trailing window: every output is tobytes()-equal to compute_all on
    the visible turns, including the N=1 and N=2 guard windows."""
    t0 = 1_704_067_200.0
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    lld = make_conv(spark, "c", vals, gap_s=10.0)
    anchors = _anchors(spark, "c", [t0 + 10.0 * j for j in range(len(vals))])
    for window_seconds, lookback in ((None, len(vals)), (25.0, 3)):
        out = backfill_functionals(lld, anchors, ["x"],
                                   families=["regression"],
                                   window_seconds=window_seconds)
        rows = sorted(out.collect(), key=lambda r: r["anchor_ts"])
        for j, r in enumerate(rows):
            window = np.array(vals[max(0, j + 1 - lookback): j + 1])
            assert r["n_visible"] == window.size
            want = compute_all(window, ["regression"])
            for k, v in want.items():
                assert np.float64(r[f"x_{k}"]).tobytes() == \
                    np.float64(v).tobytes(), \
                    (window_seconds, j, k, r[f"x_{k}"], v)


def test_backfill_long_key(spark):
    """A non-string key keeps its type through the backfill (asof_join
    accepts any key type; the backfill output schema follows the input)."""
    from pyspark.sql.types import LongType, TimestampType

    t0 = 1_704_067_200.0
    rows = [(k, i, float(v), t0 + 10.0 * i)
            for k, vals in ((7, [3.0, 1.0, 4.0]), (2**40, [2.0, 8.0]))
            for i, v in enumerate(vals)]
    lld = spark.createDataFrame(
        rows, "conv_id long, turn_idx int, x double, epoch double") \
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    anchors = spark.createDataFrame(
        [(7, t0 + 15.0), (2**40, t0 + 100.0), (2**40, t0 - 1.0)],
        "conv_id long, epoch double") \
        .withColumn("anchor_ts", F.timestamp_seconds("epoch")).drop("epoch")
    out = backfill_functionals(lld, anchors, ["x"], families=["means"])
    assert out.schema["conv_id"].dataType == LongType()
    assert out.schema["anchor_ts"].dataType == TimestampType()
    got = {(r["conv_id"], r["anchor_ts"].timestamp() - t0): r
           for r in out.collect()}
    assert set(got) == {(7, 15.0), (2**40, 100.0), (2**40, -1.0)}
    assert got[(7, 15.0)]["n_visible"] == 2
    assert got[(7, 15.0)]["x_amean"] == 2.0
    assert got[(2**40, 100.0)]["x_amean"] == 5.0
    assert got[(2**40, -1.0)]["n_visible"] == 0
    assert got[(2**40, -1.0)]["x_amean"] is None


def test_backfill_reference_loop_path(spark):
    """Families with non-default options next to the expanding (means,
    moments, percentiles) and gathered (crossings, regression, segments)
    paths, `amean` emitted by several families: segments with
    segMinLng=2, the regression options (qregExtras, oldBuggyQerr,
    quadratic=False), ratio-limited moments and rounded percentiles.
    Every anchor equals compute_all on its visible slice, expanding and on
    a trailing window, and every key of a non-empty window is filled."""
    t0 = 1_704_067_200.0
    base = ["means", "crossings", "regression", "segments"]
    option_sets = [
        {"segments": {"algorithm": "nonX", "X": 0.0, "segMinLng": 2}},
        {"regression": {"qregExtras": True, "oldBuggyQerr": True}},
        {"regression": {"quadratic": False}},
        {"moments": {"doRatioLimit": True}},
        {"percentiles": {"interp": False}},
    ]
    rng = np.random.default_rng(3)
    convs = {}
    for k, n in (("a", 40), ("b", 9)):
        v = np.round(rng.normal(2.0, 3.0, n), 1)
        v[rng.random(n) < 0.3] = 0.0
        convs[k] = v
    lld = None
    for k, v in convs.items():
        d = make_conv(spark, k, v, gap_s=10.0)
        lld = d if lld is None else lld.unionByName(d)
    # anchors 5 s after every 3rd turn (never on a window edge), plus one
    # before the first turn
    anchors = None
    for k, v in convs.items():
        a = _anchors(spark, k, [t0 - 5.0] + [t0 + 10.0 * j + 5.0
                                             for j in range(0, len(v), 3)])
        anchors = a if anchors is None else anchors.unionByName(a)
    n_anchors = anchors.count()
    for opts in option_sets:
        fams = base + [f for f in opts if f not in base]
        for window in (None, 60.0):
            out = backfill_functionals(lld, anchors, ["x"], families=fams,
                                       options=opts, window_seconds=window)
            rows = out.collect()
            assert len(rows) == n_anchors
            for r in rows:
                v = convs[r["conv_id"]]
                t = r["anchor_ts"].timestamp() - t0
                ts = 10.0 * np.arange(len(v))
                vis = (ts <= t) & ((ts >= t - window) if window else True)
                assert r["n_visible"] == vis.sum()
                if not vis.any():
                    assert r["x_amean"] is None
                    continue
                want = compute_all(v[vis], fams, opts)
                assert {f"x_{k}" for k in want} == \
                    set(r.asDict()) - {"conv_id", "anchor_ts", "n_visible"}
                for key, w in want.items():
                    got = r[f"x_{key}"]
                    assert got is not None, (opts, window, t, key)
                    assert np.isclose(got, w, rtol=1e-9, atol=1e-12), \
                        (opts, window, t, key, got, w)


def _split_corpus(spark):
    """Six conversations, one of 420 turns (with its anchors it spans more
    than 5 Arrow batches of 64 rows), anchors on every 3rd turn plus one
    before the first turn and one after the last, and one conversation
    with turns but no anchors."""
    rng = np.random.default_rng(11)
    t0 = 1_704_067_200.0
    turns, anchors = [], []
    for k, n in (("a", 420), ("b", 37), ("c", 1), ("d", 90), ("e", 12),
                 ("f", 25)):
        ts = t0 + np.cumsum(rng.integers(5, 400, n)).astype(float)
        for i in range(n):
            turns.append((k, i, float(rng.normal(100.0, 30.0)),
                          float(ts[i])))
        if k == "e":
            continue
        anchors += [(k, float(ts[0]) - 50.0), (k, float(ts[-1]) + 900.0)]
        anchors += [(k, float(x)) for x in ts[::3]]
    lld = spark.createDataFrame(
        turns, "conv_id string, turn_idx int, x double, epoch double") \
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    anc = spark.createDataFrame(anchors, "conv_id string, epoch double") \
        .withColumn("anchor_ts", F.timestamp_seconds("epoch")).drop("epoch")
    return lld, anc


def test_backfill_batch_split_invariance(spark):
    """64-row Arrow batches (the 420-turn conversation is held across more
    than 5 batches) give bit-identical output, null masks included, to
    10000-row batches — on the expanding grid and on a trailing window.
    Undefined features are null, never NaN."""
    import pyarrow.compute as pc

    lld, anchors = _split_corpus(spark)
    fams = ["means", "moments", "extremes", "percentiles", "regression"]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def run(batch_rows, window):
        spark.conf.set(conf, str(batch_rows))
        try:
            return backfill_functionals(
                lld, anchors, ["x"], families=fams,
                window_seconds=window).toArrow() \
                .sort_by([("conv_id", "ascending"),
                          ("anchor_ts", "ascending")])
        finally:
            spark.conf.set(conf, "10000")

    n_anchors = anchors.count()
    for window in (None, 600.0):
        a, b = run(64, window), run(10000, window)
        assert a.num_rows == n_anchors
        assert set(a.column("conv_id").to_pylist()) == {"a", "b", "c", "d",
                                                        "f"}
        assert pc.any(pc.equal(a.column("n_visible"), 0)).as_py()
        feats = a.column_names[3:]
        assert all(a.column(c).null_count > 0 for c in feats)
        for c in feats:
            assert not pc.any(pc.is_nan(a.column(c))).as_py(), (window, c)
        # no NaN anywhere, so Arrow equality is bit-identity incl. nulls
        assert a.equals(b), window


def _null_ts_case(spark):
    """Conv a: turns at 0 s, 10 s, 20 s plus one null-ts turn (x=100).
    Conv b: one null-ts turn (x=7) and a turn at 30 s. Anchors: a@null,
    a@5 s, a@15 s, b@1 s."""
    t0 = 1_704_067_200.0
    turns = [("a", 0, 1.0, t0), ("a", 1, 2.0, t0 + 10), ("a", 2, 3.0, t0 + 20),
             ("a", 3, 100.0, None), ("b", 0, 7.0, None), ("b", 1, 5.0, t0 + 30)]
    lld = spark.createDataFrame(
        turns, "conv_id string, turn_idx int, x double, epoch double") \
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    anchors = spark.createDataFrame(
        [("a", None), ("a", t0 + 5), ("a", t0 + 15), ("b", t0 + 1)],
        "conv_id string, epoch double") \
        .withColumn("anchor_ts", F.timestamp_seconds("epoch")).drop("epoch")

    def key(r):
        return (r["conv_id"], None if r["anchor_ts"] is None
                else r["anchor_ts"].timestamp() - t0)
    return lld, anchors, key


def test_null_timestamps_match_nothing(spark):
    """A null ts on either side matches nothing, as in the oracles' join
    on epoch_us(l.ts) <= a.anchor_us: a null-ts turn is never visible and
    a null anchor_ts sees no turn."""
    lld, anchors, key = _null_ts_case(spark)
    got = {key(r): r for r in backfill_functionals(
        lld, anchors, ["x"], families=["means"]).collect()}
    assert {k: r["n_visible"] for k, r in got.items()} == {
        ("a", None): 0, ("a", 5.0): 1, ("a", 15.0): 2, ("b", 1.0): 0}
    assert got[("a", None)]["x_amean"] is None
    assert got[("b", 1.0)]["x_amean"] is None
    assert got[("a", 5.0)]["x_amean"] == 1.0
    assert got[("a", 15.0)]["x_amean"] == 1.5

    joined = asof_join(anchors, lld.select("conv_id", "ts", "x"),
                       value_cols=["x"])
    assert {key(r): r["x"] for r in joined.collect()} == {
        ("a", None): None, ("a", 5.0): 1.0, ("a", 15.0): 2.0,
        ("b", 1.0): None}


def test_backfill_conversation_independent_of_block(spark):
    """One conversation's backfill rows are identical alone and alongside
    300 others that share its Arrow blocks — on the expanding grid and on
    a trailing window. Ties, +-0.0 and a 1e9 offset in the values."""
    rng = np.random.default_rng(3)
    t0 = 1_704_067_200.0

    def conv(k, n):
        ts = t0 + np.cumsum(rng.integers(1, 200, n)).astype(float)
        x = np.round(rng.normal(0.0, 3.0, n)) + (1e9 if n > 100 else 0.0)
        x[::7] = -0.0
        return ([(k, i, float(x[i]), float(ts[i])) for i in range(n)],
                [(k, float(t)) for t in ts[::3]] + [(k, float(ts[-1]) + 5)])

    target_turns, target_anchors = conv("target", 600)
    turns, anchors = list(target_turns), list(target_anchors)
    for i in range(300):
        ct, ca = conv(f"o{i:03d}", int(rng.integers(1, 60)))
        turns += ct
        anchors += ca

    def frames(turn_rows, anchor_rows):
        lld = spark.createDataFrame(
            turn_rows, "conv_id string, turn_idx int, x double, epoch double") \
            .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
        anc = spark.createDataFrame(anchor_rows, "conv_id string, epoch double") \
            .withColumn("anchor_ts", F.timestamp_seconds("epoch")).drop("epoch")
        return lld, anc

    fams = ["means", "moments", "extremes", "percentiles", "regression"]
    alone, together = frames(target_turns, target_anchors), frames(turns,
                                                                   anchors)
    for window in (None, 900.0):
        a, b = (backfill_functionals(lld, anc, ["x"], families=fams,
                                     window_seconds=window)
                .filter(F.col("conv_id") == "target").toArrow()
                .sort_by([("anchor_ts", "ascending")])
                for lld, anc in (alone, together))
        assert a.num_rows == len(target_anchors)
        assert a.equals(b), window


def test_asof_multi_conv_no_crosstalk(spark):
    t0 = 1_704_067_200.0
    a = make_conv(spark, "a", [1.0])
    b = make_conv(spark, "b", [2.0])
    lld = a.unionByName(b)
    anchors = _anchors(spark, "a", [t0 + 1]).unionByName(
        _anchors(spark, "b", [t0 + 1]))
    out = asof_join(anchors, lld.select("conv_id", "ts", "x"),
                    value_cols=["x"])
    vals = {r["conv_id"]: r["x"] for r in out.collect()}
    assert vals == {"a": 1.0, "b": 2.0}


def test_incremental_backfill_equals_full(spark):
    """Incremental refresh == full recompute bit-for-bit: run on day-1
    data, append turns to ONE conversation, refresh incrementally, and
    compare against a from-scratch backfill of the day-2 corpus. Also
    pins that untouched convs' rows are literally carried (not
    recomputed): their features survive even if the carried table was
    perturbed out-of-band."""
    from pyspark.sql import functions as F

    from opensmile_spark.operators.asof import (backfill_functionals,
                                                incremental_backfill)
    from tests.conftest import make_conv

    day1 = make_conv(spark, "a", [1, 2, 3, 4]).unionByName(
        make_conv(spark, "b", [10, 20, 30]))
    day1 = day1.withColumnRenamed("x", "char_len")

    def grid(df):
        return df.select("conv_id", F.col("ts").alias("anchor_ts"))

    # the contract: prev_features / prev_max_ts are WRITTEN by the last
    # run and read back (parquet round-trip breaks the lineage the same
    # way a real feature store does)
    import tempfile

    d = tempfile.mkdtemp(prefix="incbf_")
    backfill_functionals(day1, grid(day1), ["char_len"],
                         families=["means", "moments"]) \
        .write.mode("overwrite").parquet(f"{d}/feats")
    day1.groupBy("conv_id").agg(F.max("ts").alias("max_ts")) \
        .write.mode("overwrite").parquet(f"{d}/max")
    feats1 = spark.read.parquet(f"{d}/feats")
    max1 = spark.read.parquet(f"{d}/max")

    # day 2: conv "a" gains two turns; conv "b" untouched
    extra = make_conv(spark, "a", [1, 2, 3, 4, 5, 6]) \
        .withColumnRenamed("x", "char_len").filter(F.col("turn_idx") >= 4)
    day2 = day1.unionByName(extra)

    inc, max2 = incremental_backfill(
        feats1, max1, day2, grid(day2), ["char_len"],
        families=["means", "moments"])
    full = backfill_functionals(day2, grid(day2), ["char_len"],
                                families=["means", "moments"])

    key = ["conv_id", "anchor_ts"]
    a = inc.toPandas().sort_values(key).reset_index(drop=True)
    b = full.toPandas().sort_values(key).reset_index(drop=True)
    assert sorted(a.columns) == sorted(b.columns)
    assert len(a) == len(b)
    for c in sorted(a.columns):
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            import numpy as np
            assert np.allclose(av, bv, equal_nan=True), c
        else:
            assert (av == bv).all(), c

    # watermark advanced only for the stale conv
    m = {r["conv_id"]: r["max_ts"] for r in max2.collect()}
    m1 = {r["conv_id"]: r["max_ts"] for r in max1.collect()}
    assert m["a"] > m1["a"] and m["b"] == m1["b"]


def test_incremental_backfill_builds_without_a_job(spark, tmp_path):
    """Building the refresh is lazy: the watermark aggregate, the stale
    set and the joins back onto the inputs start no Spark job until the
    caller writes the result."""
    from pyspark.sql import functions as F

    from opensmile_spark.operators.asof import (backfill_functionals,
                                                conv_watermark,
                                                incremental_backfill)
    from tests.conftest import count_jobs, make_conv

    day1 = make_conv(spark, "a", [1, 2, 3]).unionByName(
        make_conv(spark, "b", [10, 20])).withColumnRenamed("x", "char_len")
    anchors = day1.select("conv_id", F.col("ts").alias("anchor_ts"))
    backfill_functionals(day1, anchors, ["char_len"], families=["means"]) \
        .write.parquet(str(tmp_path / "feats"))
    conv_watermark(day1).write.parquet(str(tmp_path / "max"))
    feats1 = spark.read.parquet(str(tmp_path / "feats"))
    max1 = spark.read.parquet(str(tmp_path / "max"))
    day2 = day1.filter(F.col("turn_idx") != 1)

    (inc, max2), jobs = count_jobs(spark, lambda: incremental_backfill(
        feats1, max1, day2, anchors, ["char_len"], families=["means"]))
    assert jobs == 0
    assert inc.count() == anchors.count()
    assert {r["conv_id"]: r["n_rows"] for r in max2.collect()} == \
        {"a": 2, "b": 1}


def test_incremental_backfill_detects_deletion(spark):
    """A corrected/deleted row that does NOT move max(ts) must still mark
    the conv stale: the watermark is a (max_ts, n_rows) pair, and the
    count catches row-set changes a max-only watermark misses."""
    from pyspark.sql import functions as F

    from opensmile_spark.operators.asof import (backfill_functionals,
                                                conv_watermark,
                                                incremental_backfill)
    from tests.conftest import make_conv

    day1 = make_conv(spark, "a", [1, 2, 3, 4]).unionByName(
        make_conv(spark, "b", [10, 20, 30]))
    day1 = day1.withColumnRenamed("x", "char_len")

    def grid(df):
        return df.select("conv_id", F.col("ts").alias("anchor_ts"))

    import tempfile

    d = tempfile.mkdtemp(prefix="incbf_del_")
    backfill_functionals(day1, grid(day1), ["char_len"],
                         families=["means"]) \
        .write.mode("overwrite").parquet(f"{d}/feats")
    conv_watermark(day1).write.mode("overwrite").parquet(f"{d}/max")
    feats1 = spark.read.parquet(f"{d}/feats")
    max1 = spark.read.parquet(f"{d}/max")

    # day 2: conv "a" loses its SECOND turn (max ts unchanged)
    day2 = day1.filter(~((F.col("conv_id") == "a")
                         & (F.col("turn_idx") == 1)))

    inc, max2 = incremental_backfill(
        feats1, max1, day2, grid(day2), ["char_len"], families=["means"])
    full = backfill_functionals(day2, grid(day2), ["char_len"],
                                families=["means"])

    key = ["conv_id", "anchor_ts"]
    a = inc.toPandas().sort_values(key).reset_index(drop=True)
    b = full.toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    import numpy as np
    for c in sorted(a.columns):
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.allclose(av, bv, equal_nan=True), c
        else:
            assert (av == bv).all(), c
    n2 = {r["conv_id"]: r["n_rows"] for r in max2.collect()}
    assert n2 == {"a": 3, "b": 3}
