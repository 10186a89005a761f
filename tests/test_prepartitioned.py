"""pre_partitioned kernel path == shuffled path on group-contiguous input."""

import numpy as np


def test_pre_partitioned_matches_shuffled(spark, tmp_path):
    from opensmile_spark.datagen import generate_transcripts
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import sessionize, sma

    t = generate_transcripts(spark, n_convs=200, turns_per_conv=12,
                             session_gap_prob=0.2)
    sess = sessionize(sma(compute_lld(t), ["char_len"], 3),
                      gap_seconds=600.0)
    d = str(tmp_path / "sorted_corpus")
    (sess.repartition(8, "conv_id")
     .sortWithinPartitions("conv_id", "session_id", "turn_idx")
     .write.mode("overwrite").parquet(d))
    laid_out = spark.read.parquet(d)

    fams = ["means", "moments", "percentiles", "regression"]
    a = functionals_kernel(laid_out, ["char_len_sma3"],
                           ("conv_id", "session_id"), families=fams,
                           pre_partitioned=True).toPandas() \
        .set_index(["conv_id", "session_id"]).sort_index()
    b = functionals_kernel(laid_out, ["char_len_sma3"],
                           ("conv_id", "session_id"), families=fams) \
        .toPandas().set_index(["conv_id", "session_id"]).sort_index()
    assert a.index.equals(b.index)          # no duplicated/split groups
    assert len(a) == len(a.index.unique())  # exactly one row per group
    for c in a.columns:
        assert np.allclose(a[c].astype(float), b[c].astype(float),
                           equal_nan=True), c


def test_kernel_batch_split_invariance(spark, tmp_path):
    """The kernel's output does not depend on where Arrow batch edges fall:
    64-row batches (most groups straddle an edge and go through the
    group_blocks carry) are bit-identical to 10000-row batches on both
    layouts, with string group keys and every listed family, and each
    group's features match the driver-side compute_all."""
    from opensmile_spark.datagen import generate_transcripts
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.functionals.kernels import compute_all
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import sessionize, sma

    t = generate_transcripts(spark, n_convs=150, turns_per_conv=40,
                             session_gap_prob=0.15)
    sess = sessionize(sma(compute_lld(t), ["char_len", "token_cnt"], 3),
                      gap_seconds=600.0)
    d = str(tmp_path / "arrow_corpus")
    (sess.repartition(4, "conv_id")
     .sortWithinPartitions("conv_id", "session_id", "turn_idx")
     .write.mode("overwrite").parquet(d))
    laid_out = spark.read.parquet(d)
    assert dict(laid_out.dtypes)["conv_id"] == "string"

    vcols = ["char_len_sma3", "token_cnt_sma3"]
    keys = ["conv_id", "session_id"]
    fams = ["means", "moments", "extremes", "percentiles", "regression",
            "peaks2", "dct", "acf", "amdf", "lpc"]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"

    def run(pre, batch_rows):
        spark.conf.set(conf, str(batch_rows))
        try:
            return functionals_kernel(
                laid_out, vcols, keys, families=fams,
                pre_partitioned=pre).toPandas() \
                .set_index(keys).sort_index()
        finally:
            spark.conf.set(conf, "10000")

    outs = {}
    for pre in (True, False):
        a, b = run(pre, 64), run(pre, 10000)
        assert a.index.equals(b.index)
        assert len(a) == len(a.index.unique())   # one row per group
        assert list(a.columns) == list(b.columns)
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind == "f":
                assert np.array_equal(av, bv, equal_nan=True), (pre, c)
            else:
                assert (av == bv).all(), (pre, c)
        outs[pre] = a
    assert outs[True].index.equals(outs[False].index)

    rows = laid_out.select(*keys, "turn_idx", *vcols).toPandas() \
        .sort_values([*keys, "turn_idx"])
    got = outs[False]
    assert len(got) == rows.groupby(keys).ngroups
    for key, g in rows.groupby(keys):
        r = got.loc[key]
        assert r["n_turns"] == len(g)
        for c in vcols:
            want = compute_all(g[c].to_numpy(dtype=np.float64), fams)
            for k, v in want.items():
                assert np.allclose(r[f"{c}_{k}"], v, equal_nan=True), \
                    (key, c, k, r[f"{c}_{k}"], v)


def test_derive_matches_vector_op(spark):
    """In-kernel derived lanes (derive=[...]) == explicit vector_op
    withColumn pipeline feeding the same kernel."""
    from opensmile_spark.datagen import generate_transcripts
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import sma
    from opensmile_spark.operators.vector_ops import vector_op

    t = generate_transcripts(spark, n_convs=60, turns_per_conv=25)
    lld = sma(compute_lld(t), ["char_len", "token_cnt"], 3)
    vcols = ["char_len_sma3", "token_cnt_sma3"]
    ops = ["sq", "log", "sqrt", "fconv_mel"]
    fams = ["means", "moments", "percentiles", "regression"]

    fused = functionals_kernel(lld, vcols, ("conv_id",), families=fams,
                               derive=ops).toPandas() \
        .set_index("conv_id").sort_index()

    explicit = lld
    exp_cols = list(vcols)
    spark_op = {"sq": ("pow", 2.0)}    # vector_op spells squaring as pow(2)
    for c in vcols:
        for op in ops:
            sop, sc = spark_op.get(op, (op, 1.0))
            explicit = vector_op(explicit, c, sop, scalar=sc,
                                 out_col=f"{c}__{op}")
            exp_cols.append(f"{c}__{op}")
    ref = functionals_kernel(explicit, exp_cols, ("conv_id",),
                             families=fams).toPandas() \
        .set_index("conv_id").sort_index()

    assert fused.index.equals(ref.index)
    assert sorted(fused.columns) == sorted(ref.columns)
    for c in fused.columns:
        assert np.allclose(fused[c].astype(float), ref[c].astype(float),
                           rtol=1e-12, atol=1e-12, equal_nan=True), c
