"""SemDeDup cluster-then-prune semantic dedup: numpy-oracle parity,
determinism under repartitioning, planted-duplicate behavior, cap."""

import numpy as np
import pytest

from opensmile_spark.semdedup import kmeans_fit_np, semdedup


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").cache()


def _np_semdedup(ids, X, C, thr):
    """Reference implementation: normalize, assign argmin L2 to centroid,
    priority (sim_centroid desc, id asc), prune on max-prior-sim > thr."""
    V = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    cc = (C * C).sum(axis=1)
    G = V @ C.T
    cell = (cc[None, :] - 2.0 * G).argmin(axis=1)
    cn = np.maximum(np.linalg.norm(C, axis=1), 1e-12)
    sim_c = G[np.arange(len(V)), cell] / cn[cell]
    out = {}
    for c in np.unique(cell):
        m = np.flatnonzero(cell == c)
        order = list(m[np.lexsort((ids[m], -sim_c[m]))])
        for pos, i in enumerate(order):
            # paper rule: max sim over ALL prior rows, kept or not
            mp = max((float(V[i] @ V[j]) for j in order[:pos]),
                     default=None)
            out[int(ids[i])] = (int(c), float(sim_c[i]), mp,
                                mp is None or not (mp > thr))
    return out


def test_semdedup_matches_numpy(spark, emb):
    pdf = emb.toPandas()
    X = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    S = X[np.argsort(ids)][:40]
    S = S / np.linalg.norm(S, axis=1, keepdims=True)
    C = kmeans_fit_np(S, k=4, n_iter=5)
    thr = 0.15
    got = {r["vec_id"]: r for r in
           semdedup(emb, threshold=thr, centroids=C).collect()}
    want = _np_semdedup(ids, X, C, thr)
    assert set(got) == set(want)
    n_pruned = 0
    for vid, (cell, sim_c, mp, keep) in want.items():
        g = got[vid]
        assert g["cell"] == cell, vid
        assert np.isclose(g["sim_centroid"], sim_c, atol=1e-9), vid
        if mp is None:
            assert g["max_prior_sim"] is None, vid
        else:
            assert np.isclose(g["max_prior_sim"], mp, atol=1e-9), vid
        assert g["keep"] == keep, (vid, mp)
        n_pruned += not keep
    # threshold chosen so the decision is non-trivial both ways
    assert 0 < n_pruned < len(want)


def test_semdedup_partitioning_invariant(spark, emb):
    """Same fit + same decisions regardless of input partitioning (the
    fit sample is hash-selected and sorted, not partition-ordered)."""
    a = semdedup(emb, threshold=0.2, n_clusters=4, n_iter=3).collect()
    b = semdedup(emb.repartition(13), threshold=0.2, n_clusters=4,
                 n_iter=3).collect()
    ka = {r["vec_id"]: (r["cell"], r["keep"], r["max_prior_sim"])
          for r in a}
    kb = {r["vec_id"]: (r["cell"], r["keep"], r["max_prior_sim"])
          for r in b}
    assert ka == kb


def test_semdedup_planted_duplicates(spark):
    """Exact and near-exact duplicate vectors prune down to ONE survivor
    per duplicate set; distant vectors all survive."""
    rng = np.random.RandomState(0)
    base = rng.randn(6, 16)
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):                       # 3 near-copies each
            v = b + rng.randn(16) * 1e-3
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, threshold=0.9, n_clusters=3, n_iter=4,
                   sample_per_centroid=6).toPandas()
    assert len(out) == 18
    # every near-copy group loses exactly 2 of 3 (one survivor) — groups
    # are far apart (random gaussians), so no cross-group pruning
    assert int(out["keep"].sum()) == 6
    kept = out[out["keep"]]
    # survivors are pairwise far: their max_prior_sim was below threshold
    assert (kept["max_prior_sim"].fillna(-1) <= 0.9).all()


def test_semdedup_cap_bounds_work(spark):
    """max_cluster_size caps the quadratic pass: overflow rows are kept,
    flagged, and get no max_prior_sim."""
    rng = np.random.RandomState(1)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, threshold=0.5, n_clusters=1, n_iter=1,
                   sample_per_centroid=50, max_cluster_size=10).toPandas()
    assert len(out) == 50
    assert int(out["capped"].sum()) == 40
    capped = out[out["capped"]]
    assert capped["keep"].all()
    assert capped["max_prior_sim"].isna().all()
    head = out[~out["capped"]].sort_values(
        ["sim_centroid", "vec_id"], ascending=[False, True])
    # the capped prefix is the TOP-priority slice, so decisions there are
    # exactly the uncapped algorithm's on those 10 rows
    full = semdedup(df, threshold=0.5, n_clusters=1, n_iter=1,
                    sample_per_centroid=50).toPandas()
    fm = full.set_index("vec_id")
    for _, r in head.iterrows():
        assert fm.loc[r["vec_id"], "keep"] == r["keep"]


def test_kmeans_fit_deterministic():
    rng = np.random.RandomState(2)
    X = rng.randn(100, 8)
    a = kmeans_fit_np(X, 5, n_iter=7)
    b = kmeans_fit_np(X.copy(), 5, n_iter=7)
    assert np.array_equal(a, b)
    with pytest.raises(ValueError):
        kmeans_fit_np(X[:3], 5)


def test_semdedup_blocked_kernel_matches_dense(spark, monkeypatch):
    """An oversized cluster runs the BLOCKED prior-sim kernel (r4 verdict
    task 6): with a tiny block size (7 rows — many chunk x prior-block
    tiles, odd tail) the decisions and max_prior_sim must be bit-equal
    to the single-block dense path up to BLAS-blocking ulps (dgemm
    reorders the inner sums per tile shape), and memory stays
    O(block² + n·d) by construction (the Gram matrix is never
    materialized whole)."""

    rng = np.random.RandomState(3)
    base = rng.randn(12, 8)
    rows = []
    for i in range(60):                      # planted near-dup structure
        v = base[i % 12] + rng.randn(8) * (0.01 if i % 2 else 0.3)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    monkeypatch.setenv("SPARK_GRAFT_SEMDEDUP_BLOCK", "7")
    blocked = semdedup(df, threshold=0.9, n_clusters=1, n_iter=1,
                       sample_per_centroid=60).toPandas() \
        .set_index("vec_id").sort_index()
    monkeypatch.setenv("SPARK_GRAFT_SEMDEDUP_BLOCK", "1000000")
    dense = semdedup(df, threshold=0.9, n_clusters=1, n_iter=1,
                     sample_per_centroid=60).toPandas() \
        .set_index("vec_id").sort_index()
    assert (blocked["keep"] == dense["keep"]).all()
    assert blocked["keep"].sum() < 60        # pruning actually happened
    a = blocked["max_prior_sim"].to_numpy(dtype=float)
    b = dense["max_prior_sim"].to_numpy(dtype=float)
    assert (np.isclose(a, b, rtol=1e-12, atol=1e-12)
            | (np.isnan(a) & np.isnan(b))).all()


def test_semdedup_empty_table(spark, tmp_path):
    """An empty embedding table gives an empty decision table with the
    usual schema, from semdedup and from CLI semdedup."""
    from opensmile_spark.cli import main

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    dec = semdedup(empty, n_clusters=2)
    assert dec.columns == ["vec_id", "cell", "sim_centroid",
                           "max_prior_sim", "keep", "capped"]
    assert dec.count() == 0

    path = str(tmp_path / "emb")
    empty.write.parquet(path)
    out = str(tmp_path / "dec")
    main(["semdedup", "--input", path, "--output", out, "--clusters", "2"])
    got = spark.read.parquet(out)
    assert got.count() == 0
    assert got.schema == dec.schema
