"""Similarity search: exact top-k sanity + LSH recall vs the exact path."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").cache()


def test_exact_topk_matches_numpy(spark, emb):
    from opensmile_spark.similarity import cosine_topk

    pdf = emb.toPandas()
    mat = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    norms = np.linalg.norm(mat, axis=1)

    out = cosine_topk(emb, emb.filter(F.col("vec_id") == int(ids[0])), k=5)
    got = [(r["item_id"], r["cosine"]) for r in
           out.orderBy("rank").collect()]

    q = mat[0] / norms[0]
    sims = (mat @ q) / norms
    order = [i for i in np.argsort(-sims) if ids[i] != ids[0]][:5]
    want = [(int(ids[i]), float(sims[i])) for i in order]
    assert [g[0] for g in got] == [w[0] for w in want]
    assert np.allclose([g[1] for g in got], [w[1] for w in want], atol=1e-6)


def test_lsh_topk_recall(spark, emb):
    """LSH ANN must recover a reasonable fraction of the exact top-10 for
    its bucketed candidates (recall tunable by bits; 6 bits here)."""
    from opensmile_spark.similarity import cosine_topk, lsh_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    ann = lsh_topk(emb, queries, dim=64, k=10, bits=4, tables=8).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp.item_id)
        found = set(ann[ann.query_id == qid].item_id)
        recalls.append(len(truth & found) / len(truth))
    # OR-amplified candidates: per-table hit prob for near-orthogonal
    # vectors ~ (0.56)^4 = 0.1, 8 tables -> ~0.57 expected recall; assert a
    # conservative floor far above random (2%)
    assert np.mean(recalls) > 0.3, recalls
    # and every ANN hit must carry the exact cosine (no approximation in
    # the scoring, only in candidate generation)
    merged = ann.merge(exact, on=["query_id", "item_id"],
                       suffixes=("_ann", "_exact"))
    if len(merged):
        assert np.allclose(merged.cosine_ann, merged.cosine_exact)


def test_lsh_single_scan_plan(spark):
    """lsh_topk must scan the index ONCE: exactly one FileScan of
    embeddings on the index (non-broadcast) side of the plan (plus one for
    the broadcast query side) — the per-table union rescanned the index
    `tables` times before."""
    from opensmile_spark.similarity import lsh_topk

    fresh = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = fresh.filter(F.col("vec_id") < 3)
    out = lsh_topk(fresh, queries, dim=64, k=5, bits=4, tables=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one posexplode Generate per side (index + broadcast queries) and no
    # per-table Union: the index is read once, not `tables` times
    assert plan.count("Generate posexplode") == 2, plan[:3000]
    assert "Union" not in plan, plan[:3000]


def test_embedding_near_dups_lsh_recall_on_planted(spark):
    """Production near-dup path (LSH candidates + exact verify) must find
    >=0.95 of planted near-duplicate pairs, with zero false positives
    (every emitted pair is exactly verified)."""
    import pandas as pd

    from opensmile_spark.dedup import embedding_near_dups

    rng = np.random.RandomState(7)
    base = rng.randn(120, 32)
    rows = []
    vid = 0
    for i in range(120):
        rows.append((vid, base[i].astype("float32").tolist())); vid += 1
        # plant a near-dup of every 3rd vector (tiny perturbation)
        if i % 3 == 0:
            pert = base[i] + 0.03 * rng.randn(32)
            rows.append((vid, pert.astype("float32").tolist())); vid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))

    brute = embedding_near_dups(df, threshold=0.97, method="brute",
                                dim=32).toPandas()
    lsh = embedding_near_dups(df, threshold=0.97, method="lsh", dim=32,
                              bits=8, tables=16).toPandas()
    truth = set(zip(brute.id_a, brute.id_b))
    found = set(zip(lsh.id_a, lsh.id_b))
    assert len(truth) >= 30  # the plant worked
    assert found <= truth    # exact verification: no false positives
    assert len(truth & found) / len(truth) >= 0.95, (len(truth), len(found))


def test_embedding_near_dups_lsh_no_crossjoin(spark, emb):
    from opensmile_spark.dedup import embedding_near_dups

    out = embedding_near_dups(emb, threshold=0.9, method="lsh", dim=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_connected_components_and_survivors(spark):
    """Min-label propagation finds component minima on a graph with a
    chain (worst case for propagation), a triangle, and an isolated pair;
    dedup_survivors keeps exactly one doc per component."""
    import pandas as pd

    from opensmile_spark.dedup import connected_components, dedup_survivors

    pairs = spark.createDataFrame(pd.DataFrame({
        # chain 10-11-12-13-14, triangle 1-2-3, pair 20-21
        "id_a": [10, 11, 12, 13, 1, 2, 1, 20],
        "id_b": [11, 12, 13, 14, 2, 3, 3, 21],
    }))
    comp = {r["id"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert all(comp[i] == 10 for i in (10, 11, 12, 13, 14))
    assert all(comp[i] == 1 for i in (1, 2, 3))
    assert comp[20] == 20 and comp[21] == 20

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 10, 11, 12, 13, 14, 20, 21, 99],
        "text": ["x"] * 11,
    }))
    kept = sorted(r["doc_id"]
                  for r in dedup_survivors(docs, pairs).collect())
    assert kept == [1, 10, 20, 99]


def test_ngram_decontaminate_planted(spark):
    """Planted eval-set leakage: docs that embed a benchmark sentence must
    be flagged (>= 2 shared 3-grams), clean docs must not, and the corpus
    side must join the benchmark via BROADCAST (the corpus never
    shuffles)."""
    import pandas as pd

    from opensmile_spark.dedup import (
        decontaminate_survivors, ngram_decontaminate,
    )

    bench_sentence = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            f"intro words {bench_sentence} trailing words",   # contaminated
            bench_sentence,                                    # verbatim
            "completely unrelated content about spark plans",  # clean
            "the quick red car",  # shares only ONE 3-gram span -> clean
        ],
    }))
    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100], "text": [bench_sentence]}))
    flagged = ngram_decontaminate(docs, bench, k_shingle=3, min_overlap=2)
    got = {r["doc_id"]: r["n_contaminated"] for r in flagged.collect()}
    assert set(got) == {1, 2}
    assert got[2] == 7          # 9 tokens -> 7 distinct 3-grams, all shared
    kept = sorted(r["doc_id"] for r in
                  decontaminate_survivors(docs, bench).collect())
    assert kept == [3, 4]

    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_connected_components_long_chain_and_unionfind_oracle(spark):
    """Large-star/small-star CC on adversarial shapes: a 400-node chain
    (min-label would need 400 rounds — the case that motivated the
    algorithm swap), a star, a binary-tree-ish component, and a random
    graph — all checked against a driver-side union-find oracle."""
    import pandas as pd

    from opensmile_spark.dedup import connected_components

    rng = np.random.RandomState(3)
    edges = []
    # 400-node chain on shuffled labels (so min sits mid-chain, worst case)
    perm = rng.permutation(400) + 1000
    edges += [(int(perm[i]), int(perm[i + 1])) for i in range(399)]
    # star centered on a large id
    edges += [(5000, 5000 + i) for i in range(1, 30)]
    # random component
    ids = rng.randint(9000, 9100, size=(60, 2))
    edges += [(int(a), int(b)) for a, b in ids if a != b]

    def union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    want = union_find(edges)
    pairs = spark.createDataFrame(
        pd.DataFrame(edges, columns=["id_a", "id_b"]))
    got = {r["id"]: r["component"]
           for r in connected_components(pairs).collect()}
    assert got == want


def test_lsh_bucket_multi_arrow_matches_literal(spark, emb, monkeypatch):
    """The Arrow/numpy signature path must produce EXACTLY the same
    (id, bucket) rows as the literal-expression path (same hyperplanes,
    sign-of-dot-product is order-insensitive up to fp, and these dots are
    far from zero with prob 1). Each path is forced through the size
    cutoff."""
    from opensmile_spark import similarity

    def buckets(cutoff):
        monkeypatch.setattr(similarity, "_LSH_ARROW_CUTOFF", cutoff)
        df = similarity.lsh_bucket_multi(emb, dim=64, bits=6, tables=4)
        return set(map(tuple, df.select("vec_id", "bkt").collect()))

    assert buckets(1 << 60) == buckets(0)


def test_ivf_topk_recall_and_exact_scores(spark, emb):
    """IVF ANN: probing n_probe of n_centroids cells must recover a solid
    fraction of the exact top-10, and every hit carries the exact cosine."""
    from opensmile_spark.similarity import cosine_topk, ivf_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    ivf = ivf_topk(emb, queries, k=10, n_centroids=8, n_probe=4).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp.item_id)
        found = set(ivf[ivf.query_id == qid].item_id)
        recalls.append(len(truth & found) / len(truth))
    # probing half the cells (4/8) must beat the random-candidate floor by
    # a wide margin; near-neighbors concentrate in the probed cells
    assert np.mean(recalls) > 0.5, recalls
    merged = ivf.merge(exact, on=["query_id", "item_id"],
                       suffixes=("_ivf", "_exact"))
    if len(merged):
        assert np.allclose(merged.cosine_ivf, merged.cosine_exact)


def test_ivf_persisted_layout_sample_fit(spark, emb, tmp_path):
    """Production IVF form: sample-fit codebook (never the full index) +
    partitionBy(__cell) persisted layout; ivf_probe must read a PRUNED
    subset of the cell directories and keep the in-memory path's recall."""
    from opensmile_spark.similarity import cosine_topk, ivf_build, ivf_probe

    path = str(tmp_path / "ivf")
    ivf_build(emb, path, n_centroids=8, fit_fraction=0.5)

    # the persisted layout is physically partitioned by cell
    import os
    cells = [d for d in os.listdir(f"{path}/index")
             if d.startswith("__cell=")]
    assert len(cells) == 8

    queries = emb.filter(F.col("vec_id") < 10)
    got = ivf_probe(spark, path, queries, k=10, n_probe=4).toPandas()
    exact = cosine_topk(emb, queries, k=10).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp.item_id)
        found = set(got[got.query_id == qid].item_id)
        recalls.append(len(truth & found) / len(truth))
    assert np.mean(recalls) > 0.5, recalls
    merged = got.merge(exact, on=["query_id", "item_id"],
                       suffixes=("_ivf", "_exact"))
    if len(merged):
        assert np.allclose(merged.cosine_ivf, merged.cosine_exact)

    # pruning is physical: the executed scan of 1 cell reads 1 partition
    # (inputFiles() lists the relation pre-pruning, so use scan SQLMetrics)
    one = spark.read.parquet(f"{path}/index").filter(F.col("__cell") == 0)
    one.collect()
    leaf = one._jdf.queryExecution().executedPlan().collectLeaves().head()
    metrics, it = {}, leaf.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    assert metrics["numPartitions"] == 1, metrics


def test_quantize_roundtrip_cosine(spark, emb):
    """int8 quantize, dequantized as q * scale: max abs error <= scale/2
    per element and cosine against the original within 1e-2."""
    from opensmile_spark.similarity import quantize_embeddings

    d = quantize_embeddings(emb).toPandas()
    for _, r in d.head(50).iterrows():
        orig = np.asarray(r["embedding"], dtype=np.float64)
        deq = np.asarray(r["embedding_q8"], dtype=np.float64) * r["q8_scale"]
        assert np.abs(orig - deq).max() <= r["q8_scale"] / 2 + 1e-12
        c = (orig @ deq) / (np.linalg.norm(orig) * np.linalg.norm(deq))
        assert c > 0.99


def test_pq_topk_recall_and_exact_scores(spark, emb):
    """PQ/ADC ANN (Jegou et al. 2011): m=8 subspaces x 64 codes with 8x
    ADC-candidate oversampling recovers >=0.8 of the exact top-10
    (deterministic seed measures 0.94 on this corpus), and every returned
    score is the EXACT cosine — approximation lives only in candidate
    generation, the final ranking is re-scored on true vectors."""
    from opensmile_spark.similarity import cosine_topk, pq_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    ann = pq_topk(emb, queries, k=10, m=8, n_codes=64,
                  rescore_factor=8).toPandas()
    recalls = []
    for qid, grp in exact.groupby("query_id"):
        truth = set(grp.item_id)
        found = set(ann[ann.query_id == qid].item_id)
        recalls.append(len(truth & found) / len(truth))
    assert np.mean(recalls) >= 0.8, recalls
    merged = ann.merge(exact, on=["query_id", "item_id"],
                       suffixes=("_ann", "_exact"))
    assert len(merged) > 0
    assert np.allclose(merged.cosine_ann, merged.cosine_exact)


def test_pq_encode_shape_and_determinism(spark, emb):
    """Codes are m ints in [0, n_codes); same fit+encode twice is
    bit-identical (sample-fit is seeded)."""
    from opensmile_spark.similarity import pq_encode, pq_fit

    cb = pq_fit(emb, m=8, n_codes=16)
    cb2 = pq_fit(emb, m=8, n_codes=16)
    assert np.array_equal(cb, cb2)
    codes = pq_encode(emb, cb).toPandas().set_index("vec_id")
    assert len(codes) == emb.count()
    arr = np.stack(codes["pq_code"].to_numpy())
    assert arr.shape[1] == 8
    assert arr.min() >= 0 and arr.max() < 16


def test_ivfpq_topk_recall(spark, emb):
    """IVF-PQ fusion: probing ALL cells isolates residual-PQ quality
    (recall ~0.96 — deterministic seeds); a 4/8-cell probe trades recall
    for a 2x candidate cut (0.72 measured on this corpus, whose synthetic
    embeddings cluster weakly so routing dominates). Scores are exact
    cosines (re-rank on true vectors)."""
    from opensmile_spark.similarity import cosine_topk, ivfpq_topk

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    truth = {qid: set(grp.item_id) for qid, grp in exact.groupby("query_id")}

    def recall(ann):
        return np.mean([
            len(truth[q] & set(ann[ann.query_id == q].item_id))
            / len(truth[q]) for q in truth])

    full = ivfpq_topk(emb, queries, k=10, n_centroids=8, n_probe=8,
                      m=8, n_codes=64, rescore_factor=8).toPandas()
    assert recall(full) >= 0.9, recall(full)
    merged = full.merge(exact, on=["query_id", "item_id"],
                        suffixes=("_ann", "_exact"))
    assert np.allclose(merged.cosine_ann, merged.cosine_exact)

    probed = ivfpq_topk(emb, queries, k=10, n_centroids=8, n_probe=4,
                        m=8, n_codes=64, rescore_factor=8).toPandas()
    assert recall(probed) >= 0.6, recall(probed)


def test_knn_join_matches_cosine_topk(spark, emb):
    """The exact bulk kNN join must agree with the broadcast cosine_topk
    path (same items, allclose scores — both are exact cosine), and be
    invariant to the block decomposition."""
    from opensmile_spark.similarity import cosine_topk, knn_join

    queries = emb.filter(F.col("vec_id") < 10)
    want = cosine_topk(emb, queries, k=10).toPandas()
    got = knn_join(emb, queries, k=10).toPandas()
    for qid, grp in want.groupby("query_id"):
        g = got[got.query_id == qid].sort_values("rank")
        assert g.item_id.tolist() == grp.sort_values("rank").item_id.tolist()
        assert np.allclose(g.cosine.to_numpy(),
                           grp.sort_values("rank").cosine.to_numpy(),
                           atol=1e-9)
    alt = knn_join(emb, queries, k=10, query_blocks=3,
                   index_chunks=5).toPandas()
    key = ["query_id", "rank"]
    a = got.sort_values(key).reset_index(drop=True)
    b = alt.sort_values(key).reset_index(drop=True)
    assert a.item_id.tolist() == b.item_id.tolist()


def test_pq_topk_blocking_invariance(spark, emb):
    """The block nested-loop decomposition must not change results: any
    (query_blocks, index_chunks) choice yields the same top-k, because
    each group emits its per-query top k*rf and the global shortlist is
    a superset-union reduction of those."""
    from opensmile_spark.similarity import pq_fit, pq_topk

    cb = pq_fit(emb, m=8, n_codes=16)
    queries = emb.filter(F.col("vec_id") < 8)
    a = pq_topk(emb, queries, k=5, codebooks=cb,
                query_blocks=1, index_chunks=1).toPandas()
    b = pq_topk(emb, queries, k=5, codebooks=cb,
                query_blocks=5, index_chunks=7).toPandas()
    key = ["query_id", "rank"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert a.item_id.tolist() == b.item_id.tolist()
    assert np.allclose(a.cosine, b.cosine)


def test_pq_topk_query_side_never_collected(spark, emb):
    """The r3-verdict contract: pq_topk must accept a large query
    DataFrame WITHOUT driver materialization. With pre-fit codebooks the
    whole plan must build lazily — zero Spark jobs during construction
    (a queries.collect() would run one) — and the scoring stage must be
    the cogrouped Arrow kernel."""
    from opensmile_spark.similarity import pq_fit, pq_topk

    cb = pq_fit(emb, m=8, n_codes=16)
    queries = emb.filter(F.col("vec_id") < 50)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = pq_topk(emb, queries, k=5, codebooks=cb)     # construction only
    after = set(tracker.getJobIdsForGroup())
    assert before == after, "pq_topk ran a Spark job during construction"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert out.count() > 0


def test_ivfpq_query_side_lazy(spark, emb):
    """ivfpq_topk's query side must be consumed lazily (no driver
    collect): a counting accumulator inside a query-side mapInPandas
    stays ZERO through plan construction (index-side sample fit is
    allowed to run jobs) and only fires on execution."""
    from opensmile_spark.similarity import ivfpq_topk

    acc = spark.sparkContext.accumulator(0)
    schema = emb.schema.simpleString()[7:-1].replace(":", " ")

    def touch(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    queries = emb.filter(F.col("vec_id") < 10).mapInPandas(
        touch, schema=schema)
    out = ivfpq_topk(emb, queries, k=5, n_centroids=4, n_probe=2,
                     m=8, n_codes=16)                  # construction only
    assert acc.value == 0, "query side was materialized during construction"
    assert out.count() > 0
    assert acc.value > 0


def test_exclude_self_gating(spark, emb):
    """ADVICE r4: when index and queries are DISTINCT tables whose id
    spaces merely collide (both 0-based), self-match exclusion silently
    drops legitimate nearest neighbors. exclude_self=False must keep
    them; the default keeps the sampled-from-index semantics."""
    from opensmile_spark.similarity import ivfpq_topk, knn_join, pq_topk

    # "distinct" queries: the same vectors under colliding ids — with
    # exclusion off, each query's top-1 is its own vector at cosine ~1
    queries = emb.filter(F.col("vec_id") < 3)

    got = knn_join(emb, queries, k=3, exclude_self=False).toPandas()
    top1 = got[got["rank"] == 1].set_index("query_id")
    for q in (0, 1, 2):
        assert top1.loc[q, "item_id"] == q
        assert top1.loc[q, "cosine"] == pytest.approx(1.0, abs=1e-9)

    # default: sampled-from-index semantics — self excluded
    dflt = knn_join(emb, queries, k=3).toPandas()
    assert not ((dflt["query_id"] == dflt["item_id"]).any())

    # PQ + IVF-PQ paths honor the same flag (exact re-rank => cosine ~1)
    pq = pq_topk(emb, queries, k=3, m=8, n_codes=16,
                 exclude_self=False).toPandas()
    pq1 = pq[pq["rank"] == 1].set_index("query_id")
    ivf = ivfpq_topk(emb, queries, k=3, n_centroids=4, n_probe=4,
                     m=8, n_codes=16, exclude_self=False).toPandas()
    ivf1 = ivf[ivf["rank"] == 1].set_index("query_id")
    for q in (0, 1, 2):
        assert pq1.loc[q, "item_id"] == q
        assert pq1.loc[q, "cosine"] == pytest.approx(1.0, abs=1e-9)
        assert ivf1.loc[q, "item_id"] == q
        assert ivf1.loc[q, "cosine"] == pytest.approx(1.0, abs=1e-9)
