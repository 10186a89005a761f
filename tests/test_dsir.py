"""DSIR importance resampling vs a brute-force python oracle."""

import hashlib
import math

from opensmile_spark.dsir import dsir_fit, dsir_score, gumbel_key

TARGET = [
    (100, "physics energy quantum field theory"),
    (101, "quantum entanglement energy spectrum"),
]
RAW = [
    (0, "physics quantum energy lecture notes"),
    (1, "buy cheap shoes online free shipping"),
    (2, "quantum field seminar on energy"),
    (3, "celebrity gossip and shoes news"),
    (4, "energy quantum physics problem set"),
    (5, ""),
    (6, "one"),
]
B, SEED, ALPHA = 64, 0, 1.0


def _toks(text):
    toks = [t for t in text.lower().strip().split() if t]
    return toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]


def _bucket(tok):
    h = int(hashlib.md5(f"{tok}:{SEED}".encode()).hexdigest()[:8], 16)
    return h % B


def _brute():
    ct, cr = [0] * B, [0] * B
    for _, t in TARGET:
        for tok in _toks(t):
            ct[_bucket(tok)] += 1
    for _, t in RAW:
        for tok in _toks(t):
            cr[_bucket(tok)] += 1
    T, R = sum(ct), sum(cr)
    ratio = [math.log(ct[b] + ALPHA) - math.log(T + ALPHA * B)
             - math.log(cr[b] + ALPHA) + math.log(R + ALPHA * B)
             for b in range(B)]
    out = {}
    for did, t in RAW:
        toks = _toks(t)
        out[did] = (sum(ratio[_bucket(x)] for x in toks), len(toks))
    return out


def _fit_score(spark):
    tgt = spark.createDataFrame(TARGET, "doc_id long, text string")
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    ratios = dsir_fit(tgt, raw, n_buckets=B, alpha=ALPHA, seed=SEED)
    return dsir_score(raw, ratios, n_buckets=B, seed=SEED)


def test_score_matches_brute(spark):
    got = {r["doc_id"]: (r["dsir_logw"], r["dsir_n_tokens"])
           for r in _fit_score(spark).collect()}
    want = _brute()
    assert set(got) == set(want)
    for d in want:
        assert abs(got[d][0] - want[d][0]) < 1e-9, d
        assert got[d][1] == want[d][1], d


def test_target_like_docs_score_higher(spark):
    got = {r["doc_id"]: r["dsir_logw"] for r in _fit_score(spark).collect()}
    science = min(got[0], got[2], got[4])
    junk = max(got[1], got[3])
    assert science > junk


def test_zero_token_doc_is_neutral(spark):
    got = {r["doc_id"]: (r["dsir_logw"], r["dsir_n_tokens"])
           for r in _fit_score(spark).collect()}
    assert got[5] == (0.0, 0)


def test_gumbel_identity_montecarlo(spark):
    """Gumbel-max over two items with logw ln(9) vs 0 must pick the
    heavy item ~90% of the time across seeds (sanity of the transform)."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, math.log(9.0)) for i in range(200)]
        + [(i + 1000, 0.0) for i in range(200)],
        "doc_id long, w double")
    wins = 0
    for seed in range(20):
        keyed = df.withColumn("k", gumbel_key(F.col("w"), "doc_id", seed))
        pairs = keyed.withColumn("pair", F.col("doc_id") % 1000) \
            .groupBy("pair").agg(
                F.max_by("doc_id", "k").alias("winner")).collect()
        wins += sum(1 for r in pairs if r["winner"] < 1000)
    frac = wins / (20 * 200)
    assert 0.85 < frac < 0.95
