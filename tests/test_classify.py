"""Naive-Bayes quality classifier: math pins, separability, invariances."""

import math

import pytest

from opensmile_spark.classify import nb_fit, nb_score


@pytest.fixture(scope="module")
def seed(spark):
    rows = []
    for i in range(20):
        rows.append((i, "clean prose wiki article text", 1))
        rows.append((100 + i, "spam casino pills click here", 0))
    return spark.createDataFrame(rows, "doc_id long, text string, label int")


def test_separates_planted_vocab(spark, seed):
    w, params = nb_fit(seed)
    held = spark.createDataFrame(
        [(1000, "wiki article prose"), (1001, "casino spam click")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in nb_score(held, w, params).collect()}
    assert got[1000]["nb_score_pred"] == 1
    assert got[1001]["nb_score_pred"] == 0
    assert got[1000]["nb_score"] > 0 > got[1001]["nb_score"]


def test_exact_math_pin(spark):
    """Hand-computed multinomial NB on a 2-doc corpus."""
    df = spark.createDataFrame(
        [(0, "a a b", 1), (1, "b c", 0)],
        "doc_id long, text string, label int")
    w, params = nb_fit(df, alpha=1.0)
    weights = {r["token"]: r["log_odds"] for r in w.collect()}
    # class totals: t1 = 3 (a a b), t0 = 2 (b c); vocab = {a, b, c} -> v=3
    d1, d0 = 3 + 3.0, 2 + 3.0
    exp = {
        "a": math.log(3 / d1) - math.log(1 / d0),   # c1=2, c0=0
        "b": math.log(2 / d1) - math.log(2 / d0),   # c1=1, c0=1
        "c": math.log(1 / d1) - math.log(2 / d0),   # c1=0, c0=1
    }
    for t, v in exp.items():
        assert weights[t] == pytest.approx(v, rel=1e-12), t
    assert params["w_unseen"] == pytest.approx(math.log(d0 / d1), rel=1e-12)
    assert params["prior"] == pytest.approx(0.0)
    # score "a d": seen a + one unseen token + prior
    got = nb_score(spark.createDataFrame([(9, "a d")],
                                         "doc_id long, text string"),
                   w, params).collect()[0]
    assert got["n_tokens_nb"] == 2 and got["n_seen_nb"] == 1
    assert got["nb_score"] == pytest.approx(
        exp["a"] + params["w_unseen"], rel=1e-12)


def test_partitioning_invariance(spark, seed):
    w1, p1 = nb_fit(seed)
    w2, p2 = nb_fit(seed.repartition(7))
    a = {r["token"]: r["log_odds"] for r in w1.collect()}
    b = {r["token"]: r["log_odds"] for r in w2.collect()}
    assert set(a) == set(b)
    for t in a:
        assert a[t] == pytest.approx(b[t], rel=1e-12)
    assert p1 == pytest.approx(p2)


def test_empty_and_all_unseen_docs(spark, seed):
    w, params = nb_fit(seed)
    df = spark.createDataFrame(
        [(0, ""), (1, "zzz qqq")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in nb_score(df, w, params).collect()}
    assert got[0]["n_tokens_nb"] == 0
    assert got[0]["nb_score"] == pytest.approx(params["prior"])
    assert got[1]["n_seen_nb"] == 0
    assert got[1]["nb_score"] == pytest.approx(
        2 * params["w_unseen"] + params["prior"], rel=1e-12)


def test_max_vocab_truncates_deterministically(spark, seed):
    w, _ = nb_fit(seed, max_vocab=3)
    toks = sorted(r["token"] for r in w.collect())
    w2, _ = nb_fit(seed.repartition(5), max_vocab=3)
    assert toks == sorted(r["token"] for r in w2.collect())
    assert len(toks) == 3


def test_config_stage_nb_quality(spark, seed):
    """nb_quality as a declarative stage: fit on a seed frame, score the
    pipeline's current frame, join scores back."""
    from opensmile_spark.config import run_config

    docs = spark.createDataFrame(
        [(0, "wiki prose article"), (1, "casino pills spam")],
        "doc_id long, text string")
    out = run_config(docs, {"stages": [
        {"type": "nb_quality", "seed_docs": seed},
    ]})
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[0]["nb_score_pred"] == 1
    assert got[1]["nb_score_pred"] == 0
    assert "text" in out.columns  # original frame columns survive


def test_cli_runconfig_with_seed_path(spark, seed, tmp_path):
    """runconfig: native JSON stage list from a file, with a stage's
    DataFrame-valued option (seed_docs) resolved from a parquet path."""
    import json as _json

    from opensmile_spark.cli import main

    seed_path = str(tmp_path / "seed.parquet")
    seed.write.parquet(seed_path)
    docs = spark.createDataFrame(
        [(0, "wiki prose article text"), (1, "casino spam pills click")],
        "doc_id long, text string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    cfg = tmp_path / "cfg.json"
    cfg.write_text(_json.dumps({"stages": [
        {"type": "token_count"},
        {"type": "nb_quality", "seed_docs": seed_path},
    ]}))
    outp = str(tmp_path / "out.parquet")
    main(["runconfig", "--config", str(cfg), "--input", inp,
          "--output", outp])
    got = {r["doc_id"]: r for r in spark.read.parquet(outp).collect()}
    assert got[0]["nb_score_pred"] == 1
    assert got[1]["nb_score_pred"] == 0
    assert got[0]["n_tokens_ws"] == 4
