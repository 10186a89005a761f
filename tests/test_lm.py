"""Char-bigram LM perplexity (CCNet-style) and BM25 retrieval: both are
pinned against brute-force python oracles."""

import math

import pytest

from opensmile_spark.lm import (
    bm25_index, bm25_search, charlm_fit, charlm_perplexity)

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "the five boxing wizards jump quickly",
    "sphinx of black quartz judge my vow",
    "zzzzqqqqxxxx jjjj zzzzqqqq",          # gibberish: should score high ppl
    "the the the the the the the the",     # degenerate repetition: low ppl
    "a",                                   # single char: no bigrams
    "",                                    # empty
]


def _docs(spark, texts=TEXTS):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def _brute_charlm(texts, alpha):
    """Reference: conditional bigram model with additive smoothing."""
    bg, pre = {}, {}
    for t in texts:
        s = t.lower()
        for i in range(len(s) - 1):
            g = s[i:i + 2]
            bg[g] = bg.get(g, 0) + 1
            pre[g[0]] = pre.get(g[0], 0) + 1
    vocab = len({g[1] for g in bg})
    out = {}
    for d, t in enumerate(texts):
        s = t.lower()
        n = max(len(s) - 1, 0)
        if n == 0:
            out[d] = (0, None)
            continue
        acc = 0.0
        for i in range(n):
            g = s[i:i + 2]
            acc += math.log2((bg.get(g, 0) + alpha)
                             / (pre[g[0]] + alpha * vocab))
        out[d] = (n, 2.0 ** (-acc / n))
    return out, vocab


@pytest.mark.parametrize("alpha", [0.1, 1.0])
def test_charlm_matches_brute(spark, alpha):
    docs = _docs(spark)
    model = charlm_fit(docs, alpha=alpha)
    want, vocab = _brute_charlm(TEXTS, alpha)
    assert model.vocab == vocab
    got = {r["doc_id"]: (r["n_bigrams"], r["ppl"])
           for r in charlm_perplexity(docs, model).collect()}
    assert set(got) == set(want)
    for d, (n, ppl) in want.items():
        assert got[d][0] == n
        if ppl is None:
            assert got[d][1] is None
        else:
            assert got[d][1] == pytest.approx(ppl, rel=1e-9)


def test_charlm_ranks_gibberish_high(spark):
    """CCNet setup: fit on clean text, score held-out docs — gibberish
    whose bigrams the clean model never saw lands at high perplexity."""
    model = charlm_fit(_docs(spark, TEXTS[:4]))
    ppl = {r["doc_id"]: r["ppl"]
           for r in charlm_perplexity(_docs(spark), model).collect()}
    assert ppl[4] > ppl[0]          # gibberish > natural text
    assert ppl[5] < ppl[4]          # 'the the the' is in-distribution


def test_charlm_unseen_bigram_and_prefix(spark):
    """Score a held-out doc containing bigrams/prefixes absent from fit."""
    train = _docs(spark, TEXTS[:4])
    model = charlm_fit(train, alpha=0.5)
    test_texts = ["qq ##"]           # 'qq' unseen bigram; '#' unseen prefix
    got = charlm_perplexity(_docs(spark, test_texts), model).collect()[0]
    bg, pre = {}, {}
    for t in TEXTS[:4]:
        s = t.lower()
        for i in range(len(s) - 1):
            g = s[i:i + 2]
            bg[g] = bg.get(g, 0) + 1
            pre[g[0]] = pre.get(g[0], 0) + 1
    v = len({g[1] for g in bg})
    s = "qq ##"
    acc = 0.0
    for i in range(len(s) - 1):
        g = s[i:i + 2]
        if g[0] in pre:
            acc += math.log2((bg.get(g, 0) + 0.5) / (pre[g[0]] + 0.5 * v))
        else:
            acc += math.log2(1.0 / v)
    assert got["ppl"] == pytest.approx(2.0 ** (-acc / (len(s) - 1)),
                                       rel=1e-9)


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def _brute_bm25(texts, qtexts, k1=1.2, b=0.75):
    import re
    docs = [re.findall(r"[a-z0-9]+", t.lower()) for t in texts]
    n = len(docs)
    avgdl = sum(len(d) for d in docs) / n
    df = {}
    for d in docs:
        for t in set(d):
            df[t] = df.get(t, 0) + 1
    out = {}
    for qi, qt in enumerate(qtexts):
        terms = set(re.findall(r"[a-z0-9]+", qt.lower()))
        scores = {}
        for di, d in enumerate(docs):
            s = 0.0
            for t in terms:
                tf = d.count(t)
                if tf == 0 or t not in df:
                    continue
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(d) / avgdl))
            if s > 0:
                scores[di] = round(s, 6)
        out[qi] = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return out


def test_bm25_matches_brute(spark):
    docs = _docs(spark, TEXTS[:6])
    queries = spark.createDataFrame(
        [(0, "quick fox"), (1, "five liquor"), (2, "the")],
        "query_id long, text string")
    idx = bm25_index(docs)
    got = bm25_search(idx, queries, k=10).collect()
    want = _brute_bm25(TEXTS[:6], ["quick fox", "five liquor", "the"])
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"]))
    for qi, exp in want.items():
        assert by_q.get(qi, []) == [
            (d, pytest.approx(s, abs=2e-6)) for d, s in exp]


def test_bm25_topk_cut(spark):
    docs = _docs(spark, TEXTS[:6])
    queries = spark.createDataFrame(
        [(0, "the")], "query_id long, text string")
    got = bm25_search(bm25_index(docs), queries, k=2).collect()
    assert len(got) == 2 and {r["rank"] for r in got} == {1, 2}


def test_bm25_max_df_drops_stopword(spark):
    docs = _docs(spark, TEXTS[:6])
    idx = bm25_index(docs, max_df_ratio=0.4)   # 'the' in 3/6 docs -> dropped
    terms = {r["term"] for r in idx["stats"].collect()}
    assert "the" not in terms and "fox" in terms
    queries = spark.createDataFrame(
        [(0, "the fox")], "query_id long, text string")
    got = bm25_search(idx, queries, k=10).collect()
    # only 'fox' contributes: exactly the one doc containing it
    assert [r["doc_id"] for r in got] == [0]


def test_bm25_repartition_invariant(spark):
    docs = _docs(spark, TEXTS[:6]).repartition(7)
    queries = spark.createDataFrame(
        [(0, "quick fox"), (1, "five liquor")], "query_id long, text string")
    a = sorted((r["query_id"], r["doc_id"], r["rank"])
               for r in bm25_search(bm25_index(docs), queries, k=5).collect())
    b = sorted((r["query_id"], r["doc_id"], r["rank"])
               for r in bm25_search(
                   bm25_index(_docs(spark, TEXTS[:6])), queries,
                   k=5).collect())
    assert a == b


def test_charlm_string_doc_ids(spark):
    """String doc ids keep their type through the scoring plan, and
    every document still scores as the brute-force oracle does."""
    docs = spark.createDataFrame(
        [(f"doc-{i}", t) for i, t in enumerate(TEXTS)],
        "doc_id string, text string")
    model = charlm_fit(docs)
    want, _ = _brute_charlm(TEXTS, model.alpha)
    got = {r["doc_id"]: (r["n_bigrams"], r["ppl"])
           for r in charlm_perplexity(docs, model).collect()}
    assert set(got) == {f"doc-{d}" for d in want}
    for d, (n, ppl) in want.items():
        assert got[f"doc-{d}"][0] == n
        if ppl is None:
            assert got[f"doc-{d}"][1] is None
        else:
            assert got[f"doc-{d}"][1] == pytest.approx(ppl, rel=1e-9)
