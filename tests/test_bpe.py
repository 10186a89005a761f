"""BPE train/encode: explicit merge pins, roundtrip, prefix property,
repartition invariance, persistence."""

from opensmile_spark.bpe import (
    BPEModel, _encode_word, _train_on_hist, bpe_encode, bpe_train,
    word_histogram)


def test_train_on_hist_pins():
    # hist {"abab": 10, "ab": 5}:
    #   (a,b) = 2*10 + 5 = 25 > (b,a) = 10 -> merge 1 = (a,b)
    #   then ("ab","ab")x10 -> merge 2 = ("ab","ab")
    merges = _train_on_hist([("abab", 10), ("ab", 5)], 10, 2)
    assert merges == [("a", "b"), ("ab", "ab")]


def test_train_tie_break_lexicographic():
    # "ab" and "cd" both weight 3 -> smaller pair (a,b) merges first
    merges = _train_on_hist([("ab", 3), ("cd", 3)], 1, 2)
    assert merges == [("a", "b")]


def test_min_count_stop():
    assert _train_on_hist([("ab", 1)], 5, 2) == []
    assert _train_on_hist([("ab", 2)], 5, 2) == [("a", "b")]


def test_encode_word_rank_order():
    ranks = {("a", "b"): 0, ("ab", "ab"): 1}
    assert _encode_word("ababab", ranks) == ["abab", "ab"]
    assert _encode_word("ba", ranks) == ["b", "a"]
    assert _encode_word("", ranks) == []
    # leftmost wins among equal-rank applications
    assert _encode_word("abab", ranks) == ["abab"]


def test_prefix_property():
    hist = [("the cat", 50), ("the", 40), ("that", 30), ("cater", 7)]
    hist = [(w, c) for w, c in hist]
    m5 = _train_on_hist(hist, 5, 1)
    m10 = _train_on_hist(hist, 10, 1)
    assert m10[:5] == m5


DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cats sat there"),
    (2, "that cat, the other cat!"),
    (3, "numbers 123 and 456 don't matter"),
    (4, ""),
]


def _df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_word_histogram(spark):
    hist = {r["word"]: r["count"]
            for r in word_histogram(_df(spark)).collect()}
    assert hist["the"] == 2          # doc0 + doc1 leading word
    assert hist[" the"] == 2         # space-prefixed (doc0 + doc2)
    assert hist[" cat"] == 3
    assert hist["'t"] == 1           # contraction split from "don"
    assert "" not in hist


def test_encode_roundtrip(spark):
    model = bpe_train(_df(spark), n_merges=50, min_count=1)
    out = {r["doc_id"]: (r["bpe_tokens"], r["n_bpe_tokens"])
           for r in bpe_encode(_df(spark), model).collect()}
    for did, text in DOCS:
        toks, n = out[did]
        assert "".join(toks) == text          # pattern tiles these texts
        assert n == len(toks)
        assert all(t for t in toks)


def test_train_repartition_invariance(spark):
    a = bpe_train(_df(spark), n_merges=30, min_count=1).merges
    b = bpe_train(_df(spark).repartition(7), n_merges=30, min_count=1).merges
    assert a == b and len(a) > 0


def test_model_persistence_roundtrip(spark):
    model = bpe_train(_df(spark), n_merges=20, min_count=1)
    back = BPEModel.from_df(model.to_df(spark))
    assert back.merges == model.merges
    assert back.vocab() == model.vocab()


def test_encode_compresses(spark):
    """More merges -> no more tokens than fewer merges, and fewer than
    raw characters."""
    df = _df(spark)
    m0 = BPEModel(merges=[])
    m50 = bpe_train(df, n_merges=50, min_count=1)
    n0 = {r["doc_id"]: r["n_bpe_tokens"]
          for r in bpe_encode(df, m0).collect()}
    n50 = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_encode(df, m50).collect()}
    for did, text in DOCS:
        assert n50[did] <= n0[did]
    assert n50[0] < len(DOCS[0][1])


def test_lowercase_mode(spark):
    df = spark.createDataFrame([(0, "The THE the")], "doc_id long, text string")
    hist = {r["word"]: r["count"]
            for r in word_histogram(df, lowercase=True).collect()}
    assert hist["the"] == 1 and hist[" the"] == 2
    model = bpe_train(df, n_merges=10, min_count=1, lowercase=True)
    toks = bpe_encode(df, model, lowercase=True).collect()[0]["bpe_tokens"]
    assert "".join(toks) == "the the the"
