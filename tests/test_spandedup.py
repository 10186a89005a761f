"""Duplicate-span dedup (ExactSubstr-style, Lee et al. ACL'22): planted
repeated spans are found, merged to maximal ranges, and cut from the text;
a brute-force python oracle pins the semantics."""

import pytest

from opensmile_spark.spandedup import duplicated_spans, span_dedup


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")


def _brute_spans(texts, k, min_count):
    """Oracle: count every k-gram corpus-wide, mark hit positions, merge
    overlapping [p, p+k) intervals per doc."""
    toks = [t.lower().strip().split() for t in texts]
    counts = {}
    for tt in toks:
        for p in range(len(tt) - k + 1):
            g = " ".join(tt[p:p + k])
            counts[g] = counts.get(g, 0) + 1
    out = {}
    for d, tt in enumerate(toks):
        hits = [p for p in range(len(tt) - k + 1)
                if counts[" ".join(tt[p:p + k])] >= min_count]
        spans = []
        for p in hits:
            if spans and p <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + k))
            else:
                spans.append((p, p + k))
        out[d] = spans
    return out


TEXTS = [
    "alpha beta gamma delta epsilon zeta eta theta",
    "intro words alpha beta gamma delta epsilon zeta closing remark",
    "unique one two three four five six seven eight nine",
    "alpha beta gamma delta epsilon zeta eta theta tail tail2",
    "self repeat x y z self repeat x y z self repeat x y z",
    "short doc",
]


@pytest.mark.parametrize("k,min_count", [(3, 2), (4, 2), (3, 3)])
def test_spans_match_bruteforce(spark, k, min_count):
    df = _docs(spark, TEXTS)
    got = {}
    for r in duplicated_spans(df, k=k, min_count=min_count).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"]))
    want = _brute_spans(TEXTS, k, min_count)
    for d in range(len(TEXTS)):
        assert sorted(got.get(d, [])) == want[d], (d, k, min_count)


def test_clean_text_cuts_spans(spark):
    df = _docs(spark, TEXTS)
    rows = {r["doc_id"]: r for r in span_dedup(df, k=3).collect()}
    want = _brute_spans(TEXTS, 3, 2)
    for d, text in enumerate(TEXTS):
        tt = text.lower().strip().split()
        cov = set()
        for a, b in want[d]:
            cov.update(range(a, b))
        expect = " ".join(t for i, t in enumerate(tt) if i not in cov)
        r = rows[d]
        assert r["clean_text"] == expect, d
        assert r["n_tokens"] == len(tt)
        assert r["dup_tokens"] == len(cov)
        assert r["n_dup_spans"] == len(want[d])
        assert r["dup_ratio"] == pytest.approx(
            len(cov) / len(tt) if tt else 0.0)


def test_overlapping_windows_merge_to_one_maximal_span(spark):
    # the 8-token repeat in docs 0/3 must come back as ONE [0, 8) span,
    # not six k=3 windows
    df = _docs(spark, TEXTS)
    spans = {(r["doc_id"], r["span_start"], r["span_end"])
             for r in duplicated_spans(df, k=3).collect()}
    assert (0, 0, 8) in spans
    assert (3, 0, 8) in spans
    assert not any(d == 0 and (a, b) != (0, 8) for d, a, b in spans)


def test_short_doc_and_no_dup_doc_pass_through(spark):
    df = _docs(spark, TEXTS)
    rows = {r["doc_id"]: r for r in span_dedup(df, k=3).collect()}
    assert rows[5]["n_dup_spans"] == 0          # shorter than k
    assert rows[5]["clean_text"] == "short doc"
    assert rows[2]["n_dup_spans"] == 0          # no duplicated grams
    assert rows[2]["dup_ratio"] == 0.0


def test_fully_duplicated_doc_empties(spark):
    df = _docs(spark, ["a b c d e f", "a b c d e f"])
    rows = span_dedup(df, k=3).collect()
    for r in rows:
        assert r["clean_text"] == ""
        assert r["dup_ratio"] == 1.0


def test_within_doc_repeat_counts(spark):
    # doc 4 repeats "self repeat x y z" three times within ONE doc;
    # min_count=2 must flag it even with no cross-doc twin
    df = _docs(spark, [TEXTS[4]])
    spans = duplicated_spans(df, k=3).collect()
    assert spans, "within-doc repeats must count toward min_count"


def test_repartition_invariance(spark):
    df = _docs(spark, TEXTS).repartition(7)
    a = sorted(map(tuple, duplicated_spans(df, k=3).collect()))
    b = sorted(map(tuple, duplicated_spans(_docs(spark, TEXTS), k=3)
                   .collect()))
    assert a == b
