"""corpus_pipeline: each stage bites on a planted case, and the result
is deterministic across reruns and input partitionings."""

import pytest

GOOD0 = "the cat and the dog of the house is that it sits for hours " * 5
GOOD3 = ("the quick brown fox jumps over the lazy dog and it is resting "
         "there for a while now")
CONTAM = ("the long and winding road is that it goes for many miles "
          "onward through hills")

DOCS = [
    (0, "src0", GOOD0),     # survives
    (1, "src0", GOOD0),     # verbatim dup of 0 -> dropped (min-id rule)
    (2, "src0", "zz!!;;,,.."),  # low quality -> dropped
    (3, "src1", GOOD3),     # survives
    (4, "src1", CONTAM),    # shares all shingles with the benchmark -> dropped
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, source string, text string")


def run(spark, docs, **kw):
    from opensmile_spark.pipeline import corpus_pipeline

    bench = spark.createDataFrame([(100, "eval", CONTAM)],
                                  "doc_id long, source string, text string")
    out = corpus_pipeline(docs, bench, min_quality=0.4, k_shingle=3,
                          min_overlap=2, n_shards=2, **kw)
    return {r["doc_id"]: r for r in out.collect()}


def test_stages_bite(spark, docs):
    got = run(spark, docs)
    assert set(got) == {0, 3}          # dup keeps min id; 2 and 4 dropped
    assert all(r["quality"] >= 0.4 for r in got.values())
    # positions dense per shard
    by_shard = {}
    for r in got.values():
        by_shard.setdefault(r["shard"], []).append(r["shuffle_pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))


def test_deterministic_across_partitioning(spark, docs):
    a = run(spark, docs)
    b = run(spark, docs.repartition(7))
    assert {(k, v["shard"], v["shuffle_pos"]) for k, v in a.items()} \
        == {(k, v["shard"], v["shuffle_pos"]) for k, v in b.items()}


def test_sampling_stage(spark, docs):
    # rate 0 on src1 removes doc 3; src0 keeps doc 0
    got = run(spark, docs, rates={"src1": 0.0}, default_rate=1.0)
    assert set(got) == {0}
