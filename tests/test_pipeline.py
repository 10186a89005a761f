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


def test_crawl_pipeline_end_to_end(spark, tmp_path):
    """WARC archives through the full crawl->training-data composition:
    robots filtering, URL-canonical dedup, quality, decontamination,
    deterministic shuffle."""

    from opensmile_spark.pipeline import crawl_pipeline
    from opensmile_spark.warc import write_warc

    body = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the long meadow toward the river bank")
    recs = []
    # two tracking-decorated aliases of the same page -> one survivor
    for dec in ("?utm_source=a", "?utm_source=b"):
        recs.append({"warc_type": "response",
                     "target_uri": f"https://A.ex/dup{dec}",
                     "body": f"<p>{body}</p>"})
    # a page disallowed by robots
    recs.append({"warc_type": "response",
                 "target_uri": "https://a.ex/private/x",
                 "body": f"<p>{body} private</p>"})
    # a benchmark-contaminated page
    recs.append({"warc_type": "response",
                 "target_uri": "https://b.ex/leak",
                 "body": "<p>secret eval answer string here</p>"})
    # a clean keeper on another host
    recs.append({"warc_type": "response",
                 "target_uri": "https://b.ex/keep",
                 "body": f"<p>{body} extra words</p>"})
    p = tmp_path / "c.warc.gz"
    p.write_bytes(write_warc(recs))

    robots = spark.createDataFrame(
        [("a.ex", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string")
    bench = spark.createDataFrame(
        [(0, "secret eval answer string here")], "doc_id long, text string")

    out = crawl_pipeline(spark, str(p), bench, robots_txt=robots,
                         agent="corpusbot", n_shards=4)
    rows = out.collect()
    urls = sorted(r["url_norm"] for r in rows)
    # dup alias collapsed to ONE, private dropped by robots, leak
    # decontaminated, keep survives
    assert urls == ["https://a.ex/dup", "https://b.ex/keep"]
    assert all(r["shard"] is not None and r["shuffle_pos"] >= 0
               for r in rows)
    # deterministic: a second run returns the identical frame
    out2 = crawl_pipeline(spark, str(p), bench, robots_txt=robots,
                          agent="corpusbot", n_shards=4)
    a = sorted(map(tuple, rows))
    b = sorted(map(tuple, out2.collect()))
    assert a == b
