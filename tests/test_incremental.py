"""Incremental cross-snapshot dedup: decisions, store roundtrip,
fingerprint portability."""

import hashlib

import pytest
from pyspark.sql import functions as F

from opensmile_spark.incremental import (
    append_to_store,
    build_fingerprint_store,
    fingerprint_expr,
    incremental_dedup,
)


@pytest.fixture(scope="module")
def corpus(spark):
    """Historical snapshot (ids 0..99) and a new batch (ids 100..159)
    where: 20 new docs repeat historical text (seen), 10 repeat within
    the batch (batch_dup for the higher id), 30+ are fresh."""
    hist = [(i, f"historical document {i}") for i in range(100)]
    new = []
    for i in range(100, 120):
        new.append((i, f"historical document {i - 100}"))   # seen
    for i in range(120, 130):
        new.append((i, f"fresh duplicated text {i}"))
        new.append((i + 100, f"fresh duplicated text {i}"))  # batch dup
    for i in range(130, 160):
        new.append((i, f"brand new text {i}"))
    h = spark.createDataFrame(hist, "doc_id long, text string")
    n = spark.createDataFrame(new, "doc_id long, text string")
    return h.cache(), n.cache()


def _expect(decisions):
    got = {r["doc_id"]: r for r in decisions.collect()}
    assert len(got) == 70    # 20 seen + 10 dup pairs + 30 fresh
    for i in range(100, 120):
        assert got[i]["seen"] and not got[i]["batch_dup"] \
            and not got[i]["keep"], i
    for i in range(120, 130):
        assert not got[i]["seen"] and not got[i]["batch_dup"] \
            and got[i]["keep"], i
        j = i + 100
        assert got[j]["batch_dup"] and not got[j]["keep"], j
    for i in range(130, 160):
        assert got[i]["keep"], i
    return got


@pytest.mark.parametrize("method", ["xxhash64", "md5_64"])
def test_exact_path_decisions(spark, corpus, method):
    hist, new = corpus
    store = build_fingerprint_store(hist, method=method)
    _expect(incremental_dedup(new, store, method=method))


def test_store_roundtrip_and_append(spark, corpus, tmp_path):
    hist, new = corpus
    path = str(tmp_path / "store")
    build_fingerprint_store(hist, n_buckets=8).write \
        .partitionBy("bucket").mode("overwrite").parquet(path)
    store = spark.read.parquet(path)
    decisions = incremental_dedup(new, store)
    got = _expect(decisions)
    delta = append_to_store(decisions, n_buckets=8)
    d = delta.collect()
    kept_ids = {i for i, r in got.items() if r["keep"]}
    assert {r["first_id"] for r in d} == kept_ids
    assert all(r["bucket"] == r["fp"] % 8 for r in d)
    # ingesting the SAME batch again against store+delta: nothing keeps
    store2 = store.select("fp", "first_id", "bucket").unionByName(
        delta.select("fp", "first_id", "bucket"))
    again = incremental_dedup(new, store2)
    assert again.filter(F.col("keep")).count() == 0


def test_md5_64_fingerprint_portable(spark):
    """md5_64 equals int(md5(text)[:15], 16) — the DuckDB-twin contract."""
    rows = [(1, "alpha"), (2, "beta gamma"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id",
                     fingerprint_expr("text", "md5_64").alias("fp"))
           .collect()}
    for i, t in rows:
        want = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        assert got[i] == want, (i, t)


def test_unknown_method_raises():
    with pytest.raises(ValueError):
        fingerprint_expr("text", "sha999")
