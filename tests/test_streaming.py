"""Structured Streaming: session windows, stateless LLD, stateful expanding
stats — driven to completion with availableNow over a file source (the
EOI-flush analogue, componentManager.cpp:1485-1502)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    from opensmile_spark.datagen import generate_transcripts

    d = str(tmp_path_factory.mktemp("stream_src"))
    generate_transcripts(spark, n_convs=10, turns_per_conv=20,
                         session_gap_prob=0.3, session_gap_s=1200.0) \
        .write.mode("overwrite").parquet(d)
    return d


def _read_stream(spark, d):
    batch = spark.read.parquet(d)
    return spark.readStream.schema(batch.schema).parquet(d)


def test_streaming_lld_matches_batch(spark, stream_dir):
    """Every column streaming_lld emits equals compute_lld's column of the
    same name on the same parquet, and only the lag columns are missing."""
    from opensmile_spark.lld import LLD_COLS, compute_lld
    from opensmile_spark.streaming import run_stream_to_memory, streaming_lld

    s = streaming_lld(_read_stream(spark, stream_dir))
    run_stream_to_memory(s, "lld_out")
    got = spark.sql("SELECT * FROM lld_out").toPandas() \
        .set_index(["conv_id", "turn_idx"]).sort_index()
    want = compute_lld(spark.read.parquet(stream_dir)).toPandas() \
        .set_index(["conv_id", "turn_idx"]).sort_index()
    assert set(LLD_COLS) - set(got.columns) == {"reply_latency", "role_change"}
    assert len(got) == len(want)
    for c in got.columns:
        assert got[c].equals(want[c]), c


def test_streaming_session_functionals(spark, stream_dir):
    """Every feature of every session equals compute_all on that
    session's rows: max, min, nnz and n_turns exactly, the rest to rtol
    1e-9."""
    from opensmile_spark.functionals.kernels import compute_all
    from opensmile_spark.streaming import (
        run_stream_to_memory, streaming_lld, streaming_session_functionals,
    )

    s = streaming_session_functionals(
        streaming_lld(_read_stream(spark, stream_dir)),
        gap="10 minutes", watermark="0 seconds")
    run_stream_to_memory(s, "sess_out")
    got = spark.sql("SELECT * FROM sess_out").toPandas()
    assert len(got) > 10                       # multiple sessions detected
    feats = ["amean", "absmean", "qmean", "rqmean", "variance", "max",
             "min", "nnz"]
    assert list(got.columns) == (
        ["conv_id", "session_start", "session_end", "n_turns"]
        + [f"char_len_{k}" for k in feats])
    batch = streaming_lld(spark.read.parquet(stream_dir)).toPandas()
    for row in got.itertuples():
        sub = batch[(batch.conv_id == row.conv_id)
                    & (batch.ts >= row.session_start)
                    & (batch.ts < row.session_end)].sort_values("turn_idx")
        assert row.n_turns == len(sub)
        want = compute_all(sub.char_len.to_numpy(dtype=np.float64),
                           ["means", "moments", "extremes"])
        for k in feats:
            g = getattr(row, f"char_len_{k}")
            if k in ("max", "min", "nnz"):
                assert g == want[k], (row.conv_id, k, g, want[k])
            else:
                assert np.isclose(g, want[k], rtol=1e-9, atol=0.0), (
                    row.conv_id, k, g, want[k])


def test_stateful_expanding_stats(spark, stream_dir):
    from opensmile_spark.streaming import (
        run_stream_to_memory, stateful_expanding_stats, streaming_lld,
    )

    s = stateful_expanding_stats(streaming_lld(_read_stream(spark, stream_dir)))
    run_stream_to_memory(s, "state_out", output_mode="update")
    got = spark.sql("SELECT * FROM state_out").toPandas()
    assert len(got) == 200
    one = got[got.conv_id == got.conv_id.iloc[0]].sort_values("turn_idx")
    xs = one.char_len.to_numpy()
    # Welford expanding mean equals numpy cumulative mean
    cum_mean = np.cumsum(xs) / np.arange(1, len(xs) + 1)
    assert np.allclose(one.run_mean.to_numpy(), cum_mean)
    # expanding population std at the last row
    assert np.isclose(one.run_std.iloc[-1], np.std(xs))


def test_closed_session_kernel_functionals(spark, stream_dir):
    """Order statistics / peaks2 over CLOSED sessions via foreachBatch —
    the streaming EOI-flush path; values must equal the batch kernel on
    the same session slices."""
    from opensmile_spark.functionals.kernels import compute_all
    from opensmile_spark.streaming import (
        closed_session_functionals, streaming_lld,
    )

    sessions, process = closed_session_functionals(
        streaming_lld(_read_stream(spark, stream_dir)),
        gap="10 minutes", watermark="0 seconds",
        families=["means", "percentiles", "peaks2"])
    collected = []
    q = (sessions.writeStream.outputMode("append")
         .foreachBatch(lambda df, _: collected.append(process(df).toPandas()))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    import pandas as pd
    got = pd.concat([c for c in collected if len(c)], ignore_index=True)
    assert len(got) > 10
    assert "char_len_quartile2" in got.columns
    assert "char_len_numPeaks" in got.columns
    # cross-check one session against the batch kernel
    batch = streaming_lld(spark.read.parquet(stream_dir)).toPandas()
    row = got.sort_values(["conv_id", "session_start"]).iloc[0]
    sub = batch[(batch.conv_id == row.conv_id)
                & (batch.ts >= row.session_start)
                & (batch.ts < row.session_end)].sort_values("turn_idx")
    want = compute_all(sub.char_len.to_numpy(dtype=float),
                       ["means", "percentiles", "peaks2"])
    assert np.isclose(row["char_len_quartile2"], want["quartile2"])
    assert np.isclose(row["char_len_numPeaks"], want["numPeaks"])
    assert row["n_turns"] == len(sub)


def test_dedup_stream_drops_duplicates(spark, tmp_path):
    """Exact ingest dedup: duplicated payloads within the watermark are
    dropped; distinct payloads all survive."""
    import pandas as pd

    from opensmile_spark.streaming import dedup_stream, run_stream_to_memory

    base = pd.Timestamp("2026-01-01")
    rows = []
    for i in range(30):
        rows.append(("c", i, f"text {i % 10}",
                     base + pd.Timedelta(seconds=i)))  # each text x3
    src = str(tmp_path / "dupsrc")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text", "ts"])
    ).write.mode("overwrite").parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    run_stream_to_memory(dedup_stream(stream, watermark="10 minutes"),
                         "dedup_out")
    got = spark.sql("SELECT * FROM dedup_out").toPandas()
    assert len(got) == 10
    assert sorted(got.text.unique()) == sorted(f"text {i}" for i in range(10))


def test_streaming_bpe_encode(spark, tmp_path):
    """bpe_encode_ids is a stateless map (broadcast ranks, Arrow kernel,
    zero shuffle) so it composes with Structured Streaming unchanged:
    ids on the stream == ids on the batch, micro-batching invariant."""
    from opensmile_spark.bpe import bpe_encode_ids, bpe_train
    from opensmile_spark.streaming import run_stream_to_memory

    batch = spark.createDataFrame(
        [(i, "the cat sat on mat %d" % (i % 3)) for i in range(12)],
        "doc_id long, text string")
    model = bpe_train(batch, n_merges=25, min_count=1)

    src = str(tmp_path / "bpe_src")
    batch.repartition(3).write.parquet(src)
    stream = spark.readStream.schema(batch.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    run_stream_to_memory(
        bpe_encode_ids(stream, model).select("doc_id", "bpe_token_ids"),
        "bpe_stream_out")
    got = {r["doc_id"]: list(r["bpe_token_ids"])
           for r in spark.sql("select * from bpe_stream_out").collect()}
    want = {r["doc_id"]: list(r["bpe_token_ids"])
            for r in bpe_encode_ids(batch, model)
            .select("doc_id", "bpe_token_ids").collect()}
    assert got == want


def test_streaming_span_dedup_foreachbatch(spark, tmp_path):
    """ExactSubstr span dedup incrementally (r4 verdict task 7): the
    corpus gram model is frozen history; each micro-batch is cut against
    history ∪ batch via foreachBatch and keeps only its own rows. With
    the stream replaying docs already in history, per-batch outputs must
    equal the one-shot batch run — the documented incremental story for
    the training-data path."""
    from opensmile_spark.spandedup import span_dedup

    rows = []
    dup = "alpha beta gamma delta epsilon zeta eta theta " * 3
    for i in range(12):
        uniq = " ".join(f"tok{i}_{j}" for j in range(10))
        rows.append((i, (dup + uniq) if i % 2 == 0 else uniq))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "span_src")
    docs.repartition(3).write.parquet(src)
    history = spark.read.parquet(src)

    want = {r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"], r["clean_text"])
            for r in span_dedup(history, k=8, min_count=2).collect()}

    got = {}

    def cut(batch_df, _):
        ids = [r["doc_id"] for r in batch_df.select("doc_id").collect()]
        out = span_dedup(
            history.filter(~F.col("doc_id").isin(ids)).unionByName(batch_df),
            k=8, min_count=2).filter(F.col("doc_id").isin(ids))
        for r in out.collect():
            got[r["doc_id"]] = (r["n_dup_spans"], r["dup_tokens"],
                                r["clean_text"])

    stream = spark.readStream.schema(docs.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = stream.writeStream.foreachBatch(cut) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert got == want and len(got) == 12


def test_streaming_nb_score_foreachbatch(spark, tmp_path):
    """NB quality scoring on a stream: the model (token log-odds) is a
    frozen artifact from nb_fit on the labeled seed; scoring is per-doc
    and batch-contained, so foreachBatch scoring must be micro-batching
    invariant and equal the batch run."""
    from opensmile_spark.classify import nb_fit, nb_score

    seed = spark.createDataFrame(
        [(i, "clean proper sentence number %d" % i, 1) for i in range(8)]
        + [(100 + i, "zzz spam spam buy now %d" % i, 0) for i in range(8)],
        "doc_id long, text string, label int")
    weights, params = nb_fit(seed)

    corpus = spark.createDataFrame(
        [(i, "clean proper sentence again %d" % i) for i in range(6)]
        + [(50 + i, "buy now spam zzz %d" % i) for i in range(6)],
        "doc_id long, text string")
    src = str(tmp_path / "nb_src")
    corpus.repartition(3).write.parquet(src)

    want = {r["doc_id"]: (r["nb_score"], r["nb_score_pred"])
            for r in nb_score(spark.read.parquet(src), weights,
                              params).collect()}

    got = {}

    def score(batch_df, _):
        for r in nb_score(batch_df, weights, params).collect():
            got[r["doc_id"]] = (r["nb_score"], r["nb_score_pred"])

    stream = spark.readStream.schema(corpus.schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    q = stream.writeStream.foreachBatch(score) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert set(got) == set(want) and len(got) == 12
    for d in want:
        assert got[d][0] == pytest.approx(want[d][0], rel=1e-12)
        assert got[d][1] == want[d][1]
