"""Structured Streaming: session functionals, stateless LLD, stateful
expanding stats — driven to completion with availableNow over a file
source, with the sessions still open at end of input flushed
(componentManager.cpp:1485-1502)."""

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
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.streaming import run_stream_to_memory, streaming_lld

    s = streaming_lld(_read_stream(spark, stream_dir))
    run_stream_to_memory(s, "lld_out")
    got = spark.sql("SELECT * FROM lld_out").toPandas() \
        .set_index(["conv_id", "turn_idx"]).sort_index()
    want = compute_lld(spark.read.parquet(stream_dir)).toPandas() \
        .set_index(["conv_id", "turn_idx"]).sort_index()
    lld_cols = {"char_len", "token_cnt", "punct_density", "caps_ratio",
                "ttr", "reply_latency", "role_change", "is_tool"}
    assert lld_cols - set(got.columns) == {"reply_latency", "role_change"}
    assert len(got) == len(want)
    for c in got.columns:
        assert got[c].equals(want[c]), c


def _batch_sessions(df, gap):
    """{(conv_id, start, end): n_turns} of a batch session_window."""
    rows = df.groupBy("conv_id", F.session_window("ts", gap)).count() \
        .select("conv_id", "session_window.*", "count").toPandas()
    return {(r.conv_id, r.start, r.end): r.count for r in rows.itertuples()}


def _check_features(got, rows, families, exact=("max", "min", "nnz")):
    """Every char_len_ column of every session equals compute_all on that
    session's rows in (ts, turn_idx) order: `exact` keys bit-equal, the
    rest to rtol 1e-9."""
    from opensmile_spark.functionals.kernels import compute_all

    for row in got.to_dict("records"):
        sub = rows[(rows.conv_id == row["conv_id"])
                   & (rows.ts >= row["session_start"])
                   & (rows.ts < row["session_end"])] \
            .sort_values(["ts", "turn_idx"])
        assert row["n_turns"] == len(sub)
        want = compute_all(sub.char_len.to_numpy(dtype=np.float64), families)
        for k in (c[9:] for c in got.columns if c.startswith("char_len_")):
            g, w = row[f"char_len_{k}"], want[k]
            if k in exact:
                assert g == w, (row["conv_id"], k, g, w)
            else:
                assert np.isclose(g, w, rtol=1e-9, atol=0.0, equal_nan=True), (
                    row["conv_id"], k, g, w)


def test_streaming_session_functionals(spark, stream_dir):
    """The single-pass session columns as a select on
    closed_session_functionals: with the end-of-input flush every turn is
    in a session (200/200), the sessions are a batch session_window's,
    and every feature equals compute_all on the session's rows."""
    from opensmile_spark.streaming import (
        closed_session_functionals, run_stream_to_memory, streaming_lld,
    )

    stream, flush = closed_session_functionals(
        streaming_lld(_read_stream(spark, stream_dir)),
        gap="10 minutes", watermark="0 seconds",
        families=["means", "moments", "extremes"])
    run_stream_to_memory(stream, "sess_out", flush=flush)
    feats = ["amean", "absmean", "qmean", "rqmean", "variance", "max",
             "min", "nnz"]
    cols = (["conv_id", "session_start", "session_end", "n_turns"]
            + [f"char_len_{k}" for k in feats])
    got = spark.table("sess_out").select(*cols).toPandas()
    assert got.n_turns.sum() == 200
    batch = streaming_lld(spark.read.parquet(stream_dir))
    assert {(r.conv_id, r.session_start, r.session_end): r.n_turns
            for r in got.itertuples()} == _batch_sessions(batch, "10 minutes")
    _check_features(got, batch.toPandas(), ["means", "moments", "extremes"])


def test_stateful_expanding_stats(spark, stream_dir):
    from opensmile_spark.streaming import (
        run_stream_to_memory, stateful_expanding_stats, streaming_lld,
    )

    s = stateful_expanding_stats(streaming_lld(_read_stream(spark, stream_dir)))
    run_stream_to_memory(s, "state_out")
    got = spark.sql("SELECT * FROM state_out").toPandas()
    assert len(got) == 200
    one = got[got.conv_id == got.conv_id.iloc[0]].sort_values("turn_idx")
    xs = one.char_len.to_numpy()
    # expanding mean equals numpy cumulative mean
    cum_mean = np.cumsum(xs) / np.arange(1, len(xs) + 1)
    assert np.allclose(one.run_mean.to_numpy(), cum_mean)
    # expanding population std at the last row
    assert np.isclose(one.run_std.iloc[-1], np.std(xs))


def test_stateful_expanding_stats_keeps_key_types(spark, tmp_path):
    """A bigint conv_id and turn_idx come out as bigint, with the same
    running stats as a numpy cumulative mean/std per conversation."""
    import pandas as pd

    from opensmile_spark.streaming import (
        run_stream_to_memory, stateful_expanding_stats,
    )

    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({
        "conv_id": np.repeat(np.array([7, 1 << 40], np.int64), 5),
        "turn_idx": np.tile(np.arange(5, dtype=np.int64), 2),
        "char_len": rng.randint(1, 90, 10).astype(np.float64),
    })
    pdf.to_parquet(str(tmp_path / "part-0.parquet"), index=False)
    s = stateful_expanding_stats(
        spark.readStream.schema("conv_id bigint, turn_idx bigint, "
                                "char_len double").parquet(str(tmp_path)))
    run_stream_to_memory(s, "state_bigint")
    out = spark.table("state_bigint")
    assert dict(out.dtypes)["conv_id"] == "bigint"
    assert dict(out.dtypes)["turn_idx"] == "bigint"
    got = out.toPandas().sort_values(["conv_id", "turn_idx"])
    assert sorted(set(got.conv_id)) == [7, 1 << 40]
    for _, g in got.groupby("conv_id"):
        xs = g.char_len.to_numpy()
        k = np.arange(1, len(xs) + 1)
        assert list(g.turn_idx) == list(range(5))
        assert np.allclose(g.run_mean, np.cumsum(xs) / k)
        assert np.allclose(g.run_std, [np.std(xs[:i]) for i in k])


def test_closed_session_kernel_functionals(spark, stream_dir):
    """Order statistics and peaks2 over every session, read through
    run_stream_to_memory with its flush: each value equals compute_all on
    the session's rows."""
    from opensmile_spark.streaming import (
        closed_session_functionals, run_stream_to_memory, streaming_lld,
    )

    families = ["means", "percentiles", "peaks2"]
    stream, flush = closed_session_functionals(
        streaming_lld(_read_stream(spark, stream_dir)),
        gap="10 minutes", watermark="0 seconds", families=families)
    run_stream_to_memory(stream, "closed_out", flush=flush)
    got = spark.table("closed_out").toPandas()
    assert len(got) > 10 and got.n_turns.sum() == 200
    assert {"char_len_quartile2", "char_len_numPeaks"} <= set(got.columns)
    _check_features(got, streaming_lld(spark.read.parquet(stream_dir))
                    .toPandas(), families)


def test_late_and_out_of_order_rows_across_micro_batches(spark, tmp_path):
    """One file per trigger, gap 10 min, watermark 5 min. File 2 carries a
    row out of order but within the watermark (a at 90 s; a's turn_idx
    do not follow ts, and ts orders the rows), a turn exactly `gap` after
    the previous one (d: same session, as session_window merges touching
    windows) and a session ending exactly at the final watermark (e:
    closed by its timeout, no later data for e); file 4 a row older than
    the previous batch's watermark (a at 100 s), which Spark drops.
    Without the flush the output is what a streaming session_window
    emitted: the five sessions the watermark closed. With it, the three
    still open at end of input follow (c's only session among them): the
    sessions of a batch session_window over the rows that were not
    late."""
    import pandas as pd

    from opensmile_spark.streaming import (
        closed_session_functionals, run_stream_to_memory,
    )

    t0 = pd.Timestamp("2026-01-01")
    files = [
        [("a", 0, 0), ("a", 3, 60), ("a", 1, 120), ("b", 0, 0), ("b", 1, 100)],
        [("a", 4, 1000), ("a", 5, 1100), ("a", 2, 90), ("b", 2, 2100),
         ("d", 0, 0), ("d", 1, 600), ("e", 0, 1600)],
        [("a", 7, 2500), ("c", 0, 2400), ("c", 2, 2450)],
        [("a", 6, 100), ("c", 1, 2430)],
    ]
    src = tmp_path / "late_src"
    src.mkdir()
    rng = np.random.RandomState(7)
    for i, rows in enumerate(files):
        f = str(src / f"part-{i}.parquet")
        pd.DataFrame({
            "conv_id": [r[0] for r in rows],
            "turn_idx": np.array([r[1] for r in rows], np.int32),
            "ts": [t0.tz_localize("UTC") + pd.Timedelta(seconds=r[2])
                   for r in rows],
            "char_len": rng.randint(0, 50, len(rows)).astype(np.float64),
        }).to_parquet(f, index=False, coerce_timestamps="us")
        os.utime(f, (1_700_000_000 + 10 * i,) * 2)   # trigger order
    batch = spark.read.parquet(str(src))
    families = ["means", "moments", "extremes", "percentiles", "peaks2"]
    stream, flush = closed_session_functionals(
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(str(src)),
        gap="10 minutes", watermark="5 minutes", families=families)

    def sessions(name):
        return {(r.conv_id, (r.session_start - t0).total_seconds(),
                 (r.session_end - t0).total_seconds()): r.n_turns
                for r in spark.table(name).toPandas().itertuples()}

    run_stream_to_memory(stream, "late_closed")
    closed = {("a", 0, 720): 4, ("a", 1000, 1700): 2, ("b", 0, 700): 2,
              ("d", 0, 1200): 2, ("e", 1600, 2200): 1}
    assert sessions("late_closed") == closed
    run_stream_to_memory(stream, "late_all", flush=flush)
    kept = batch.filter(~((F.col("conv_id") == "a")
                          & (F.col("turn_idx") == 6)))
    assert sessions("late_all") == {
        **closed, ("a", 2500, 3100): 1, ("b", 2100, 2700): 1,
        ("c", 2400, 3050): 3}
    want = {(c, (s - t0).total_seconds(), (e - t0).total_seconds()): n
            for (c, s, e), n in _batch_sessions(kept, "10 minutes").items()}
    assert sessions("late_all") == want
    _check_features(spark.table("late_all").toPandas(), kept.toPandas(),
                    families)


def test_flush_after_empty_input(spark, tmp_path):
    """No micro-batch ran, so there is no state to flush: the table is
    empty, not an error."""
    from opensmile_spark.streaming import (
        closed_session_functionals, run_stream_to_memory,
    )

    stream, flush = closed_session_functionals(
        spark.readStream.schema("conv_id string, turn_idx int, ts timestamp,"
                                " char_len double").parquet(str(tmp_path)),
        families=["means"])
    run_stream_to_memory(stream, "empty_out", flush=flush)
    assert spark.table("empty_out").count() == 0


def test_stateful_expanding_stats_matches_backfill_bits(spark, tmp_path):
    """Each conversation spans 3 one-file micro-batches, one of them 700
    turns long (two _CHAN_B block edges): every turn's run_mean/run_std
    are tobytes()-equal to the moments family's char_len_amean/_stddev
    from backfill_functionals with an anchor at that turn's ts, and n is
    the turn count so far."""
    import pandas as pd

    from opensmile_spark.operators.asof import backfill_functionals
    from opensmile_spark.streaming import (
        run_stream_to_memory, stateful_expanding_stats,
    )

    rng = np.random.default_rng(16)
    lens = {"a": 700, "b": 40, "c": 9, "d": 3}
    pdf = pd.DataFrame({
        "conv_id": np.repeat(list(lens), list(lens.values())),
        "turn_idx": np.concatenate([np.arange(n) for n in lens.values()]),
    })
    pdf["ts"] = pd.Timestamp("2024-01-01", tz="UTC") + pd.to_timedelta(
        pdf.turn_idx * 7 + pdf.conv_id.map(ord), unit="s")
    pdf["char_len"] = rng.lognormal(4.0, 1.5, len(pdf))
    third = pdf.turn_idx * 3 // pdf.conv_id.map(lens)
    src = tmp_path / "src"
    src.mkdir()
    for k in range(3):
        f = src / f"part-{k}.parquet"
        pdf[third == k].to_parquet(str(f), index=False,
                                   coerce_timestamps="us")
        os.utime(f, (1_700_000_000 + k, 1_700_000_000 + k))
    schema = ("conv_id string, turn_idx long, ts timestamp, "
              "char_len double")
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    q = run_stream_to_memory(stateful_expanding_stats(stream), "state_bits")
    assert len(q.recentProgress) >= 3
    got = spark.table("state_bits").toPandas() \
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)

    lld = spark.read.schema(schema).parquet(str(src))
    want = backfill_functionals(
        lld, lld.selectExpr("conv_id", "ts AS anchor_ts"), ["char_len"],
        families=["moments"]).toPandas() \
        .sort_values(["conv_id", "anchor_ts"], ignore_index=True)
    assert len(got) == len(want) == len(pdf)
    assert (got.conv_id == want.conv_id).all()
    assert got.run_mean.to_numpy().tobytes() == \
        want.char_len_amean.to_numpy().tobytes()
    assert got.run_std.to_numpy().tobytes() == \
        want.char_len_stddev.to_numpy().tobytes()
    assert (got.n == got.turn_idx + 1).all()
    assert (got.n == want.n_visible).all()
    assert got.groupby("conv_id").n.max().to_dict() == lens


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


def test_streaming_sessions_gate_oracle_splits_like_engine(spark, tmp_path):
    """The streaming_sessions gate's DuckDB oracle applies the engine's
    session rule: a turn exactly 433 s after the previous one stays in the
    session, 432 s stays, 434 s splits."""
    import importlib.util

    import duckdb
    import pandas as pd

    from tools.check_correctness import compare

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(repo, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # the driver's events schema; user 1: one gap of exactly 433 s,
    # user 2: gaps of 432 s and 434 s
    t0 = pd.Timestamp("2024-01-01 00:09:58.778549")
    offsets = {1: [0, 433], 2: [0, 432, 866]}
    ev = pd.DataFrame(
        [(u, t0 + pd.Timedelta(seconds=s)) for u, offs in offsets.items()
         for s in offs], columns=["user_id", "ts"])
    ev.insert(0, "event_id", range(len(ev)))
    ev["event_type"] = "click"
    ev["value"] = 1.5
    ev["props"] = ev["event_id"].map(lambda i: f'{{"k": {i}}}')
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev.to_parquet(tmp_path / "events.parquet", index=False)

    got = mod.queries()["streaming_sessions"](spark, str(tmp_path)) \
        .toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'events.parquet'}')")
    want = con.execute(mod.oracle_sql()["streaming_sessions"]).df()

    assert sorted(zip(got["conv_id"], got["n_turns"])) == \
        [("u1", 2), ("u2", 1), ("u2", 2)]
    assert compare("streaming_sessions", got, want) == []
