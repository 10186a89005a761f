"""Config-driven runner + overlap-add resynthesis."""

import numpy as np
import pytest

from tests.conftest import make_conv


def test_run_config_matches_manual_pipeline(spark):
    from opensmile_spark.config import run_config
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import sessionize, sma
    from opensmile_spark.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = {"stages": [
        {"type": "lld"},
        {"type": "sma", "cols": ["char_len"], "win": 3},
        {"type": "sessionize", "gap_seconds": 43200.0},
        {"type": "functionals", "value_cols": ["char_len_sma3"],
         "families": ["means", "moments"],
         "group_cols": ["conv_id", "session_id"]},
    ]}
    got = run_config(t, cfg).toPandas() \
        .set_index(["conv_id", "session_id"]).sort_index()

    manual = functionals_kernel(
        sessionize(sma(compute_lld(t), ["char_len"], 3), gap_seconds=43200.0),
        ["char_len_sma3"], ("conv_id", "session_id"),
        families=["means", "moments"],
    ).toPandas().set_index(["conv_id", "session_id"]).sort_index()
    assert got.equals(manual)


def test_run_config_resample_stage(spark):
    from opensmile_spark.config import run_config
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import resample
    from opensmile_spark.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, "/root/testdata/sf0.001")
    cfg = {"stages": [
        {"type": "lld"},
        {"type": "resample", "period_seconds": 86400.0,
         "policy": "linear", "value_cols": ["char_len"]},
    ]}
    got = run_config(t, cfg).toPandas() \
        .sort_values(["conv_id", "ts"]).reset_index(drop=True)
    manual = resample(compute_lld(t), 86400.0, policy="linear",
                      value_cols=["char_len"]).toPandas() \
        .sort_values(["conv_id", "ts"]).reset_index(drop=True)
    assert got[["conv_id", "ts", "n_seen", "char_len"]].equals(
        manual[["conv_id", "ts", "n_seen", "char_len"]])


def test_run_config_unknown_stage(spark):
    from opensmile_spark.config import run_config

    with pytest.raises(ValueError, match="unknown stage"):
        run_config(make_conv(spark, "c", [1.0]),
                   {"stages": [{"type": "frobnicate"}]})


def test_overlap_add_reconstructs_frames(spark):
    from opensmile_spark.operators.vec_to_win import overlap_add

    # frames of length 3, hop 2, over series [1,2,3,4,5]:
    # f0@0=[1,2,3], f1@2=[3,4,5] -> position 2 receives 3 twice
    rows = [("c", 0, [1.0, 2.0, 3.0]), ("c", 2, [3.0, 4.0, 5.0])]
    df = spark.createDataFrame(
        rows, "conv_id string, frame_start int, frame array<double>")
    out = overlap_add(df, "frame", "frame_start", step=2)
    got = {r["pos"]: r["value"] for r in out.collect()}
    assert got == {0: 1.0, 1: 2.0, 2: 3.0, 3: 4.0, 4: 5.0}

    # un-normalised: overlapping position sums
    raw = overlap_add(df, "frame", "frame_start", step=2, normalize=False)
    got = {r["pos"]: r["value"] for r in raw.collect()}
    assert got[2] == 6.0 and got[0] == 1.0


def test_config_new_stage_types(spark):
    from opensmile_spark.config import run_config
    from opensmile_spark.operators import mvn_fit
    from tests.conftest import make_conv

    df = make_conv(spark, "a", [3.0, 1.0, 4.0, 1.0, 5.0, 9.0]) \
        .withColumnRenamed("x", "char_len")
    stats = mvn_fit(df, ["char_len"])
    out = run_config(df, {"stages": [
        {"type": "weighted_sma", "cols": ["char_len"], "length": 3,
         "func": "hanning"},
        {"type": "contour_direction", "col": "char_len", "st_frames": 2,
         "lt_frames": 3},
        {"type": "mvn_transform", "stats": stats, "cols": ["char_len"]},
        {"type": "segment_by_meta", "meta_col": "char_len_direction"},
    ]})
    cols = out.columns
    assert "char_len_whan3" in cols and "char_len_direction" in cols
    assert "char_len_mvn" in cols and "meta_seg" in cols
    assert out.count() == 6


def test_config_corpus_stages(spark):
    """The declarative runner drives a corpus build end-to-end: quality ->
    exact dedup -> sample -> shuffle -> pack, equivalent to calling the
    operators directly."""

    from opensmile_spark.config import run_config

    docs = spark.createDataFrame(
        [(i, "src" + str(i % 2),
          ("the quick brown fox jumps over the lazy dog and it is here "
           * (1 + i % 3)))
         for i in range(20)] + [(100, "src0", "dup text"),
                                (101, "src0", "dup text")],
        "doc_id long, source string, text string")
    out = run_config(docs, {"stages": [
        {"type": "token_count"},
        {"type": "quality_score"},
        {"type": "filter", "condition": "quality >= 0.3"},
        {"type": "dedup_exact"},
        {"type": "hash_sample", "rate": 1.0, "key_col": "doc_id"},
        {"type": "shuffle", "n_shards": 4, "seed": 2},
        {"type": "pack", "mode": "greedy", "budget": 64,
         "group_cols": ["shard"]},
    ]})
    rows = out.collect()
    assert len(rows) > 0
    ids = {r["doc_id"] for r in rows}
    assert not ({100, 101} <= ids)  # dup pair collapsed to one survivor
    assert all(r["pack_tokens"] <= 64 or r["pack_pos"] == 0 for r in rows)


def test_config_incremental_and_semdedup_stages(spark):
    """Round-4 stages: incremental_dedup consumes a store DataFrame from
    the stage dict; semdedup keep-filters on the decision table."""
    import numpy as np

    from opensmile_spark.config import run_config
    from opensmile_spark.incremental import build_fingerprint_store

    hist = spark.createDataFrame(
        [(0, "seen before"), (1, "also seen")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "seen before"), (11, "fresh one"), (12, "fresh one"),
         (13, "another fresh")],
        "doc_id long, text string")
    out = run_config(new, {"stages": [
        {"type": "incremental_dedup",
         "store": build_fingerprint_store(hist)},
    ]})
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]

    rng = np.random.RandomState(0)
    base = rng.randn(3, 8)
    rows = [(i * 10 + j, [float(x) for x in b + rng.randn(8) * 1e-3])
            for i, b in enumerate(base) for j in range(2)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = run_config(emb, {"stages": [
        {"type": "semdedup", "threshold": 0.9, "n_clusters": 2,
         "n_iter": 2, "sample_per_centroid": 3},
    ]})
    assert out.count() == 3          # one survivor per planted pair
    assert set(out.columns) == {"vec_id", "embedding"}


def test_config_tokenize_pack_stages(spark):
    """Round-4 last-mile stages: line_dedup boilerplate cut ->
    in-stage BPE training + id encoding -> packed id sequences."""

    from opensmile_spark.config import run_config

    docs = spark.createDataFrame(
        [(i, "s", "MENU\nthe cat sat on mat number %d\nCopyright" % i)
         for i in range(6)],
        "doc_id long, source string, text string")
    out = run_config(docs, {"stages": [
        {"type": "line_dedup"},
        {"type": "select", "cols": ["doc_id", "clean_text"]},
        {"type": "bpe_encode", "n_merges": 20, "min_count": 1,
         "text_col": "clean_text"},
        {"type": "filter", "condition": "n_bpe_token_ids > 0"},
        {"type": "pack_sequences", "budget": 16,
         "ids_col": "bpe_token_ids", "pad_id": 0},
    ]})
    rows = sorted(out.collect(), key=lambda r: r["pack_id"])
    assert rows, "pipeline produced no packs"
    assert all(len(r["input_ids"]) == 16 for r in rows)  # padded
    assert all(r["n_ids"] == 16 for r in rows[:-1])      # budget-exact
    # boilerplate lines are gone before tokenization: no pack may
    # reconstruct 'MENU' (id stream comes from clean bodies only)
    total_ids = sum(r["n_ids"] for r in rows)
    assert total_ids > 0
