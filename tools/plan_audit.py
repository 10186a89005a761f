"""Physical-plan audit — verify the plans are the ones we want.

Checks (SURVEY.md §4 / BENCH.md plan-level claims):
  1. LLD -> sma -> delta -> sessionize reuses ONE exchange on conv_id
     (window specs share partitioning).
  2. Column pruning reaches the parquet scan (ReadSchema shows only the
     needed columns) and filters push down (PushedFilters).
  3. functionals_sql has no Python and is one pass: one Scan, one
     Exchange, one partial+final HashAggregate pair, no
     ObjectHashAggregate, SortAggregate, join or BroadcastExchange, and
     `percentile(` only inside a Window node.
  4. asof_join is one exchange + one sort + window — no join node at all.
  5. MVN full-mode stats join is a broadcast join (no shuffled join).
  6. pre_partitioned kernel has NO exchange.
  7. backfill_functionals and viterbi_smooth_df are one MapInArrow each
     (backfill: over one exchange), with no pandas boundary.
  8. closed_session_functionals and stateful_expanding_stats on a
     streaming frame are each one FlatMapGroupsInPandasWithState over one
     Exchange, with no aggregate (session_window) and no
     MapInPandas/MapInArrow.

Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.stages import explain  # noqa: E402


def count(pattern, plan):
    return len(re.findall(pattern, plan))


def n_op(name, plan):
    """Count operator nodes in 'formatted' explain output: '(k) Name'."""
    return len(re.findall(rf"\(\d+\) {name}", plan))


def main():
    """Run every check with its written tables under one private
    temporary directory, removed at exit."""
    scratch = tempfile.mkdtemp(prefix="plan_audit_")
    try:
        return audit(scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def audit(scratch):
    from pyspark.sql import functions as F

    from opensmile_spark import get_spark
    from opensmile_spark.functionals import functionals_kernel, functionals_sql
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import (
        asof_join, delta_regression, mvn, sessionize, sma,
    )
    from opensmile_spark.transcripts import transcripts_from_events

    spark = get_spark("plan_audit", master="local[4]", shuffle_partitions=4)
    sf = "/root/testdata/sf0.001"
    ok = True

    def check(name, cond, detail=""):
        nonlocal ok
        print(f"{'PASS' if cond else 'FAIL'} {name} {detail}")
        ok = ok and cond

    t = transcripts_from_events(spark, sf)
    lld = compute_lld(t)
    chain = sessionize(
        delta_regression(sma(lld, ["char_len"], 3), ["char_len"], 2),
        gap_seconds=300.0)
    p = explain(chain)
    # turn_idx derivation partitions by the DERIVED conv_id, so the entire
    # scan -> turn_idx -> LLD -> sma -> delta -> sessionize chain shares ONE
    # hash exchange (round 3; was 2 when turn_idx partitioned by user_id)
    n_ex = n_op("Exchange", p)
    check("window-chain single exchange", n_ex == 1,
          f"(exchanges={n_ex}; one conv_id exchange shared by turn_idx "
          f"derivation and ALL downstream window ops)")

    proj = lld.select("conv_id", "char_len")
    p = explain(proj)
    m = re.search(r"ReadSchema: ([^\n]+)", p)
    read = m.group(1) if m else ""
    check("column pruning to scan",
          "props" in read and "value" not in read,
          f"(scan reads {read[:90]}...)")

    filt = t.filter(F.col("role") == "tool")
    p = explain(filt)
    check("filter present post-window",
          "Filter" in p, "(role filter cannot push below row_number - "
          "correctly placed above the window)")

    ev = spark.read.parquet(f"{sf}/events.parquet").filter(
        F.col("event_type") == "purchase").select("event_id")
    p = explain(ev)
    check("predicate pushdown to parquet",
          "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"
          in p or "EqualTo(event_type,purchase)" in p)

    fs = functionals_sql(lld, ["char_len"])
    p = explain(fs)
    check("functionals_sql no Python",
          "Python" not in p and "FlatMap" not in p)
    # one pass: the percentiles are a whole-group window over the rows the
    # row_number window already sorted, feeding the ONE whole-stage-compiled
    # HashAggregate pair — a second aggregate, a join back on the key or a
    # percentile rendered as an aggregate changes these counts
    n_hash, n_obj = n_op("HashAggregate", p), n_op("ObjectHashAggregate", p)
    n_sort, n_scan = n_op("SortAggregate", p), n_op("Scan parquet", p)
    n_ex, n_join = n_op("Exchange", p), n_op(r"\w*Join", p)
    n_bx = n_op("BroadcastExchange", p)
    pct_nodes = {node for node, body in re.findall(
        r"\n\(\d+\) (\w+)[^\n]*\n(.*?)(?=\n\(\d+\) |\Z)", p, re.S)
        if "percentile(" in body}
    check("functionals_sql one pass",
          (n_scan, n_ex, n_hash, n_obj, n_sort, n_join, n_bx)
          == (1, 1, 2, 0, 0, 0, 0) and pct_nodes == {"Window"},
          f"(scans={n_scan}, exchanges={n_ex}, HashAggregate={n_hash}, "
          f"ObjectHashAggregate={n_obj}, SortAggregate={n_sort}, "
          f"joins={n_join}, BroadcastExchange={n_bx}, "
          f"percentile in {sorted(pct_nodes)})")

    anchors = lld.select("conv_id", F.col("ts").alias("anchor_ts"))
    aj = asof_join(anchors, lld.select("conv_id", "ts", "char_len"),
                   value_cols=["char_len"])
    p = explain(aj)
    check("asof_join has no join node",
          n_op(r"\w*Join", p) == 0 and n_op("Union", p) == 1
          and n_op("Exchange", p) == 1,
          f"(window-based merge; exchanges={n_op('Exchange', p)})")

    mv = mvn(lld, ["char_len"], mode="full")
    p = explain(mv)
    check("mvn stats join is broadcast",
          "BroadcastHashJoin" in p and "SortMergeJoin" not in p)

    sorted_df = lld.repartition(4, "conv_id") \
        .sortWithinPartitions("conv_id", "turn_idx")
    # write+read to make layout physical
    sorted_df.write.mode("overwrite").parquet(f"{scratch}/sorted")
    laid = spark.read.parquet(f"{scratch}/sorted")
    fk = functionals_kernel(laid, ["char_len"], ("conv_id",),
                            families=["means"], pre_partitioned=True)
    p = explain(fk)
    check("pre_partitioned kernel zero-exchange",
          n_op("Exchange", p) == 0)

    fk2 = functionals_kernel(laid, ["char_len"], ("conv_id",),
                             families=["means"])
    p = explain(fk2)
    check("standard kernel exactly one exchange",
          n_op("Exchange", p) == 1)

    # per-group kernels: one shuffle, then ONE Arrow pass over blocks of
    # whole groups (groupbatch.group_blocks) — no pandas boundary
    from opensmile_spark.operators import (backfill_functionals,
                                           viterbi_smooth_df)

    bf = backfill_functionals(
        laid, laid.select("conv_id", F.col("ts").alias("anchor_ts")),
        ["char_len"], families=["means"])
    p = explain(bf)
    check("backfill_functionals one exchange, one MapInArrow, no pandas",
          n_op("Exchange", p) == 1 and n_op("MapInArrow", p) == 1
          and n_op("MapInPandas", p) == 0,
          f"(exchanges={n_op('Exchange', p)}, "
          f"arrow={n_op('MapInArrow', p)}, "
          f"pandas={n_op('MapInPandas', p)})")

    # decomposable per-key stats on skewed keys: Spark's own partial and
    # final HashAggregate over one shuffle; a salt column, a second
    # groupBy or a cross-bucket window changes these counts
    from opensmile_spark.operators import salted_partial_stats

    p = explain(salted_partial_stats(laid, ["char_len"]))
    check("salted_partial_stats one exchange, no Window, "
          "no ObjectHashAggregate",
          n_op("Exchange", p) == 1 and n_op("Window", p) == 0
          and n_op("ObjectHashAggregate", p) == 0
          and n_op("HashAggregate", p) == 2,
          f"(exchanges={n_op('Exchange', p)}, "
          f"windows={n_op('Window', p)}, "
          f"ObjectHashAggregate={n_op('ObjectHashAggregate', p)}, "
          f"HashAggregate={n_op('HashAggregate', p)})")

    p = explain(viterbi_smooth_df(laid, "char_len"))
    check("viterbi_smooth_df one MapInArrow",
          n_op("MapInArrow", p) == 1 and n_op("MapInPandas", p) == 0,
          f"(arrow={n_op('MapInArrow', p)}, "
          f"pandas={n_op('MapInPandas', p)})")

    # both stateful operators on a STREAMING frame: one stateful
    # applyInPandasWithState processor per conv_id over one exchange — no
    # aggregate (session_window, running sums), no batch-side Arrow/pandas
    # map
    from opensmile_spark.streaming import (
        closed_session_functionals, stateful_expanding_stats,
    )

    rate = spark.readStream.format("rate").load().select(
        (F.col("value") % 3).cast("string").alias("conv_id"),
        F.col("value").cast("int").alias("turn_idx"),
        F.col("timestamp").alias("ts"),
        F.col("value").cast("double").alias("char_len"))
    for name, stream in (
            ("closed_session_functionals",
             closed_session_functionals(rate)[0]),
            ("stateful_expanding_stats", stateful_expanding_stats(rate))):
        p = explain(stream)
        n_agg = count(r"\(\d+\) \w*Aggregate", p)
        maps = n_op("MapInPandas", p) + n_op("MapInArrow", p)
        check(f"{name} one stateful processor, one exchange",
              n_op("FlatMapGroupsInPandasWithState", p) == 1
              and n_op("Exchange", p) == 1 and n_agg == 0 and maps == 0,
              f"(stateful={n_op('FlatMapGroupsInPandasWithState', p)}, "
              f"exchanges={n_op('Exchange', p)}, aggregates={n_agg}, "
              f"maps={maps})")

    # round-2 additions -----------------------------------------------------
    from opensmile_spark.dedup import embedding_near_dups
    from opensmile_spark.operators import weighted_sma
    from opensmile_spark.similarity import lsh_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lt = lsh_topk(emb, emb.filter(F.col("vec_id") < 3), dim=64, k=5,
                  bits=4, tables=8)
    p = explain(lt)
    check("lsh_topk single index scan (no per-table union)",
          n_op("Union", p) == 0 and n_op("Scan parquet", p) <= 2,
          f"(scans={n_op('Scan parquet', p)})")

    nd = embedding_near_dups(emb, threshold=0.9, method="lsh", dim=64)
    p = explain(nd)
    check("embedding_near_dups production path has no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoop" not in p)

    ws = weighted_sma(lld, ["char_len"], 5, "hamming")
    p = explain(ws)
    check("weighted_sma is one window over the shared conv exchange",
          n_op("Window", p) >= 1 and "pythonUDF" not in p
          and "ArrowEval" not in p)

    # round-3 additions -----------------------------------------------------
    from opensmile_spark.similarity import ivf_build, ivf_probe

    fk_flag = functionals_kernel(
        chain, ["char_len_sma3"], ("conv_id", "session_id"),
        families=["means"], repartition_cols=("conv_id",))
    p = explain(fk_flag)
    check("flagship pipeline ONE total exchange",
          n_op("Exchange", p) == 1,
          f"(exchanges={n_op('Exchange', p)}; scan -> turn_idx -> LLD -> "
          f"sma -> sessionize -> session functionals share the conv_id "
          f"shuffle via prefix-key repartitioning)")

    ivf_build(emb, f"{scratch}/ivf", n_centroids=8, fit_fraction=0.5)
    pr = ivf_probe(spark, f"{scratch}/ivf",
                   emb.filter(F.col("vec_id") < 3), k=5, n_probe=2)
    p = explain(pr)

    def scan_metrics(df):
        """Executed-plan leaf (FileScan) SQLMetrics — the physical truth of
        how many partition dirs/files the pruned scan actually read."""
        df.collect()
        leaf = df._jdf.queryExecution().executedPlan().collectLeaves().head()
        out, it = {}, leaf.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = kv._2().value()
        return out

    two = scan_metrics(spark.read.parquet(f"{scratch}/ivf/index")
                       .filter(F.col("__cell").isin([0, 1])))
    check("ivf_probe partition-pruned scan",
          "PartitionFilters: [" in p and "__cell" in p
          and two.get("numPartitions", 99) == 2
          and two.get("numFiles", 99) <= 2,
          f"(scan of 2/8 cells physically read numPartitions="
          f"{two.get('numPartitions')}, numFiles={two.get('numFiles')}; "
          f"PartitionFilters on __cell in plan)")

    # repetition_metrics claims: one linear JVM fold per doc — NO exchange,
    # NO Python eval, no explode/groupBy per gram occurrence
    from opensmile_spark.text import repetition_metrics

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    p = explain(repetition_metrics(docs, dup_k=2).select(
        "doc_id", "top_2gram_frac", "top_3gram_frac", "dup_2gram_ratio"))
    check("repetition_metrics zero-shuffle zero-Python",
          n_op("Exchange", p) == 0
          and count(r"(?i)python|ArrowEval|BatchEval", p) == 0
          and n_op("Generate", p) == 0
          and n_op("HashAggregate", p) == 0,
          f"(exchanges={n_op('Exchange', p)}, generate/agg nodes="
          f"{n_op('Generate', p)}/{n_op('HashAggregate', p)}; pure "
          f"project over the scan)")

    # sequence-assembly claims (packing.py): chunking is a narrow explode
    # with NO exchange and NO Python; concat packing is ONE exchange (the
    # per-group cumsum window) + a bounded span explode, still zero Python;
    # deterministic_shuffle is ONE exchange (the shard key) and pure JVM.
    from opensmile_spark.packing import (chunk_documents, deterministic_shuffle,
                                         pack_concat)
    from opensmile_spark.text import token_count

    p = explain(chunk_documents(docs, max_tokens=32, overlap=8))
    check("chunk_documents narrow zero-shuffle zero-Python",
          n_op("Exchange", p) == 0
          and count(r"(?i)python|ArrowEval|BatchEval", p) == 0,
          f"(exchanges={n_op('Exchange', p)}; explode pipelines with scan)")

    p = explain(pack_concat(token_count(docs), 256, group_cols=["source"]))
    check("pack_concat one exchange zero-Python",
          n_op("Exchange", p) == 1
          and count(r"(?i)python|ArrowEval|BatchEval", p) == 0
          and n_op("Window", p) == 1,
          f"(exchanges={n_op('Exchange', p)}, windows={n_op('Window', p)}; "
          f"group cumsum + bounded span explode)")

    p = explain(deterministic_shuffle(docs, n_shards=64, seed=1))
    check("deterministic_shuffle one exchange zero-Python",
          n_op("Exchange", p) == 1
          and count(r"(?i)python|ArrowEval|BatchEval", p) == 0,
          f"(exchanges={n_op('Exchange', p)}; md5 shard + in-shard "
          f"row_number only)")

    # corpus_pipeline claims: all joins broadcast (never a corpus
    # sort-merge), zero Python, and full corpus rows cross exactly two of
    # the shuffle exchanges (dedup window + shard window; the remaining
    # exchanges carry derived small streams: benchmark shingles,
    # map-side-combined contamination counts)
    from opensmile_spark.pipeline import corpus_pipeline

    p = explain(corpus_pipeline(
        docs, docs.filter(F.col("doc_id") % 10 == 0),
        min_quality=0.5, k_shingle=5, min_overlap=2, n_shards=4))
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", p)
    check("corpus_pipeline broadcast-only joins zero-Python",
          all(j.startswith("Broadcast") for j in joins)
          and count(r"CartesianProduct|SortMergeJoin", p) == 0
          and count(r"(?i)python|ArrowEval|BatchEval", p) == 0
          and n_op("Exchange", p) <= 5,
          f"(joins={joins}, shuffle exchanges={n_op('Exchange', p)} — "
          f"2 carry full corpus rows, rest are derived count streams)")

    # resample (round 4): grid + data resolve through a union and two
    # ordered window passes — NO join node ever forms, and the only
    # full-row shuffle is the per-key window exchange (the grid bounds
    # aggregate is a tiny separate stream).
    from opensmile_spark.operators import resample

    p = explain(resample(
        lld.select("conv_id", "turn_idx", "ts", "char_len"),
        86400.0, value_cols=["char_len"]))
    check("resample no join node, zero Python",
          count(r"\) \w*Join", p) == 0
          and count(r"(?i)pythonudf|ArrowEval|BatchEval", p) == 0,
          f"(union + window merge; exchanges={n_op('Exchange', p)}: "
          f"one per-key window shuffle + the tiny bounds aggregate)")

    # IVF-PQ query path (round 4): ADC scoring between the cell-key join
    # and the top-k window is a pure JVM expression — the only Python in
    # the whole plan is the two Arrow encode passes (index codes + query
    # tables), never in the per-candidate scoring path.
    from opensmile_spark.similarity import ivfpq_topk

    p = explain(ivfpq_topk(emb, emb.filter(F.col("vec_id") < 3), k=5,
                            n_centroids=4, n_probe=2, m=8, n_codes=8))
    n_py = (n_op("ArrowEvalPython", p) + n_op("MapInPandas", p)
            + n_op("FlatMapGroupsInPandas", p))
    check("ivfpq JVM-only ADC scoring (Python = 2 encode passes only)",
          n_py == 2 and count(r"CartesianProduct", p) == 0,
          f"(python nodes={n_py}; candidates via cell-key join, "
          f"score = m array lookups in codegen)")

    # line_dedup (round 4): exactly the 3 designed linear shuffles
    # (line-freq distinct-agg, join-back key, per-doc rebuild) — Spark's
    # exact count_distinct rewrite may add one expand-side exchange, so
    # assert <= 4 and, harder, NO Python and NO cartesian anywhere: the
    # cut is a JVM filter/transform lambda over the collected line list.
    from opensmile_spark.linededup import line_dedup

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    p = explain(line_dedup(docs))
    check("line_dedup linear shuffles, zero Python",
          n_op("Exchange", p) <= 4
          and count(r"(?i)pythonudf|ArrowEval|BatchEval", p) == 0
          and count(r"CartesianProduct", p) == 0,
          f"(exchanges={n_op('Exchange', p)}; JVM lambda cut)")

    # bpe_encode (round 4): map-only — the ONLY node beyond the scan is
    # the single Arrow kernel; no exchange, no join, ranks broadcast.
    from opensmile_spark.bpe import BPEModel, bpe_encode

    p = explain(bpe_encode(docs, BPEModel(merges=[("a", "b")])))
    check("bpe_encode map-only (one Arrow kernel, zero shuffle)",
          n_op("Exchange", p) == 0 and count(r"\) \w*Join", p) == 0
          and n_op("ArrowEvalPython", p) == 1,
          f"(exchanges={n_op('Exchange', p)}, "
          f"arrow={n_op('ArrowEvalPython', p)})")

    # pack_sequences (round 4): cumsum window exchange + ONE
    # (group, pack) assembly shuffle that carries each token id exactly
    # once; slicing/sorting/flattening are JVM array exprs — no Python,
    # no join.
    from opensmile_spark.packing import pack_sequences

    ids_df = docs.select(
        "source", "doc_id",
        F.transform(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda w: F.length(w).cast("int")).alias("ids"))
    p = explain(pack_sequences(ids_df, budget=64, ids_col="ids",
                                group_cols=["source"]))
    check("pack_sequences two exchanges, zero Python, no join",
          n_op("Exchange", p) <= 2
          and count(r"(?i)pythonudf|ArrowEval|BatchEval", p) == 0
          and count(r"\) \w*Join", p) == 0,
          f"(exchanges={n_op('Exchange', p)}; window cumsum + pack "
          f"assembly)")

    # nb_score (round 4b): broadcast model join, zero Python — the corpus
    # explodes once and re-groups on doc_id; the model never shuffles.
    from opensmile_spark.classify import nb_fit, nb_score

    labeled = docs.withColumn("label", (F.col("doc_id") % 5 != 0).cast("int"))
    w, params = nb_fit(labeled)
    p = explain(nb_score(docs, w, params))
    check("nb_score broadcast model join, zero Python",
          n_op("BroadcastHashJoin", p) >= 1
          and count(r"(?i)pythonudf|ArrowEval|BatchEval", p) == 0
          and count(r"SortMergeJoin|ShuffledHashJoin|CartesianProduct",
                    p) == 0,
          f"(broadcast joins={n_op('BroadcastHashJoin', p)})")

    # html extract (round 5): the crawl-normalization chain must be ONE
    # map-only codegen'd project over the scan — zero Python, zero
    # exchanges, zero joins (the plan a 100 TB HTML scan wants).
    from opensmile_spark.htmlops import html_signals, html_to_text, synth_html

    p = explain(html_signals(html_to_text(synth_html(docs))))
    check("html_to_text+signals map-only, zero Python, zero shuffle",
          n_op("Exchange", p) == 0
          and count(r"(?i)pythonudf|ArrowEval|BatchEval|MapInPandas", p) == 0
          and count(r"\) \w*Join", p) == 0,
          f"(exchanges={n_op('Exchange', p)})")

    # url canonicalization (round 5): parse + signals + normalize must
    # likewise be one map-only project — the canonical-URL dedup key is
    # computed inline with the scan at 100 TB, never via a shuffle.
    from opensmile_spark.urlops import (
        normalize_url, parse_urls, synth_urls, url_signals)

    p = explain(normalize_url(url_signals(parse_urls(synth_urls(docs)))))
    check("url parse+signals+normalize map-only, zero Python, zero shuffle",
          n_op("Exchange", p) == 0
          and count(r"(?i)pythonudf|ArrowEval|BatchEval|MapInPandas", p) == 0
          and count(r"\) \w*Join", p) == 0,
          f"(exchanges={n_op('Exchange', p)})")

    spark.stop()
    print("\nALL PASS" if ok else "\nSOME FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
