"""spark-submit entrypoint.

The reference's CLI is `SMILExtract -C config.conf` (/root/reference/progsrc/
smilextract/SMILExtract.cpp:56-78): a config names the component graph and
the run executes it. The Spark-native equivalent:

    spark-submit --py-files opensmile_spark.zip -m opensmile_spark.cli \\
        pipeline --input /path/transcripts --output /path/features \\
        --gap-seconds 43200 --families means,moments,percentiles,regression \\
        --value-cols char_len_sma3 --resumable --buckets 256

Subcommands:
  pipeline      transcripts parquet -> LLD -> sma -> sessionize -> per-
                session functional vectors (optionally resumable via
                checkpoint buckets)
  backfill      transcripts + anchors parquet -> point-in-time feature grid
  datagen       deterministic synthetic corpus writer
  dedup         documents parquet -> near-dup-removed documents (minhash
                LSH candidates -> jaccard verify -> connected components
                -> min-id survivors)
  decontaminate documents + benchmark parquet -> documents minus eval-set
                n-gram leakage
  sample        deterministic hash sampling — uniform --rate, or
                --strata-col + --weights for domain mixing
  redact        PII scrub: replace email/IPv4/phone matches with [NAME]
                tokens, keep per-doc counts
  ingest        incremental snapshot dedup: one fingerprint join of the
                new documents against a bucketed store, then append the
                kept fingerprints (--init bootstraps the store)

The counts a subcommand prints are observed on the job that writes its
output (an Observation), not read back from the written files; pack's
distinct `n_packs` is the one read-back.

Build the zip with `python -m zipfile -c opensmile_spark.zip opensmile_spark`
(pure-python package, no binary deps beyond the cluster's pyspark/numpy/
pandas/pyarrow).
"""

from __future__ import annotations

import argparse
import json
import os


def _write_observed(df, path, partition_by=(), **aggs):
    """Overwrite parquet at `path` with `df` (partitioned by the
    `partition_by` columns, if any); return the named aggregate columns
    `aggs`, observed on the write job itself (no read-back, no second
    run of the query)."""
    from pyspark.sql import Observation

    obs = Observation()
    w = df.observe(obs, *[e.alias(k) for k, e in aggs.items()]) \
        .write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return obs.get


def _rows(df, path, partition_by=()):
    """Write `df` to `path` (see _write_observed); its row count."""
    from pyspark.sql import functions as F

    return _write_observed(df, path, partition_by,
                           rows=F.count(F.lit(1)))["rows"]


def _pipeline_df(spark, args):
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import sessionize, sma
    from opensmile_spark.tables import read_table

    t = read_table(spark, args.input)
    lld = compute_lld(t)
    base_cols = [c.removesuffix("_sma3") for c in args.value_cols]
    lld = sma(lld, base_cols, 3)
    lld = sessionize(lld, gap_seconds=args.gap_seconds,
                     max_turns=args.max_turns)
    return functionals_kernel(
        lld, args.value_cols, ("conv_id", "session_id"),
        families=args.families,
    )


def cmd_pipeline(spark, args):
    if args.resumable:
        from opensmile_spark.checkpoint import run_resumable

        metrics = run_resumable(
            spark, lambda s: _pipeline_df(s, args), args.output,
            n_buckets=args.buckets,
            lineage={"cmd": "pipeline", "input": args.input,
                     "families": args.families},
        )
        print(json.dumps(metrics))
    else:
        _pipeline_df(spark, args).write.mode("overwrite").parquet(args.output)
        print(json.dumps({"output": args.output}))


def cmd_backfill(spark, args):
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import backfill_functionals, sma
    from opensmile_spark.operators.asof import (
        conv_watermark, incremental_backfill,
    )
    from opensmile_spark.tables import read_table

    t = read_table(spark, args.input)
    anchors = read_table(spark, args.anchors)
    lld = compute_lld(t)
    base_cols = [c.removesuffix("_sma3") for c in args.value_cols]
    lld = sma(lld, base_cols, 3)
    if args.prev_features:
        # incremental refresh: only conversations with new turns recompute
        if not args.prev_max_ts:
            raise SystemExit(
                "backfill: --prev-features requires --prev-max-ts "
                "(the watermark table the previous run wrote next to "
                "its output)")
        same = {os.path.abspath(args.prev_features),
                os.path.abspath(args.prev_max_ts)}
        if os.path.abspath(args.output) in same \
                or os.path.abspath(args.output + "_max_ts") in same:
            # carried rows are read LAZILY from the prev parquet; an
            # in-place mode('overwrite') would clobber the files the
            # plan is still reading (AnalysisException or data loss).
            # Refresh-in-place = write to a new path, then swap.
            raise SystemExit(
                "backfill: --output must not equal --prev-features / "
                "--prev-max-ts (write to a fresh path, then rename)")
        out, max_ts = incremental_backfill(
            read_table(spark, args.prev_features),
            read_table(spark, args.prev_max_ts),
            lld, anchors, args.value_cols, families=args.families,
            window_seconds=args.window_seconds,
        )
        out.write.mode("overwrite").parquet(args.output)
        max_ts.write.mode("overwrite").parquet(args.output + "_max_ts")
        print(json.dumps({"output": args.output,
                          "max_ts": args.output + "_max_ts",
                          "incremental": True}))
        return
    out = backfill_functionals(
        lld, anchors, args.value_cols, families=args.families,
        window_seconds=args.window_seconds,
    )
    out.write.mode("overwrite").parquet(args.output)
    # the per-conv watermark table makes the NEXT run incremental
    conv_watermark(lld).write.mode("overwrite") \
        .parquet(args.output + "_max_ts")
    print(json.dumps({"output": args.output,
                      "max_ts": args.output + "_max_ts"}))


def cmd_dedup(spark, args):
    from opensmile_spark.dedup import (
        dedup_survivors, minhash_lsh_pairs, ngram_jaccard,
    )
    from opensmile_spark.tables import read_table

    docs = read_table(spark, args.input)
    pairs = ngram_jaccard(
        docs, minhash_lsh_pairs(docs, n_hashes=args.n_hashes,
                                bands=args.bands),
        threshold=args.jaccard,
    ).select("id_a", "id_b")
    kept = dedup_survivors(docs, pairs)
    n_out = _rows(kept, args.output)
    n_in = docs.count()
    print(json.dumps({"output": args.output, "rows_in": n_in,
                      "rows_out": n_out, "removed": n_in - n_out}))


def cmd_decontaminate(spark, args):
    from opensmile_spark.dedup import decontaminate_survivors
    from opensmile_spark.tables import read_table

    docs = read_table(spark, args.input)
    bench = read_table(spark, args.benchmark)
    kept = decontaminate_survivors(
        docs, bench, k_shingle=args.k_shingle, min_overlap=args.min_overlap)
    n_out = _rows(kept, args.output)
    n_in = docs.count()
    print(json.dumps({"output": args.output, "rows_in": n_in,
                      "rows_out": n_out, "removed": n_in - n_out}))


def cmd_sample(spark, args):
    from opensmile_spark.sampling import domain_mix, hash_sample
    from opensmile_spark.tables import read_table

    docs = read_table(spark, args.input)
    if args.weights:
        weights = {k: float(v) for k, v in
                   (kv.split("=") for kv in args.weights.split(","))}
        kept, rates = domain_mix(docs, args.strata_col, weights,
                                 key_col=args.key_col, seed=args.seed)
    else:
        kept = hash_sample(docs, args.rate, key_col=args.key_col,
                           seed=args.seed)
        rates = {"*": args.rate}
    n_out = _rows(kept, args.output)
    n_in = docs.count()
    print(json.dumps({"output": args.output, "rows_in": n_in,
                      "rows_out": n_out, "rates": rates}))


def cmd_corpus(spark, args):
    """The composed corpus build (pipeline.corpus_pipeline): quality ->
    dedup -> decontaminate -> sample -> shuffle, written shard-partitioned
    so a training reader consumes shards in order."""
    from opensmile_spark.pipeline import corpus_pipeline
    from opensmile_spark.tables import read_table

    docs = read_table(spark, args.input)
    bench = read_table(spark, args.benchmark)
    rates = None
    if args.rates:
        rates = {k: float(v) for k, v in
                 (kv.split("=") for kv in args.rates.split(","))}
    elif args.default_rate != 1.0:
        # --default-rate alone still means "sample everything at that
        # rate": an empty rates map routes every stratum to the default
        rates = {}
    out = corpus_pipeline(
        docs, bench, min_quality=args.min_quality,
        k_shingle=args.k_shingle, min_overlap=args.min_overlap,
        rates=rates, strata_col=args.strata_col,
        default_rate=args.default_rate, sample_seed=args.seed,
        shuffle_seed=args.seed + 1, n_shards=args.n_shards)
    n_out = _rows(out, args.output, partition_by=("shard",))
    n_in = docs.count()
    print(json.dumps({"output": args.output, "rows_in": n_in,
                      "rows_out": n_out, "n_shards": args.n_shards}))


def cmd_pack(spark, args):
    """Sequence assembly: concat/greedy packing, chunking, or packed-id
    sequences (mode=sequences expects --ids-col from `bpe --output`)."""
    from opensmile_spark.packing import (chunk_documents, pack_concat,
                                         pack_greedy, pack_sequences)
    from opensmile_spark.tables import read_table

    docs = read_table(spark, args.input)
    group = [c for c in args.group_cols.split(",") if c]
    if args.mode == "sequences":
        out = pack_sequences(docs, args.budget, ids_col=args.ids_col,
                             group_cols=group, pad_id=args.pad_id)
    else:
        from opensmile_spark.text import token_count

        docs = token_count(docs, text_col=args.text_col)
        if args.mode == "concat":
            out = pack_concat(docs, args.budget, group_cols=group)
        elif args.mode == "greedy":
            out = pack_greedy(docs, args.budget, group_cols=tuple(group))
        else:
            out = chunk_documents(docs, max_tokens=args.budget,
                                  overlap=args.overlap,
                                  text_col=args.text_col)
    stat = {"output": args.output, "mode": args.mode,
            "rows_out": _rows(out, args.output)}
    if args.mode != "chunk":
        # count packs from the written files — not by re-running the job
        # (an Observation cannot hold a DISTINCT aggregate)
        stat["n_packs"] = spark.read.parquet(args.output) \
            .select(*group, "pack_id").distinct().count()
    print(json.dumps(stat))


def cmd_redact(spark, args):
    from pyspark.sql import functions as F

    from opensmile_spark.tables import read_table
    from opensmile_spark.text import redact

    docs = read_table(spark, args.input)
    out = redact(docs, text_col=args.text_col)
    if args.replace:
        out = out.drop(args.text_col).withColumnRenamed(
            f"{args.text_col}_redacted", args.text_col)
    n_cols = [c for c in out.columns if c.startswith("n_")]
    got = _write_observed(out, args.output,
                          **{c: F.sum(c) for c in n_cols})
    counts = {c: int(got[c] or 0) for c in n_cols}
    print(json.dumps({"output": args.output, "redactions": counts}))


def cmd_ingest(spark, args):
    """Incremental snapshot ingestion: dedup --input against the
    fingerprint store at --store, write kept docs to --output, append
    the kept docs' fingerprints to the store. --init bootstraps the
    store from the first snapshot (everything kept). The store path
    must differ from --output (same clobber guard as backfill)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from opensmile_spark.incremental import (append_to_store,
                                             build_fingerprint_store,
                                             incremental_dedup)
    from opensmile_spark.tables import read_table

    out_abs = os.path.abspath(args.output)
    if out_abs in (os.path.abspath(args.store), os.path.abspath(args.input)):
        raise SystemExit("--output must differ from --store/--input")
    docs = read_table(spark, args.input)
    if args.init:
        store = build_fingerprint_store(
            docs, id_col=args.id_col, text_col=args.text_col,
            method=args.method, n_buckets=args.buckets)
        store.write.partitionBy("bucket").mode("overwrite") \
            .parquet(args.store)
        n = _rows(docs, args.output)
        print(json.dumps({"output": args.output, "store": args.store,
                          "rows_in": n, "kept": n, "init": True}))
        return
    # the store's layout (build_fingerprint_store), given rather than
    # inferred: an --init of an empty snapshot leaves no data file
    id_type = docs.schema[args.id_col].dataType.simpleString()
    store = spark.read.schema(
        f"fp bigint, first_id {id_type}, bucket int").parquet(args.store)
    dec = incremental_dedup(docs, store, id_col=args.id_col,
                            text_col=args.text_col, method=args.method)
    # decisions feed both outputs; materialize once so the append and
    # the survivor write cannot diverge across lazy recomputes
    dec = dec.localCheckpoint()
    # the counts are observed on the survivor write, before its filter
    obs = Observation()
    kept = dec.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.sum(F.col("seen").cast("long")).alias("seen"),
        F.sum(F.col("batch_dup").cast("long")).alias("dups"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
    ).filter(F.col("keep")).drop("fp", "batch_dup", "seen", "keep")
    kept.write.mode("overwrite").parquet(args.output)
    delta = append_to_store(dec, id_col=args.id_col,
                            n_buckets=args.buckets)
    delta.write.partitionBy("bucket").mode("append").parquet(args.store)
    agg = obs.get
    print(json.dumps({"output": args.output, "store": args.store,
                      "rows_in": agg["n"], "seen": agg["seen"],
                      "batch_dup": agg["dups"], "kept": agg["kept"]}))


def cmd_semdedup(spark, args):
    from pyspark.sql import functions as F

    from opensmile_spark.semdedup import semdedup
    from opensmile_spark.tables import read_table

    emb = read_table(spark, args.input)
    dec = semdedup(emb, threshold=args.threshold,
                   n_clusters=args.clusters, id_col=args.id_col,
                   vec_col=args.vec_col, n_iter=args.iters)
    got = _write_observed(dec, args.output, n=F.count(F.lit(1)),
                          kept=F.count(F.when(F.col("keep"), 1)))
    n, kept = got["n"], got["kept"]
    print(json.dumps({"output": args.output, "rows_in": n,
                      "kept": kept, "pruned": n - kept}))


def cmd_bpe(spark, args):
    from pyspark.sql import functions as F

    from opensmile_spark.bpe import (BPEModel, bpe_encode, bpe_encode_ids,
                                     bpe_train)
    from opensmile_spark.tables import read_table

    docs = read_table(spark, args.input)
    if args.model:
        model = BPEModel.from_df(spark.read.parquet(args.model))
    else:
        model = bpe_train(docs, n_merges=args.n_merges, top_k=args.top_k,
                          min_count=args.min_count, text_col=args.text_col,
                          lowercase=args.lowercase)
    if args.model_out:
        model.to_df(spark).write.mode("overwrite").parquet(args.model_out)
    stats = {"n_merges": len(model.merges)}
    if args.output:
        fn = bpe_encode_ids if args.ids else bpe_encode
        n_col = "n_bpe_token_ids" if args.ids else "n_bpe_tokens"
        enc = fn(docs, model, text_col=args.text_col,
                 lowercase=args.lowercase)
        agg = _write_observed(enc, args.output, rows=F.count(F.lit(1)),
                              tokens=F.sum(n_col))
        stats.update(output=args.output, rows=agg["rows"],
                     tokens=agg["tokens"])
    print(json.dumps(stats))


def cmd_linededup(spark, args):
    from pyspark.sql import functions as F

    from opensmile_spark.linededup import line_dedup
    from opensmile_spark.tables import read_table

    docs = read_table(spark, args.input)
    out = line_dedup(docs, text_col=args.text_col, id_col=args.id_col,
                     min_docs=args.min_docs, min_chars=args.min_chars,
                     approx=args.approx)
    agg = _write_observed(out, args.output, docs=F.count(F.lit(1)),
                          lines=F.sum("n_lines"),
                          removed=F.sum("n_removed"))
    print(json.dumps({"output": args.output, "docs": agg["docs"],
                      "lines": agg["lines"], "removed": agg["removed"]}))


def cmd_datagen(spark, args):
    from opensmile_spark.datagen import generate_transcripts

    t = generate_transcripts(
        spark, n_convs=args.n_convs, turns_per_conv=args.turns,
        seed=args.seed, mega_conv_factor=args.mega_factor,
    )
    print(json.dumps({"output": args.output,
                      "rows": _rows(t, args.output)}))


def cmd_resample(spark, args):
    from opensmile_spark.operators import resample
    from opensmile_spark.tables import read_table

    df = read_table(spark, args.input)
    out = resample(
        df, args.period_seconds, by=args.by, ts_col=args.ts_col,
        value_cols=args.value_cols, policy=args.policy,
        order_col=args.order_col,
        origin_epoch=args.origin_epoch,
    )
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"output": args.output,
                      "period_seconds": args.period_seconds,
                      "policy": args.policy}))


_DF_STAGE_KEYS = ("anchors", "benchmark", "seed_docs", "store", "stats")


def cmd_runconfig(spark, args):
    """Run a NATIVE declarative config (JSON stage list — the engine's own
    SMILEapi analogue) from a file. Stage options that name other tables
    (anchors / benchmark / seed_docs / store / stats) may be path strings;
    they are resolved through read_table before the run."""
    from opensmile_spark.config import run_config
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.tables import read_table

    with open(args.config) as f:
        cfg = json.load(f)
    for stage in cfg.get("stages", []):
        for k in _DF_STAGE_KEYS:
            if isinstance(stage.get(k), str):
                stage[k] = read_table(spark, stage[k])
    df = read_table(spark, args.input)
    if args.lld:
        df = compute_lld(df)
    out = run_config(df, cfg)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"output": args.output,
                      "n_stages": len(cfg.get("stages", []))}))


def cmd_smileconf(spark, args):
    """Run a reference openSMILE .conf on a transcripts/LLD table (the
    SMILExtract -C migration path). Prints the mapping report so the user
    sees which components carried over, which were passthrough, and which
    options were out of mapping scope. --dry-run compiles and prints the
    stage plan + report without reading input or running anything. A
    .csv/.arff input is read through the engine's cCsvSource/cArffSource
    analogue, honoring the conf's own source section options (delimChar,
    header) when one is declared."""
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.smileconf import conf_to_config, load_conf

    cm = dict(kv.split("=", 1) for kv in (args.cm or []))
    parse = load_conf(args.conf, cm=cm)
    cfg = conf_to_config(parse, args.value_cols,
                         group_cols=tuple(args.group_cols))
    if args.emit_config:
        with open(args.emit_config, "w") as f:
            json.dump({"stages": cfg["stages"],
                       "aliases": cfg.get("aliases", {})},
                      f, indent=1, default=str)
    if args.dry_run:
        print(json.dumps({"stages": cfg["stages"],
                          "report": cfg["report"]}, default=str))
        return
    if not args.input or not args.output:
        raise SystemExit("smileconf: --input and --output are required "
                         "unless --dry-run is set")
    if args.input.endswith(".csv"):
        from opensmile_spark.io import csv_source

        src = next(iter(parse.by_type("cCsvSource")), None)
        delim = str(src.get("delimChar", ",")) if src else ","
        header = ({"0": "no", "1": "yes"}.get(str(src.get("header")),
                                              "auto") if src else "auto")
        df = csv_source(spark, args.input, delimiter=delim, header=header,
                        infer_schema=True)
    elif args.input.endswith(".arff"):
        from opensmile_spark.io import arff_source

        df = arff_source(spark, args.input)
    else:
        from opensmile_spark.tables import read_table

        df = read_table(spark, args.input)
    if args.lld:
        df = compute_lld(df)
    from opensmile_spark.config import run_config

    out = run_config(df, cfg)
    out.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"output": args.output,
                      "n_stages": len(cfg["stages"]),
                      "report": cfg["report"]}))


def cmd_crawl(spark, args):
    """WARC archives -> extracted-document parquet: record split, 2xx
    text/html filter, HTML text extraction (expr or arrow path),
    canonical-URL dedup key + crawl signals."""
    from opensmile_spark.htmlops import html_signals, html_to_text
    from opensmile_spark.urlops import normalize_url, url_signals
    from opensmile_spark.warc import read_warc, warc_to_documents

    docs = warc_to_documents(read_warc(spark, args.input))
    out = html_signals(
        html_to_text(docs, html_col="html", out_col="text",
                     method=args.method),
        html_col="html")
    out = normalize_url(url_signals(out, url_col="url"), url_col="url")
    out = out.select(
        "warc_file", "record_idx", "url", "url_norm", "url_reg_domain",
        "text", "text_chars", "link_density", "markup_ratio", "title")
    print(json.dumps({"output": args.output,
                      "n_pages": _rows(out, args.output)}))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="opensmile_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--input", required=True)
        sp.add_argument("--output", required=True)
        sp.add_argument("--value-cols", default="char_len_sma3",
                        type=lambda s: s.split(","))
        sp.add_argument("--families",
                        default="means,moments,percentiles,regression",
                        type=lambda s: s.split(","))

    sp = sub.add_parser("pipeline")
    common(sp)
    sp.add_argument("--gap-seconds", type=float, default=43200.0)
    sp.add_argument("--max-turns", type=int, default=None)
    sp.add_argument("--resumable", action="store_true")
    sp.add_argument("--buckets", type=int, default=64)

    sp = sub.add_parser("backfill")
    sp.add_argument("--prev-features", default=None,
                    help="previous run's output -> incremental refresh")
    sp.add_argument("--prev-max-ts", default=None,
                    help="previous run's <output>_max_ts watermark table")
    common(sp)
    sp.add_argument("--anchors", required=True)
    sp.add_argument("--window-seconds", type=float, default=None)

    sp = sub.add_parser("datagen")
    sp.add_argument("--output", required=True)
    sp.add_argument("--n-convs", type=int, default=1000)
    sp.add_argument("--turns", type=int, default=30)
    sp.add_argument("--seed", type=int, default=42)
    sp.add_argument("--mega-factor", type=int, default=1)

    sp = sub.add_parser("dedup")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--n-hashes", type=int, default=8)
    sp.add_argument("--bands", type=int, default=4)
    sp.add_argument("--jaccard", type=float, default=0.8)

    sp = sub.add_parser("decontaminate")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--benchmark", required=True)
    sp.add_argument("--k-shingle", type=int, default=3)
    sp.add_argument("--min-overlap", type=int, default=2)

    sp = sub.add_parser("sample")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--rate", type=float, default=0.1)
    sp.add_argument("--key-col", default="doc_id")
    sp.add_argument("--seed", type=int, default=0)
    sp.add_argument("--strata-col", default=None)
    sp.add_argument("--weights", default=None,
                    help="stratum=weight,... -> domain_mix over --strata-col")

    sp = sub.add_parser("redact")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--replace", action="store_true",
                    help="overwrite the text column instead of adding "
                         "<col>_redacted")

    sp = sub.add_parser("corpus")
    sp.add_argument("--input", required=True)
    sp.add_argument("--benchmark", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--min-quality", type=float, default=0.0)
    sp.add_argument("--k-shingle", type=int, default=3)
    sp.add_argument("--min-overlap", type=int, default=2)
    sp.add_argument("--rates", default=None, help="stratum=rate,...")
    sp.add_argument("--strata-col", default="source")
    sp.add_argument("--default-rate", type=float, default=1.0)
    sp.add_argument("--seed", type=int, default=0)
    sp.add_argument("--n-shards", type=int, default=1024)

    sp = sub.add_parser("resample",
                        help="regularize an irregular series onto a "
                             "uniform time grid (cSmileResample analogue)")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--period-seconds", type=float, required=True)
    sp.add_argument("--policy", choices=["hold", "linear", "nearest"],
                    default="linear")
    sp.add_argument("--by", default="conv_id")
    sp.add_argument("--ts-col", default="ts")
    sp.add_argument("--order-col", default="turn_idx")
    sp.add_argument("--value-cols", default=None,
                    type=lambda s: s.split(","))
    sp.add_argument("--origin-epoch", type=float, default=None,
                    help="global grid lattice origin (epoch seconds); "
                         "default anchors each key at its first sample")

    sp = sub.add_parser("ingest",
                        help="incremental snapshot dedup against a "
                             "fingerprint store")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--store", required=True)
    sp.add_argument("--init", action="store_true",
                    help="bootstrap the store from this first snapshot")
    sp.add_argument("--method", choices=["xxhash64", "md5_64"],
                    default="xxhash64")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--buckets", type=int, default=256)

    sp = sub.add_parser("semdedup",
                        help="semantic dedup over an embedding column")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--threshold", type=float, default=0.7)
    sp.add_argument("--clusters", type=int, default=8)
    sp.add_argument("--iters", type=int, default=10)
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")

    sp = sub.add_parser("bpe",
                        help="train a BPE tokenizer and/or encode a corpus")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", help="encoded-corpus parquet (optional)")
    sp.add_argument("--model", help="existing merges parquet to reuse")
    sp.add_argument("--model-out", help="where to persist trained merges")
    sp.add_argument("--n-merges", type=int, default=200)
    sp.add_argument("--top-k", type=int, default=50_000)
    sp.add_argument("--min-count", type=int, default=2)
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--lowercase", action="store_true")
    sp.add_argument("--ids", action="store_true",
                    help="emit integer token ids (feeds pack --mode "
                         "sequences) instead of subword strings")

    sp = sub.add_parser("linededup",
                        help="remove lines shared by >= min-docs documents")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--min-docs", type=int, default=2)
    sp.add_argument("--min-chars", type=int, default=1)
    sp.add_argument("--approx", action="store_true",
                    help="HLL distinct-doc counts (one shuffle, ~±2%)")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--id-col", default="doc_id")

    sp = sub.add_parser("pack")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--mode",
                    choices=["concat", "greedy", "chunk", "sequences"],
                    default="concat")
    sp.add_argument("--ids-col", default="bpe_token_ids",
                    help="sequences mode: id-array column to pack")
    sp.add_argument("--pad-id", type=int, default=None,
                    help="sequences mode: right-pad final packs to budget")
    sp.add_argument("--budget", type=int, default=2048,
                    help="tokens per pack (or per chunk in chunk mode)")
    sp.add_argument("--overlap", type=int, default=64,
                    help="chunk mode: tokens shared between chunks")
    sp.add_argument("--group-cols", default="source")
    sp.add_argument("--text-col", default="text")

    sp = sub.add_parser("runconfig",
                        help="run a native declarative JSON config "
                             "(stage list) on a table")
    sp.add_argument("--config", required=True,
                    help="JSON file: {\"stages\": [{\"type\": ...}, ...]}")
    sp.add_argument("--input", required=True)
    sp.add_argument("--output", required=True)
    sp.add_argument("--lld", action="store_true",
                    help="compute the transcript LLD bank first")

    sp = sub.add_parser("smileconf",
                        help="run a reference openSMILE .conf file "
                             "(SMILExtract -C migration path)")
    sp.add_argument("--conf", required=True,
                    help="path to the openSMILE .conf / .conf.inc file")
    sp.add_argument("--input", default="",
                    help="parquet table / .csv / .arff (csv+arff honor "
                         "the conf's own source section options)")
    sp.add_argument("--output", default="")
    sp.add_argument("--dry-run", action="store_true",
                    help="compile and print the stage plan + migration "
                         "report; read nothing, run nothing")
    sp.add_argument("--emit-config", default="",
                    help="also write the compiled stage list as a native "
                         "JSON config (consumable by `runconfig`) — the "
                         "one-time conf -> native conversion path")
    sp.add_argument("--value-cols", default="char_len",
                    type=lambda s: s.split(","),
                    help="columns seeding levels produced by unmapped "
                         "components (the LLD chain analogue)")
    sp.add_argument("--group-cols", default="conv_id",
                    type=lambda s: s.split(","))
    sp.add_argument("--lld", action="store_true",
                    help="compute the transcript LLD bank before the conf "
                         "stages (input is a raw transcripts table)")
    sp.add_argument("--cm", action="append", default=[],
                    help="command-line substitution for \\cm[name] refs, "
                         "as name=value (repeatable)")
    sp = sub.add_parser("crawl",
                        help="WARC archives -> extracted-document parquet")
    sp.add_argument("--input", required=True,
                    help="WARC path/glob (.warc or .warc.gz)")
    sp.add_argument("--output", required=True)
    sp.add_argument("--method", default="expr", choices=["expr", "arrow"],
                    help="HTML text extraction path (expr = codegen'd "
                         "regex chain; arrow = streaming parser)")

    return p


def main(argv=None):
    args = build_parser().parse_args(argv)
    from opensmile_spark.session import get_spark

    # under spark-submit the master/deploy settings come from the submit
    # command; get_spark only layers engine defaults on the existing session
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    spark = active or get_spark("opensmile_spark_cli")
    {"pipeline": cmd_pipeline,
     "backfill": cmd_backfill,
     "datagen": cmd_datagen,
     "dedup": cmd_dedup,
     "decontaminate": cmd_decontaminate,
     "sample": cmd_sample,
     "redact": cmd_redact,
     "corpus": cmd_corpus,
     "resample": cmd_resample,
     "ingest": cmd_ingest,
     "semdedup": cmd_semdedup,
     "bpe": cmd_bpe,
     "linededup": cmd_linededup,
     "pack": cmd_pack,
     "runconfig": cmd_runconfig,
     "smileconf": cmd_smileconf,
     "crawl": cmd_crawl}[args.cmd](spark, args)


if __name__ == "__main__":
    main()
