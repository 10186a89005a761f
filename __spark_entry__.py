"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   -> flagship pipeline on sf0.001 (transcripts -> LLD -> sma ->
                  sessionize -> per-session functional vectors).
queries()      -> one callable per implemented operator (SURVEY.md §2).
oracle_sql()   -> DuckDB-dialect twins over the same parquet views.

Design for the correctness gate: every query derives its transcript input
from the shared `events` table with logic expressed identically in Spark and
DuckDB (opensmile_spark/transcripts.py), so both engines see identical rows.
Floating-point outputs whose accumulation order differs between engines are
explicitly ROUND()ed to 6 dp on BOTH sides; closed-form per-row arithmetic is
left exact. Timestamps are emitted as fractional epoch seconds (DOUBLE).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SESSION_GAP_S = 43200.0  # 12 h; median inter-turn gap in events is ~7.3 h

# ---------------------------------------------------------------------------
# shared DuckDB CTE prefix: transcripts + lld twins of the Spark derivations
# ---------------------------------------------------------------------------

SQL_PREFIX = """
WITH transcripts AS (
  SELECT
    'u' || CAST(user_id AS VARCHAR) AS conv_id,
    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
         AS INTEGER) AS turn_idx,
    CASE event_type WHEN 'click' THEN 'user' WHEN 'view' THEN 'assistant'
         WHEN 'purchase' THEN 'tool' WHEN 'signup' THEN 'user'
         ELSE 'system' END AS role,
    repeat(event_type || ' ', 1 + CAST(event_id % 7 AS INTEGER)) || props
        AS text,
    CASE WHEN event_type = 'purchase' THEN 'checkout' END AS tool,
    ts
  FROM events
),
lld AS (
  SELECT
    conv_id, turn_idx, ts,
    CAST(length(text) AS DOUBLE) AS char_len,
    CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS token_cnt,
    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) AS punct_density,
    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE) AS caps_ratio,
    CAST(len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
        / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS ttr,
    COALESCE(1e-6*epoch_us(ts) - 1e-6*epoch_us(lag(ts) OVER w), 0.0) AS reply_latency,
    CASE WHEN role <> COALESCE(lag(role) OVER w, role) THEN 1.0
         ELSE 0.0 END AS role_change,
    CASE WHEN role = 'tool' THEN 1.0 ELSE 0.0 END AS is_tool
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
sessions AS (
  SELECT *,
    CAST(SUM(CASE WHEN gap IS NULL OR gap > {gap} THEN 1 ELSE 0 END)
         OVER (PARTITION BY conv_id ORDER BY turn_idx
               ROWS UNBOUNDED PRECEDING) - 1 AS INTEGER) AS session_id
  FROM (
    SELECT *, 1e-6*epoch_us(ts) - 1e-6*epoch_us(lag(ts) OVER
        (PARTITION BY conv_id ORDER BY turn_idx)) AS gap
    FROM lld
  )
)
""".replace("{gap}", str(SESSION_GAP_S))


def _transcripts(spark, sf_dir):
    from opensmile_spark.transcripts import transcripts_from_events

    return transcripts_from_events(spark, sf_dir)


def _lld(spark, sf_dir, keep_text=False):
    from opensmile_spark.lld import compute_lld

    return compute_lld(_transcripts(spark, sf_dir), keep_text=keep_text)


def _lld_sessions(spark, sf_dir):
    from opensmile_spark.operators import sessionize

    return sessionize(_lld(spark, sf_dir), gap_seconds=SESSION_GAP_S)


def _epoch(col):
    from opensmile_spark.util import epoch_seconds

    return epoch_seconds(col)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------

def q_transcripts(spark, sf_dir):
    t = _transcripts(spark, sf_dir)
    return t.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        _epoch("ts").alias("ts_epoch"),
    )


def q_lld(spark, sf_dir):
    d = _lld(spark, sf_dir)
    return d.select(
        "conv_id", "turn_idx", "char_len", "token_cnt", "punct_density",
        "caps_ratio", "ttr", "reply_latency", "role_change", "is_tool",
    )


def q_sma3(spark, sf_dir):
    """cContourSmoother bank: sma3 (+ noZeroSma), sma5, and the trailing
    cWindowProcessor mean (ma5) in one gate — one operator, four configs,
    all computed in a single shared conv_id window exchange."""
    from opensmile_spark.operators import sma, trailing_agg

    d = sma(_lld(spark, sf_dir), ["char_len"], 3)
    d = sma(d, ["is_tool"], 3, no_zero_sma=True)
    d = sma(d, ["char_len"], 5)
    d = trailing_agg(d, "char_len", "avg", frame_rows=5, anchor="right",
                     out_col="char_len_ma5")
    return d.select(
        "conv_id", "turn_idx", "char_len_sma3", "is_tool_sma3nz",
        F.round("char_len_sma5", 6).alias("char_len_sma5"),
        F.round("char_len_ma5", 6).alias("char_len_ma5"),
    )


def q_delta2(spark, sf_dir):
    """cDeltaRegression bank: deltawin=2, deltawin=0 (simple diff), and
    cVectorPreemphasis — the FIR-differencer family in one gate."""
    from opensmile_spark.operators import delta_regression, preemphasis

    d = delta_regression(_lld(spark, sf_dir), ["char_len"], 2)
    d = delta_regression(d, ["char_len"], 0, suffix="_d0")
    d = preemphasis(d, ["char_len"], k=0.97)
    return d.select(
        "conv_id", "turn_idx",
        F.round("char_len_de", 6).alias("char_len_de"),
        F.col("char_len_d0"),
        F.round("char_len_pe", 6).alias("char_len_pe"),
    )


def q_sessionize(spark, sf_dir):
    """Gap sessionization + the max-length split variant (cTurnDetector
    maxTurnLength analogue) side by side. Round-5 merge: the SFT
    prompt/response pair extraction (trajectory.extract_sft_pairs,
    context='turn' — adjacent user->assistant turns become training
    pairs) rides the same turn grain as nullable prompt/response
    columns."""
    from opensmile_spark.operators import sessionize
    from opensmile_spark.trajectory import extract_sft_pairs

    lld = _lld(spark, sf_dir)
    d = sessionize(lld, gap_seconds=SESSION_GAP_S)
    m = sessionize(lld, gap_seconds=SESSION_GAP_S, max_turns=10).select(
        "conv_id", "turn_idx",
        F.col("session_id").alias("session_id_maxlen"))
    pairs = extract_sft_pairs(_transcripts(spark, sf_dir))
    return d.select("conv_id", "turn_idx", "session_id").join(
        m, ["conv_id", "turn_idx"]).join(
        pairs, ["conv_id", "turn_idx"], "left")


def q_functionals_sql(spark, sf_dir):
    from opensmile_spark.functionals import functionals_sql

    out = functionals_sql(_lld(spark, sf_dir), ["char_len", "reply_latency"])
    keep = ["conv_id", "n_turns"] + [
        c for c in out.columns if c not in ("conv_id", "n_turns")
    ]
    from opensmile_spark.util import round_sig

    sel = [F.col("conv_id"), F.col("n_turns")] + [
        round_sig(F.col(f"`{c}`")).alias(c) for c in keep[2:]
    ]
    return out.select(*sel)


def q_functionals_derive(spark, sf_dir):
    """Fused derived-lane functionals (bank.py derive= on the Arrow runner):
    cVectorOperation contours (x^2, safe-log — vectorOperation.cpp op
    table) are computed INSIDE the kernel worker and the functional
    families run over base + derived lanes in one pass — the
    reference-preset pattern of functionals over derived LLDs (e.g.
    log-energy, /root/reference/src/lldcore/energy.cpp). The gate pins
    the fused in-worker derivation and the Arrow-native runner against a
    DuckDB twin that derives the same lanes in SQL."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import round_sig

    out = functionals_kernel(
        _lld(spark, sf_dir), ["char_len"], ("conv_id",),
        families=["means", "moments", "extremes"],
        derive=["sq", "log"])
    cols = ["amean", "absmean", "qmean", "variance", "stddev",
            "max", "min", "range"]
    sel = [F.col("conv_id"), F.col("n_turns")]
    for lane in ("char_len", "char_len__sq", "char_len__log"):
        sel += [round_sig(F.col(f"`{lane}_{c}`")).alias(f"{lane}_{c}")
                for c in cols]
    return out.select(*sel)


def q_functionals_session(spark, sf_dir):
    """Per-(conv, session) functional vector via the kernel path — the
    flagship grouping; oracle covers the SQL-expressible outputs. Also
    carries the cFullturnMean-style session bounds (start/end/n_turns)."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.operators import session_bounds

    sess = _lld_sessions(spark, sf_dir)
    bounds = session_bounds(sess).select(
        "conv_id", "session_id",
        _epoch("session_start").alias("start_epoch"),
        _epoch("session_end").alias("end_epoch"),
    )
    out = functionals_kernel(
        sess, ["char_len"],
        ("conv_id", "session_id"),
        families=["means", "moments", "percentiles", "regression"],
    ).join(bounds, ["conv_id", "session_id"])
    cols = [
        "amean", "absmean", "qmean", "rqmean", "nnz",
        "variance", "stddev", "stddevNorm",
        "quartile1", "quartile2", "quartile3",
        "percentile20.0", "percentile50.0", "percentile80.0", "pctlrange0-2",
        "linregc1", "linregc2", "linregerrA", "linregerrQ",
    ]
    from opensmile_spark.util import round_sig

    return out.select(
        "conv_id", "session_id", "n_turns", "start_epoch", "end_epoch",
        *[round_sig(F.col(f"`char_len_{c}`")).alias(f"char_len_{c}")
          for c in cols],
    )


def q_functionals_extras(spark, sf_dir):
    """Order/threshold/event functionals from the numpy kernel in ONE
    per-conv gate: extremes positions, crossings, times (kernel-extras),
    onset/offset events, eqX segments, samples, and DCT coefficients —
    seven families over one shared grouping, each with its own window-SQL
    twin joined on conv_id in the oracle."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import round_sig

    out = functionals_kernel(
        _lld(spark, sf_dir), ["char_len", "is_tool"], ("conv_id",),
        families=["extremes", "crossings", "times", "onset", "segments",
                  "samples", "dct"],
        options={"segments": {"algorithm": "eqX", "X": 0.0}},
    )
    extras = ["max", "min", "range", "maxPos", "minPos", "zcr", "mcr",
              "upleveltime25", "downleveltime50", "upleveltime90",
              "risetime", "falltime", "duration"]
    onset = ["onsetPos", "offsetPos", "numOnsets", "numOffsets", "onsetRate"]
    segs = ["numSegments", "meanSegLen", "maxSegLen", "minSegLen",
            "segLenStddev"]
    samples = ["samplepos0", "samplepos0.25", "samplepos0.5",
               "samplepos0.75", "samplepos1"]
    sel = [F.col("conv_id"), F.col("n_turns")]
    sel += [round_sig(F.col(f"`char_len_{c}`")).alias(f"char_len_{c}")
            for c in extras]
    sel += [F.col(f"`is_tool_{c}`").alias(f"is_tool_{c}") for c in onset]
    sel += [round_sig(F.col(f"`is_tool_{c}`")).alias(f"is_tool_{c}")
            for c in segs]
    sel += [F.col(f"`char_len_{c}`").alias(f"char_len_{c}") for c in samples]
    sel += [round_sig(F.col(f"char_len_dct{k}")).alias(f"char_len_dct{k}")
            for k in range(1, 7)]
    return out.select(*sel)


def _anchor_grid(spark, sf_dir):
    """Deterministic anchors: every turn ts, midpoints between consecutive
    turns, and one hour before each conv's first turn (pre-first case).
    All arithmetic in integer MICROSECONDS (exact, associative) so the grid
    is bit-identical across engines; epoch output = 1e-6 * micros."""
    lld = _lld(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    turn_anchors = lld.select("conv_id", us.alias("anchor_us"))
    mids = lld.select(
        "conv_id",
        F.shiftright(us + F.lag(us).over(w), 1).alias("anchor_us"),
    ).filter(F.col("anchor_us").isNotNull())
    first = lld.groupBy("conv_id").agg(
        (F.min(us) - 3_600_000_000).alias("anchor_us"))
    return turn_anchors.unionByName(mids).unionByName(first).distinct()


def q_asof_join(spark, sf_dir):
    from opensmile_spark.operators import asof_join

    lld = _lld(spark, sf_dir)
    anchors = _anchor_grid(spark, sf_dir).withColumn(
        "anchor_ts", F.timestamp_micros("anchor_us")).drop("anchor_us")
    out = asof_join(
        anchors.select("conv_id", "anchor_ts"),
        lld.select("conv_id", "ts", "char_len", "token_cnt"),
        value_cols=["char_len", "token_cnt"],
    )
    return out.select(
        "conv_id",
        (F.unix_micros(F.col("anchor_ts").cast("timestamp"))
         * F.lit(1e-6)).alias("anchor_epoch"),
        "char_len", "token_cnt",
    )


def q_backfill_means(spark, sf_dir):
    """Point-in-time expanding means at every anchor (leakage-guarded)."""
    from opensmile_spark.operators import backfill_functionals

    lld = _lld(spark, sf_dir)
    anchors = _anchor_grid(spark, sf_dir).withColumn(
        "anchor_ts", F.timestamp_micros("anchor_us")).drop("anchor_us")
    out = backfill_functionals(
        lld, anchors.select("conv_id", "anchor_ts"), ["char_len"],
        families=["means"],
    ).filter(F.col("n_visible") > 0)
    return out.select(
        "conv_id",
        (F.unix_micros(F.col("anchor_ts").cast("timestamp"))
         * F.lit(1e-6)).alias("anchor_epoch"),
        "n_visible",
        F.round("char_len_amean", 6).alias("char_len_amean"),
        F.round("char_len_qmean", 6).alias("char_len_qmean"),
        F.round("char_len_nnz", 6).alias("char_len_nnz"),
    )


def q_mvn(spark, sf_dir):
    """cVectorMVN in all three batch configs at once: full two-pass z-score,
    expanding (causal) z-score, and min-max rescale."""
    from opensmile_spark.operators import mvn

    lld = _lld(spark, sf_dir)
    full = mvn(lld, ["char_len"], mode="full").select(
        "conv_id", "turn_idx",
        F.round("char_len_mvn", 6).alias("char_len_mvn"))
    exp = mvn(lld, ["char_len"], mode="expanding").select(
        "conv_id", "turn_idx",
        F.round("char_len_mvn", 6).alias("char_len_mvn_exp"))
    mm = mvn(lld, ["char_len"], mode="full", min_max=True).select(
        "conv_id", "turn_idx",
        F.round("char_len_mvn", 6).alias("char_len_mm"))
    return full.join(exp, ["conv_id", "turn_idx"]).join(
        mm, ["conv_id", "turn_idx"])


def q_fullinput_mean(spark, sf_dir):
    """cFullinputMean: EOI two-pass subtraction AND the causal (expanding)
    variant side by side."""
    from opensmile_spark.operators import fullinput_mean

    lld = _lld(spark, sf_dir)
    eoi = fullinput_mean(lld, ["char_len"]).select(
        "conv_id", "turn_idx",
        F.round("char_len_fim", 6).alias("char_len_fim"))
    causal = fullinput_mean(lld, ["char_len"], causal=True).select(
        "conv_id", "turn_idx",
        F.round("char_len_fim", 6).alias("char_len_fim_causal"))
    return eoi.join(causal, ["conv_id", "turn_idx"])


def q_valbased_selector(spark, sf_dir):
    """cValbasedSelector both policies in one gate: invert=drop rows
    (mode='drop') and zeroVec=zero the vector (mode='zero') — unioned with
    a mode discriminator column."""
    from opensmile_spark.operators import valbased_selector

    lld = _lld(spark, sf_dir)
    drop = valbased_selector(lld, "token_cnt", threshold=6.0, op="gt") \
        .select("conv_id", "turn_idx", "char_len", "token_cnt") \
        .withColumn("mode", F.lit("drop"))
    zero = valbased_selector(lld, "is_tool", threshold=0.5, op="gt",
                             zero_cols=["char_len", "token_cnt"]) \
        .select("conv_id", "turn_idx", "char_len", "token_cnt") \
        .withColumn("mode", F.lit("zero"))
    return drop.unionByName(zero)


def q_data_selector(spark, sf_dir):
    from opensmile_spark.operators import data_selector

    d = data_selector(_lld(spark, sf_dir), names=["char_len", "ttr"],
                      new_names={"char_len": "energy", "ttr": "flatness"})
    return d.select("conv_id", "turn_idx", "energy", "flatness")


def q_vector_ops(spark, sf_dir):
    """cVectorOperation core surface + cVectorBinaryOperation (div with
    div-zero policy) + cMaxIndex argmax — the per-row vector math family
    in one gate, all pure column expressions."""
    from opensmile_spark.operators import max_index, vector_binary_op, vector_op

    d = vector_op(_lld(spark, sf_dir), "char_len", "log", out_col="log_len")
    d = vector_op(d, "char_len", "sqrt", out_col="sqrt_len")
    d = vector_op(d, "char_len", "dBp", out_col="db_len")
    d = vector_binary_op(d, "char_len", "token_cnt", "div",
                         div_zero_val=0.0, out_col="chars_per_token")
    d = d.withColumn(
        "vec", F.array("char_len", "token_cnt", "punct_density", "ttr"))
    d = max_index(d, "vec", out_col="max_idx")
    return d.select(
        "conv_id", "turn_idx",
        F.round("log_len", 6).alias("log_len"),
        F.round("sqrt_len", 6).alias("sqrt_len"),
        F.round("db_len", 6).alias("db_len"),
        F.round("chars_per_token", 6).alias("chars_per_token"),
        "max_idx",
    )


def q_resample(spark, sf_dir):
    """Uniform-grid time regularization (cSmileResample/cSpecResample
    analogue): each conversation's irregular turn series lands on a 1-day
    grid with linear interpolation between surrounding turns."""
    from opensmile_spark.operators import resample

    lld = _lld(spark, sf_dir)
    out = resample(
        lld.select("conv_id", "turn_idx", "ts", "char_len", "token_cnt"),
        86400.0, policy="linear",
    )
    return out.select(
        "conv_id",
        _epoch("ts").alias("grid_epoch"),
        "n_seen",
        F.round("char_len", 6).alias("char_len"),
        F.round("token_cnt", 6).alias("token_cnt"),
    )


def q_interval_join(spark, sf_dir):
    """frameMode=list analogue: count turns inside per-conv day-1 interval."""
    from opensmile_spark.operators import interval_join

    lld = _lld(spark, sf_dir)
    iv = lld.groupBy("conv_id").agg(
        F.min("ts").alias("start_ts"),
        F.timestamp_seconds(_epoch(F.min("ts")) + 86400.0 * 7).alias("end_ts"),
    )
    joined = interval_join(lld.select("conv_id", "ts", "char_len"), iv)
    return joined.groupBy("conv_id").agg(
        F.count("*").alias("n_in_interval"),
        F.round(F.avg("char_len"), 6).alias("avg_len_in_interval"),
    )


def q_salted_stats(spark, sf_dir):
    from opensmile_spark.operators import salted_partial_stats

    out = salted_partial_stats(_lld(spark, sf_dir), ["char_len"])
    return out.select(
        "conv_id", "n_turns",
        *[F.round(F.col(f"`char_len_{c}`"), 6).alias(f"char_len_{c}")
          for c in ["amean", "absmean", "qmean", "rqmean", "variance",
                    "stddev", "min", "max", "range", "nnz"]],
    )



def q_tumbling_window(spark, sf_dir):
    """frameMode=fixed tumbling over event time (winToVecProcessor fixed
    mode with frameStep == frameSize) — F.window vs DuckDB time_bucket."""
    lld = _lld(spark, sf_dir)
    out = (
        lld.groupBy("conv_id", F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n_turns"),
             F.round(F.avg("char_len"), 6).alias("avg_len"))
    )
    return out.select(
        "conv_id", _epoch(F.col("w.start")).alias("win_start"),
        "n_turns", "avg_len",
    )


def q_frame_vector(spark, sf_dir):
    """cFramer: trailing 3-frame window materialized per row (as an
    int-joined string so the value hash is engine-stable)."""
    from opensmile_spark.operators import frame_vector

    d = frame_vector(_lld(spark, sf_dir), "char_len", 3)
    return d.select(
        "conv_id", "turn_idx",
        F.array_join(
            F.transform("char_len_frame", lambda v: v.cast("int").cast("string")),
            ",",
        ).alias("frame3"),
    )


def q_salted_sma_equivalence(spark, sf_dir):
    """Skew path: sma3 computed inside overlap-salted buckets (max 20 rows
    per bucket, 1-row boundary overlap) must equal the plain per-conv sma3 —
    the oracle IS the unsalted formula, so this gate proves the
    salt-and-stitch windows are exact. Round-5 re-pack: the per-conv
    salted_partial_stats columns (one groupBy: Spark's map-side partials
    merged once per key) join in on conv_id, so both skew disciplines
    ride one driver-window gate."""
    from opensmile_spark.operators import overlap_salt, sma

    lld = _lld(spark, sf_dir)
    salted = overlap_salt(lld, max_rows=20, pre=1, post=1)
    smoothed = sma(salted, ["char_len"], 3,
                   partition_cols=("conv_id", "salt_bucket"))
    out = smoothed.filter(F.col("is_owner")).select(
        "conv_id", "turn_idx",
        F.round("char_len_sma3", 6).alias("char_len_sma3"),
    )
    return out.join(q_salted_stats(spark, sf_dir), "conv_id")


# ---- documents / embeddings: training-data pipeline ----------------------

def q_text_metrics(spark, sf_dir):
    """Per-document text-analysis bank in one gate: token counting (ws +
    word-regex), quality scoring (punct/stopword/token-length ratios),
    n-gram language ID, md5 + min-shingle fingerprints, and Gopher-style
    repetition signals (top-2/3-gram char fraction, duplicated-2-gram
    ratio) — five operators over the same doc_id grain, all pure column
    expressions."""
    from opensmile_spark.text import (fingerprint, lang_id, quality_score,
                                      repetition_metrics, token_count)

    docs = _docs(spark, sf_dir)
    rep = repetition_metrics(docs, dup_k=2).select(
        "doc_id",
        F.round("top_2gram_frac", 6).alias("top_2gram_frac"),
        F.round("top_3gram_frac", 6).alias("top_3gram_frac"),
        F.round("dup_2gram_ratio", 6).alias("dup_2gram_ratio"),
    )
    tc = token_count(docs).select(
        "doc_id", "n_tokens_ws", "n_tokens_word", "n_tokens_bpe",
        "n_chars_engine")
    qs = quality_score(docs).select(
        "doc_id",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("quality", 6).alias("quality"),
    )
    li = lang_id(docs).select("doc_id", "lang_pred")
    fp = fingerprint(docs).select("doc_id", "doc_md5", "shingle_fp")
    return (tc.join(qs, "doc_id").join(li, "doc_id").join(fp, "doc_id")
            .join(rep, "doc_id"))


def q_exact_dedup(spark, sf_dir):
    """Prefix-key variant so the shared corpus (no verbatim dups) still
    exercises the hash-groupBy dedup path with non-empty output.
    Round-5 merge: CONVERSATION-grain structural dedup rides the same
    gate under path='conv' — conversations fingerprinted on their
    ordered role sequence (trajectory.conversation_fingerprints,
    cols=('role',)), duplicate interaction shapes grouped exactly like
    duplicate documents."""
    from opensmile_spark.dedup import exact_dedup
    from opensmile_spark.trajectory import conversation_fingerprints

    docs = _docs(spark, sf_dir)
    d = exact_dedup(docs, key=F.substring(F.col("text"), 1, 40)).select(
        F.lit("doc").alias("path"), "content_md5",
        F.col("survivor_id").cast("string").alias("survivor_id"),
        "n_dups")
    fp = conversation_fingerprints(
        _transcripts(spark, sf_dir), cols=("role",))
    c = (fp.groupBy(F.col("conv_fp").alias("content_md5"))
         .agg(F.min("conv_id").alias("survivor_id"),
              F.count("*").alias("n_dups"))
         .filter(F.col("n_dups") > 1)
         .select(F.lit("conv").alias("path"), "content_md5",
                 "survivor_id", "n_dups"))
    return d.unionByName(c)


def q_doc_signatures(spark, sf_dir):
    """Per-doc dedup signatures in one gate: the 8-hash MinHash signature
    (4 hashes per md5 digest) and the 32-bit SimHash — both oracle-twinned
    bit-for-bit."""
    from opensmile_spark.dedup import minhash_signatures, simhash

    docs = _docs(spark, sf_dir)
    mh = minhash_signatures(docs, n_hashes=8)
    sh = simhash(docs, bits=32)
    return mh.join(sh, "doc_id")


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash LSH banding candidate pairs + the n-gram Jaccard verify on
    each pair — the full candidate->verify near-dup path in one gate.
    Round-5 re-pack: the MOSS winnowing near-dup pairs (shared-fingerprint
    counting, the positional-overlap complement of banding) ride the same
    gate under path='winnow' — both are (id_a, id_b) candidate banks."""
    from opensmile_spark.dedup import minhash_lsh_pairs, ngram_jaccard

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs, n_hashes=8, bands=4)
    out = ngram_jaccard(docs, pairs)
    mh = out.select(F.lit("minhash").alias("path"), "id_a", "id_b",
                    F.round("jaccard", 6).alias("score"))
    wp = q_winnow_pairs(spark, sf_dir).select(
        F.lit("winnow").alias("path"), "id_a", "id_b",
        F.col("n_shared_fp").cast("double").alias("score"))
    return mh.unionByName(wp)


def q_simhash_near_dups(spark, sf_dir):
    from opensmile_spark.dedup import simhash_near_dups

    return simhash_near_dups(_docs(spark, sf_dir), bits=32, max_hamming=2,
                             blocks=4)


def q_embedding_near_dups(spark, sf_dir):
    """Pins the exact cosine VERIFIER (method='brute', the test oracle)
    against DuckDB; the production path is LSH candidates + this same
    verifier (q_embedding_near_dups_lsh, rows-only — approximate recall by
    construction, >=0.95 on planted near-dups pinned in
    tests/test_similarity.py)."""
    from opensmile_spark.dedup import embedding_near_dups

    out = embedding_near_dups(_emb(spark, sf_dir), threshold=0.25,
                              method="brute")
    return out.select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))


def q_embedding_near_dups_lsh(spark, sf_dir):
    """Production near-dup path: single-scan multi-table LSH candidates +
    exact cosine verify — no crossJoin in the plan (rows-only: recall < 1
    by construction at this low threshold)."""
    from opensmile_spark.dedup import embedding_near_dups

    out = embedding_near_dups(_emb(spark, sf_dir), threshold=0.25,
                              method="lsh", dim=64, bits=6, tables=16)
    return out.select("id_a", "id_b", F.round("cosine", 5).alias("cosine"))


def q_cosine_topk(spark, sf_dir):
    """Bank of the EXACT retrieval paths (round-4 join, round-4b adds
    lexical): `cosine_topk` (broadcast small-query contract, 5 queries x
    k=10), `knn_join` (block nested-loop bulk join, the WHOLE corpus as
    the query set x k=3) — both hash-checked against the same all-pairs
    window oracle — and `bm25_topk` (Okapi BM25 lexical top-10, postings
    index + broadcast query terms) as a third `path`, so all three
    retrieval disciplines land in one driver-window gate."""
    from opensmile_spark.lm import bm25_index, bm25_search
    from opensmile_spark.similarity import cosine_topk, knn_join

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    small = (cosine_topk(emb, queries, k=10)
             .select(F.lit("broadcast").alias("path"),
                     "query_id", "item_id", "rank",
                     F.round("cosine", 5).alias("score")))
    bulk = (knn_join(emb, emb, k=3, query_blocks=4)
            .select(F.lit("bulk").alias("path"),
                    "query_id", "item_id", "rank",
                    F.round("cosine", 5).alias("score")))
    bm_queries = spark.createDataFrame(
        [(0, "spark window join"), (1, "hash merge batch"),
         (2, "customer query order")],
        "query_id long, text string")
    bm = (bm25_search(bm25_index(_docs(spark, sf_dir)), bm_queries, k=10)
          .select(F.lit("bm25").alias("path"),
                  "query_id", F.col("doc_id").alias("item_id"),
                  F.col("rank").cast("int").alias("rank"),
                  F.col("score")))
    return small.unionByName(bulk).unionByName(bm)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN path (KMeans coarse quantizer + probed-cell exact rescoring)
    — approximate by construction; rows-only driver check (recall vs the
    exact path asserted in tests/)."""
    from opensmile_spark.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries, k=10, n_centroids=8, n_probe=4)
    return out.select("query_id", "item_id", "rank",
                      F.round("cosine", 5).alias("cosine"))


def q_quantize_embeddings(spark, sf_dir):
    """Bank (round-4 join): int8 embedding quantization + SemDeDup
    per-doc decisions (opensmile_spark/semdedup.py, Abbas et al. 2023)
    joined on vec_id. The gate pins the semdedup DATA PATH (normalized
    assignment to broadcast centroids, priority order, upper-triangular
    max-prior-sim prune) against a full pairwise SQL twin; centroids are
    the normalized embeddings of vec_id < 8 so the oracle can derive the
    IDENTICAL centroids in SQL — the k-means fit itself is pinned by
    tests/test_semdedup.py (deterministic, partitioning-invariant)."""
    import numpy as np

    from opensmile_spark.semdedup import semdedup
    from opensmile_spark.similarity import quantize_embeddings

    emb = _emb(spark, sf_dir)
    seeds = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    C = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in seeds])
    C = C / np.maximum(np.sqrt((C * C).sum(axis=1, keepdims=True)), 1e-12)
    sd = semdedup(emb, threshold=0.25, centroids=C)
    q = quantize_embeddings(emb).select(
        "vec_id",
        F.round("q8_scale", 6).alias("q8_scale"),
        *[F.element_at("embedding_q8", i + 1).alias(f"q_{i}")
          for i in (0, 31, 63)],
    )
    return q.join(
        sd.select("vec_id", "cell",
                  F.round("sim_centroid", 5).alias("sim_centroid"),
                  F.round("max_prior_sim", 5).alias("max_prior_sim"),
                  "keep"),
        "vec_id")


def q_ann_lsh_topk(spark, sf_dir):
    """ANN path — approximate by construction; rows-only driver check
    (recall vs the exact path is asserted in tests/)."""
    from opensmile_spark.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(emb, queries, dim=64, k=10, bits=4, tables=8)
    return out.select("query_id", "item_id", "rank",
                      F.round("cosine", 5).alias("cosine"))


def q_token_spectrum(spark, sf_dir):
    """cMelspec/cSpectral analogue: hash-bucketed token spectrum +
    distribution statistics, all built-in array exprs."""
    from opensmile_spark.spectral import spectral_stats, token_spectrum

    out = spectral_stats(token_spectrum(_docs(spark, sf_dir)))
    return out.select(
        "doc_id",
        F.round("spec_entropy", 6).alias("spec_entropy"),
        F.round("spec_centroid", 6).alias("spec_centroid"),
        F.round("spec_flatness", 6).alias("spec_flatness"),
        "spec_rolloff",
        F.round("spec_energy", 6).alias("spec_energy"),
    )


def q_viterbi_smooth(spark, sf_dir):
    """cPitchSmootherViterbi analogue — sequential per-conv DP,
    oracle-checked: the SQL twin replays the 8-level trellis via a
    path-carrying recursive CTE (see _viterbi_oracle)."""
    from opensmile_spark.operators.viterbi import viterbi_smooth_df

    out = viterbi_smooth_df(_lld(spark, sf_dir), "char_len", n_levels=8,
                            jump_cost=2.0)
    return out.select("conv_id", "turn_idx",
                      F.round("char_len_vit", 6).alias("char_len_vit"))


def q_egemaps_bundle(spark, sf_dir):
    """Named preset bundles in ONE driver-window gate (round-5 re-pack):
    the eGeMAPS-style bundle (config/egemaps/v02 analogue, full replica
    oracle incl. the unrestricted peaks2 slope automaton) joined with the
    emo_large-style 40-col probe (config/misc/emo_large.conf analogue)
    at their shared (conv_id, session_id) grain — emo columns carry an
    emo_ prefix so the two channel banks never collide."""
    from opensmile_spark.presets import egemaps_style

    out = egemaps_style(_transcripts(spark, sf_dir),
                        gap_seconds=SESSION_GAP_S)
    cols = [c for c in out.columns]

    def _round6(col):
        # Sign-preserving ROUND twin (r6, the r5 hash-red root cause):
        # Spark's round() routes through BigDecimal, which cannot represent
        # -0.0, so a tiny negative (e.g. a -1.7e-18 falling-slope mean)
        # rounds to +0.0 while DuckDB's ROUND keeps the sign bit and yields
        # -0.0 — equal under ==, different under the driver's byte hash.
        # Rounding the magnitude and re-applying the sign reproduces
        # DuckDB bit-for-bit (both engines round halves away from zero);
        # nonzero outputs are untouched.
        # -0.0 detection without division (ANSI mode): Double.toString
        # keeps the sign, so CAST(-0.0 AS STRING) = '-0.0'
        neg = (col < 0) | ((col == 0)
                           & col.cast("string").startswith("-"))
        return F.when(neg, -F.round(-col, 6)).otherwise(F.round(col, 6))

    eg = out.select(*[
        _round6(F.col(f"`{c}`")).alias(c)
        if c not in ("conv_id", "session_id", "n_turns") else F.col(c)
        for c in cols
    ])
    em = q_emo_large(spark, sf_dir)
    em = em.select(
        "conv_id", "session_id",
        *[F.col(f"`{c}`").alias(f"emo_{c}")
          for c in em.columns if c not in ("conv_id", "session_id")])
    return eg.join(em, ["conv_id", "session_id"])


def q_peaks2_restricted(spark, sf_dir):
    """cFunctionalPeaks2 with absThresh pinned to -1e18 (every isBelowThresh
    false): the automaton reduces to strict local extrema + same-type-run
    collapse (argmax/argmin, first-on-ties) — fully SQL-expressible incl.
    the reference's pass-2 stddev quirk and EOF slopes. Exercises the
    peaks2 automaton + stats/slope passes end-to-end in the gate.

    Merged (round-3 consolidation): the LEGACY cFunctionalPeaks automaton
    (functionalPeaks.cpp:103-215, 0.11/0.09*range hysteresis) joins in as
    `char_len_lp_*` — its oracle twin replays the automaton step-for-step
    via a DuckDB recursive CTE, so the full UNRESTRICTED hysteresis state
    machine is oracle-checked (was rows-only)."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import round_sig

    lld = _lld(spark, sf_dir)
    out = functionals_kernel(
        lld, ["char_len"], ("conv_id",),
        families=["peaks2"],
        options={"peaks2": {"absThreshIn": -1e18}},
    )
    legacy = functionals_kernel(
        lld, ["char_len"], ("conv_id",), families=["peaks"],
    )
    lp_cols = ["numPeaks", "meanPeakDist", "peakMean", "peakMeanMeanDist",
               "peakDistStddev"]
    legacy = legacy.select(
        "conv_id",
        *[round_sig(F.col(f"`char_len_{c}`")).alias(f"char_len_lp_{c}")
          for c in lp_cols],
    )
    out = out.join(legacy, "conv_id")
    cols = ["numPeaks", "meanPeakDist", "peakDistStddev", "peakRangeAbs",
            "peakRangeRel", "peakMean", "peakMeanMeanDist", "ptpAmpMeanAbs",
            "ptpAmpStddevAbs", "minRangeAbs", "minMean", "minMeanMeanDist",
            "mtmAmpMeanAbs", "mtmAmpStddevAbs",
            "meanRisingSlope", "maxRisingSlope", "minRisingSlope",
            "stddevRisingSlope", "meanFallingSlope", "maxFallingSlope",
            "minFallingSlope", "stddevFallingSlope",
            "covRisingSlope", "covFallingSlope"]
    return out.select(
        "conv_id", "n_turns",
        *[round_sig(F.col(f"`char_len_{c}`")).alias(f"char_len_{c}")
          for c in cols],
        *[f"char_len_lp_{c}" for c in lp_cols],
    )


def q_mvn_pretrained(spark, sf_dir):
    """cVectorMVN with FROZEN pre-trained stats (vectorTransform.hpp:24-39
    UPDMETHOD_FIX): fit on even turns only, transform every turn via
    broadcast join — the feature-store train/serve split."""
    from opensmile_spark.operators import mvn_fit, mvn_transform

    lld = _lld(spark, sf_dir)
    stats = mvn_fit(lld.filter(F.col("turn_idx") % 2 == 0), ["char_len"])
    out = mvn_transform(lld, stats, ["char_len"])
    return out.select("conv_id", "turn_idx",
                      F.round("char_len_mvn", 6).alias("char_len_mvn"))


def q_egemaps_core(spark, sf_dir):
    """The SQL-expressible core of the eGeMAPS preset (amean/stddevNorm/
    percentiles/pctlrange over sma3-smoothed LLDs per session) — the
    oracle-checked complement of the rows-only egemaps_bundle (whose
    remaining columns are peaks2 slopes + segment stats, themselves gated
    by peaks2_restricted / functionals_segments)."""
    from opensmile_spark.presets import egemaps_style
    from opensmile_spark.util import round_sig

    out = egemaps_style(_transcripts(spark, sf_dir),
                        gap_seconds=SESSION_GAP_S)
    fns = ["amean", "stddevNorm", "percentile20.0", "percentile50.0",
           "percentile80.0", "pctlrange0-2"]
    cols = [f"{c}_sma3_{f}" for c in ("char_len", "reply_latency")
            for f in fns]
    return out.select(
        "conv_id", "session_id", "n_turns",
        *[round_sig(F.col(f"`{c}`")).alias(c) for c in cols],
    )


def q_compare_core(spark, sf_dir):
    """The SQL-expressible core of the ComParE-2016-style preset
    (config/compare16/ComParE_2016_core.func.conf.inc:31-331): quartiles,
    iqr, amean, stddev, and linear-regression coefficients per session over
    BOTH channel kinds the preset uses — an sma3-smoothed LLD and its
    delta2 channel. The oracle rebuilds the sma3+delta2 chain in SQL and
    aggregates with the kernel's two-pass centered variance."""
    from opensmile_spark.presets import compare_style
    from opensmile_spark.util import round_sig

    out = compare_style(_transcripts(spark, sf_dir),
                        gap_seconds=SESSION_GAP_S)
    fns = ["amean", "stddev", "quartile1", "quartile2", "quartile3",
           "iqr1-3", "linregc1", "linregc2"]
    cols = [f"{ch}_{f}" for ch in ("char_len_sma3", "char_len_sma3_de")
            for f in fns]
    return out.select(
        "conv_id", "session_id", "n_turns",
        *[round_sig(F.col(f"`{c}`")).alias(c) for c in cols],
    )


def q_lpc_modulation(spark, sf_dir):
    """cFunctionalLpc (Levinson-Durbin LP coefficients + gain,
    functionalLpc.cpp:20-22) and cFunctionalModulation (Hann-windowed
    contour modulation spectrum, functionalModulation.cpp:42-74) per
    conversation — fully oracle-checked: the twin unrolls the order-4
    Levinson recursion into CTE steps and replays the 64-point rFFT as a
    direct DFT (see _lpc_modulation_oracle); numeric parity additionally
    pinned in tests/test_kernels.py."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import round_sig

    out = functionals_kernel(
        _lld(spark, sf_dir), ["char_len"], ("conv_id",),
        families=["lpc", "modulation"],
    )
    cols = (["lpgain"] + [f"lpc{k}" for k in range(4)]
            + [f"modSpec{i}" for i in range(6)])
    return out.select(
        "conv_id", "n_turns",
        *[round_sig(F.col(f"char_len_{c}")).alias(f"char_len_{c}")
          for c in cols],
    )


def q_turn_detector(spark, sf_dir):
    """cTurnDetector hysteresis on the token_cnt 'energy': n_pre=2 to
    open, n_post=2 to close; per-row turn labels. Round-5 merge: the
    per-conversation agent-trajectory metrics (trajectory.py — tool-call
    volume/diversity, same-tool loop runs, role-protocol health, reply
    latency) join the turn-grain rows on conv_id, the same same-grain
    merge pattern as salted_stats. The base table's tool name is
    constant ('checkout'), so the gate derives a varied tool key
    tool || turn_idx % 3 identically on both sides to exercise the
    distinct-tool and run-length paths."""
    from opensmile_spark.operators import turn_detector
    from opensmile_spark.trajectory import trajectory_metrics

    out = turn_detector(_lld(spark, sf_dir), "token_cnt", threshold=6.0,
                        n_pre=2, n_post=2)
    t = _transcripts(spark, sf_dir).withColumn(
        "tool",
        F.concat(F.col("tool"), (F.col("turn_idx") % 3).cast("string")))
    traj = trajectory_metrics(t, loop_min=3)
    traj = traj.withColumn(
        "mean_reply_latency_s", F.round("mean_reply_latency_s", 6))
    from opensmile_spark.trajectory import turn_novelty

    nov = turn_novelty(t).select(
        "conv_id", "turn_idx", F.round("novelty", 6).alias("novelty"))
    return out.select("conv_id", "turn_idx", "turn_id").join(
        traj, "conv_id").join(nov, ["conv_id", "turn_idx"])


def q_median_smooth(spark, sf_dir):
    """cPitchSmoother-style median filter (win=5, centered, shrinking
    edges) — interpolated median == DuckDB windowed quantile_cont 0.5."""
    from opensmile_spark.operators import median_smooth

    out = median_smooth(_lld(spark, sf_dir), ["char_len"], 5)
    return out.select("conv_id", "turn_idx",
                      F.round("char_len_med5", 6).alias("char_len_med5"))


def q_windowed_hamming(spark, sf_dir):
    """cWindower as a recency-weighted trailing smoother (hamming, L=5) —
    weights transcribed from smileDsp_winHam; SQL twin embeds the exact
    same literal weights."""
    from opensmile_spark.operators import weighted_sma

    out = weighted_sma(_lld(spark, sf_dir), ["char_len"], 5, "hamming")
    return out.select("conv_id", "turn_idx",
                      F.round("char_len_wham5", 6).alias("char_len_wham5"))


def q_contour_direction(spark, sf_dir):
    """cPitchDirection analogue: short/long trailing means with the
    zero-filled-ring-buffer division quirk and pow(+-1.01) thresholds."""
    from opensmile_spark.operators import contour_direction

    out = contour_direction(_lld(spark, sf_dir), "char_len",
                            st_frames=3, lt_frames=10)
    return out.select(
        "conv_id", "turn_idx", "char_len_direction",
        F.round("char_len_dirscore", 6).alias("char_len_dirscore"),
    )


def q_plp_aud(spark, sf_dir):
    """cPlp auditory stages (equal-loudness weighting + 0.33 compression)
    over the token spectrum — three probe buckets oracle-checked."""
    from opensmile_spark.spectral import plp_style, token_spectrum

    out = plp_style(token_spectrum(_docs(spark, sf_dir)))
    return out.select(
        "doc_id",
        *[F.round(F.element_at("spec_aud", b + 1), 6).alias(f"aud_b{b}")
          for b in (0, 7, 15)],
    )


def q_harmonics(spark, sf_dir):
    """cHarmonics analogue: fundamental bucket + log-relative harmonic
    magnitudes (clamps/markers per harmonics.cpp:550-588)."""
    from opensmile_spark.spectral import harmonics_style, token_spectrum

    out = harmonics_style(token_spectrum(_docs(spark, sf_dir)))
    return out.select(
        "doc_id", "f0_bucket",
        F.round("harmMagRelF0dB_2", 6).alias("harmMagRelF0dB_2"),
        F.round("harmMagRelF0dB_3", 6).alias("harmMagRelF0dB_3"),
    )


def q_meta_segments(spark, sf_dir):
    """frameMode=meta: segment LLDs at changes of the carried role ID,
    one stats row per (conv, run-of-equal-role)."""
    from opensmile_spark.operators import segment_by_meta

    t = _transcripts(spark, sf_dir)
    lld = _lld(spark, sf_dir).join(
        t.select("conv_id", "turn_idx", "role"), ["conv_id", "turn_idx"])
    seg = segment_by_meta(lld, "role")
    return (
        seg.groupBy("conv_id", "meta_seg")
        .agg(F.count("*").alias("n_turns"),
             F.round(F.avg("char_len"), 6).alias("char_len_amean"))
    )


def q_mono_mixdown(spark, sf_dir):
    """cMonoMixdown: channel average (char_len, token_cnt)."""
    from opensmile_spark.operators.vector_ops import mono_mixdown

    out = mono_mixdown(_lld(spark, sf_dir), ["char_len", "token_cnt"])
    return out.select("conv_id", "turn_idx",
                      F.round("mix", 6).alias("mix"))


def q_overlap_add(spark, sf_dir):
    """cVecToWinProcessor: frames (length 3, hop 1 at turn_idx positions)
    overlap-added back to a per-position gain-normalised series — the
    resynthesis round trip, explode + groupBy, no Python."""
    from opensmile_spark.operators import frame_vector
    from opensmile_spark.operators.vec_to_win import overlap_add

    lld = _lld(spark, sf_dir)
    framed = frame_vector(lld, "char_len", 3).withColumn(
        # trailing frame [t-2, t] starts at position t-2 (clamped head
        # frames are shorter and start where their first element sits)
        "frame_start",
        F.greatest(F.col("turn_idx") - 2, F.lit(0)),
    )
    out = overlap_add(framed, "char_len_frame")
    return out.select("conv_id", "pos",
                      F.round("value", 6).alias("value"))


def q_vector_ops_ext(spark, sf_dir):
    """cVectorOperation extended surface: frequency-scale conversions
    (fconv_mel/bark/oct) on a scalar column + array reduces (sum/ssm/ll1/
    ll2) over the token-spectrum vector."""
    from opensmile_spark.operators.vector_ops import vector_op, vector_reduce
    from opensmile_spark.spectral import token_spectrum

    d = _docs(spark, sf_dir)
    d = d.withColumn("n_chars", F.length("text").cast("double"))
    for op in ("fconv_mel", "fconv_bark", "fconv_oct", "dBp", "dBv"):
        d = vector_op(d, "n_chars", op)
    d = token_spectrum(d)
    for op in ("sum", "ssm", "ll1", "ll2"):
        d = vector_reduce(d, "spec", op)
    return d.select(
        "doc_id",
        *[F.round(f"n_chars_{op}", 6).alias(f"n_chars_{op}")
          for op in ("fconv_mel", "fconv_bark", "fconv_oct", "dBp", "dBv")],
        *[F.round(f"spec_{op}", 6).alias(f"spec_{op}")
          for op in ("sum", "ssm", "ll1", "ll2")],
    )


def q_functionals_acf_amdf(spark, sf_dir):
    """cAcf/cAmdf analogues per conversation: normalized autocorrelation
    r[k]/r[0] and AMDF (computeAMDF LIMIT method, amdf.cpp:134-151)."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import round_sig

    out = functionals_kernel(
        _lld(spark, sf_dir), ["char_len"], ("conv_id",),
        families=["acf", "amdf"],
        options={"acf": {"max_lag": 3}, "amdf": {"max_lag": 3}},
    )
    cols = [f"acf{k}" for k in range(4)] + [f"amdf{j}" for j in range(4)]
    return out.select(
        "conv_id", "n_turns",
        *[round_sig(F.col(f"char_len_{c}")).alias(f"char_len_{c}")
          for c in cols],
    )


def q_dedup_components(spark, sf_dir):
    """Near-dup clusters: connected components (large-star/small-star) of
    the simhash near-dup pair graph — every clustered doc labeled with its
    component's min id (the survivor). Oracle: recursive-CTE transitive
    min in DuckDB."""
    from opensmile_spark.dedup import connected_components, simhash_near_dups

    pairs = simhash_near_dups(_docs(spark, sf_dir), max_hamming=2)
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component")


def q_spectral_moments(spark, sf_dir):
    """cSpectral completion: distribution moments, slope, alpha ratio,
    Hammarberg index over the token spectrum."""
    from opensmile_spark.spectral import spectral_moments, token_spectrum
    from opensmile_spark.util import round_sig

    out = spectral_moments(token_spectrum(_docs(spark, sf_dir)))
    cols = ["spec_variance", "spec_skewness", "spec_kurtosis", "spec_slope",
            "spec_alpha_ratio", "spec_hammarberg"]
    return out.select("doc_id",
                      *[round_sig(F.col(c)).alias(c) for c in cols])


def q_spec_scale(spark, sf_dir):
    """cSpecScale: log-axis warp of the token spectrum (3 probe bins)."""
    from opensmile_spark.spectral import spec_scale, token_spectrum

    out = spec_scale(token_spectrum(_docs(spark, sf_dir)), n_out=8)
    return out.select(
        "doc_id",
        *[F.round(F.element_at("spec_log", b + 1), 6).alias(f"log_b{b}")
          for b in (0, 3, 7)],
    )


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) fingerprints: min 32-bit shingle hash per sliding
    window, distinct per doc — positional dedup primitive."""
    from opensmile_spark.text import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


def q_functionals_qreg(spark, sf_dir):
    """Quadratic regression: coefficients, normalised errors, and the
    parabola extras (vertex, endpoint, partial slopes) per session —
    closed-form SQL twin of the S1..S4 normal equations."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import round_sig

    out = functionals_kernel(
        _lld_sessions(spark, sf_dir), ["char_len"],
        ("conv_id", "session_id"), families=["regression"],
        options={"regression": {"qregExtras": True}},
    )
    cols = ["qregc1", "qregc2", "qregc3", "qregerrA", "qregerrQ",
            "centroid", "qregls", "qregrs", "qregx0", "qregy0", "qregyr"]
    return out.select(
        "conv_id", "session_id", "n_turns",
        *[round_sig(F.col(f"char_len_{c}")).alias(f"char_len_{c}")
          for c in cols],
    )


def q_emo_large(spark, sf_dir):
    """emo_large-style preset (config/misc/emo_large.conf): 11 families
    over sma3+delta channels of 5 LLDs per session — rows-only (includes
    the legacy peaks hysteresis automaton; component formulas are
    oracle-gated individually)."""
    from opensmile_spark.presets import emo_large_style
    from opensmile_spark.util import round_sig

    out = emo_large_style(_transcripts(spark, sf_dir),
                          gap_seconds=SESSION_GAP_S)
    keep = out.columns[:40]  # stable probe subset of the ~550-col bank

    def _proj(c):
        if c in ("conv_id", "session_id", "n_turns"):
            return F.col(c)
        # 3rd/4th-power moments amplify summation-order ulps across
        # engines; 5 sig digits keeps them off rounding boundaries
        sig = 5 if c.endswith(("skewness", "kurtosis")) else 6
        return round_sig(F.col(f"`{c}`"), sig).alias(c)

    return out.select(*[_proj(c) for c in keep])


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing >= 2 distinct 3-gram
    shingles with the benchmark set (every doc_id % 7 == 0 doc plays the
    benchmark). Corpus scans once; benchmark shingle set broadcasts.
    Past the driver's 50-entry window, but fully oracle-checked by
    tools/check_correctness.py (same compare)."""
    from opensmile_spark.dedup import ngram_decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    return ngram_decontaminate(docs, bench, k_shingle=3, min_overlap=2)


def q_io_roundtrip(spark, sf_dir):
    """cCsvSink -> cCsvSource roundtrip exercising the full §2.1 option
    set in one gate: ';' delimiter, header, per-bucket `lag` delayed
    emission, frameIndex column, and source-side 0-based line range.
    The docs table (bucket = doc_id % 10, n_chars) is written as ONE
    deterministically-sorted csv file, re-read with start=5/end=454, and
    compared to pure window SQL over the same parquet — the oracle never
    touches the file, so evaluation order is irrelevant. Past the
    driver's 50-entry window; oracle-checked by the replica."""
    import tempfile

    from opensmile_spark.io import csv_sink, csv_source

    docs = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 10).alias("bucket"),
        "doc_id", F.length("text").alias("n_chars"))
    path = tempfile.mkdtemp(prefix="osk_gate_csv_")
    csv_sink(
        docs, path, header=True, lag=2, add_index=True,
        partition_cols=("bucket",), order_col="doc_id", delimiter=";",
        single_file_order=("bucket", "doc_id"))
    back = csv_source(spark, path, delimiter=";", header="auto",
                      start=5, end=454)
    return back.select("bucket", "doc_id", "n_chars", "frameIndex")


def q_lsp(spark, sf_dir):
    """cLsp analogue (line spectral pairs of the order-4 LPC polynomial)
    — oracle-checked via the classic closed form: the palindromic P and
    antipalindromic Q factor out (1±z^-1), leaving symmetric quartics
    that are QUADRATICS in u = 2*cos(w); the kernel's np.roots
    eigensolve and the closed form agree to ~1e-14 relative (measured),
    eight orders inside the gate rounding. Driver-recorded inside the
    window via the `lpc_modulation` bank (round-4 merge)."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import round_sig

    out = functionals_kernel(
        _lld(spark, sf_dir), ["char_len"], ("conv_id",), families=["lsp"],
    )
    return out.select(
        "conv_id", "n_turns",
        *[round_sig(F.col(f"char_len_lsp{i}")).alias(f"char_len_lsp{i}")
          for i in range(4)],
    )


def q_redact(spark, sf_dir):
    """PII redaction gate: the synthetic corpus carries no PII, so the
    gate plants deterministic fake email/IP/phone strings derived from
    doc_id, then checks the full scrub chain (sequential pattern order,
    per-doc counts, redacted text) against the identical SQL chain.
    Driver-recorded inside the window via the `text_metrics` bank
    (round-4 merge)."""
    from opensmile_spark.text import redact

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com from 10.0.0."), F.col("doc_id") % 256,
            F.lit(" call +1 555 0123 456")))
    out = redact(docs)
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone",
                      "text_redacted")


def q_corpus_stats(spark, sf_dir):
    """Per-stratum corpus statistics for mixture planning (docs, tokens,
    EXACT vocabulary, mean doc length) — strata = doc_id % 10. The exact
    count_distinct variant is oracle-checked; the HLL (approx_rsd) scale
    variant is pinned by a relative-error pytest. Past the driver
    window; oracle-checked by the replica."""
    from opensmile_spark.text import corpus_stats

    out = corpus_stats(_docs(spark, sf_dir),
                       strata_col=(F.col("doc_id") % 10))
    return out.select(
        "stratum", "n_docs", "n_tokens", "n_vocab",
        F.round("mean_doc_tokens", 6).alias("mean_doc_tokens"))


def q_formants(spark, sf_dir):
    """cFormantLpc analogue: formant frequencies/bandwidths from the
    order-6 LPC polynomial roots. Rows-only BY CONSTRUCTION: a sextic
    has no closed-form roots (Abel-Ruffini), so no SQL twin can exist —
    np.roots parity is pinned in pytest; this entry puts the family
    under the driver's rows/schema check like every other kernel."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.util import round_sig

    out = functionals_kernel(
        _lld(spark, sf_dir), ["char_len"], ("conv_id",),
        families=["formants"],
    )
    cols = [f"formant{k}{i}" for k in ("Freq", "Bw") for i in (1, 2, 3)]
    return out.select(
        "conv_id", "n_turns",
        *[round_sig(F.col(f"char_len_{c}")).alias(f"char_len_{c}")
          for c in cols],
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic domain-mixing sample: docs bucketed by token count
    (short/mid/long), kept at literal per-stratum rates 1.0/0.5/0.25 via
    the portable md5-hash rule — every keep/drop decision replays
    bit-identically in the DuckDB twin. Past the driver's 50-entry
    window, but fully oracle-checked by tools/check_correctness.py."""
    from opensmile_spark.sampling import stratified_sample
    from opensmile_spark.text import token_count

    docs = token_count(_docs(spark, sf_dir))
    docs = docs.withColumn(
        "stratum",
        F.when(F.col("n_tokens_ws") < 45, "short")
         .when(F.col("n_tokens_ws") < 60, "mid")
         .otherwise("long"))
    out = stratified_sample(
        docs, "stratum", {"short": 1.0, "mid": 0.5, "long": 0.25},
        key_col="doc_id", seed=7)
    # round-5 merge: leakage-safe train/val/test assignment (every key in
    # exactly one split, md5-deterministic) rides the same doc grain
    from opensmile_spark.sampling import assign_splits

    out = assign_splits(out, {"train": 0.8, "val": 0.1, "test": 0.1},
                        key_col="doc_id", seed=11)
    return out.select("doc_id", "stratum", "split")


def q_chunk_documents(spark, sf_dir):
    """Context-window chunking: every doc split into overlapping 32-token
    windows (stride 24) — the cFramer frameSize/frameStep analogue over
    whitespace tokens (framer.cpp:24-38). Pure narrow explode, no shuffle.
    Past the driver's 50-entry window; oracle-checked by the replica."""
    from opensmile_spark.packing import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), max_tokens=32, overlap=8)


def q_pack_concat(spark, sf_dir):
    """GPT-style concat-then-split sequence packing at budget 256 within
    each source (deterministic doc_id order): per (doc, pack) slice spans
    [tok_begin, tok_end) plus the in-pack offset. One cumsum window per
    group + bounded span explode."""
    from opensmile_spark.packing import pack_concat
    from opensmile_spark.text import token_count

    docs = token_count(_docs(spark, sf_dir))
    return pack_concat(docs, budget=256, group_cols=["source"])


def q_pack_greedy(spark, sf_dir):
    """First-fit no-split packing at budget 256 per source: sequential
    greedy walk in doc_id order (applyInPandas per group). Oracle replays
    the walk as a recursive CTE stepping one doc per iteration."""
    from opensmile_spark.packing import pack_greedy
    from opensmile_spark.text import token_count

    docs = token_count(_docs(spark, sf_dir))
    return pack_greedy(docs, budget=256, group_cols=("source",))


def q_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle: seeded md5 shard + dense in-shard
    position (total order; rerun- and partitioning-independent) — the
    reproducible corpus permutation a training reader consumes."""
    from opensmile_spark.packing import deterministic_shuffle

    return deterministic_shuffle(
        _docs(spark, sf_dir), n_shards=8, seed=11
    ).select("doc_id", "shard", "shuffle_pos")


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ fusion (coarse cells + residual PQ/ADC + exact re-rank) —
    the canonical billion-scale ANN layout. Approximate by construction;
    rows-only driver check, recall pinned in tests/test_similarity.py."""
    from opensmile_spark.similarity import ivfpq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivfpq_topk(emb, queries, k=10, n_centroids=8, n_probe=4,
                     m=8, n_codes=32, rescore_factor=4)
    return out.select("query_id", "item_id", "rank",
                      F.round("cosine", 5).alias("cosine"))


def q_winnow_pairs(spark, sf_dir):
    """MOSS near-dup pairs from shared winnowing fingerprints — the
    positional-overlap complement of MinHash banding. Tail entry
    (window full); fully oracle-checked by the replica."""
    from opensmile_spark.text import winnow_near_dups

    return winnow_near_dups(_docs(spark, sf_dir), min_shared=3)


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jegou et al. 2011): sample-fit per-
    subspace codebooks, m-byte codes, ADC table-lookup scoring, exact
    cosine re-rank of the candidate set. Approximate by construction —
    rows-only driver check; recall >= 0.8 vs the exact path is pinned in
    tests/test_similarity.py."""
    from opensmile_spark.similarity import pq_topk

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    out = pq_topk(emb, queries, k=10, m=8, n_codes=32, rescore_factor=4)
    return out.select("query_id", "item_id", "rank",
                      F.round("cosine", 5).alias("cosine"))


def q_incremental_dedup(spark, sf_dir):
    """Cross-snapshot incremental dedup (opensmile_spark/incremental.py):
    history = docs with doc_id % 20 < 10 reduced to a fingerprint store;
    the 'new snapshot' is the other half with deterministically planted
    overlaps (doc_id % 20 == 19 -> previous doc's text = within-batch
    dup; doc_id % 6 == 0 -> text of doc_id-10 = seen-in-history). One
    fp-key join against the store, md5_64 portable fingerprints.
    In-window gate with a FULL oracle (round-4b re-pack)."""
    from opensmile_spark.incremental import (build_fingerprint_store,
                                             incremental_dedup)

    docs = _docs(spark, sf_dir)
    hist = docs.filter(F.col("doc_id") % 20 < 10)
    src = F.when(F.col("doc_id") % 20 == 19, F.col("doc_id") - 1) \
        .when(F.col("doc_id") % 6 == 0, F.col("doc_id") - 10) \
        .otherwise(F.col("doc_id"))
    new = (docs.filter(F.col("doc_id") % 20 >= 10)
           .select("doc_id", src.alias("__src")))
    new = (new.join(docs.select(F.col("doc_id").alias("__src"), "text"),
                    "__src")
           .select("doc_id", "text"))
    store = build_fingerprint_store(hist, method="md5_64")
    dec = incremental_dedup(new, store, method="md5_64")
    return dec.select("doc_id", "fp", "batch_dup", "seen", "keep")


def q_span_dedup(spark, sf_dir):
    """Duplicate-SPAN dedup (ExactSubstr, Lee et al. ACL'22 — the
    substring-level recipe doc-level dedup misses): every token span whose
    k-gram windows all repeat corpus-wide is found, merged to maximal
    ranges, and cut from the text. opensmile_spark/spandedup.py — 3
    linear shuffles (gram-count, hit join, per-doc merge), no pairs.
    Driver-checked inside the window as part of the text_metrics bank
    (round-4b re-pack)."""
    from opensmile_spark.spandedup import span_dedup

    out = span_dedup(_docs(spark, sf_dir), k=4, min_count=2)
    return out.select(
        "doc_id", "n_tokens", "n_dup_spans", "dup_tokens",
        F.round("dup_ratio", 6).alias("dup_ratio"), "clean_text")


def q_charlm_ppl(spark, sf_dir):
    """CCNet-style perplexity filter (Wenzek et al. LREC'20 recipe shape,
    char-bigram model): fit additive-smoothed p(cur|prev) over the corpus
    (one shuffle, model <= |charset|^2 rows), score per doc via the
    broadcast-join plan. opensmile_spark/lm.py. Driver-checked inside
    the window as part of the text_metrics bank (round-4b re-pack)."""
    from opensmile_spark.lm import charlm_fit, charlm_perplexity

    docs = _docs(spark, sf_dir)
    model = charlm_fit(docs, alpha=0.1)
    out = charlm_perplexity(docs, model)
    return out.select(
        "doc_id", F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("ppl", 6).alias("ppl"))


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-k retrieval (Lucene idf variant) — the lexical
    complement of the embedding ANN stack: postings shuffle once on term,
    query terms broadcast, doc length denormalized into the postings so
    search does zero corpus-side joins. opensmile_spark/lm.py.
    Driver-checked inside the window as the bm25 path of the cosine_topk
    retrieval bank (round-4b re-pack)."""
    from opensmile_spark.lm import bm25_index, bm25_search

    docs = _docs(spark, sf_dir)
    queries = spark.createDataFrame(
        [(0, "spark window join"), (1, "hash merge batch"),
         (2, "customer query order")],
        "query_id long, text string")
    out = bm25_search(bm25_index(docs), queries, k=10)
    return out.select("query_id", "doc_id", "score",
                      F.col("rank").cast("int").alias("rank"))


def q_line_dedup(spark, sf_dir):
    """Line-level exact dedup (CCNet/RefinedWeb repeated-line filter —
    the layer between doc-level and span-level dedup): lines found in
    >= min_docs DISTINCT documents are corpus boilerplate and every
    occurrence is cut. documents.text has no newlines, so the gate
    synthesizes multi-line pages deterministically (shared menu header
    keyed by doc_id % 7, shared copyright footer on even docs keyed by
    doc_id % 3, the unique body between) and strips exactly those.
    opensmile_spark/linededup.py — 3 linear shuffles, no pairwise work.
    Driver-checked inside the window as part of the text_metrics bank
    (round-4b re-pack)."""
    from opensmile_spark.linededup import line_dedup

    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("menu "), (F.col("doc_id") % 7).cast("string"),
            F.lit("\n"), F.col("text"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.concat(F.lit("\ncopyright "),
                            (F.col("doc_id") % 3).cast("string")))
            .otherwise(F.lit(""))).alias("text"))
    return line_dedup(pages, min_docs=2).select(
        "doc_id", "n_lines", "n_removed", "dup_ratio", "clean_text")


def q_bpe_tokens(spark, sf_dir):
    """Distributed BPE tokenizer trained on the corpus word histogram
    (one shuffle + bounded top-K collect), then map-only subword
    encoding with broadcast merge ranks (opensmile_spark/bpe.py).
    Rows-only BY CONSTRUCTION: the iterative merge loop (Sennrich et
    al. ACL'16) has no SQL twin — parity is pinned by tests/test_bpe.py
    (explicit merge-order pins, roundtrip, prefix property,
    repartition-invariant training)."""
    from opensmile_spark.bpe import bpe_encode, bpe_train

    docs = _docs(spark, sf_dir)
    model = bpe_train(docs, n_merges=100, min_count=2)
    out = bpe_encode(docs, model)
    return out.select(
        "doc_id", "n_bpe_tokens",
        F.array_join(F.slice("bpe_tokens", 1, 8), "|").alias("head_tokens"))


def bpe_oracle_sql(merges) -> str:
    """Pinned-model ENCODE twin of q_bpe_tokens (r4 verdict task 2): given
    the frozen merge list (the deterministic training artifact — order
    pinned separately by tests/test_bpe.py), replay the greedy
    lowest-rank-leftmost merge loop (Sennrich ACL'16 apply step;
    bpe._encode_word) per distinct pretoken as a DuckDB recursive CTE,
    then reassemble per-doc token streams by position. The merge table
    rides as a MAP literal; tools/check_correctness.py trains the model
    on the current sf_dir and formats it in (training itself is the one
    genuinely non-SQL step — bounded driver loop, no twin)."""
    from opensmile_spark.text import BPE_ISH_PATTERN

    def esc(s: str) -> str:
        return s.replace("'", "''")

    keys = ", ".join(f"'{esc(a)}' || chr(31) || '{esc(b)}'"
                     for a, b in merges)
    vals = ", ".join(str(i) for i in range(len(merges)))
    pat = esc(BPE_ISH_PATTERN)
    return f"""
WITH RECURSIVE mgc AS (
  SELECT MAP([{keys}], [{vals}]) AS mg
), docs0 AS (
  SELECT doc_id, regexp_extract_all(text, '{pat}', 0) AS toklist
  FROM documents
), wrd AS (
  SELECT DISTINCT word FROM (SELECT unnest(toklist) AS word FROM docs0)
), enc AS (
  SELECT word,
         list_transform(range(1, length(word) + 1), i -> word[i]) AS syms,
         0 AS done
  FROM wrd
  UNION ALL
  SELECT word,
    CASE WHEN best_i IS NULL THEN syms
         ELSE list_concat(list_concat(
                syms[1:best_i - 1],
                [syms[best_i] || syms[best_i + 1]]),
                syms[best_i + 2:]) END,
    CASE WHEN best_i IS NULL THEN 1 ELSE 0 END
  FROM (
    SELECT word, syms,
      list_sort(list_filter(
        list_transform(range(1, CAST(len(syms) AS INT)), i ->
          struct_pack(rk := mg[syms[i] || chr(31) || syms[i + 1]][1],
                      i := i)),
        p -> p.rk IS NOT NULL))[1].i AS best_i
    FROM enc CROSS JOIN mgc WHERE done = 0
  )
), encf AS (
  SELECT word, syms FROM enc WHERE done = 1
), emap AS (
  SELECT map_from_entries(list(struct_pack(k := word, v := syms))) AS m
  FROM encf
), assembled AS (
  SELECT d.doc_id,
    flatten(list_transform(d.toklist, w -> m[w][1])) AS toks
  FROM docs0 d CROSS JOIN emap
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
  array_to_string(toks[1:8], '|') AS head_tokens
FROM assembled
"""


def q_pack_sequences(spark, sf_dir):
    """pack_sequences — materialized packed-id training sequences (the
    arrays pack_concat only plans): per-source concat of each doc's id
    array cut every 64 ids, assembled with JVM slice/sort/flatten over
    ONE extra (source, pack_id) shuffle (opensmile_spark/packing.py).
    Ids here are word lengths (SQL-expressible) so the WHOLE chain —
    cumsum spans, array slicing, pack assembly order, checksums — has a
    DuckDB twin; the BPE-id variant is the same plan with
    bpe_encode_ids upstream. In-window driver gate with a FULL oracle
    (round-4b re-pack)."""
    from opensmile_spark.packing import pack_sequences

    ids = F.transform(F.split(F.trim(F.col("text")), r"\s+"),
                      lambda w: F.length(w).cast("int"))
    df = _docs(spark, sf_dir).select("source", "doc_id", ids.alias("ids"))
    out = pack_sequences(df, budget=64, ids_col="ids",
                         group_cols=["source"])
    return out.select(
        "source", "pack_id", "n_docs", "n_ids",
        F.aggregate("input_ids", F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("ids_sum"),
        F.array_join(F.transform(F.slice("input_ids", 1, 16),
                                 lambda x: x.cast("string")),
                     ",").alias("head"))


def q_datagen(spark, sf_dir):
    """Deterministic synthetic corpus (rows-only: xxhash64 has no DuckDB
    twin). Demonstrates the generator the bench uses."""
    from opensmile_spark.datagen import generate_transcripts

    t = generate_transcripts(spark, n_convs=50, turns_per_conv=20,
                             mega_conv_factor=5)
    return t.select("conv_id", "turn_idx", "role", "text", "tool",
                    _epoch("ts").alias("ts_epoch"))


def q_audio_lld(spark, sf_dir):
    """Native audio chain end-to-end — cFramer -> cWindower ->
    cEnergy/cMZcr/cSpectral over executor-synthesized WAV payloads, then
    the SAME functionals_kernel that serves the transcript path (one
    functional vector per clip). Rows-only by construction: WAV decode +
    rfft have no DuckDB twin; per-frame values are pinned against a
    numpy-loop oracle in tests/test_audio_lld.py.
    Reference: framer.cpp:24-38, energy.cpp:36-44, mzcr.cpp:33-37,
    spectral.cpp:31-63."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.multimodal import (
        AUDIO_LLD_COLS, audio_lld_frames, synthetic_media,
    )

    media = (synthetic_media(spark, n=24, real_audio=True)
             .filter(F.col("kind") == "audio"))
    lld = audio_lld_frames(media)
    return functionals_kernel(
        lld, AUDIO_LLD_COLS, ("media_id",), order_col="frame_idx",
        families=["means", "moments", "extremes"],
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# oracle SQL twins (DuckDB dialect)
# ---------------------------------------------------------------------------

_ORACLES: dict[str, str] = {}

_ORACLES["incremental_dedup"] = """
WITH hist AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 20 < 10
), new_batch AS (
  SELECT n.doc_id, s.text
  FROM (SELECT doc_id,
          CASE WHEN doc_id % 20 = 19 THEN doc_id - 1
               WHEN doc_id % 6 = 0 THEN doc_id - 10
               ELSE doc_id END AS src
        FROM documents WHERE doc_id % 20 >= 10) n
  JOIN documents s ON s.doc_id = n.src
), store AS (
  SELECT DISTINCT CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp
  FROM hist
), fps AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS fp
  FROM new_batch
), flags AS (
  SELECT doc_id, fp,
    doc_id <> MIN(doc_id) OVER (PARTITION BY fp) AS batch_dup,
    fp IN (SELECT fp FROM store) AS seen
  FROM fps
)
SELECT doc_id, fp, batch_dup, seen,
       (NOT batch_dup AND NOT seen) AS keep
FROM flags
"""

_ORACLES["span_dedup"] = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i : i + 3], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 3)) AS u(i)
  WHERE len(t) >= 4
), dup AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2
), hits AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)
), brk AS (
  SELECT doc_id, pos,
    CASE WHEN max(pos + 4) OVER w IS NULL OR pos > max(pos + 4) OVER w
         THEN 1 ELSE 0 END AS b
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), grp AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM brk
), spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e
  FROM grp GROUP BY doc_id, g
), per_doc AS (
  SELECT doc_id,
         list({'s': s, 'e': e} ORDER BY s) AS spans,
         sum(e - s) AS dup_tokens,
         count(*) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(len(d.t) AS INT) AS n_tokens,
  CAST(coalesce(p.n_spans, 0) AS INT) AS n_dup_spans,
  CAST(coalesce(p.dup_tokens, 0) AS INT) AS dup_tokens,
  round(CASE WHEN len(d.t) > 0
             THEN CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / len(d.t)
             ELSE 0.0 END, 6) AS dup_ratio,
  CASE WHEN p.doc_id IS NULL THEN array_to_string(d.t, ' ')
       ELSE coalesce(array_to_string(
         [d.t[i] FOR i IN generate_series(1, len(d.t))
          IF len(list_filter(p.spans,
                 sp -> sp.s <= i - 1 AND i - 1 < sp.e)) = 0], ' '), '')
  END AS clean_text
FROM toks d LEFT JOIN per_doc p USING (doc_id)
"""

_ORACLES["charlm_ppl"] = r"""
WITH t AS (
  SELECT doc_id, lower(text) AS s FROM documents
), pairs AS (
  SELECT doc_id, substr(s, i, 2) AS bg
  FROM t, UNNEST(generate_series(1, len(s) - 1)) AS u(i)
  WHERE len(s) >= 2
), bgc AS (
  SELECT bg, count(*) AS c FROM pairs GROUP BY bg
), pre AS (
  SELECT substr(bg, 1, 1) AS p, sum(c) AS pc FROM bgc GROUP BY 1
), v AS (
  SELECT count(DISTINCT substr(bg, 2, 1)) AS v FROM bgc
), scored AS (
  SELECT pa.doc_id,
         log2((b.c + 0.1) / (pr.pc + 0.1 * v.v)) AS logp
  FROM pairs pa
  JOIN bgc b USING (bg)
  JOIN pre pr ON substr(pa.bg, 1, 1) = pr.p
  CROSS JOIN v
), agg AS (
  SELECT doc_id, count(*) AS n_bigrams, -avg(logp) AS nll
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0) AS n_bigrams,
       round(pow(2, a.nll), 6) AS ppl
FROM t d LEFT JOIN agg a USING (doc_id)
"""

_ORACLES["bm25_topk"] = r"""
WITH q(query_id, text) AS (
  VALUES (CAST(0 AS BIGINT), 'spark window join'),
         (CAST(1 AS BIGINT), 'hash merge batch'),
         (CAST(2 AS BIGINT), 'customer query order')
), toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
), dl AS (
  SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks
), post AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks, UNNEST(t) AS u(term) GROUP BY doc_id, term
), stats AS (
  SELECT term, count(*) AS df_t FROM post GROUP BY term
), n AS (SELECT count(*) AS n FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
qt AS (
  SELECT DISTINCT query_id, term
  FROM q, UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(term)
), cand AS (
  SELECT qt.query_id, p.doc_id,
         ln(1 + (n.n - s.df_t + 0.5) / (s.df_t + 0.5))
           * p.tf * 2.2
           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / ad.avgdl)) AS sc
  FROM qt
  JOIN post p USING (term)
  JOIN stats s USING (term)
  JOIN dl d ON p.doc_id = d.doc_id
  CROSS JOIN n CROSS JOIN ad
), scored AS (
  SELECT query_id, doc_id, round(sum(sc), 6) AS score
  FROM cand GROUP BY query_id, doc_id
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""

_ORACLES["line_dedup"] = r"""
WITH base AS (
  SELECT doc_id,
    'menu ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) || text ||
    CASE WHEN doc_id % 2 = 0
         THEN chr(10) || 'copyright ' || CAST(doc_id % 3 AS VARCHAR)
         ELSE '' END AS text
  FROM documents
), split AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM base
), lines AS (
  SELECT doc_id, i - 1 AS pos, ls[i] AS line
  FROM split, UNNEST(generate_series(1, len(ls))) AS u(i)
), freq AS (
  SELECT line, count(DISTINCT doc_id) AS n_docs
  FROM lines WHERE len(trim(line)) >= 1 GROUP BY line
), marked AS (
  SELECT l.doc_id, l.pos, l.line,
         coalesce(f.n_docs >= 2, FALSE) AS dup
  FROM lines l LEFT JOIN freq f USING (line)
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(dup AS INT)) AS BIGINT) AS n_removed,
  round(sum(CAST(dup AS INT)) * 1.0 / count(*), 6) AS dup_ratio,
  coalesce(string_agg(CASE WHEN NOT dup THEN line END, chr(10)
                      ORDER BY pos), '') AS clean_text
FROM marked GROUP BY doc_id
"""

_ORACLES["pack_sequences"] = r"""
WITH ids AS (
  SELECT source, doc_id,
         list_transform(string_split_regex(trim(text), '\s+'),
                        w -> CAST(len(w) AS INT)) AS ids
  FROM documents
), counted AS (
  SELECT source, doc_id, ids, len(ids) AS n,
         sum(len(ids)) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM ids
), spans AS (
  SELECT *, cum_end - n AS cum_start,
         CAST(floor((cum_end - n) / 64.0) AS BIGINT) AS first_p,
         greatest(CAST(floor((cum_end - 1) / 64.0) AS BIGINT),
                  CAST(floor((cum_end - n) / 64.0) AS BIGINT)) AS last_p
  FROM counted
), expl AS (
  SELECT source, doc_id, ids, n, cum_start, p
  FROM spans, UNNEST(generate_series(first_p, last_p)) AS u(p)
), pieces AS (
  SELECT source, p AS pack_id, doc_id,
         greatest(0, cum_start - p * 64) AS pack_begin,
         ids[CAST(greatest(0, p * 64 - cum_start) AS BIGINT) + 1 :
             CAST(least(n, (p + 1) * 64 - cum_start) AS BIGINT)] AS piece
  FROM expl
), packs AS (
  SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
         flatten(list(piece ORDER BY pack_begin, doc_id)) AS input_ids,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM pieces GROUP BY source, pack_id
)
SELECT source, pack_id, n_docs,
       CAST(len(input_ids) AS BIGINT) AS n_ids,
       CAST(coalesce(list_sum(input_ids), 0) AS BIGINT) AS ids_sum,
       array_to_string(input_ids[1:16], ',') AS head
FROM packs
"""

_ORACLES["transcripts"] = SQL_PREFIX + """
SELECT conv_id, turn_idx, role, text, tool, 1e-6*epoch_us(ts) AS ts_epoch
FROM transcripts
"""

_ORACLES["lld"] = SQL_PREFIX + """
SELECT conv_id, turn_idx, char_len, token_cnt, punct_density, caps_ratio,
       ttr, reply_latency, role_change, is_tool
FROM lld
"""

_ORACLES["sma3"] = SQL_PREFIX + """
, sm AS (
  SELECT conv_id, turn_idx,
    (char_len
     + COALESCE(lag(char_len) OVER w,
                first_value(char_len) OVER wf)
     + COALESCE(lead(char_len) OVER w,
                last_value(char_len) OVER wf)) / 3.0 AS char_len_sma3,
    CASE WHEN is_tool = 0.0 THEN 0.0 ELSE (
      (is_tool
       + CASE WHEN COALESCE(lag(is_tool) OVER w, first_value(is_tool) OVER wf)
              <> 0.0 THEN COALESCE(lag(is_tool) OVER w,
                                   first_value(is_tool) OVER wf) ELSE 0 END
       + CASE WHEN COALESCE(lead(is_tool) OVER w, last_value(is_tool) OVER wf)
              <> 0.0 THEN COALESCE(lead(is_tool) OVER w,
                                   last_value(is_tool) OVER wf) ELSE 0 END)
      / (1
         + CASE WHEN COALESCE(lag(is_tool) OVER w,
                              first_value(is_tool) OVER wf) <> 0.0
                THEN 1 ELSE 0 END
         + CASE WHEN COALESCE(lead(is_tool) OVER w,
                              last_value(is_tool) OVER wf) <> 0.0
                THEN 1 ELSE 0 END)
    ) END AS is_tool_sma3nz
  FROM lld
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
         wf AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT * FROM sm
"""

_ORACLES["delta2"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND((1.0 * (COALESCE(lead(char_len, 1) OVER w, last_value(char_len) OVER wf)
              - COALESCE(lag(char_len, 1) OVER w, first_value(char_len) OVER wf))
       + 2.0 * (COALESCE(lead(char_len, 2) OVER w, last_value(char_len) OVER wf)
              - COALESCE(lag(char_len, 2) OVER w, first_value(char_len) OVER wf)))
      / 10.0, 6) AS char_len_de
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
       wf AS (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

_ORACLES["preemphasis"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND(char_len - 0.97 * COALESCE(lag(char_len) OVER w,
                                   first_value(char_len) OVER wf), 6)
      AS char_len_pe
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
       wf AS (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

_ORACLES["sessionize"] = SQL_PREFIX + """
SELECT conv_id, turn_idx, session_id FROM sessions
"""

_ORACLES["session_bounds"] = SQL_PREFIX + """
SELECT conv_id, session_id,
       1e-6*epoch_us(MIN(ts)) AS start_epoch, 1e-6*epoch_us(MAX(ts)) AS end_epoch,
       COUNT(*) AS n_turns
FROM sessions GROUP BY conv_id, session_id
"""



def _rsig(s: str) -> str:
    """DuckDB twin of opensmile_spark.util.round_sig (6 significant digits):
    identical op sequence so both engines round identically."""
    return (f"CASE WHEN ABS({s}) < 1e-9 THEN 0.0 ELSE "
            f"ROUND(({s}) * POW(10, 5 - FLOOR(LOG10(ABS({s})))), 0) "
            f"/ POW(10, 5 - FLOOR(LOG10(ABS({s})))) END")


def _sql_linreg(x: str):
    """Closed-form slope/offset strings over index __i per group
    (functionalRegression.cpp:219-240)."""
    N = "CAST(COUNT(*) AS DOUBLE)"
    S1 = f"({N}*({N}-1)/2)"
    S2 = f"({N}*({N}-1)*(2*{N}-1)/6)"
    denom = f"({N} - {S1}*{S1}/{S2})"
    t_off = (f"(CASE WHEN COUNT(*) > 1 THEN (CASE WHEN {denom} <> 0 THEN "
             f"(SUM({x}) - SUM({x}*__i)*{S1}/{S2}) / {denom} ELSE 0.0 END) "
             f"ELSE FIRST({x} ORDER BY __i) END)")
    m = (f"(CASE WHEN COUNT(*) > 1 THEN "
         f"(SUM({x}*__i) - {t_off}*{S1}) / {S2} ELSE 0.0 END)")
    return m, t_off


def _sql_functional_aggs(x: str, prefix: str, central: bool = True) -> str:
    """DuckDB aggregate expressions matching functionals_sql naming, all
    sig-rounded to mirror the Spark side exactly.

    central=True twins the functionals_sql Spark path (var_pop / population
    skewness / kurtosis central aggregators). central=False twins the
    KERNEL path for integer-valued inputs: raw-moment expansion whose sums
    are EXACT for integer data, which tracks the kernel's centered numpy
    sums more tightly than DuckDB's streaming var_pop does."""
    nnz = f"SUM(CASE WHEN {x} <> 0 THEN 1 ELSE 0 END)"
    nd = f"CAST(COUNT({x}) AS DOUBLE)"
    if central:
        # DuckDB's skewness is the bias-corrected SAMPLE statistic ->
        # convert to population via *(n-2)/sqrt(n(n-1)); kurtosis_pop is
        # population EXCESS -> +3.
        var = f"var_pop({x})"
        sd = f"(CASE WHEN {var} > 0 THEN stddev_pop({x}) ELSE 0.0 END)"
        skw = (f"(CASE WHEN {var} > 0 THEN COALESCE(skewness({x}) * ({nd}-2)"
               f" / SQRT({nd}*({nd}-1.0)), 0.0) ELSE 0.0 END)")
        krt = (f"(CASE WHEN {var} > 0 THEN kurtosis_pop({x}) + 3.0 "
               f"ELSE 0.0 END)")
    else:
        var = f"(AVG({x}*{x}) - AVG({x})*AVG({x}))"
        sd = f"(CASE WHEN {var} > 0 THEN SQRT({var}) ELSE 0.0 END)"
        m3c = (f"(AVG({x}*{x}*{x}) - 3*AVG({x})*AVG({x}*{x}) "
               f"+ 2*POW(AVG({x}),3))")
        m4c = (f"(AVG({x}*{x}*{x}*{x}) - 4*AVG({x})*AVG({x}*{x}*{x}) "
               f"+ 6*AVG({x})*AVG({x})*AVG({x}*{x}) - 3*POW(AVG({x}),4))")
        skw = (f"(CASE WHEN {var} > 0 THEN {m3c}/({var}*SQRT({var})) "
               f"ELSE 0.0 END)")
        krt = f"(CASE WHEN {var} > 0 THEN {m4c}/POW({var},2) ELSE 0.0 END)"
    m, t_off = _sql_linreg(x)
    exprs = {
        "amean": f"AVG({x})",
        "absmean": f"AVG(ABS({x}))",
        "qmean": f"AVG({x}*{x})",
        "rqmean": f"SQRT(AVG({x}*{x}))",
        "nnz": f"CAST({nnz} AS DOUBLE)",
        "nzamean": (f"CASE WHEN {nnz} > 0 THEN "
                    f"SUM(CASE WHEN {x} <> 0 THEN {x} END)/{nnz} "
                    f"ELSE 0.0 END"),
        "nzabsmean": (f"CASE WHEN {nnz} > 0 THEN "
                      f"SUM(CASE WHEN {x} <> 0 THEN ABS({x}) END)/{nnz} "
                      f"ELSE 0.0 END"),
        "nzqmean": (f"CASE WHEN {nnz} > 0 THEN "
                    f"SUM(CASE WHEN {x} <> 0 THEN {x}*{x} END)/{nnz} "
                    f"ELSE 0.0 END"),
        "variance": var,
        "stddev": sd,
        "skewness": skw,
        "kurtosis": krt,
        "stddevNorm": (f"CASE WHEN {var} <= 0 THEN 0.0 "
                       f"WHEN AVG({x}) <> 0 THEN {sd}/AVG({x}) "
                       f"ELSE {sd} END"),
        "coeffOfVariation": (f"CASE WHEN {var} <= 0 THEN 0.0 "
                             f"WHEN AVG({x}) <> 0 THEN {sd}/ABS(AVG({x})) "
                             f"ELSE {sd} END"),
        "max": f"MAX({x})",
        "min": f"MIN({x})",
        "range": f"MAX({x}) - MIN({x})",
        "maxameandist": f"MAX({x}) - AVG({x})",
        "minameandist": f"AVG({x}) - MIN({x})",
        "quartile1": f"quantile_cont({x}, 0.25)",
        "quartile2": f"quantile_cont({x}, 0.50)",
        "quartile3": f"quantile_cont({x}, 0.75)",
        "iqr1-3": f"quantile_cont({x}, 0.75) - quantile_cont({x}, 0.25)",
        "percentile20.0": f"quantile_cont({x}, 0.20)",
        "percentile50.0": f"quantile_cont({x}, 0.50)",
        "percentile80.0": f"quantile_cont({x}, 0.80)",
        "pctlrange0-2": f"ABS(quantile_cont({x}, 0.80) - quantile_cont({x}, 0.20))",
        "linregc1": m,
        "linregc2": t_off,
    }
    return ",\n".join(
        f'{_rsig(e)} AS "{prefix}_{name}"' for name, e in exprs.items()
    )


def _derive_lane_aggs(x: str, prefix: str) -> str:
    """means/moments/extremes subset twin for q_functionals_derive: raw-
    moment variance (exact for the integer-valued char_len and sq lanes;
    6-sig-digit rounding absorbs float cancellation on the log lane)."""
    var = f"(AVG({x}*{x}) - AVG({x})*AVG({x}))"
    exprs = {
        "amean": f"AVG({x})",
        "absmean": f"AVG(ABS({x}))",
        "qmean": f"AVG({x}*{x})",
        "variance": var,
        "stddev": f"(CASE WHEN {var} > 0 THEN SQRT({var}) ELSE 0.0 END)",
        "max": f"MAX({x})",
        "min": f"MIN({x})",
        "range": f"MAX({x}) - MIN({x})",
    }
    return ",\n".join(
        f'{_rsig(e)} AS "{prefix}_{name}"' for name, e in exprs.items())


_ORACLES["functionals_derive"] = SQL_PREFIX + """
, lanes AS (
  SELECT conv_id,
         char_len,
         char_len * char_len AS sq,
         CASE WHEN char_len > 0 THEN LN(char_len) ELSE 0.0 END AS lg
  FROM lld
)
SELECT conv_id, COUNT(*) AS n_turns,
""" + _derive_lane_aggs("char_len", "char_len") + ",\n" \
    + _derive_lane_aggs("sq", "char_len__sq") + ",\n" \
    + _derive_lane_aggs("lg", "char_len__log") + """
FROM lanes GROUP BY conv_id
"""


_ORACLES["functionals_sql"] = SQL_PREFIX + """
, idx AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
                 AS DOUBLE) AS __i
  FROM lld
)
SELECT conv_id, COUNT(*) AS n_turns,
""" + _sql_functional_aggs("char_len", "char_len") + ",\n" \
    + _sql_functional_aggs("reply_latency", "reply_latency") + """
FROM idx GROUP BY conv_id
"""


def _functionals_session_oracle() -> str:
    m, t_off = _sql_linreg("char_len")
    base_cols = _sql_functional_aggs("char_len", "char_len", central=False)
    return SQL_PREFIX + f"""
, idx AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, session_id
                                    ORDER BY turn_idx) - 1 AS DOUBLE) AS __i
  FROM sessions
),
base AS (
  SELECT conv_id, session_id, COUNT(*) AS n_turns,
  {base_cols}
  FROM idx GROUP BY conv_id, session_id
),
coef AS (
  SELECT conv_id, session_id, {t_off} AS t_off, {m} AS m_slope
  FROM idx GROUP BY conv_id, session_id
),
err AS (
  SELECT i.conv_id, i.session_id,
    {_rsig("SUM(ABS(i.char_len - (c.m_slope*i.__i + c.t_off))) / COUNT(*)")}
        AS "char_len_linregerrA",
    {_rsig("SUM(POW(i.char_len - (c.m_slope*i.__i + c.t_off), 2)) / COUNT(*)")}
        AS "char_len_linregerrQ"
  FROM idx i JOIN coef c USING (conv_id, session_id)
  GROUP BY i.conv_id, i.session_id
)
SELECT b.conv_id, b.session_id, b.n_turns,
  b."char_len_amean", b."char_len_absmean", b."char_len_qmean",
  b."char_len_rqmean", b."char_len_nnz", b."char_len_variance",
  b."char_len_stddev", b."char_len_stddevNorm", b."char_len_quartile1",
  b."char_len_quartile2", b."char_len_quartile3", b."char_len_percentile20.0",
  b."char_len_percentile50.0", b."char_len_percentile80.0",
  b."char_len_pctlrange0-2", b."char_len_linregc1", b."char_len_linregc2",
  e."char_len_linregerrA", e."char_len_linregerrQ"
FROM base b JOIN err e USING (conv_id, session_id)
"""


_ORACLES["functionals_session"] = _functionals_session_oracle()


def _kernel_extras_oracle() -> str:
    r = _rsig
    return SQL_PREFIX + f"""
, idx AS (
  SELECT *,
    CAST(ROW_NUMBER() OVER w - 1 AS DOUBLE) AS __i,
    MAX(char_len) OVER wp AS __gmax,
    MIN(char_len) OVER wp AS __gmin,
    AVG(char_len) OVER wp AS __gmean,
    lag(char_len) OVER w AS __xm1,
    lead(char_len) OVER w AS __xp1,
    COUNT(*) OVER wp AS __n
  FROM lld
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
         wp AS (PARTITION BY conv_id)
)
SELECT conv_id,
  {r("MAX(char_len)")} AS "char_len_max",
  {r("MIN(char_len)")} AS "char_len_min",
  {r("MAX(char_len) - MIN(char_len)")} AS "char_len_range",
  {r("MIN(CASE WHEN char_len = __gmax THEN __i END)")} AS "char_len_maxPos",
  {r("MIN(CASE WHEN char_len = __gmin THEN __i END)")} AS "char_len_minPos",
  {r("SUM(CASE WHEN __i >= 1 AND __i <= __n - 2 AND ((__xm1 * __xp1 <= 0 AND char_len = 0) OR (__xm1 * char_len < 0)) THEN 1 ELSE 0 END) * 1.0 / COUNT(*)")}
      AS "char_len_zcr",
  {r("SUM(CASE WHEN __i >= 1 AND __i <= __n - 2 AND (((__xm1-__gmean) * (__xp1-__gmean) <= 0 AND char_len-__gmean = 0) OR ((__xm1-__gmean) * (char_len-__gmean) < 0)) THEN 1 ELSE 0 END) * 1.0 / COUNT(*)")}
      AS "char_len_mcr",
  {r("(COUNT(*) - SUM(CASE WHEN char_len <= __gmin + 0.25*(__gmax-__gmin) THEN 1 ELSE 0 END)) * 1.0 / COUNT(*)")}
      AS "char_len_upleveltime25",
  {r("SUM(CASE WHEN char_len <= __gmin + 0.50*(__gmax-__gmin) THEN 1 ELSE 0 END) * 1.0 / COUNT(*)")}
      AS "char_len_downleveltime50",
  {r("(COUNT(*) - SUM(CASE WHEN char_len <= __gmin + 0.90*(__gmax-__gmin) THEN 1 ELSE 0 END)) * 1.0 / COUNT(*)")}
      AS "char_len_upleveltime90",
  {r("CASE WHEN COUNT(*) > 1 THEN SUM(CASE WHEN __xm1 < char_len THEN 1 ELSE 0 END) * 1.0 / (COUNT(*) - 1) ELSE 0.0 END")}
      AS "char_len_risetime",
  {r("CASE WHEN COUNT(*) > 1 THEN SUM(CASE WHEN __xm1 > char_len THEN 1 ELSE 0 END) * 1.0 / (COUNT(*) - 1) ELSE 0.0 END")}
      AS "char_len_falltime",
  {r("COUNT(*) * 1.0")} AS "char_len_duration"
FROM idx GROUP BY conv_id
"""


_ORACLES["functionals_kernel_extras"] = _kernel_extras_oracle()

_ORACLES["asof_join"] = SQL_PREFIX + """
, anchors AS (
  SELECT conv_id, epoch_us(ts) AS anchor_us FROM lld
  UNION
  SELECT conv_id, (epoch_us(ts) + epoch_us(lag(ts) OVER
      (PARTITION BY conv_id ORDER BY turn_idx))) >> 1
  FROM lld QUALIFY lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      IS NOT NULL
  UNION
  SELECT conv_id, MIN(epoch_us(ts)) - 3600000000 FROM lld GROUP BY conv_id
)
SELECT a.conv_id, 1e-6*a.anchor_us AS anchor_epoch, l.char_len, l.token_cnt
FROM anchors a
ASOF LEFT JOIN lld l
  ON a.conv_id = l.conv_id AND epoch_us(l.ts) <= a.anchor_us
"""

_ORACLES["resample"] = SQL_PREFIX + """
, d AS (
  SELECT conv_id, epoch_us(ts) AS t2, char_len, token_cnt FROM lld
), b AS (
  SELECT conv_id, min(t2) AS mn, max(t2) AS mx FROM d GROUP BY conv_id
), g AS (
  SELECT conv_id, unnest(generate_series(mn, mx, 86400000000)) AS t FROM b
), p AS (
  SELECT g.conv_id, g.t, d.t2 AS pt, d.char_len AS p_cl, d.token_cnt AS p_tc
  FROM g ASOF LEFT JOIN d ON g.conv_id = d.conv_id AND g.t >= d.t2
), n AS (
  SELECT g.conv_id, g.t, d.t2 AS nt, d.char_len AS n_cl, d.token_cnt AS n_tc
  FROM g ASOF LEFT JOIN d ON g.conv_id = d.conv_id AND g.t <= d.t2
)
SELECT p.conv_id,
  1e-6 * p.t AS grid_epoch,
  (SELECT count(*) FROM d d2
   WHERE d2.conv_id = p.conv_id AND d2.t2 <= p.t) AS n_seen,
  round(CASE WHEN p.pt IS NULL THEN n.n_cl
             WHEN n.nt IS NULL OR n.nt = p.pt THEN p.p_cl
             ELSE p.p_cl + (n.n_cl - p.p_cl)
                  * (CAST(p.t - p.pt AS DOUBLE)
                     / CAST(n.nt - p.pt AS DOUBLE)) END, 6) AS char_len,
  round(CASE WHEN p.pt IS NULL THEN n.n_tc
             WHEN n.nt IS NULL OR n.nt = p.pt THEN p.p_tc
             ELSE p.p_tc + (n.n_tc - p.p_tc)
                  * (CAST(p.t - p.pt AS DOUBLE)
                     / CAST(n.nt - p.pt AS DOUBLE)) END, 6) AS token_cnt
FROM p JOIN n ON p.conv_id = n.conv_id AND p.t = n.t
"""

_ORACLES["backfill_means"] = SQL_PREFIX + """
, anchors AS (
  SELECT conv_id, epoch_us(ts) AS anchor_us FROM lld
  UNION
  SELECT conv_id, (epoch_us(ts) + epoch_us(lag(ts) OVER
      (PARTITION BY conv_id ORDER BY turn_idx))) >> 1
  FROM lld QUALIFY lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      IS NOT NULL
  UNION
  SELECT conv_id, MIN(epoch_us(ts)) - 3600000000 FROM lld GROUP BY conv_id
)
SELECT a.conv_id, 1e-6*a.anchor_us AS anchor_epoch,
  COUNT(l.char_len) AS n_visible,
  ROUND(AVG(l.char_len), 6) AS char_len_amean,
  ROUND(AVG(l.char_len * l.char_len), 6) AS char_len_qmean,
  ROUND(CAST(SUM(CASE WHEN l.char_len <> 0 THEN 1 ELSE 0 END) AS DOUBLE), 6)
      AS char_len_nnz
FROM anchors a
JOIN lld l ON a.conv_id = l.conv_id AND epoch_us(l.ts) <= a.anchor_us
GROUP BY a.conv_id, a.anchor_us
HAVING COUNT(l.char_len) > 0
"""

_ORACLES["mvn"] = SQL_PREFIX + """
, st AS (
  SELECT conv_id, AVG(char_len) AS mu, stddev_pop(char_len) AS sd
  FROM lld GROUP BY conv_id
)
SELECT l.conv_id, l.turn_idx,
  ROUND(CASE WHEN st.sd > 0 THEN (l.char_len - st.mu) / st.sd
       ELSE 0.0 END, 6) AS char_len_mvn
FROM lld l JOIN st USING (conv_id)
"""

_ORACLES["mvn_expanding"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND(CASE WHEN stddev_pop(char_len) OVER w > 0
       THEN (char_len - AVG(char_len) OVER w) / (stddev_pop(char_len) OVER w)
       ELSE 0.0 END, 6) AS char_len_mvn
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

_ORACLES["fullinput_mean"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND(char_len - AVG(char_len) OVER (PARTITION BY conv_id), 6)
      AS char_len_fim
FROM lld
"""

_ORACLES["valbased_selector"] = SQL_PREFIX + """
SELECT conv_id, turn_idx, char_len, token_cnt FROM lld WHERE token_cnt > 6.0
"""

_ORACLES["valbased_zerovec"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  CASE WHEN is_tool > 0.5 THEN char_len ELSE 0.0 END AS char_len,
  CASE WHEN is_tool > 0.5 THEN token_cnt ELSE 0.0 END AS token_cnt
FROM lld
"""

_ORACLES["data_selector"] = SQL_PREFIX + """
SELECT conv_id, turn_idx, char_len AS energy, ttr AS flatness FROM lld
"""

_ORACLES["vector_binary_op"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND(CASE WHEN token_cnt <> 0 THEN char_len / token_cnt ELSE 0.0 END, 6)
      AS chars_per_token
FROM lld
"""

_ORACLES["vector_ops"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND(CASE WHEN char_len > 0 THEN LN(char_len) ELSE 0.0 END, 6) AS log_len,
  ROUND(SQRT(ABS(char_len)), 6) AS sqrt_len,
  ROUND(10.0 * CASE WHEN char_len > 0 THEN LOG10(char_len) ELSE 0.0 END, 6)
      AS db_len
FROM lld
"""

_ORACLES["trailing_window"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND(AVG(char_len) OVER (PARTITION BY conv_id ORDER BY turn_idx
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS char_len_ma5
FROM lld
"""

_ORACLES["max_index"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  CAST(list_position([char_len, token_cnt, punct_density, ttr],
       list_max([char_len, token_cnt, punct_density, ttr])) - 1 AS INTEGER)
      AS max_idx
FROM lld
"""

_ORACLES["interval_join"] = SQL_PREFIX + """
, iv AS (
  SELECT conv_id, MIN(ts) AS start_ts,
         to_timestamp(1e-6*epoch_us(MIN(ts)) + 86400.0 * 7) AS end_ts
  FROM lld GROUP BY conv_id
)
SELECT l.conv_id, COUNT(*) AS n_in_interval,
       ROUND(AVG(l.char_len), 6) AS avg_len_in_interval
FROM lld l JOIN iv ON l.conv_id = iv.conv_id
  AND 1e-6*epoch_us(l.ts) >= 1e-6*epoch_us(iv.start_ts) AND 1e-6*epoch_us(l.ts) <= 1e-6*epoch_us(iv.end_ts)
GROUP BY l.conv_id
"""

_ORACLES["salted_stats"] = SQL_PREFIX + """
SELECT conv_id, COUNT(*) AS n_turns,
  ROUND(AVG(char_len), 6) AS char_len_amean,
  ROUND(AVG(ABS(char_len)), 6) AS char_len_absmean,
  ROUND(AVG(char_len*char_len), 6) AS char_len_qmean,
  ROUND(SQRT(AVG(char_len*char_len)), 6) AS char_len_rqmean,
  ROUND(var_pop(char_len), 6) AS char_len_variance,
  ROUND(CASE WHEN var_pop(char_len) > 0 THEN stddev_pop(char_len)
       ELSE 0.0 END, 6) AS char_len_stddev,
  ROUND(MIN(char_len), 6) AS char_len_min,
  ROUND(MAX(char_len), 6) AS char_len_max,
  ROUND(MAX(char_len) - MIN(char_len), 6) AS char_len_range,
  ROUND(CAST(SUM(CASE WHEN char_len <> 0 THEN 1 ELSE 0 END) AS DOUBLE), 6)
      AS char_len_nnz
FROM lld GROUP BY conv_id
"""

_ORACLES["functionals_onset"] = SQL_PREFIX + """
, flags AS (
  SELECT conv_id,
    CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS i,
    is_tool AS x,
    lag(is_tool) OVER w AS px,
    COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM lld
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), ev AS (
  SELECT conv_id, i, n,
    CASE WHEN px IS NOT NULL AND x > 0 AND px <= 0 THEN 1 ELSE 0 END AS ons,
    CASE WHEN px IS NOT NULL AND x <= 0 AND px > 0 THEN 1 ELSE 0 END AS offs
  FROM flags
)
SELECT conv_id, MAX(n) AS n_turns,
  CAST(COALESCE(MIN(CASE WHEN ons = 1 THEN i END), 0) AS DOUBLE) / MAX(n)
      AS "is_tool_onsetPos",
  CAST(COALESCE(MAX(CASE WHEN offs = 1 THEN i END), MAX(n) - 1) AS DOUBLE)
      / MAX(n) AS "is_tool_offsetPos",
  CAST(SUM(ons) AS DOUBLE) AS "is_tool_numOnsets",
  CAST(SUM(offs) AS DOUBLE) AS "is_tool_numOffsets",
  CAST(SUM(ons) AS DOUBLE) / MAX(n) AS "is_tool_onsetRate"
FROM ev GROUP BY conv_id
"""


def _segments_oracle() -> str:
    """eqX(X=0) segments on is_tool: match-run sessionization replicating
    process_SegEqX (functionalSegments.cpp): gaps < pauseMinLng(2) tolerated
    inside a segment, total matches >= segMinLng(3) to be valid, first
    maxNumSeg(20) segments kept, EOF-closed segments one frame shorter."""
    r = _rsig
    return SQL_PREFIX + f"""
, flags AS (
  SELECT conv_id,
    CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS i,
    is_tool AS x,
    COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM lld
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), convs AS (
  SELECT conv_id, MAX(n) AS n FROM flags GROUP BY conv_id
), matched AS (
  SELECT conv_id, i, n,
    SUM(CASE WHEN prev_mi IS NULL OR i - prev_mi - 1 >= 2 THEN 1 ELSE 0 END)
        OVER (PARTITION BY conv_id ORDER BY i) AS grp
  FROM (
    SELECT conv_id, i, n,
      lag(i) OVER (PARTITION BY conv_id ORDER BY i) AS prev_mi
    FROM flags WHERE x = 0.0
  )
), grps AS (
  SELECT conv_id, grp, COUNT(*) AS n_m, MIN(i) AS first_i, MAX(i) AS last_i,
         MAX(n) AS n
  FROM matched GROUP BY conv_id, grp
), grps2 AS (
  SELECT *, MAX(grp) OVER (PARTITION BY conv_id) AS last_grp FROM grps
), segs AS (
  -- add_segment(i - segEnd, segStartIndex): mid-stream AND EOF closures
  -- both yield last_match_idx - first_match_idx (the trailing gap and the
  -- +1 cancel), so the length formula is uniform
  SELECT conv_id,
    last_i - first_i AS seg_len,
    ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY first_i) AS seg_rank
  FROM grps2 WHERE n_m >= 3
), capped AS (
  SELECT conv_id, CAST(seg_len AS DOUBLE) AS seg_len
  FROM segs WHERE seg_rank <= 20
), st0 AS (
  SELECT conv_id, COUNT(*) AS n_seg, SUM(seg_len) AS sum_len,
         MAX(seg_len) AS max_len, MIN(seg_len) AS min_len,
         AVG(seg_len) AS mean_len
  FROM capped GROUP BY conv_id
), st AS (
  SELECT s.*,
    CASE WHEN s.n_seg > 1
         THEN SQRT(SUM(POW(c.seg_len - s.mean_len, 2)) / s.n_seg)
         ELSE 0.0 END AS len_dev
  FROM st0 s JOIN capped c USING (conv_id)
  GROUP BY s.conv_id, s.n_seg, s.sum_len, s.max_len, s.min_len, s.mean_len
)
SELECT c.conv_id, c.n AS n_turns,
  {r("COALESCE(st.n_seg, 0) / 20.0")} AS "is_tool_numSegments",
  {r("COALESCE(st.mean_len, 0.0) / c.n")} AS "is_tool_meanSegLen",
  {r("COALESCE(st.max_len, 0.0) / c.n")} AS "is_tool_maxSegLen",
  {r("COALESCE(st.min_len, 0.0) / c.n")} AS "is_tool_minSegLen",
  {r("COALESCE(st.len_dev, 0.0) / c.n")} AS "is_tool_segLenStddev"
FROM convs c LEFT JOIN st ON c.conv_id = st.conv_id
"""


_ORACLES["functionals_segments"] = _segments_oracle()

_ORACLES["functionals_samples"] = SQL_PREFIX + """
, lst AS (
  SELECT conv_id, list(char_len ORDER BY turn_idx) AS xs,
         COUNT(*) AS n
  FROM lld GROUP BY conv_id
)
SELECT conv_id, n AS n_turns,
  xs[1] AS "char_len_samplepos0",
  xs[1 + CAST(FLOOR((n - 1) * 0.25) AS BIGINT)] AS "char_len_samplepos0.25",
  xs[1 + CAST(FLOOR((n - 1) * 0.5) AS BIGINT)] AS "char_len_samplepos0.5",
  xs[1 + CAST(FLOOR((n - 1) * 0.75) AS BIGINT)] AS "char_len_samplepos0.75",
  xs[CAST(n AS BIGINT)] AS "char_len_samplepos1"
FROM lst
"""


def _dct_oracle() -> str:
    r = _rsig
    terms = ",\n".join(
        r(f"SQRT(2.0 / MAX(n)) * SUM(char_len * COS(PI() * {k} / n "
          f"* (i + 0.5)))") + f' AS "char_len_dct{k}"'
        for k in range(1, 7)
    )
    return SQL_PREFIX + f"""
, idx AS (
  SELECT conv_id, char_len,
    CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
         AS DOUBLE) AS i,
    COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM lld
)
SELECT conv_id, MAX(n) AS n_turns,
{terms}
FROM idx GROUP BY conv_id
"""


_ORACLES["functionals_dct"] = _dct_oracle()

def _peaks2_restricted_oracle() -> str:
    """peaks2 with absThresh=-1e18: isBelowThresh is always false, so the
    automaton (functionalPeaks2.cpp:314-510) reduces to (1) strict local
    extrema with index in [2, N-3], (2) same-type runs collapsed to their
    argmax/argmin (first on ties) by the alternation pass (:442-510) — both
    closed-form. Stats replicate the reference quirks: pass-2 peak-stddev
    measures distances from the PREVIOUS SURVIVOR (lastMinPtr, :592-601)
    while the mean uses max-to-max distances; the sums are divided only when
    the pair count exceeds 1; EOF slopes join the means/min/max but NOT the
    stddev sums; no-extrema windows emit the (xlast-x0)/N sign-routed
    slope."""
    r = _rsig
    return SQL_PREFIX + """
, convs AS (
  SELECT conv_id, COUNT(*) AS n, AVG(char_len) AS gmean,
         MAX(char_len) - MIN(char_len) AS rng,
         arg_min(char_len, turn_idx) AS x0,
         arg_max(char_len, turn_idx) AS xlast
  FROM lld GROUP BY conv_id
), base AS (
  SELECT conv_id, char_len AS x,
    CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS i,
    lag(char_len) OVER w AS prev, lead(char_len) OVER w AS nxt,
    COUNT(*) OVER (PARTITION BY conv_id) AS n
  FROM lld
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), ext AS (
  SELECT conv_id, i AS pos, x AS y,
         CASE WHEN x > prev AND x > nxt THEN 1 ELSE 0 END AS typ
  FROM base
  WHERE i >= 2 AND i <= n - 3
    AND ((x > prev AND x > nxt) OR (x < prev AND x < nxt))
), runs AS (
  SELECT *, SUM(CASE WHEN prev_typ IS NULL OR typ <> prev_typ
                     THEN 1 ELSE 0 END)
      OVER (PARTITION BY conv_id ORDER BY pos) AS run_id
  FROM (SELECT *, lag(typ) OVER (PARTITION BY conv_id ORDER BY pos)
            AS prev_typ FROM ext)
), surv AS (
  SELECT conv_id, typ, pos, y FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, run_id
        ORDER BY CASE WHEN typ = 1 THEN -y ELSE y END ASC, pos ASC) AS rk
    FROM runs) WHERE rk = 1
), sv AS (
  SELECT s.*,
    lag(pos) OVER wa AS ppos_all, lag(y) OVER wa AS py_all,
    lag(pos) OVER wt AS ppos_same, lag(y) OVER wt AS py_same,
    ROW_NUMBER() OVER wa AS rk_all,
    ROW_NUMBER() OVER wt AS rk_same
  FROM surv s
  WINDOW wa AS (PARTITION BY conv_id ORDER BY pos),
         wt AS (PARTITION BY conv_id, typ ORDER BY pos)
), pk AS (
  SELECT conv_id,
    SUM(CASE WHEN typ = 1 THEN 1 ELSE 0 END) AS npk,
    SUM(CASE WHEN typ = 0 THEN 1 ELSE 0 END) AS nmn,
    AVG(CASE WHEN typ = 1 THEN y END) AS pk_mean,
    AVG(CASE WHEN typ = 0 THEN y END) AS mn_mean,
    MAX(CASE WHEN typ = 1 THEN y END) AS pk_max,
    MIN(CASE WHEN typ = 1 THEN y END) AS pk_min,
    MAX(CASE WHEN typ = 0 THEN y END) AS mn_max,
    MIN(CASE WHEN typ = 0 THEN y END) AS mn_min,
    AVG(CASE WHEN typ = 1 AND rk_same >= 2 THEN pos - ppos_same END)
        AS pk_dist,
    AVG(CASE WHEN typ = 1 AND rk_same >= 2 THEN ABS(y - py_same) END)
        AS pk_diff,
    AVG(CASE WHEN typ = 0 AND rk_same >= 2 THEN pos - ppos_same END)
        AS mn_dist,
    AVG(CASE WHEN typ = 0 AND rk_same >= 2 THEN ABS(y - py_same) END)
        AS mn_diff,
    COUNT(CASE WHEN typ = 1 AND rk_same >= 2 THEN 1 END) AS n_pkd,
    COUNT(CASE WHEN typ = 0 AND rk_same >= 2 THEN 1 END) AS n_mnd
  FROM sv GROUP BY conv_id
), dev AS (
  SELECT v.conv_id,
    SUM(CASE WHEN v.typ = 1 AND v.rk_same >= 2
        THEN POW(v.pos - v.ppos_all - p.pk_dist, 2) END) AS pdd,
    SUM(CASE WHEN v.typ = 1 AND v.rk_same >= 2
        THEN POW(ABS(v.y - v.py_all) - p.pk_diff, 2) END) AS pdf,
    SUM(CASE WHEN v.typ = 0 AND v.rk_same >= 2
        THEN POW(v.pos - v.ppos_same - p.mn_dist, 2) END) AS mdd,
    SUM(CASE WHEN v.typ = 0 AND v.rk_same >= 2
        THEN POW(ABS(v.y - v.py_same) - p.mn_diff, 2) END) AS mdf
  FROM sv v JOIN pk p USING (conv_id) GROUP BY v.conv_id
), listsl AS (
  SELECT v.conv_id, v.typ AS is_rising, v.pos AS ord,
    CASE WHEN v.typ = 1
         THEN (v.y - CASE WHEN v.rk_all = 1 THEN c.x0 ELSE v.py_all END)
              / ((v.pos - CASE WHEN v.rk_all = 1 THEN 0 ELSE v.ppos_all END)
                 * 1.0)
         ELSE (CASE WHEN v.rk_all = 1 THEN c.x0 ELSE v.py_all END - v.y)
              / ((v.pos - CASE WHEN v.rk_all = 1 THEN 0 ELSE v.ppos_all END)
                 * 1.0)
    END AS slope, 1 AS is_list
  FROM sv v JOIN convs c USING (conv_id)
), eofsl AS (
  SELECT v.conv_id,
    CASE WHEN v.typ = 1 THEN 0 ELSE 1 END AS is_rising,
    c.n AS ord,
    (c.xlast - v.y) / ((c.n - 1 - v.pos) * 1.0) AS slope, 0 AS is_list
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY pos DESC)
            AS rkd FROM surv) v
  JOIN convs c USING (conv_id) WHERE v.rkd = 1
), allsl AS (
  SELECT * FROM listsl UNION ALL SELECT * FROM eofsl
), slagg AS (
  -- ordered list sums replicate the kernel's sequential float accumulation
  -- (survivor order, EOF slope last) so rounding-boundary values agree
  SELECT conv_id,
    SUM(CASE WHEN is_rising = 1 THEN 1 ELSE 0 END) AS nR,
    SUM(CASE WHEN is_rising = 0 THEN 1 ELSE 0 END) AS nF,
    COALESCE(list_aggregate(list(slope ORDER BY ord)
        FILTER (WHERE is_rising = 1), 'sum'), 0.0)
        / GREATEST(SUM(CASE WHEN is_rising = 1 THEN 1 ELSE 0 END), 1)
        AS meanRS,
    COALESCE(list_aggregate(list(slope ORDER BY ord)
        FILTER (WHERE is_rising = 0), 'sum'), 0.0)
        / GREATEST(SUM(CASE WHEN is_rising = 0 THEN 1 ELSE 0 END), 1)
        AS meanFS,
    MIN(CASE WHEN is_rising = 1 THEN slope END) AS minRS,
    MAX(CASE WHEN is_rising = 1 THEN slope END) AS maxRS,
    MIN(CASE WHEN is_rising = 0 THEN slope END) AS minFS,
    MAX(CASE WHEN is_rising = 0 THEN slope END) AS maxFS
  FROM allsl GROUP BY conv_id
), sdev AS (
  SELECT a.conv_id,
    list_aggregate(list(POW(a.slope - g.meanRS, 2) ORDER BY a.ord)
        FILTER (WHERE a.is_rising = 1 AND a.is_list = 1), 'sum') AS devR,
    list_aggregate(list(POW(a.slope - g.meanFS, 2) ORDER BY a.ord)
        FILTER (WHERE a.is_rising = 0 AND a.is_list = 1), 'sum') AS devF
  FROM allsl a JOIN slagg g USING (conv_id) GROUP BY a.conv_id
), fin AS (
  SELECT c.conv_id, c.n, c.gmean, c.rng,
    COALESCE(p.npk, 0) AS npk,
    COALESCE(p.pk_mean, 0.0) AS pk_mean,
    COALESCE(p.mn_mean, 0.0) AS mn_mean,
    COALESCE(p.pk_dist, 0.0) AS pk_dist,
    COALESCE(p.pk_diff, 0.0) AS pk_diff,
    COALESCE(p.mn_diff, 0.0) AS mn_diff,
    COALESCE(p.pk_max - p.pk_min, 0.0) AS pk_range,
    COALESCE(p.mn_max - p.mn_min, 0.0) AS mn_range,
    CASE WHEN COALESCE(p.n_pkd, 0) > 1 THEN d.pdd / p.n_pkd
         ELSE COALESCE(d.pdd, 0.0) END AS pdd_n,
    CASE WHEN COALESCE(p.n_pkd, 0) > 1 THEN d.pdf / p.n_pkd
         ELSE COALESCE(d.pdf, 0.0) END AS pdf_n,
    CASE WHEN COALESCE(p.n_mnd, 0) > 1 THEN d.mdd / p.n_mnd
         ELSE COALESCE(d.mdd, 0.0) END AS mdd_n,
    CASE WHEN COALESCE(p.n_mnd, 0) > 1 THEN d.mdf / p.n_mnd
         ELSE COALESCE(d.mdf, 0.0) END AS mdf_n,
    p.conv_id IS NOT NULL AS has_surv,
    (c.xlast - c.x0) / (c.n * 1.0) AS slope0,
    COALESCE(s.nR, 0) AS nR, COALESCE(s.nF, 0) AS nF,
    COALESCE(s.meanRS, 0.0) AS meanRS, COALESCE(s.meanFS, 0.0) AS meanFS,
    COALESCE(s.minRS, 0.0) AS minRS, COALESCE(s.maxRS, 0.0) AS maxRS,
    COALESCE(s.minFS, 0.0) AS minFS, COALESCE(s.maxFS, 0.0) AS maxFS,
    CASE WHEN COALESCE(s.nR, 0) > 1 THEN COALESCE(e.devR, 0.0) / s.nR
         ELSE COALESCE(e.devR, 0.0) END AS devR_n,
    CASE WHEN COALESCE(s.nF, 0) > 1 THEN COALESCE(e.devF, 0.0) / s.nF
         ELSE COALESCE(e.devF, 0.0) END AS devF_n
  FROM convs c
  LEFT JOIN pk p USING (conv_id)
  LEFT JOIN dev d USING (conv_id)
  LEFT JOIN slagg s USING (conv_id)
  LEFT JOIN sdev e USING (conv_id)
), fin2 AS (
  SELECT *,
    CASE WHEN has_surv THEN meanRS
         WHEN slope0 > 0 THEN slope0 ELSE 0.0 END AS o_meanRS,
    CASE WHEN has_surv THEN meanFS
         WHEN slope0 < 0 THEN slope0 ELSE 0.0 END AS o_meanFS,
    CASE WHEN has_surv THEN minRS
         WHEN slope0 > 0 THEN slope0 ELSE 0.0 END AS o_minRS,
    CASE WHEN has_surv THEN maxRS
         WHEN slope0 > 0 THEN slope0 ELSE 0.0 END AS o_maxRS,
    CASE WHEN has_surv THEN minFS
         WHEN slope0 < 0 THEN slope0 ELSE 0.0 END AS o_minFS,
    CASE WHEN has_surv THEN maxFS
         WHEN slope0 < 0 THEN slope0 ELSE 0.0 END AS o_maxFS,
    CASE WHEN has_surv AND devR_n > 0 THEN SQRT(devR_n) ELSE 0.0 END
        AS o_stdRS,
    CASE WHEN has_surv AND devF_n > 0 THEN SQRT(devF_n) ELSE 0.0 END
        AS o_stdFS
  FROM fin
)
SELECT conv_id, n AS n_turns,
  {numPeaks} AS "char_len_numPeaks",
  {meanPeakDist} AS "char_len_meanPeakDist",
  {peakDistStddev} AS "char_len_peakDistStddev",
  {peakRangeAbs} AS "char_len_peakRangeAbs",
  {peakRangeRel} AS "char_len_peakRangeRel",
  {peakMean} AS "char_len_peakMean",
  {peakMeanMeanDist} AS "char_len_peakMeanMeanDist",
  {ptpAmpMeanAbs} AS "char_len_ptpAmpMeanAbs",
  {ptpAmpStddevAbs} AS "char_len_ptpAmpStddevAbs",
  {minRangeAbs} AS "char_len_minRangeAbs",
  {minMean} AS "char_len_minMean",
  {minMeanMeanDist} AS "char_len_minMeanMeanDist",
  {mtmAmpMeanAbs} AS "char_len_mtmAmpMeanAbs",
  {mtmAmpStddevAbs} AS "char_len_mtmAmpStddevAbs",
  {meanRisingSlope} AS "char_len_meanRisingSlope",
  {maxRisingSlope} AS "char_len_maxRisingSlope",
  {minRisingSlope} AS "char_len_minRisingSlope",
  {stddevRisingSlope} AS "char_len_stddevRisingSlope",
  {meanFallingSlope} AS "char_len_meanFallingSlope",
  {maxFallingSlope} AS "char_len_maxFallingSlope",
  {minFallingSlope} AS "char_len_minFallingSlope",
  {stddevFallingSlope} AS "char_len_stddevFallingSlope",
  {covRisingSlope} AS "char_len_covRisingSlope",
  {covFallingSlope} AS "char_len_covFallingSlope"
FROM fin2
""".format(
        numPeaks=r("CAST(npk AS DOUBLE)"),
        meanPeakDist=r("pk_dist"),
        peakDistStddev=r("CASE WHEN pdd_n > 0 THEN SQRT(pdd_n) "
                         "ELSE 0.0 END"),
        peakRangeAbs=r("pk_range"),
        peakRangeRel=r("CASE WHEN rng <> 0 THEN ABS(pk_range / rng) "
                       "ELSE pk_range END"),
        peakMean=r("pk_mean"),
        peakMeanMeanDist=r("pk_mean - gmean"),
        ptpAmpMeanAbs=r("pk_diff"),
        ptpAmpStddevAbs=r("CASE WHEN pdf_n > 0 THEN SQRT(pdf_n) "
                          "ELSE 0.0 END"),
        minRangeAbs=r("mn_range"),
        minMean=r("mn_mean"),
        minMeanMeanDist=r("gmean - mn_mean"),
        mtmAmpMeanAbs=r("mn_diff"),
        mtmAmpStddevAbs=r("CASE WHEN mdf_n > 0 THEN SQRT(mdf_n) "
                          "ELSE 0.0 END"),
        meanRisingSlope=r("o_meanRS"),
        maxRisingSlope=r("o_maxRS"),
        minRisingSlope=r("o_minRS"),
        stddevRisingSlope=r("o_stdRS"),
        meanFallingSlope=r("o_meanFS"),
        maxFallingSlope=r("o_maxFS"),
        minFallingSlope=r("o_minFS"),
        stddevFallingSlope=r("o_stdFS"),
        covRisingSlope=r("CASE WHEN o_meanRS > 0 THEN o_stdRS / o_meanRS "
                         "ELSE 0.0 END"),
        covFallingSlope=r("CASE WHEN o_meanFS > 0 THEN o_stdFS / o_meanFS "
                          "ELSE 0.0 END"),
    )


def _peaks_legacy_oracle() -> str:
    """EXACT twin of the legacy cFunctionalPeaks hysteresis automaton
    (functionalPeaks.cpp:103-215): a recursive CTE replays the per-frame
    state machine — (lastMin, lastMax, curmaxPos, lastmaxPos, peakflag) +
    peak accumulators — one recursion step per frame, all conversations
    advancing in lockstep. The peak-distance list is carried as a DuckDB
    list so the second-pass stddev sums squared deviations in the kernel's
    exact sequential order. No restriction of the automaton is needed
    (unlike peaks2's absThresh pin): state is bounded scalars, so the
    whole hysteresis (0.11*range rise / 0.09*range fall) is expressible."""
    r = _rsig
    body = """
, arr AS (
  SELECT conv_id, list(char_len ORDER BY turn_idx) AS xs, COUNT(*) AS n,
         MAX(char_len) - MIN(char_len) AS rng, AVG(char_len) AS gmean
  FROM lld GROUP BY conv_id
), lpstep AS (
  -- anchor: state just before processing python index i=2
  SELECT conv_id, xs, n, rng,
         CAST(2 AS BIGINT) AS j,
         xs[1] AS lastlast, xs[2] AS lastv,
         CAST(0.0 AS DOUBLE) AS lastmin, CAST(0.0 AS DOUBLE) AS lastmax,
         CAST(0 AS BIGINT) AS curmax, CAST(-1 AS BIGINT) AS lastmaxp,
         0 AS pf, CAST(0 AS BIGINT) AS npk, CAST(0.0 AS DOUBLE) AS pksum,
         CAST([] AS DOUBLE[]) AS dlist
  FROM arr WHERE n >= 3
  UNION ALL
  SELECT conv_id, xs, n, rng, j + 1,
         lastv, cur,
         CASE WHEN isMin THEN cur ELSE lastmin END,
         lm1,
         cm2,
         CASE WHEN close THEN cm2 ELSE lastmaxp END,
         CASE WHEN close THEN 0 ELSE pf1 END,
         CASE WHEN close THEN npk + 1 ELSE npk END,
         CASE WHEN close THEN pksum + lm1 ELSE pksum END,
         CASE WHEN close AND lastmaxp >= 0
              THEN dlist || [CAST(cm2 - lastmaxp AS DOUBLE)] ELSE dlist END
  FROM (
    SELECT s.*,
      (CASE WHEN trig THEN 1 ELSE pf END) AS pf1,
      (CASE WHEN trig THEN i_py ELSE cm1 END) AS cm2,
      ((CASE WHEN trig THEN 1 ELSE pf END) = 1
        AND (cur < lm1 - CAST('0.09' AS DOUBLE) * rng OR i_py = n - 1))
        AS close
    FROM (
      SELECT s0.*,
        (isMax AND (lm1 - lastmin > CAST('0.11' AS DOUBLE) * rng)) AS trig
      FROM (
        SELECT lpstep.*,
          xs[j + 1] AS cur, j AS i_py,
          (lastlast < lastv AND lastv > xs[j + 1]) AS isMax,
          (lastlast > lastv AND lastv < xs[j + 1]) AS isMin,
          CASE WHEN (lastlast < lastv AND lastv > xs[j + 1])
               THEN CASE WHEN pf = 0 THEN xs[j + 1]
                         WHEN xs[j + 1] > lastmax THEN xs[j + 1]
                         ELSE lastmax END
               ELSE lastmax END AS lm1,
          CASE WHEN (lastlast < lastv AND lastv > xs[j + 1])
                    AND pf = 1 AND xs[j + 1] > lastmax
               THEN j ELSE curmax END AS cm1
        FROM lpstep WHERE j < n
      ) s0
    ) s
  ) s
), lpterm AS (
  SELECT conv_id, n, npk, pksum, dlist FROM lpstep WHERE j = n
  UNION ALL
  -- N < 3: the reference loop body never executes
  SELECT conv_id, n, CAST(0 AS BIGINT), 0.0, CAST([] AS DOUBLE[])
  FROM arr WHERE n < 3
), lpfin AS (
  SELECT t.conv_id,
    CAST(npk AS DOUBLE) AS o_npk,
    CASE WHEN len(dlist) > 0
         THEN list_aggregate(dlist, 'sum') / len(dlist)
         ELSE CAST(t.n + 1 AS DOUBLE) END AS o_pdist,
    CASE WHEN npk > 0 THEN pksum / npk ELSE 0.0 END AS o_pmean,
    (CASE WHEN npk > 0 THEN pksum / npk ELSE 0.0 END) - a.gmean AS o_pmmd,
    CASE WHEN len(dlist) > 0
         THEN SQRT(list_aggregate(
                list_transform(dlist, d -> POW(d -
                  list_aggregate(dlist, 'sum') / len(dlist), 2)), 'sum')
              / len(dlist))
         ELSE 0.0 END AS o_pdstd
  FROM lpterm t JOIN arr a USING (conv_id)
)
SELECT conv_id,
  {numPeaks} AS "char_len_lp_numPeaks",
  {meanPeakDist} AS "char_len_lp_meanPeakDist",
  {peakMean} AS "char_len_lp_peakMean",
  {peakMeanMeanDist} AS "char_len_lp_peakMeanMeanDist",
  {peakDistStddev} AS "char_len_lp_peakDistStddev"
FROM lpfin
""".format(
        numPeaks=r("o_npk"),
        meanPeakDist=r("o_pdist"),
        peakMean=r("o_pmean"),
        peakMeanMeanDist=r("o_pmmd"),
        peakDistStddev=r("o_pdstd"),
    )
    return SQL_PREFIX.replace("WITH ", "WITH RECURSIVE ", 1) + body


_ORACLES["peaks2_restricted"] = _peaks2_restricted_oracle()


# Shared CTE chain: per-conv ordered array + order-4 Levinson-Durbin
# unrolled (used by the lpc_modulation and lsp oracles). Autocorrelations
# are ordered list sums; each step keeps the kernel's exact sequential
# subtraction order, e!=0 guards, and the p = min(4, N-1) short-window
# rule; lpcfin applies the r0=0 early-out.
_LPC_CTES = """
, arr AS (
  SELECT conv_id, list(char_len ORDER BY turn_idx) AS xs, COUNT(*) AS n,
         AVG(char_len) AS mu
  FROM lld GROUP BY conv_id
), rk AS (
  SELECT conv_id, n,
    list_aggregate(list_transform(range(1, CAST(n AS INT) + 1),
        i -> xs[i] * xs[i]), 'sum') AS r0,
    CASE WHEN n - 1 >= 1 THEN list_aggregate(list_transform(
        range(1, CAST(n AS INT)), i -> xs[i] * xs[i + 1]), 'sum')
        ELSE 0.0 END AS r1,
    CASE WHEN n - 2 >= 1 THEN list_aggregate(list_transform(
        range(1, CAST(n AS INT) - 1), i -> xs[i] * xs[i + 2]), 'sum')
        ELSE 0.0 END AS r2,
    CASE WHEN n - 3 >= 1 THEN list_aggregate(list_transform(
        range(1, CAST(n AS INT) - 2), i -> xs[i] * xs[i + 3]), 'sum')
        ELSE 0.0 END AS r3,
    CASE WHEN n - 4 >= 1 THEN list_aggregate(list_transform(
        range(1, CAST(n AS INT) - 3), i -> xs[i] * xs[i + 4]), 'sum')
        ELSE 0.0 END AS r4
  FROM arr
), s1 AS (
  SELECT *, LEAST(4, GREATEST(n - 1, 1)) AS p,
    CASE WHEN r0 <> 0 THEN r1 / r0 ELSE 0.0 END AS k1
  FROM rk
), s1b AS (
  SELECT *, k1 AS a1_1, r0 * (1.0 - k1 * k1) AS e1 FROM s1
), s2 AS (
  SELECT *, CASE WHEN p >= 2 AND e1 <> 0
                 THEN (r2 - a1_1 * r1) / e1
                 WHEN p >= 2 THEN 0.0 END AS k2
  FROM s1b
), s2b AS (
  SELECT *,
    CASE WHEN p >= 2 THEN a1_1 - k2 * a1_1 ELSE a1_1 END AS a2_1,
    CASE WHEN p >= 2 THEN k2 END AS a2_2,
    CASE WHEN p >= 2 THEN e1 * (1.0 - k2 * k2) ELSE e1 END AS e2
  FROM s2
), s3 AS (
  SELECT *, CASE WHEN p >= 3 AND e2 <> 0
                 THEN ((r3 - a2_1 * r2) - a2_2 * r1) / e2
                 WHEN p >= 3 THEN 0.0 END AS k3
  FROM s2b
), s3b AS (
  SELECT *,
    CASE WHEN p >= 3 THEN a2_1 - k3 * a2_2 ELSE a2_1 END AS a3_1,
    CASE WHEN p >= 3 THEN a2_2 - k3 * a2_1 ELSE a2_2 END AS a3_2,
    CASE WHEN p >= 3 THEN k3 END AS a3_3,
    CASE WHEN p >= 3 THEN e2 * (1.0 - k3 * k3) ELSE e2 END AS e3
  FROM s3
), s4 AS (
  SELECT *, CASE WHEN p >= 4 AND e3 <> 0
                 THEN (((r4 - a3_1 * r3) - a3_2 * r2) - a3_3 * r1) / e3
                 WHEN p >= 4 THEN 0.0 END AS k4
  FROM s3b
), s4b AS (
  SELECT *,
    CASE WHEN p >= 4 THEN a3_1 - k4 * a3_3 ELSE a3_1 END AS a4_1,
    CASE WHEN p >= 4 THEN a3_2 - k4 * a3_2 ELSE a3_2 END AS a4_2,
    CASE WHEN p >= 4 THEN a3_3 - k4 * a3_1 ELSE a3_3 END AS a4_3,
    CASE WHEN p >= 4 THEN k4 END AS a4_4,
    CASE WHEN p >= 4 THEN e3 * (1.0 - k4 * k4) ELSE e3 END AS e4
  FROM s4
), lpcfin AS (
  SELECT conv_id,
    CASE WHEN r0 = 0 THEN 0.0 ELSE e4 END AS lpgain,
    CASE WHEN r0 = 0 OR p < 1 THEN 0.0 ELSE COALESCE(a4_1, 0.0) END AS lpc0,
    CASE WHEN r0 = 0 OR p < 2 THEN 0.0 ELSE COALESCE(a4_2, 0.0) END AS lpc1,
    CASE WHEN r0 = 0 OR p < 3 THEN 0.0 ELSE COALESCE(a4_3, 0.0) END AS lpc2,
    CASE WHEN r0 = 0 OR p < 4 THEN 0.0 ELSE COALESCE(a4_4, 0.0) END AS lpc3
  FROM s4b
)"""


def _lpc_modulation_oracle() -> str:
    """Full SQL twin for the last two kernel families that were rows-only:

    LPC (functionalLpc.cpp:20-22): the order-4 Levinson-Durbin recursion
    UNROLLED into four CTE steps — autocorrelations r[k] as ordered list
    sums, each step's acc subtracted in the kernel's exact sequential
    order, e!=0 guards and the p = min(4, N-1) short-window rule intact.

    Modulation (functionalModulation.cpp:42-74): the 64-point Hann-
    windowed rFFT replayed as a DIRECT DFT (sum-of-cos/sin per bin k =
    0..32; |X_k|/64), then np.interp's linear interpolation at the six
    linspace(0.01, 0.4) centers with the exact center literals inlined.
    numpy's butterfly FFT and the direct DFT agree to ~1e-13 relative —
    five orders inside the 6-significant-digit gate rounding."""
    r = _rsig
    import numpy as _np

    centers = _np.linspace(0.01, 0.4, 6)
    mod_terms = []
    need = set()
    for i, f in enumerate(centers):
        j = int(f * 64)
        need.update((j, j + 1))
        fr = repr(float(f))
        expr = (f"(m{j} + (m{j + 1} - m{j}) * "
                f"((CAST('{fr}' AS DOUBLE) - {j}/64.0) / (1.0/64.0)))")
        mod_terms.append(
            f'{r(expr)} AS "char_len_modSpec{i}"')
    magcols = ",\n    ".join(
        f"SUM(CASE WHEN k = {k} THEN c END) AS m{k}" for k in sorted(need))
    mod_sel = ",\n  ".join(mod_terms)

    body = f"""
{_LPC_CTES}, yv AS (
  SELECT conv_id,
    list_transform(range(0, 64), i ->
      CASE WHEN i < LEAST(n, 64)
           THEN (xs[i + 1] - mu) * (0.5 - 0.5 * cos(2 * pi() * i / 64.0))
           ELSE 0.0 END) AS y
  FROM arr
), dft AS (
  SELECT conv_id, kk.k,
    sqrt(pow(list_aggregate(list_transform(range(0, 64), i ->
           y[i + 1] * cos(2 * pi() * kk.k * i / 64.0)), 'sum'), 2)
       + pow(list_aggregate(list_transform(range(0, 64), i ->
           y[i + 1] * sin(2 * pi() * kk.k * i / 64.0)), 'sum'), 2)) / 64.0
        AS c
  FROM yv CROSS JOIN (SELECT unnest(range(0, 33)) AS k) kk
), mags AS (
  SELECT conv_id,
    {magcols}
  FROM dft GROUP BY conv_id
)
SELECT a.conv_id, a.n AS n_turns,
  {r("l.lpgain")} AS "char_len_lpgain",
  {r("l.lpc0")} AS "char_len_lpc0",
  {r("l.lpc1")} AS "char_len_lpc1",
  {r("l.lpc2")} AS "char_len_lpc2",
  {r("l.lpc3")} AS "char_len_lpc3",
  {mod_sel}
FROM arr a
JOIN lpcfin l USING (conv_id)
JOIN mags m USING (conv_id)
"""
    return SQL_PREFIX + body


_ORACLES["lpc_modulation"] = _lpc_modulation_oracle()


def _lsp_oracle() -> str:
    """Closed-form LSP twin (order 4): A(z) = 1 - sum a_k z^-k from the
    shared Levinson chain; P = A(z) + z^-5 A(z^-1) (palindromic, root
    -1), Q = A(z) - z^-5 A(z^-1) (antipalindromic, root +1). Synthetic
    division removes the trivial root; the remaining symmetric quartic
    c0 y^4 + c1 y^3 + c2 y^2 + c1 y + c0 becomes
    c0 u^2 + c1 u + (c2 - 2 c0) = 0 with u = 2 cos(w) — two quadratics
    whose in-circle roots are the four line spectral frequencies, sorted
    ascending and zero-padded exactly like the kernel."""
    r = _rsig
    body = """
, lspa AS (
  SELECT conv_id, 1.0 AS A0, -lpc0 AS A1, -lpc1 AS A2, -lpc2 AS A3,
         -lpc3 AS A4
  FROM lpcfin
), lspb AS (
  -- synthetic division (coeffs high->low) of P by (y+1), Q by (y-1):
  -- b[i] = c[i] + root*b[i-1]; only b0..b2 are needed for the quadratic
  SELECT conv_id,
    A0 AS pb0,
    (A1 + A4) + (-1.0) * A0 AS pb1,
    A0 AS qb0,
    (A1 - A4) + 1.0 * A0 AS qb1
  FROM lspa
), lspb2 AS (
  SELECT l.conv_id, pb0, pb1, qb0, qb1,
    (a.A2 + a.A3) + (-1.0) * pb1 AS pb2,
    (a.A2 - a.A3) + 1.0 * qb1 AS qb2
  FROM lspb l JOIN lspa a USING (conv_id)
), lspd AS (
  SELECT conv_id, pb0, pb1, pb2, qb0, qb1, qb2,
    pb1 * pb1 - 4 * pb0 * (pb2 - 2 * pb0) AS pdisc,
    qb1 * qb1 - 4 * qb0 * (qb2 - 2 * qb0) AS qdisc
  FROM lspb2
), lspu AS (
  SELECT conv_id,
    CASE WHEN pb0 <> 0 AND pdisc >= 0
         THEN (-pb1 + sqrt(pdisc)) / (2 * pb0) END AS up1,
    CASE WHEN pb0 <> 0 AND pdisc >= 0
         THEN (-pb1 - sqrt(pdisc)) / (2 * pb0) END AS up2,
    CASE WHEN qb0 <> 0 AND qdisc >= 0
         THEN (-qb1 + sqrt(qdisc)) / (2 * qb0) END AS uq1,
    CASE WHEN qb0 <> 0 AND qdisc >= 0
         THEN (-qb1 - sqrt(qdisc)) / (2 * qb0) END AS uq2
  FROM lspd
), lspw AS (
  SELECT conv_id,
    list_sort(list_filter(
      [CASE WHEN up1 > -2.0 AND up1 < 2.0 THEN acos(up1 / 2.0) END,
       CASE WHEN up2 > -2.0 AND up2 < 2.0 THEN acos(up2 / 2.0) END,
       CASE WHEN uq1 > -2.0 AND uq1 < 2.0 THEN acos(uq1 / 2.0) END,
       CASE WHEN uq2 > -2.0 AND uq2 < 2.0 THEN acos(uq2 / 2.0) END],
      w -> w IS NOT NULL AND w > 1e-9 AND w < pi() - 1e-9)) AS ws
  FROM lspu
)
SELECT a.conv_id, a.n AS n_turns,
  {lsp0} AS "char_len_lsp0",
  {lsp1} AS "char_len_lsp1",
  {lsp2} AS "char_len_lsp2",
  {lsp3} AS "char_len_lsp3"
FROM arr a JOIN lspw w USING (conv_id)
""".format(
        lsp0=r("CASE WHEN len(ws) >= 1 THEN ws[1] ELSE 0.0 END"),
        lsp1=r("CASE WHEN len(ws) >= 2 THEN ws[2] ELSE 0.0 END"),
        lsp2=r("CASE WHEN len(ws) >= 3 THEN ws[3] ELSE 0.0 END"),
        lsp3=r("CASE WHEN len(ws) >= 4 THEN ws[4] ELSE 0.0 END"),
    )
    return SQL_PREFIX + _LPC_CTES + body


_ORACLES["lsp"] = _lsp_oracle()


def _viterbi_oracle(n_levels: int = 8, jump_cost: float = 2.0) -> str:
    """EXACT twin of the per-conversation Viterbi DP
    (operators/viterbi.py / kernels.viterbi_smooth, the
    cPitchSmootherViterbi analogue): a recursive CTE advances the
    8-level trellis one frame per step, carrying the per-state cost
    vector AND the per-state best path (path-carrying Viterbi is
    backtrack-equivalent: each state's stored path is built from the
    same argmin the backpointer pass would follow). Tie-breaks mirror
    np.argmin (first index) via list_indexof-of-min on bit-identical
    candidate values; levels mirror np.linspace (lo + i*step with the
    last level pinned to hi). Constant conversations (hi == lo) bypass
    the DP and pass through unchanged, exactly like the kernel."""
    NL, JC = n_levels, jump_cost
    return SQL_PREFIX.replace("WITH ", "WITH RECURSIVE ", 1) + f"""
, varr AS (
  SELECT conv_id, list(char_len ORDER BY turn_idx) AS xs, COUNT(*) AS n,
         MIN(char_len) AS lo, MAX(char_len) AS hi
  FROM lld GROUP BY conv_id
), vlv AS (
  SELECT *, list_transform(range(0, {NL}), i ->
      CASE WHEN i = {NL} - 1 THEN hi
           ELSE lo + (hi - lo) / ({NL} - 1.0) * i END) AS lev
  FROM varr WHERE hi > lo
), vit AS (
  SELECT conv_id, xs, n, lev, CAST(1 AS BIGINT) AS t,
         list_transform(range(1, {NL} + 1), k -> abs(xs[1] - lev[k]))
             AS costs,
         list_transform(range(1, {NL} + 1), k -> [CAST(k AS INTEGER)])
             AS paths
  FROM vlv
  UNION ALL
  SELECT conv_id, xs, n, lev, t + 1,
         list_transform(st, s -> s.c),
         list_transform(st, s -> s.p)
  FROM (
    SELECT v2.*,
      list_transform(range(1, {NL} + 1), tox -> struct_pack(
        c := list_aggregate(cands[tox], 'min')
             + abs(xs[t + 1] - lev[tox]),
        p := paths[list_indexof(cands[tox],
                                list_aggregate(cands[tox], 'min'))]
             || [CAST(tox AS INTEGER)])) AS st
    FROM (
      SELECT v.*,
        list_transform(range(1, {NL} + 1), tox ->
          list_transform(range(1, {NL} + 1), j ->
            costs[j] + CAST('{JC!r}' AS DOUBLE)
                       * abs(lev[tox] - lev[j]))) AS cands
      FROM vit v WHERE t < n
    ) v2
  ) s
), vbest AS (
  SELECT conv_id, lev,
         paths[list_indexof(costs, list_aggregate(costs, 'min'))] AS path
  FROM vit WHERE t = n
), vsmooth AS (
  SELECT conv_id, u.i - 1 AS ord, lev[path[u.i]] AS y
  FROM vbest CROSS JOIN UNNEST(range(1, len(path) + 1)) u(i)
)
SELECT b.conv_id, b.turn_idx,
  ROUND(COALESCE(s.y, b.char_len), 6) AS char_len_vit
FROM (SELECT conv_id, turn_idx, char_len,
             ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
                 AS ord
      FROM lld) b
LEFT JOIN vsmooth s ON s.conv_id = b.conv_id AND s.ord = b.ord
"""


_ORACLES["viterbi_smooth"] = _viterbi_oracle()

def _egemaps_core_oracle() -> str:
    """Per-(conv, session) twin of the kernel path: sma3 windows identical
    to the sma oracle, two-pass CENTERED variance (the kernel's formula),
    quantile_cont == interp=1 percentiles."""
    r = _rsig

    def smooth(c, alias):
        return (f"({c} + COALESCE(lag({c}) OVER w, first_value({c}) OVER wf)"
                f" + COALESCE(lead({c}) OVER w, last_value({c}) OVER wf))"
                f" / 3.0 AS {alias}")

    def chan(alias, prefix):
        sdn = (f"CASE WHEN v_{alias} > 0 THEN SQRT(v_{alias}) / "
               f"(CASE WHEN m_{alias} <> 0 THEN m_{alias} ELSE 1.0 END) "
               f"ELSE 0.0 END")
        return ",\n".join([
            f'{r(f"m_{alias}")} AS "{prefix}_amean"',
            f'{r(sdn)} AS "{prefix}_stddevNorm"',
            f'{r(f"p20_{alias}")} AS "{prefix}_percentile20.0"',
            f'{r(f"p50_{alias}")} AS "{prefix}_percentile50.0"',
            f'{r(f"p80_{alias}")} AS "{prefix}_percentile80.0"',
            f'{r(f"ABS(p80_{alias} - p20_{alias})")} AS "{prefix}_pctlrange0-2"',
        ])

    return SQL_PREFIX + f"""
, sm AS (
  SELECT conv_id, session_id, turn_idx,
    {smooth("char_len", "cl")},
    {smooth("reply_latency", "rl")}
  FROM sessions
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
         wf AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), mu AS (
  SELECT conv_id, session_id, COUNT(*) AS n,
    AVG(cl) AS m_cl, AVG(rl) AS m_rl,
    quantile_cont(cl, 0.20) AS p20_cl, quantile_cont(cl, 0.50) AS p50_cl,
    quantile_cont(cl, 0.80) AS p80_cl,
    quantile_cont(rl, 0.20) AS p20_rl, quantile_cont(rl, 0.50) AS p50_rl,
    quantile_cont(rl, 0.80) AS p80_rl
  FROM sm GROUP BY conv_id, session_id
), vr AS (
  SELECT s.conv_id, s.session_id,
    SUM(POW(s.cl - m.m_cl, 2)) / MAX(m.n) AS v_cl,
    SUM(POW(s.rl - m.m_rl, 2)) / MAX(m.n) AS v_rl
  FROM sm s JOIN mu m USING (conv_id, session_id)
  GROUP BY s.conv_id, s.session_id
)
SELECT m.conv_id, m.session_id, m.n AS n_turns,
{chan("cl", "char_len_sma3")},
{chan("rl", "reply_latency_sma3")}
FROM mu m JOIN vr USING (conv_id, session_id)
"""


_ORACLES["egemaps_core"] = _egemaps_core_oracle()


def _peaks2_slope_ctes() -> str:
    """Recursive-CTE twin of the UNRESTRICTED cFunctionalPeaks2 automaton's
    slope outputs (functionalPeaks2.cpp:314-919, default relThresh=0.1,
    dynRelThresh=0, absThresh = 0.1*range) over the long-form channel table
    `chanv(conv_id, session_id, ch, turn_idx, v)`:

      g0   — per-group value list, absThresh, strict local extrema
             (python index i in [2, N-3]) as (pos, val, mx) structs;
      p2a  — pass 2a elimination replayed one extremum per recursion step,
             all groups in lockstep; retroactive kills (alive[last_max]=
             False) carried as a dead-index list;
      p2b  — pass 2b (below-threshold minima against the running max);
      p3   — pass 3 alternation enforcement (same-type repeats resolved
             to the more extreme one, retroactively);
      sv/sl — survivors; rising slope of each surviving max against the
             most recent surviving min before it (initial state (0, x[0])),
             falling symmetric; boundary slope appended from the last
             survivor to x[N-1]; F=0 degenerates to the single
             (x[N-1]-x[0])/N slope routed by sign;
      slopes — mean over ALL slopes (divided only when n>1), stddev over
             the SURVIVOR-pair slopes only but normalized by the full n
             (reference quirk, kept).

    Equality with kernels.f_peaks2 pinned standalone on 149 randomized/
    adversarial groups (plateaus, constants, monotones, sawtooths) before
    integration."""
    return """
, garr AS (
  SELECT conv_id, session_id, ch, list(v ORDER BY turn_idx) AS xs,
         CAST(COUNT(*) AS INT) AS n, MAX(v) - MIN(v) AS rng
  FROM chanv GROUP BY conv_id, session_id, ch
), g0 AS (
  SELECT conv_id, session_id, ch, n, 0.1 * rng AS ath,
    xs[1] AS x0, xs[n] AS xl,
    CASE WHEN n >= 5 THEN
      list_filter(
        list_transform(range(3, n - 1), j ->
          CASE WHEN (xs[j] > xs[j-1] AND xs[j] > xs[j+1])
                 OR (xs[j] < xs[j-1] AND xs[j] < xs[j+1])
          THEN struct_pack(pos := j - 1, val := xs[j],
                           mx := xs[j] > xs[j-1] AND xs[j] > xs[j+1])
          END),
        e -> e IS NOT NULL)
    ELSE [] END AS ext
  FROM garr
), gm AS (SELECT *, CAST(len(ext) AS INT) AS m FROM g0
), p2a AS (
  SELECT conv_id, session_id, ch, m, ext, ath, x0, 0 AS k,
         x0 AS lastval, x0 AS lastmin, x0 AS lastmax,
         0 AS minflag, -1 AS lastmaxi, CAST([] AS BIGINT[]) AS dead
  FROM gm
  UNION ALL
  SELECT conv_id, session_id, ch, m, ext, ath, x0, k + 1,
    y,
    CASE WHEN NOT ismax AND NOT isbelow THEN y ELSE lastmin END,
    CASE WHEN ismax AND NOT isbelow THEN y
         WHEN ismax AND isbelow AND NOT killlow AND (grow OR minflag = 1)
              THEN y
         ELSE lastmax END,
    CASE WHEN ismax THEN 0 WHEN NOT isbelow THEN 1 ELSE minflag END,
    CASE WHEN ismax AND NOT isbelow THEN k
         WHEN ismax AND isbelow AND NOT killlow AND (grow OR minflag = 1)
              THEN k
         ELSE lastmaxi END,
    CASE WHEN ismax AND isbelow AND killlow THEN list_append(dead, k)
         WHEN ismax AND isbelow AND NOT killlow AND grow AND lastmaxi >= 0
              THEN list_append(dead, lastmaxi)
         WHEN ismax AND isbelow AND NOT killlow AND NOT grow AND minflag = 0
              THEN list_append(dead, k)
         ELSE dead END
  FROM (
    SELECT p.*, ext[k + 1].val AS y, ext[k + 1].mx AS ismax,
           ABS(ext[k + 1].val - lastval) < ath AS isbelow,
           (ext[k + 1].val - lastmin) < ath AS killlow,
           ext[k + 1].val > lastmax * 1.05 AS grow
    FROM p2a p WHERE k < m
  )
), d2a AS (
  SELECT conv_id, session_id, ch, m, ext, ath, x0, dead
  FROM p2a WHERE k = m
), p2b AS (
  SELECT conv_id, session_id, ch, m, ext, ath, x0, 0 AS k,
         x0 AS lastmax, dead
  FROM d2a
  UNION ALL
  SELECT conv_id, session_id, ch, m, ext, ath, x0, k + 1,
    CASE WHEN NOT sk AND ismax THEN y ELSE lastmax END,
    CASE WHEN NOT sk AND NOT ismax AND (lastmax - y) < ath
         THEN list_append(dead, k) ELSE dead END
  FROM (
    SELECT p.*, ext[k + 1].val AS y, ext[k + 1].mx AS ismax,
           list_contains(dead, k) AS sk
    FROM p2b p WHERE k < m
  )
), d2b AS (
  SELECT conv_id, session_id, ch, m, ext, x0, dead FROM p2b WHERE k = m
), p3 AS (
  SELECT conv_id, session_id, ch, m, ext, x0, 0 AS k,
         x0 AS lastmax, x0 AS lastmin, 0 AS minflag, 1 AS init,
         -1 AS lastmini, -1 AS lastmaxi, dead
  FROM d2b
  UNION ALL
  SELECT conv_id, session_id, ch, m, ext, x0, k + 1,
    CASE WHEN sk THEN lastmax
         WHEN ismax AND (minflag = 1 OR init = 1) THEN y
         WHEN ismax AND minflag = 0 AND init = 0 AND y > lastmax THEN y
         ELSE lastmax END,
    CASE WHEN sk THEN lastmin
         WHEN NOT ismax AND (minflag = 0 OR init = 1) THEN y
         WHEN NOT ismax AND minflag = 1 AND init = 0 AND y < lastmin THEN y
         ELSE lastmin END,
    CASE WHEN sk THEN minflag WHEN ismax THEN 0 ELSE 1 END,
    CASE WHEN sk THEN init ELSE 0 END,
    CASE WHEN sk THEN lastmini
         WHEN NOT ismax AND (minflag = 0 OR init = 1) THEN k
         WHEN NOT ismax AND minflag = 1 AND init = 0 AND y < lastmin THEN k
         ELSE lastmini END,
    CASE WHEN sk THEN lastmaxi
         WHEN ismax AND (minflag = 1 OR init = 1) THEN k
         WHEN ismax AND minflag = 0 AND init = 0 AND y > lastmax THEN k
         ELSE lastmaxi END,
    CASE WHEN sk THEN dead
         WHEN NOT ismax AND minflag = 1 AND init = 0 AND y >= lastmin
              THEN list_append(dead, k)
         WHEN NOT ismax AND minflag = 1 AND init = 0 AND y < lastmin
              AND lastmini >= 0 THEN list_append(dead, lastmini)
         WHEN ismax AND minflag = 0 AND init = 0 AND y <= lastmax
              THEN list_append(dead, k)
         WHEN ismax AND minflag = 0 AND init = 0 AND y > lastmax
              AND lastmaxi >= 0 THEN list_append(dead, lastmaxi)
         ELSE dead END
  FROM (
    SELECT p.*, ext[k + 1].val AS y, ext[k + 1].mx AS ismax,
           list_contains(dead, k) AS sk
    FROM p3 p WHERE k < m
  )
), d3 AS (
  SELECT conv_id, session_id, ch, m, ext, x0, dead FROM p3 WHERE k = m
), sv AS (
  SELECT d.conv_id, d.session_id, d.ch, d.x0, q.xl, q.n,
    list_filter(
      list_transform(range(1, d.m + 1),
        j -> CASE WHEN NOT list_contains(d.dead, CAST(j - 1 AS BIGINT))
                  THEN d.ext[j] END),
      e -> e IS NOT NULL) AS fs
  FROM d3 d JOIN gm q USING (conv_id, session_id, ch)
), sl AS (
  SELECT conv_id, session_id, ch, x0, xl, n, fs,
    CAST(len(fs) AS INT) AS f,
    list_filter(
      list_transform(range(1, CAST(len(fs) AS INT) + 1), i ->
        CASE WHEN fs[i].mx AND
          fs[i].pos - COALESCE(
            list_filter(fs, (e, j) -> j < i AND NOT e.mx)
              [len(list_filter(fs, (e, j) -> j < i AND NOT e.mx))].pos,
            0) > 0
        THEN (fs[i].val - COALESCE(
                list_filter(fs, (e, j) -> j < i AND NOT e.mx)
                  [len(list_filter(fs, (e, j) -> j < i AND NOT e.mx))].val,
                x0))
             / (fs[i].pos - COALESCE(
                list_filter(fs, (e, j) -> j < i AND NOT e.mx)
                  [len(list_filter(fs, (e, j) -> j < i AND NOT e.mx))].pos,
                0))
        END),
      s -> s IS NOT NULL) AS rise_main,
    list_filter(
      list_transform(range(1, CAST(len(fs) AS INT) + 1), i ->
        CASE WHEN NOT fs[i].mx AND
          fs[i].pos - COALESCE(
            list_filter(fs, (e, j) -> j < i AND e.mx)
              [len(list_filter(fs, (e, j) -> j < i AND e.mx))].pos,
            0) > 0
        THEN (COALESCE(
                list_filter(fs, (e, j) -> j < i AND e.mx)
                  [len(list_filter(fs, (e, j) -> j < i AND e.mx))].val,
                x0) - fs[i].val)
             / (fs[i].pos - COALESCE(
                list_filter(fs, (e, j) -> j < i AND e.mx)
                  [len(list_filter(fs, (e, j) -> j < i AND e.mx))].pos,
                0))
        END),
      s -> s IS NOT NULL) AS fall_main,
    COALESCE(list_filter(fs, e -> NOT e.mx)
             [len(list_filter(fs, e -> NOT e.mx))].pos, 0) AS lminpos,
    COALESCE(list_filter(fs, e -> NOT e.mx)
             [len(list_filter(fs, e -> NOT e.mx))].val, x0) AS lminval,
    COALESCE(list_filter(fs, e -> e.mx)
             [len(list_filter(fs, e -> e.mx))].pos, 0) AS lmaxpos,
    COALESCE(list_filter(fs, e -> e.mx)
             [len(list_filter(fs, e -> e.mx))].val, x0) AS lmaxval
  FROM sv
), sl2 AS (
  SELECT conv_id, session_id, ch, rise_main, fall_main,
    CASE
      WHEN f = 0 THEN
        CASE WHEN (xl - x0) / n > 0 THEN [(xl - x0) / n]
             ELSE CAST([] AS DOUBLE[]) END
      WHEN NOT fs[f].mx AND (n - 1 - lminpos) > 0
        THEN list_append(rise_main, (xl - lminval) / (n - 1 - lminpos))
      ELSE rise_main END AS rise_all,
    CASE
      WHEN f = 0 THEN
        CASE WHEN (xl - x0) / n < 0 THEN [(xl - x0) / n]
             ELSE CAST([] AS DOUBLE[]) END
      WHEN fs[f].mx AND (n - 1 - lmaxpos) > 0
        THEN list_append(fall_main, (xl - lmaxval) / (n - 1 - lmaxpos))
      ELSE fall_main END AS fall_all
  FROM sl
), slm AS (
  SELECT conv_id, session_id, ch, rise_main, fall_main,
    CAST(len(rise_all) AS INT) AS nr, CAST(len(fall_all) AS INT) AS nf,
    COALESCE(list_aggregate(rise_all, 'sum'), 0.0) AS sumr,
    COALESCE(list_aggregate(fall_all, 'sum'), 0.0) AS sumf
  FROM sl2
), slmu AS (
  SELECT conv_id, session_id, ch, rise_main, fall_main, nr, nf,
    CASE WHEN nr = 0 THEN 0.0 WHEN nr > 1 THEN sumr / nr ELSE sumr END
      AS mean_rs,
    CASE WHEN nf = 0 THEN 0.0 WHEN nf > 1 THEN sumf / nf ELSE sumf END
      AS mean_fs
  FROM slm
), slss AS (
  SELECT conv_id, session_id, ch, mean_rs, mean_fs,
    CASE WHEN nr > 1 THEN COALESCE(list_aggregate(
          list_transform(rise_main, s -> POW(s - mean_rs, 2)), 'sum'), 0.0)
          / nr
         ELSE COALESCE(list_aggregate(
          list_transform(rise_main, s -> POW(s - mean_rs, 2)), 'sum'), 0.0)
    END AS ssr,
    CASE WHEN nf > 1 THEN COALESCE(list_aggregate(
          list_transform(fall_main, s -> POW(s - mean_fs, 2)), 'sum'), 0.0)
          / nf
         ELSE COALESCE(list_aggregate(
          list_transform(fall_main, s -> POW(s - mean_fs, 2)), 'sum'), 0.0)
    END AS ssf
  FROM slmu
), slopes AS (
  SELECT conv_id, session_id, ch, mean_rs, mean_fs,
    CASE WHEN ssr > 0 THEN SQRT(ssr) ELSE 0.0 END AS sd_rs,
    CASE WHEN ssf > 0 THEN SQRT(ssf) ELSE 0.0 END AS sd_fs
  FROM slss
)"""


_P2_CHANNELS = [("char_len", "cl"), ("token_cnt", "tk"),
                ("punct_density", "pd"), ("ttr", "tt"),
                ("reply_latency", "rl")]


def _egemaps_bundle_oracle() -> str:
    """Full twin of q_egemaps_bundle (presets.egemaps_style): per-(conv,
    session) amean/stddevNorm/percentiles/pctlrange + the four peaks2
    SLOPE functionals over all five sma3 channels (the UNRESTRICTED
    automaton — see _peaks2_slope_ctes), plus nonX(0) segment statistics
    of the noZeroSma-smoothed is_tool channel (functionalSegments.cpp
    process_SegNonX, segMinLng=3 / pauseMinLng=2 / maxNumSeg=20,
    timeNorm=segment). Promotes the egemaps_bundle tail gate from
    rows-only to a full replica oracle (r4 verdict task 2)."""

    def smooth(c):
        return (f"({c} + COALESCE(lag({c}) OVER egw, first_value({c}) OVER egwf)"
                f" + COALESCE(lead({c}) OVER egw, last_value({c}) OVER egwf))"
                f" / 3.0")

    nzsm = """
    CASE WHEN is_tool = 0.0 THEN 0.0 ELSE (
      (is_tool
       + CASE WHEN COALESCE(lag(is_tool) OVER egw, first_value(is_tool) OVER egwf)
              <> 0.0 THEN COALESCE(lag(is_tool) OVER egw,
                                   first_value(is_tool) OVER egwf) ELSE 0 END
       + CASE WHEN COALESCE(lead(is_tool) OVER egw, last_value(is_tool) OVER egwf)
              <> 0.0 THEN COALESCE(lead(is_tool) OVER egw,
                                   last_value(is_tool) OVER egwf) ELSE 0 END)
      / (1
         + CASE WHEN COALESCE(lag(is_tool) OVER egw,
                              first_value(is_tool) OVER egwf) <> 0.0
                THEN 1 ELSE 0 END
         + CASE WHEN COALESCE(lead(is_tool) OVER egw,
                              last_value(is_tool) OVER egwf) <> 0.0
                THEN 1 ELSE 0 END)
    ) END"""

    sm_cols = ",\n    ".join(
        f"{smooth(c)} AS v_{k}" for c, k in _P2_CHANNELS)
    chan_union = "\n  UNION ALL\n".join(
        f"  SELECT conv_id, session_id, turn_idx, '{k}' AS ch, v_{k} AS v "
        f"FROM sm" for _, k in _P2_CHANNELS)

    def out_cols(k, name):
        sdn = (f"CASE WHEN m2 > 0 THEN "
               f"(CASE WHEN m2 > 0 THEN SQRT(m2) ELSE 0.0 END) / "
               f"(CASE WHEN mean <> 0 THEN mean ELSE 1.0 END) ELSE 0.0 END")
        exprs = [("amean", "mean"), ("stddevNorm", sdn),
                 ("percentile20.0", "p20"), ("percentile50.0", "p50"),
                 ("percentile80.0", "p80"),
                 ("pctlrange0-2", "ABS(p80 - p20)"),
                 ("meanRisingSlope", "mean_rs"),
                 ("stddevRisingSlope", "sd_rs"),
                 ("meanFallingSlope", "mean_fs"),
                 ("stddevFallingSlope", "sd_fs")]
        return ",\n  ".join(
            f"ROUND(MAX(CASE WHEN ch = '{k}' THEN {e} END), 6) "
            f'AS "{name}_sma3_{f}"' for f, e in exprs)

    wide = ",\n  ".join(out_cols(k, c) for c, k in _P2_CHANNELS)

    body = f"""
, sm AS (
  SELECT conv_id, session_id, turn_idx,
    {sm_cols},
    {nzsm} AS v_nz
  FROM sessions
  WINDOW egw AS (PARTITION BY conv_id ORDER BY turn_idx),
         egwf AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), chanv AS (
{chan_union}
){_peaks2_slope_ctes()}
, mu AS (
  SELECT conv_id, session_id, ch, COUNT(*) AS n, AVG(v) AS mean,
    quantile_cont(v, 0.20) AS p20, quantile_cont(v, 0.50) AS p50,
    quantile_cont(v, 0.80) AS p80
  FROM chanv GROUP BY conv_id, session_id, ch
), vr AS (
  SELECT c.conv_id, c.session_id, c.ch,
    SUM(POW(c.v - m.mean, 2)) / MAX(m.n) AS m2
  FROM chanv c JOIN mu m USING (conv_id, session_id, ch)
  GROUP BY c.conv_id, c.session_id, c.ch
), core AS (
  SELECT conv_id, session_id, MAX(n) AS n_turns,
  {wide}
  FROM mu JOIN vr USING (conv_id, session_id, ch)
          JOIN slopes USING (conv_id, session_id, ch)
  GROUP BY conv_id, session_id
), flags AS (
  SELECT conv_id, session_id,
    CAST(ROW_NUMBER() OVER sw - 1 AS BIGINT) AS i, v_nz AS x,
    COUNT(*) OVER (PARTITION BY conv_id, session_id) AS n
  FROM sm
  WINDOW sw AS (PARTITION BY conv_id, session_id ORDER BY turn_idx)
), sess_n AS (
  SELECT conv_id, session_id, MAX(n) AS n FROM flags
  GROUP BY conv_id, session_id
), matched AS (
  SELECT conv_id, session_id, i,
    SUM(CASE WHEN prev_mi IS NULL OR i - prev_mi - 1 >= 2 THEN 1 ELSE 0 END)
        OVER (PARTITION BY conv_id, session_id ORDER BY i) AS grp
  FROM (
    SELECT conv_id, session_id, i,
      lag(i) OVER (PARTITION BY conv_id, session_id ORDER BY i) AS prev_mi
    FROM flags WHERE x <> 0.0
  )
), grps AS (
  SELECT conv_id, session_id, grp, COUNT(*) AS n_m,
         MIN(i) AS first_i, MAX(i) AS last_i
  FROM matched GROUP BY conv_id, session_id, grp
), segs AS (
  SELECT conv_id, session_id, last_i - first_i AS seg_len,
    ROW_NUMBER() OVER (PARTITION BY conv_id, session_id
                       ORDER BY first_i) AS seg_rank
  FROM grps WHERE n_m >= 3
), capped AS (
  SELECT conv_id, session_id, CAST(seg_len AS DOUBLE) AS seg_len
  FROM segs WHERE seg_rank <= 20
), st0 AS (
  SELECT conv_id, session_id, COUNT(*) AS n_seg, SUM(seg_len) AS sum_len,
         MAX(seg_len) AS max_len, MIN(seg_len) AS min_len,
         AVG(seg_len) AS mean_len
  FROM capped GROUP BY conv_id, session_id
), st AS (
  SELECT s.*,
    CASE WHEN s.n_seg > 1
         THEN SQRT(SUM(POW(c.seg_len - s.mean_len, 2)) / s.n_seg)
         ELSE 0.0 END AS len_dev
  FROM st0 s JOIN capped c USING (conv_id, session_id)
  GROUP BY s.conv_id, s.session_id, s.n_seg, s.sum_len, s.max_len,
           s.min_len, s.mean_len
)
SELECT core.*,
  ROUND(COALESCE(st.n_seg, 0) / 20.0, 6) AS "is_tool_sma3nz_numSegments",
  ROUND(COALESCE(st.mean_len, 0.0) / sn.n, 6) AS "is_tool_sma3nz_meanSegLen",
  ROUND(COALESCE(st.max_len, 0.0) / sn.n, 6) AS "is_tool_sma3nz_maxSegLen",
  ROUND(COALESCE(st.min_len, 0.0) / sn.n, 6) AS "is_tool_sma3nz_minSegLen",
  ROUND(COALESCE(st.len_dev, 0.0) / sn.n, 6)
      AS "is_tool_sma3nz_segLenStddev"
FROM core
JOIN sess_n sn USING (conv_id, session_id)
LEFT JOIN st USING (conv_id, session_id)
"""
    return SQL_PREFIX.replace("WITH ", "WITH RECURSIVE ", 1) + body


_ORACLES["egemaps_bundle"] = _egemaps_bundle_oracle()


_EMO_SD = "(CASE WHEN m2 > 0 THEN SQRT(m2) ELSE 0.0 END)"
_EMO_MEAN1 = "(CASE WHEN mean <> 0 THEN mean ELSE 1.0 END)"
_EMO_AMEAN1 = "(CASE WHEN mean <> 0 THEN ABS(mean) ELSE 1.0 END)"
# (functional name, DuckDB expr) for the emo_large 37-col probe head —
# module-level so the merged egemaps_bundle oracle can emo_-prefix them
_EMO_EXPRS = [
        ("amean", "mean"),
        ("absmean", "s_abs / nd"),
        ("qmean", "s_q / nd"),
        ("nzamean", "CASE WHEN nnz > 0 THEN s_nz / nnz ELSE 0.0 END"),
        ("nzabsmean", "CASE WHEN nnz > 0 THEN s_nzabs / nnz ELSE 0.0 END"),
        ("nzqmean", "CASE WHEN nnz > 0 THEN s_nzq / nnz ELSE 0.0 END"),
        ("nzgmean", "CASE WHEN nnz > 0 THEN EXP(s_nzlog / nnz) ELSE 0.0 END"),
        ("nnz", "CAST(nnz AS DOUBLE)"),
        ("flatness", "CASE WHEN s_abs / nd <> 0 THEN "
         "(CASE WHEN nnz > 0 THEN EXP(s_nzlog / nnz) ELSE 0.0 END) "
         "/ (s_abs / nd) ELSE 1.0 END"),
        ("posamean", "CASE WHEN npos > 0 THEN s_pos / npos ELSE 0.0 END"),
        ("negamean", "CASE WHEN nneg > 0 THEN s_neg / nneg ELSE 0.0 END"),
        ("posqmean", "CASE WHEN npos > 0 THEN s_posq / npos ELSE 0.0 END"),
        ("posrqmean", "SQRT(CASE WHEN npos > 0 THEN s_posq / npos "
         "ELSE 0.0 END)"),
        ("negqmean", "CASE WHEN nneg > 0 THEN s_negq / nneg ELSE 0.0 END"),
        ("negrqmean", "SQRT(CASE WHEN nneg > 0 THEN s_negq / nneg "
         "ELSE 0.0 END)"),
        ("rqmean", "SQRT(s_q / nd)"),
        ("nzrqmean", "SQRT(CASE WHEN nnz > 0 THEN s_nzq / nnz "
         "ELSE 0.0 END)"),
        ("variance", "m2"),
        ("stddev", _EMO_SD),
        # 5-sig (see q_emo_large._proj): summed via a placeholder swap below
        ("skewness", "CASE WHEN nd * m2 * " + _EMO_SD + " > 0 THEN "
         "m3 / (nd * m2 * " + _EMO_SD + ") ELSE 0.0 END"),
        ("kurtosis", "CASE WHEN nd * m2 * m2 > 0 THEN "
         "m4 / (nd * m2 * m2) ELSE 0.0 END"),
        ("stddevNorm", f"CASE WHEN m2 > 0 THEN {_EMO_SD} / {_EMO_MEAN1} "
         "ELSE 0.0 END"),
        ("coeffOfVariation", f"CASE WHEN m2 > 0 THEN {_EMO_SD} / {_EMO_AMEAN1} "
         "ELSE 0.0 END"),
        ("max", "vmax"),
        ("min", "vmin"),
        ("range", "vmax - vmin"),
        ("maxPos", "maxpos"),
        ("minPos", "minpos"),
        ("maxameandist", "vmax - mean"),
        ("minameandist", "mean - vmin"),
        ("quartile1", "q1"),
        ("quartile2", "q2"),
        ("quartile3", "q3"),
        ("iqr1-2", "q2 - q1"),
        ("iqr2-3", "q3 - q2"),
        ("iqr1-3", "q3 - q1"),
        ("percentile20.0", "p20"),
]


def _emo_large_oracle() -> str:
    """Twin of q_emo_large's 40-col probe subset (the means/moments/
    extremes/percentiles head of the emo_large bank over the char_len_sma3
    channel at (conv, session) grain). Kernel semantics mirrored exactly:
    two-pass centered moments with the d3/d4 > 0 guards
    (functionalMoments.cpp:89-166), nz/pos/neg conditional means and the
    nzgmean/flatness pair (functionalMeans.cpp), first-occurrence
    maxPos/minPos at timeNorm=frames (functionalExtremes.cpp:93-137),
    quantile_cont == interp=1 percentiles. Promotes the emo_large tail
    gate from rows-only to a full replica oracle (r4 verdict task 2);
    merged into the egemaps_bundle gate under emo_ prefixes (round 5)."""
    r = _rsig
    smooth = ("(char_len + COALESCE(lag(char_len) OVER w, "
              "first_value(char_len) OVER wf) + COALESCE(lead(char_len) "
              "OVER w, last_value(char_len) OVER wf)) / 3.0")
    exprs = _EMO_EXPRS

    def _round(f, e):
        out = r(e)
        if f in ("skewness", "kurtosis"):      # 5 sig, matching the gate
            out = out.replace("POW(10, 5 - FLOOR", "POW(10, 4 - FLOOR")
        return out

    sel = ",\n  ".join(
        f'{_round(f, e)} AS "char_len_sma3_{f}"' for f, e in exprs)
    return SQL_PREFIX + f"""
, sm AS (
  SELECT conv_id, session_id, turn_idx, {smooth} AS v
  FROM sessions
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
         wf AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), ix AS (
  SELECT conv_id, session_id, v,
    CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, session_id
                            ORDER BY turn_idx) - 1 AS DOUBLE) AS i,
    MAX(v) OVER (PARTITION BY conv_id, session_id) AS wmax,
    MIN(v) OVER (PARTITION BY conv_id, session_id) AS wmin
  FROM sm
), mu AS (
  SELECT conv_id, session_id,
    COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
    AVG(v) AS mean, SUM(ABS(v)) AS s_abs, SUM(v * v) AS s_q,
    SUM(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS nnz,
    SUM(CASE WHEN v <> 0 THEN v END) AS s_nz,
    SUM(CASE WHEN v <> 0 THEN ABS(v) END) AS s_nzabs,
    SUM(CASE WHEN v <> 0 THEN v * v END) AS s_nzq,
    SUM(CASE WHEN v <> 0 THEN LN(ABS(v)) END) AS s_nzlog,
    SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS npos,
    SUM(CASE WHEN v > 0 THEN v END) AS s_pos,
    SUM(CASE WHEN v > 0 THEN v * v END) AS s_posq,
    SUM(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS nneg,
    SUM(CASE WHEN v < 0 THEN v END) AS s_neg,
    SUM(CASE WHEN v < 0 THEN v * v END) AS s_negq,
    MAX(v) AS vmax, MIN(v) AS vmin,
    MIN(CASE WHEN v = wmax THEN i END) AS maxpos,
    MIN(CASE WHEN v = wmin THEN i END) AS minpos,
    quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.50) AS q2,
    quantile_cont(v, 0.75) AS q3, quantile_cont(v, 0.20) AS p20
  FROM ix GROUP BY conv_id, session_id
), ctr AS (
  SELECT s.conv_id, s.session_id,
    SUM(POW(s.v - m.mean, 2)) / MAX(m.nd) AS m2,
    SUM(POW(s.v - m.mean, 3)) AS m3,
    SUM(POW(s.v - m.mean, 4)) AS m4
  FROM ix s JOIN mu m USING (conv_id, session_id)
  GROUP BY s.conv_id, s.session_id
)
SELECT mu.conv_id, mu.session_id, mu.n AS n_turns,
  {sel}
FROM mu JOIN ctr USING (conv_id, session_id)
"""


# Round-5 window re-pack: the emo_large replica twin joins the egemaps
# bundle twin at the shared (conv, session) grain under emo_ prefixes —
# one driver-window gate now hash-checks BOTH named preset bundles.
_ORACLES["egemaps_bundle"] = (
    "WITH eg AS (\n" + _ORACLES["egemaps_bundle"] + "\n), em AS (\n"
    + _emo_large_oracle() + "\n)\nSELECT eg.*,\n  "
    + ",\n  ".join(
        ["em.n_turns AS emo_n_turns"]
        + [f'em."char_len_sma3_{f}" AS "emo_char_len_sma3_{f}"'
           for f, _ in _EMO_EXPRS])
    + "\nFROM eg JOIN em USING (conv_id, session_id)")

def _qreg_oracle() -> str:
    """Quadratic normal equations over i=0..N-1 (functionalRegression.cpp
    230-246 closed forms), errors via a second pass, parabola extras with
    the reference's clipping / zero-curvature rules."""
    r = _rsig
    N = "CAST(COUNT(*) AS DOUBLE)"
    S1 = f"({N}*({N}-1)/2)"
    S2 = f"({N}*({N}-1)*(2*{N}-1)/6)"
    S3 = f"({S1}*{S1})"
    S4 = f"({S2}*(3*(({N}-1)*({N}-1)+({N}-1))-1)/5)"
    det = (f"({S4}*{S2}*{N} + 2*{S3}*{S1}*{S2} - {S2}*{S2}*{S2} "
           f"- {S3}*{S3}*{N} - {S3}*{S4})")
    num = "SUM(char_len*__i)"
    num2 = "SUM(char_len*__i*__i)"
    asum = "SUM(char_len)"
    a = (f"(CASE WHEN COUNT(*) > 1 AND {det} <> 0 THEN "
         f"(({S2}*{N} - {S3})*{num2} + ({S1}*{S2} - {S3}*{N})*{num} "
         f"+ ({S3}*{S1} - {S2}*{S2})*{asum}) / {det} ELSE 0.0 END)")
    b = (f"(CASE WHEN COUNT(*) > 1 AND {det} <> 0 THEN "
         f"(({S1}*{S2} - {S3}*{N})*{num2} + ({S4}*{N} - {S2}*{S2})*{num} "
         f"+ ({S3}*{S2} - {S4}*{S1})*{asum}) / {det} ELSE 0.0 END)")
    c = (f"(CASE WHEN COUNT(*) = 1 THEN FIRST(char_len ORDER BY __i) "
         f"WHEN {det} <> 0 THEN "
         f"(({S3}*{S1} - {S2}*{S2})*{num2} + ({S3}*{S2} - {S4}*{S1})*{num} "
         f"+ ({S4}*{S2} - {S3}*{S3})*{asum}) / {det} ELSE 0.0 END)")
    cen = (f"(CASE WHEN {asum} <> 0 THEN {num} / {asum} ELSE 0.0 END)")
    return SQL_PREFIX + f"""
, idx AS (
  SELECT conv_id, session_id, char_len,
    CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, session_id
                            ORDER BY turn_idx) - 1 AS DOUBLE) AS __i
  FROM sessions
), coef AS (
  SELECT conv_id, session_id, COUNT(*) AS n_turns,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    {a} AS a, {b} AS b, {c} AS c, {cen} AS cen
  FROM idx GROUP BY conv_id, session_id
), err AS (
  SELECT i.conv_id, i.session_id,
    SUM(ABS(i.char_len - (k.a*i.__i*i.__i + k.b*i.__i + k.c))) AS qea,
    SUM(POW(i.char_len - (k.a*i.__i*i.__i + k.b*i.__i + k.c), 2)) AS qeq
  FROM idx i JOIN coef k USING (conv_id, session_id)
  GROUP BY i.conv_id, i.session_id
), ext AS (
  SELECT k.*,
    CASE WHEN k.a <> 0
         THEN LEAST(GREATEST(k.b / (-2*k.a), -k.nd), k.nd)
         WHEN k.b > 0 THEN -k.nd
         ELSE k.nd END AS x0,
    CASE WHEN k.a <> 0 THEN k.c - k.b*k.b/(4*k.a) ELSE 0.0 END AS y0,
    k.a*(k.nd-1)*(k.nd-1) + k.b*(k.nd-1) + k.c AS yr
  FROM coef k
)
SELECT e.conv_id, e.session_id, e.n_turns,
  {r("e.a")} AS "char_len_qregc1",
  {r("e.b")} AS "char_len_qregc2",
  {r("e.c")} AS "char_len_qregc3",
  {r("r2.qea / e.nd")} AS "char_len_qregerrA",
  {r("r2.qeq / e.nd")} AS "char_len_qregerrQ",
  {r("e.cen")} AS "char_len_centroid",
  {r("CASE WHEN e.x0 > 0 THEN (e.y0 - e.c) / e.x0 ELSE 0.0 END")}
      AS "char_len_qregls",
  {r("CASE WHEN e.x0 < e.nd - 1 THEN (e.yr - e.y0) / (e.nd - 1 - e.x0) "
     "ELSE 0.0 END")} AS "char_len_qregrs",
  {r("e.x0")} AS "char_len_qregx0",
  {r("e.y0")} AS "char_len_qregy0",
  {r("e.yr")} AS "char_len_qregyr"
FROM ext e JOIN err r2 USING (conv_id, session_id)
"""


_ORACLES["functionals_qreg"] = _qreg_oracle()

_ORACLES["meta_segments"] = SQL_PREFIX + """
, chg AS (
  SELECT l.conv_id, l.turn_idx, l.char_len,
    CASE WHEN t.role <> lag(t.role) OVER w OR lag(t.role) OVER w IS NULL
         THEN 1 ELSE 0 END AS is_chg
  FROM lld l JOIN transcripts t USING (conv_id, turn_idx)
  WINDOW w AS (PARTITION BY l.conv_id ORDER BY l.turn_idx)
), seg AS (
  SELECT conv_id, turn_idx, char_len,
    CAST(SUM(is_chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS UNBOUNDED PRECEDING) - 1 AS INTEGER)
        AS meta_seg
  FROM chg
)
SELECT conv_id, meta_seg, COUNT(*) AS n_turns,
       ROUND(AVG(char_len), 6) AS char_len_amean
FROM seg GROUP BY conv_id, meta_seg
"""

_ORACLES["mono_mixdown"] = SQL_PREFIX + """
SELECT conv_id, turn_idx, ROUND((char_len + token_cnt) / 2.0, 6) AS mix
FROM lld
"""

# overlap-add of trailing rectangular frames is PERFECT RECONSTRUCTION:
# element x[j] of frame t lands at position j for every frame containing
# it, so the gain-normalised sum at position j is exactly x[j] — the
# oracle is the identity, which is precisely the resynthesis property the
# reference guarantees (vecToWinProcessor.cpp normalisation).
_ORACLES["overlap_add"] = SQL_PREFIX + """
SELECT conv_id, turn_idx AS pos, ROUND(char_len, 6) AS value
FROM lld
"""

_ORACLES["mvn_pretrained"] = SQL_PREFIX + """
, st AS (
  SELECT conv_id, AVG(char_len) AS mu, stddev_pop(char_len) AS sd
  FROM lld WHERE turn_idx % 2 = 0 GROUP BY conv_id
)
SELECT l.conv_id, l.turn_idx,
  ROUND(CASE WHEN st.sd IS NOT NULL AND st.sd > 0
       THEN (l.char_len - st.mu) / st.sd ELSE 0.0 END, 6) AS char_len_mvn
FROM lld l LEFT JOIN st USING (conv_id)
"""


def _windowed_hamming_oracle() -> str:
    from opensmile_spark.operators import window_weights

    w = window_weights("hamming", 5)
    terms = " + ".join(
        f"CAST('{wj!r}' AS DOUBLE) * lag(char_len, {5 - 1 - j}) OVER w"
        for j, wj in enumerate(w)
    )
    return SQL_PREFIX + f"""
SELECT conv_id, turn_idx,
  ROUND(({terms}) / CAST('{float(w.sum())!r}' AS DOUBLE), 6)
      AS char_len_wham5
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""


_ORACLES["windowed_hamming"] = _windowed_hamming_oracle()

_ORACLES["turn_detector"] = SQL_PREFIX + """
, act AS (
  SELECT conv_id, turn_idx,
    CAST(ROW_NUMBER() OVER w - 1 AS BIGINT) AS i,
    (token_cnt > 6.0) AS a
  FROM lld
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), grp AS (
  SELECT conv_id, i,
    SUM(CASE WHEN prev_ai IS NULL OR i - prev_ai - 1 >= 2
             THEN 1 ELSE 0 END)
        OVER (PARTITION BY conv_id ORDER BY i) AS g
  FROM (
    SELECT conv_id, i,
      lag(i) OVER (PARTITION BY conv_id ORDER BY i) AS prev_ai
    FROM act WHERE a
  )
), valid AS (
  SELECT conv_id, g,
    CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY g) - 1
         AS INTEGER) AS turn_id
  FROM grp GROUP BY conv_id, g HAVING COUNT(*) >= 2
), traj_base AS (
  SELECT conv_id, turn_idx, role,
    CASE WHEN role = 'tool'
         THEN tool || CAST(turn_idx % 3 AS VARCHAR) END AS tool_k,
    lag(role) OVER w AS prev_role,
    1e-6*epoch_us(ts) - 1e-6*epoch_us(lag(ts) OVER w) AS gap_s
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), traj_per_turn AS (
  SELECT conv_id,
    COUNT(*) AS n_turns,
    COUNT(CASE WHEN role = 'tool' THEN 1 END) AS n_tool_calls,
    COUNT(DISTINCT CASE WHEN role = 'tool' THEN tool_k END)
        AS n_distinct_tools,
    COUNT(CASE WHEN role = prev_role THEN 1 END) AS n_role_repeats,
    COUNT(CASE WHEN role = 'user' THEN 1 END) AS n_user_turns,
    COUNT(CASE WHEN role = 'assistant' THEN 1 END) AS n_assistant_turns,
    ROUND(AVG(CASE WHEN role = 'assistant' THEN gap_s END), 6)
        AS mean_reply_latency_s
  FROM traj_base GROUP BY conv_id
), traj_runs AS (
  SELECT conv_id, MAX(len) AS max_tool_run,
    COUNT(CASE WHEN len >= 3 THEN 1 END) AS n_tool_loops
  FROM (
    SELECT conv_id, run_id, COUNT(*) AS len FROM (
      SELECT conv_id,
        SUM(CASE WHEN prev_tool IS NULL OR prev_tool <> tool_k
                 THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx
                  ROWS UNBOUNDED PRECEDING) AS run_id
      FROM (
        SELECT conv_id, turn_idx, tool_k,
          lag(tool_k) OVER (PARTITION BY conv_id ORDER BY turn_idx)
              AS prev_tool
        FROM traj_base WHERE role = 'tool'
      )
    ) GROUP BY conv_id, run_id
  ) GROUP BY conv_id
)
, novelty AS (
  SELECT conv_id, turn_idx,
    ROUND(CASE WHEN lag(text) OVER w IS NULL THEN 1.0
          ELSE CAST(levenshtein(text, lag(text) OVER w) AS DOUBLE)
               / NULLIF(GREATEST(length(text),
                                 length(lag(text) OVER w)), 0)
          END, 6) AS novelty
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT a.conv_id, a.turn_idx, v.turn_id,
  p.n_turns, p.n_tool_calls, p.n_distinct_tools,
  COALESCE(r.max_tool_run, 0) AS max_tool_run,
  COALESCE(r.n_tool_loops, 0) AS n_tool_loops,
  p.n_role_repeats, p.n_user_turns, p.n_assistant_turns,
  p.mean_reply_latency_s, n.novelty
FROM act a
LEFT JOIN grp gr ON gr.conv_id = a.conv_id AND gr.i = a.i
LEFT JOIN valid v ON v.conv_id = a.conv_id AND v.g = gr.g
JOIN traj_per_turn p ON p.conv_id = a.conv_id
LEFT JOIN traj_runs r ON r.conv_id = a.conv_id
JOIN novelty n ON n.conv_id = a.conv_id AND n.turn_idx = a.turn_idx
"""

_ORACLES["median_smooth"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND(quantile_cont(char_len, 0.5) OVER (
    PARTITION BY conv_id ORDER BY turn_idx
    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS char_len_med5
FROM lld
"""

_ORACLES["contour_direction"] = SQL_PREFIX + f"""
, ml AS (
  SELECT conv_id, turn_idx,
    SUM(char_len) OVER (PARTITION BY conv_id ORDER BY turn_idx
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 3.0 AS s,
    SUM(char_len) OVER (PARTITION BY conv_id ORDER BY turn_idx
        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) / 10.0 AS l
  FROM lld
)
SELECT conv_id, turn_idx,
  CASE WHEN s > POW(l, 1.01) THEN 1.0
       WHEN s < POW(l, CAST('{1.0 / 1.01!r}' AS DOUBLE)) THEN -1.0
       ELSE 0.0 END AS char_len_direction,
  ROUND(s - l, 6) AS char_len_dirscore
FROM ml
"""

_SPEC_GRID = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
counts AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS bucket,
    COUNT(*) AS cnt
  FROM toks GROUP BY 1, 2
),
grid AS (
  SELECT d.doc_id, g.bucket, COALESCE(c.cnt, 0)::DOUBLE AS cnt
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) g
  LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bucket = g.bucket
)
"""


def _plp_bucket_sql(b: int) -> str:
    f2 = f"(({b} + 1.0) * 250.0 * ({b} + 1.0) * 250.0)"
    fs = f"({f2} / ({f2} + 1.6e5))"
    w = f"({fs} * {fs} * (({f2} + 1.44e6) / ({f2} + 9.61e6)))"
    return (f"ROUND(POW(MAX(CASE WHEN bucket = {b} THEN cnt END) * {w}, "
            f"CAST('0.33' AS DOUBLE)), 6) AS aud_b{b}")


_ORACLES["plp_aud"] = _SPEC_GRID + f"""
SELECT doc_id,
  {_plp_bucket_sql(0)},
  {_plp_bucket_sql(7)},
  {_plp_bucket_sql(15)}
FROM grid GROUP BY doc_id
"""

_HARM_DB = """
  CASE WHEN f0.h0 <= 0 THEN -201.0
       WHEN COALESCE(h{k}.cnt, 0) > 0
       THEN GREATEST(20.0 * (LOG10(h{k}.cnt) - LOG10(f0.h0)), -200.0)
       ELSE -200.0 END
"""

_ORACLES["harmonics"] = _SPEC_GRID + f"""
, f0 AS (
  SELECT doc_id, bucket AS f0b, cnt AS h0 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        ORDER BY cnt DESC, bucket ASC) AS rk
    FROM grid WHERE bucket >= 1
  ) WHERE rk = 1
)
SELECT f0.doc_id, CAST(f0.f0b AS INTEGER) AS f0_bucket,
  ROUND({_HARM_DB.format(k=2)}, 6) AS "harmMagRelF0dB_2",
  ROUND({_HARM_DB.format(k=3)}, 6) AS "harmMagRelF0dB_3"
FROM f0
LEFT JOIN grid h2 ON h2.doc_id = f0.doc_id AND h2.bucket = f0.f0b * 2
LEFT JOIN grid h3 ON h3.doc_id = f0.doc_id AND h3.bucket = f0.f0b * 3
"""


_ORACLES["vector_ops_ext"] = _SPEC_GRID + """
, chars AS (
  SELECT doc_id, CAST(length(text) AS DOUBLE) AS n FROM documents
), reds AS (
  SELECT doc_id,
    SUM(cnt) AS s_sum, SUM(cnt * cnt) AS s_ssm, SUM(ABS(cnt)) AS s_ll1
  FROM grid GROUP BY doc_id
)
SELECT c.doc_id,
  ROUND(1127.0 * LN(1.0 + c.n / 700.0), 6) AS n_chars_fconv_mel,
  ROUND(13.0 * ATAN(0.00076 * c.n)
        + 3.5 * ATAN(POW(c.n / 7500.0, 2)), 6) AS n_chars_fconv_bark,
  ROUND(CASE WHEN c.n > 0 THEN LOG2(c.n / 27.5) ELSE 0.0 END, 6)
      AS n_chars_fconv_oct,
  ROUND(10.0 * CASE WHEN c.n > 0 THEN LOG10(c.n) ELSE 0.0 END, 6)
      AS n_chars_dBp,
  ROUND(20.0 * CASE WHEN c.n > 0 THEN LOG10(c.n) ELSE 0.0 END, 6)
      AS n_chars_dBv,
  ROUND(r.s_sum, 6) AS spec_sum,
  ROUND(r.s_ssm, 6) AS spec_ssm,
  ROUND(r.s_ll1, 6) AS spec_ll1,
  ROUND(SQRT(r.s_ssm), 6) AS spec_ll2
FROM chars c JOIN reds r USING (doc_id)
"""

def _acf_amdf_oracle() -> str:
    r = _rsig
    acf = {0: "rr0"}
    terms = []
    for k in range(4):
        rk = (f"COALESCE(list_sum(list_transform(range(1, n - {k} + 1), "
              f"i -> xs[CAST(i AS BIGINT)] * xs[CAST(i + {k} AS BIGINT)])), 0.0)")
        expr = (f"CASE WHEN {k} < n AND rr0 <> 0 THEN {rk} / rr0 "
                f"ELSE 0.0 END") if k else "CASE WHEN rr0 <> 0 THEN 1.0 ELSE 0.0 END"
        terms.append(f'{r(expr)} AS "char_len_acf{k}"')
    terms.append(f'{r("0.0")} AS "char_len_amdf0"')
    for j in range(1, 4):
        aj = (f"COALESCE(list_sum(list_transform(range(1, n - {j} + 1), "
              f"i -> ABS(xs[CAST(i AS BIGINT)] - xs[CAST(i + {j} AS BIGINT)])"
              f")), 0.0)")
        terms.append(f'{r(f"CASE WHEN {j} < n THEN {aj} / (n - {j}) ELSE 0.0 END")}'
                     f' AS "char_len_amdf{j}"')
    cols = ",\n  ".join(terms)
    return SQL_PREFIX + f"""
, lst AS (
  SELECT conv_id, list(char_len ORDER BY turn_idx) AS xs, COUNT(*) AS n
  FROM lld GROUP BY conv_id
), base AS (
  SELECT conv_id, xs, n,
    list_sum(list_transform(xs, v -> v * v)) AS rr0
  FROM lst
)
SELECT conv_id, n AS n_turns,
  {cols}
FROM base
"""


_ORACLES["functionals_acf_amdf"] = _acf_amdf_oracle()


# ---- documents / embeddings ----------------------------------------------

_DOC_TOKENS = "string_split_regex(trim(lower(text)), '\\s+')"


_ORACLES["sma5"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND((char_len
   + COALESCE(lag(char_len, 1) OVER w, first_value(char_len) OVER wf)
   + COALESCE(lead(char_len, 1) OVER w, last_value(char_len) OVER wf)
   + COALESCE(lag(char_len, 2) OVER w, first_value(char_len) OVER wf)
   + COALESCE(lead(char_len, 2) OVER w, last_value(char_len) OVER wf)) / 5.0,
   6) AS char_len_sma5
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
       wf AS (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

_ORACLES["delta0"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  char_len - COALESCE(lag(char_len) OVER w, first_value(char_len) OVER wf)
      AS char_len_d0
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
       wf AS (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

_ORACLES["tumbling_window"] = SQL_PREFIX + """
SELECT conv_id,
  1e-6*epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS win_start,
  COUNT(*) AS n_turns,
  ROUND(AVG(char_len), 6) AS avg_len
FROM lld
GROUP BY conv_id, time_bucket(INTERVAL 1 DAY, ts)
"""

_ORACLES["mvn_minmax"] = SQL_PREFIX + """
, st AS (
  SELECT conv_id, MIN(char_len) AS lo, MAX(char_len) AS hi
  FROM lld GROUP BY conv_id
)
SELECT l.conv_id, l.turn_idx,
  ROUND(CASE WHEN st.hi <> st.lo THEN (l.char_len - st.lo) / (st.hi - st.lo)
       ELSE 0.0 END, 6) AS char_len_mm
FROM lld l JOIN st USING (conv_id)
"""

_ORACLES["fullinput_causal"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND(char_len - AVG(char_len) OVER
      (PARTITION BY conv_id ORDER BY turn_idx
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS char_len_fim
FROM lld
"""

_ORACLES["sessionize_maxlen"] = SQL_PREFIX + """
, sub AS (
  SELECT conv_id, turn_idx, session_id,
    CAST((ROW_NUMBER() OVER (PARTITION BY conv_id, session_id
                             ORDER BY turn_idx) - 1) // 10 AS INTEGER) AS subs
  FROM sessions
)
SELECT conv_id, turn_idx,
  CAST(DENSE_RANK() OVER (PARTITION BY conv_id ORDER BY session_id, subs) - 1
       AS INTEGER) AS session_id
FROM sub
"""

_ORACLES["frame_vector"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  array_to_string(list_transform(
    list_value(
      lag(char_len, 2) OVER w, lag(char_len, 1) OVER w, char_len),
    x -> CAST(CAST(x AS INTEGER) AS VARCHAR)), ',') AS frame3
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""

_ORACLES["salted_sma_equivalence"] = SQL_PREFIX + """
SELECT conv_id, turn_idx,
  ROUND((char_len
   + COALESCE(lag(char_len) OVER w, first_value(char_len) OVER wf)
   + COALESCE(lead(char_len) OVER w, last_value(char_len) OVER wf)) / 3.0, 6)
      AS char_len_sma3
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
       wf AS (PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

_ORACLES["token_count"] = r"""
SELECT doc_id,
  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens_ws,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_tokens_word,
  CAST(len(regexp_extract_all(text,
    '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+'))
    AS BIGINT) AS n_tokens_bpe,
  CAST(length(text) AS BIGINT) AS n_chars_engine
FROM documents
"""

_STOP_EN = "['the','and','of','to','a','in','is','that','it','for']"

_ORACLES["quality_score"] = f"""
WITH t AS (
  SELECT doc_id, text, {_DOC_TOKENS} AS toks,
    CAST(len({_DOC_TOKENS}) AS DOUBLE) AS n_tok,
    CAST(length(text) AS DOUBLE) AS n_chr
  FROM documents
), s AS (
  SELECT doc_id,
    CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / n_chr
        AS punct_ratio,
    CAST(len(list_intersect(toks, {_STOP_EN})) AS DOUBLE) / 10.0
        AS stopword_ratio,
    n_chr / n_tok AS mean_token_len,
    n_tok, n_chr
  FROM t
)
SELECT doc_id,
  ROUND(punct_ratio, 6) AS punct_ratio,
  ROUND(stopword_ratio, 6) AS stopword_ratio,
  ROUND(mean_token_len, 6) AS mean_token_len,
  ROUND(LEAST(n_tok / 100.0, 1.0) * 0.4
      + LEAST(stopword_ratio * 2.0, 1.0) * 0.3
      + CASE WHEN mean_token_len >= 3 AND mean_token_len <= 12
             THEN 0.2 ELSE 0.0 END
      + CASE WHEN punct_ratio <= 0.1 THEN 0.1 ELSE 0.0 END, 6) AS quality
FROM s
"""

_STOPS_SQL = {
    "en": _STOP_EN,
    "de": "['der','die','das','und','ist','nicht','ein','mit','auf']",
    "fr": "['le','la','les','et','est','un','une','dans','pour']",
    "es": "['el','la','los','las','es','un','una','en','por']",
}

_ORACLES["lang_id"] = f"""
WITH t AS (
  SELECT doc_id, {_DOC_TOKENS} AS toks FROM documents
), r AS (
  SELECT doc_id,
    CAST(len(list_intersect(toks, {_STOPS_SQL['en']})) AS DOUBLE) / 10.0 AS s_en,
    CAST(len(list_intersect(toks, {_STOPS_SQL['de']})) AS DOUBLE) / 9.0 AS s_de,
    CAST(len(list_intersect(toks, {_STOPS_SQL['fr']})) AS DOUBLE) / 9.0 AS s_fr,
    CAST(len(list_intersect(toks, {_STOPS_SQL['es']})) AS DOUBLE) / 9.0 AS s_es
  FROM t
)
SELECT doc_id,
  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) < 0.1 THEN 'unknown'
       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = GREATEST(s_en, s_de, s_fr, s_es) THEN 'fr'
       ELSE 'es' END AS lang_pred
FROM r
"""

_SHINGLES = (
    "list_distinct(list_transform("
    "range(0, greatest(len({T}) - 3, 0) + 1), "
    "i -> array_to_string(list_slice({T}, i + 1, i + 3), ' ')))"
).format(T=_DOC_TOKENS)

_ORACLES["fingerprint"] = f"""
SELECT doc_id, md5(text) AS doc_md5,
  list_min(list_transform({_SHINGLES}, s -> md5(s))) AS shingle_fp
FROM documents
"""

_ORACLES["exact_dedup"] = SQL_PREFIX + """
, doc_dups AS (
  SELECT 'doc' AS path, md5(substr(text, 1, 40)) AS content_md5,
         CAST(MIN(doc_id) AS VARCHAR) AS survivor_id, COUNT(*) AS n_dups
  FROM documents GROUP BY md5(substr(text, 1, 40)) HAVING COUNT(*) > 1
), conv_fp AS (
  SELECT conv_id, md5(string_agg(role, chr(30) ORDER BY turn_idx)) AS fp
  FROM transcripts GROUP BY conv_id
)
SELECT * FROM doc_dups
UNION ALL
SELECT 'conv' AS path, fp AS content_md5, MIN(conv_id) AS survivor_id,
       COUNT(*) AS n_dups
FROM conv_fp GROUP BY fp HAVING COUNT(*) > 1
"""

_MH_COLS = ", ".join(
    f"list_min(list_transform(sh, s -> substr(md5('{i // 4}|' || s), "
    f"{8 * (i % 4) + 1}, 8))) AS mh{i}"
    for i in range(8)
)

_ORACLES["minhash_signatures"] = f"""
WITH t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents)
SELECT doc_id, {_MH_COLS} FROM t
"""

_BANDS_SQL = ", ".join(
    f"md5('{b}' || '|' || mh{b * 2} || '|' || mh{b * 2 + 1}) AS band{b}"
    for b in range(4)
)

_ORACLES["minhash_lsh_pairs"] = f"""
WITH t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
sig AS (SELECT doc_id, {_MH_COLS} FROM t),
banded AS (SELECT doc_id, {_BANDS_SQL} FROM sig),
stacked AS (
  SELECT doc_id, 0 AS band_no, band0 AS band_key FROM banded
  UNION ALL SELECT doc_id, 1, band1 FROM banded
  UNION ALL SELECT doc_id, 2, band2 FROM banded
  UNION ALL SELECT doc_id, 3, band3 FROM banded
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM stacked a JOIN stacked b
  ON a.band_no = b.band_no AND a.band_key = b.band_key
  AND a.doc_id < b.doc_id
"""

_ORACLES["ngram_jaccard"] = f"""
WITH t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
sig AS (SELECT doc_id, {_MH_COLS} FROM t),
banded AS (SELECT doc_id, {_BANDS_SQL} FROM sig),
stacked AS (
  SELECT doc_id, 0 AS band_no, band0 AS band_key FROM banded
  UNION ALL SELECT doc_id, 1, band1 FROM banded
  UNION ALL SELECT doc_id, 2, band2 FROM banded
  UNION ALL SELECT doc_id, 3, band3 FROM banded
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM stacked a JOIN stacked b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
  ROUND(CASE WHEN len(list_distinct(list_concat(ta.sh, tb.sh))) > 0
       THEN CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(ta.sh, tb.sh)))
       ELSE 0.0 END, 6) AS jaccard
FROM pairs p
JOIN t ta ON ta.doc_id = p.id_a
JOIN t tb ON tb.doc_id = p.id_b
"""

_SIMHASH_BITS = " + ".join(
    f"""(CASE WHEN (SELECT SUM(CASE WHEN (CAST(('0x' || substr(md5(tok), 1, 8))
       AS BIGINT) >> {b}) % 2 = 1 THEN 1 ELSE -1 END)
       FROM unnest(toks) AS u(tok)) > 0 THEN {1 << b} ELSE 0 END)"""
    for b in range(32)
)

_ORACLES["simhash"] = f"""
WITH t AS (
  SELECT doc_id, list_distinct({_DOC_TOKENS}) AS toks FROM documents
)
SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM t
"""


_ORACLES["simhash_near_dups"] = f'''
WITH t AS (
  SELECT doc_id, list_distinct({_DOC_TOKENS}) AS toks FROM documents
),
sig AS (SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
'''

def _spectral_moments_oracle() -> str:
    r = _rsig
    return _SPEC_GRID + f"""
, tot AS (
  SELECT doc_id, SUM(cnt) AS total, CAST(COUNT(*) AS DOUBLE) AS n,
    SUM(cnt * bucket) AS sxy,
    SUM(CASE WHEN bucket < 8 THEN cnt * cnt ELSE 0 END) AS e_low,
    SUM(CASE WHEN bucket >= 8 THEN cnt * cnt ELSE 0 END) AS e_high,
    MAX(CASE WHEN bucket < 8 THEN cnt END) AS mx_low,
    MAX(CASE WHEN bucket >= 8 THEN cnt END) AS mx_high
  FROM grid GROUP BY doc_id
), ctr AS (
  SELECT g.doc_id,
    SUM(CASE WHEN t.total > 0 THEN g.cnt / t.total ELSE 0.0 END * g.bucket)
        AS mu
  FROM grid g JOIN tot t USING (doc_id) GROUP BY g.doc_id
), mom AS (
  SELECT g.doc_id,
    SUM(CASE WHEN t.total > 0 THEN g.cnt / t.total ELSE 0.0 END
        * POW(g.bucket - c.mu, 2)) AS m2,
    SUM(CASE WHEN t.total > 0 THEN g.cnt / t.total ELSE 0.0 END
        * POW(g.bucket - c.mu, 3)) AS m3,
    SUM(CASE WHEN t.total > 0 THEN g.cnt / t.total ELSE 0.0 END
        * POW(g.bucket - c.mu, 4)) AS m4
  FROM grid g JOIN tot t USING (doc_id) JOIN ctr c USING (doc_id)
  GROUP BY g.doc_id
)
SELECT t.doc_id,
  {r("m.m2")} AS spec_variance,
  {r("CASE WHEN m.m2 > 0 THEN m.m3 / POW(m.m2, 1.5) ELSE 0.0 END")}
      AS spec_skewness,
  {r("CASE WHEN m.m2 > 0 THEN m.m4 / (m.m2 * m.m2) ELSE 0.0 END")}
      AS spec_kurtosis,
  {r("CASE WHEN t.n * ((t.n-1)*t.n*(2*t.n-1)/6.0) "
     "- POW((t.n-1)*t.n/2.0, 2) <> 0 THEN "
     "(t.n * t.sxy - ((t.n-1)*t.n/2.0) * t.total) "
     "/ (t.n * ((t.n-1)*t.n*(2*t.n-1)/6.0) - POW((t.n-1)*t.n/2.0, 2)) "
     "ELSE 0.0 END")} AS spec_slope,
  {r("CASE WHEN t.e_high > 0 THEN t.e_low / t.e_high ELSE 0.0 END")}
      AS spec_alpha_ratio,
  {r("CASE WHEN t.mx_high > 0 THEN t.mx_low / t.mx_high ELSE 0.0 END")}
      AS spec_hammarberg
FROM tot t JOIN mom m USING (doc_id)
"""


_ORACLES["spectral_moments"] = _spectral_moments_oracle()


def _spec_scale_oracle() -> str:
    import math as _m

    cols = []
    for b in (0, 3, 7):
        p = _m.exp(_m.log(1.0) + (_m.log(15.0) - _m.log(1.0)) * b / 7)
        i1 = int(_m.floor(p))
        i2 = min(i1 + 1, 15)
        w2 = p - i1
        cols.append(
            f"ROUND(MAX(CASE WHEN bucket = {i1} THEN cnt END) "
            f"* CAST('{1.0 - w2!r}' AS DOUBLE) "
            f"+ MAX(CASE WHEN bucket = {i2} THEN cnt END) "
            f"* CAST('{w2!r}' AS DOUBLE), 6) AS log_b{b}"
        )
    return _SPEC_GRID + f"""
SELECT doc_id, {", ".join(cols)}
FROM grid GROUP BY doc_id
"""


_ORACLES["spec_scale"] = _spec_scale_oracle()

_ORACLES["winnow_fingerprints"] = f"""
WITH t AS (
  SELECT doc_id, {_DOC_TOKENS} AS toks FROM documents
), h AS (
  SELECT doc_id,
    list_transform(
      range(0, greatest(len(toks) - 3, 0) + 1),
      i -> CAST(('0x' || substr(md5(
             array_to_string(list_slice(toks, i + 1, i + 3), ' ')), 1, 8))
           AS BIGINT)) AS hs
  FROM t
)
SELECT doc_id,
  unnest(list_distinct(list_transform(
    range(0, greatest(len(hs) - 4, 0) + 1),
    i -> list_min(list_slice(hs, i + 1, i + 4))))) AS fp
FROM h
"""

_ORACLES["dedup_components"] = f'''
WITH RECURSIVE t AS (
  SELECT doc_id, list_distinct({_DOC_TOKENS}) AS toks FROM documents
),
sig AS (SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash FROM t),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst
)
SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id
'''

_ORACLES["embedding_near_dups"] = """
WITH n AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(list_sum(list_transform(range(1, 65),
       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (a.nrm * b.nrm), 5) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, 65),
       i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (a.nrm * b.nrm) >= 0.25
"""

_ORACLES["quantize_embeddings"] = """
WITH s AS (
  SELECT vec_id, embedding,
    list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS amax
  FROM embeddings
), sc AS (
  SELECT vec_id, embedding,
    CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS scale
  FROM s
), quant AS (
  SELECT vec_id, ROUND(scale, 6) AS q8_scale,
    CAST(GREATEST(-127, LEAST(127,
        ROUND(CAST(embedding[1] AS DOUBLE) / scale))) AS INTEGER) AS q_0,
    CAST(GREATEST(-127, LEAST(127,
        ROUND(CAST(embedding[32] AS DOUBLE) / scale))) AS INTEGER) AS q_31,
    CAST(GREATEST(-127, LEAST(127,
        ROUND(CAST(embedding[64] AS DOUBLE) / scale))) AS INTEGER) AS q_63
  FROM sc
), nv AS (
  -- L2-normalized doc vectors (semdedup compares in normalized space)
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      GREATEST(sqrt(list_sum(list_transform(embedding,
        y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 1e-12)) AS v
  FROM embeddings
), cent AS (
  -- gate centroids = normalized embeddings of vec_id < 8 (cell = rank)
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
         v AS cv
  FROM nv WHERE vec_id < 8
), cent2 AS (
  SELECT cell, cv, list_sum(list_transform(cv, x -> x * x)) AS cc
  FROM cent
), scored AS (
  SELECT d.vec_id, c.cell, c.cc,
    list_sum(list_transform(range(1, 65), k -> d.v[k] * c.cv[k])) AS g
  FROM nv d CROSS JOIN cent2 c
), asg AS (
  -- assignment: argmin ||v-c||^2 = argmin cc - 2g, ties -> lowest cell
  SELECT vec_id, cell, g / GREATEST(sqrt(cc), 1e-12) AS sim_c,
    ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cc - 2 * g ASC, cell ASC) AS rn
  FROM scored
), a AS (
  SELECT vec_id, cell, sim_c FROM asg WHERE rn = 1
), mp AS (
  -- max cosine to ANY strictly-higher-priority same-cell doc
  SELECT i.vec_id,
    MAX(list_sum(list_transform(range(1, 65),
        k -> di.v[k] * dj.v[k]))) AS max_prior_sim
  FROM a i
  JOIN a j ON j.cell = i.cell
          AND (j.sim_c > i.sim_c
               OR (j.sim_c = i.sim_c AND j.vec_id < i.vec_id))
  JOIN nv di ON di.vec_id = i.vec_id
  JOIN nv dj ON dj.vec_id = j.vec_id
  GROUP BY i.vec_id
)
SELECT q.vec_id, q.q8_scale, q.q_0, q.q_31, q.q_63,
  a.cell, ROUND(a.sim_c, 5) AS sim_centroid,
  ROUND(mp.max_prior_sim, 5) AS max_prior_sim,
  (mp.max_prior_sim IS NULL OR NOT mp.max_prior_sim > 0.25) AS keep
FROM quant q
JOIN a ON a.vec_id = q.vec_id
LEFT JOIN mp ON mp.vec_id = q.vec_id
"""

_ORACLES["cosine_topk"] = """
WITH n AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id,
    list_sum(list_transform(range(1, 65),
         k -> CAST(q.embedding[k] AS DOUBLE) * CAST(i.embedding[k] AS DOUBLE)))
        / (q.nrm * i.nrm) AS cosine
  FROM n q JOIN n i ON i.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, item_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, item_id ASC) AS rank
  FROM scored
)
SELECT 'broadcast' AS path, query_id, item_id,
       CAST(rank AS INTEGER) AS rank, ROUND(cosine, 5) AS score
FROM ranked WHERE query_id < 5 AND rank <= 10
UNION ALL
SELECT 'bulk' AS path, query_id, item_id,
       CAST(rank AS INTEGER) AS rank, ROUND(cosine, 5) AS score
FROM ranked WHERE rank <= 3
"""


_ORACLES["token_spectrum"] = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
counts AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 16 AS bucket,
    COUNT(*) AS cnt
  FROM toks GROUP BY 1, 2
),
grid AS (
  SELECT d.doc_id, g.bucket, COALESCE(c.cnt, 0)::DOUBLE AS cnt
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) g
  LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bucket = g.bucket
),
stats AS (
  SELECT doc_id,
    SUM(cnt) AS total,
    SUM(cnt * cnt) AS energy,
    SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS npos,
    SUM(CASE WHEN cnt > 0 THEN LN(cnt) ELSE 0 END) AS logsum
  FROM grid GROUP BY doc_id
),
ent AS (
  SELECT g.doc_id,
    -SUM(CASE WHEN g.cnt > 0 THEN (g.cnt / s.total) * LOG2(g.cnt / s.total)
         ELSE 0 END) AS entropy,
    SUM((g.cnt / s.total) * g.bucket) AS centroid
  FROM grid g JOIN stats s USING (doc_id) GROUP BY g.doc_id
),
roll AS (
  SELECT doc_id, MIN(bucket) AS rolloff FROM (
    SELECT g.doc_id, g.bucket,
      SUM(g.cnt) OVER (PARTITION BY g.doc_id ORDER BY g.bucket
                       ROWS UNBOUNDED PRECEDING) AS cum,
      s.total
    FROM grid g JOIN stats s USING (doc_id)
  ) WHERE cum >= 0.9 * total GROUP BY doc_id
)
SELECT s.doc_id,
  ROUND(e.entropy, 6) AS spec_entropy,
  ROUND(e.centroid, 6) AS spec_centroid,
  ROUND(CASE WHEN s.npos > 0 AND s.total / s.npos > 0
       THEN EXP(s.logsum / s.npos) / (s.total / s.npos)
       ELSE 0.0 END, 6) AS spec_flatness,
  CAST(r.rolloff AS INTEGER) AS spec_rolloff,
  ROUND(s.energy, 6) AS spec_energy
FROM stats s JOIN ent e USING (doc_id) JOIN roll r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# merged gates — the driver records only the FIRST 50 queries() entries, so
# near-duplicate configs of one operator are emitted side-by-side in a single
# gate. Each merged oracle is a join/union of the per-op twins above (DuckDB
# allows a full WITH..SELECT inside a FROM subquery), so every individual
# operator formula stays exactly the one already proven green.
# ---------------------------------------------------------------------------


def _join_parts(key_cols, parts, extra_excludes=None):
    """JOIN several complete oracle SELECTs on key_cols. Part 0 keeps all
    columns; later parts drop the keys (plus any listed duplicates) via
    DuckDB's EXCLUDE so the merged schema has no collisions."""
    keys = ", ".join(key_cols)
    sel = ["__p0.*"]
    frm = [f"(\n{parts[0]}\n) __p0"]
    for i, p in enumerate(parts[1:], 1):
        exc = list(key_cols) + list((extra_excludes or {}).get(i, []))
        sel.append(f"__p{i}.* EXCLUDE ({', '.join(exc)})")
        frm.append(f"JOIN (\n{p}\n) __p{i} USING ({keys})")
    return "SELECT " + ",\n       ".join(sel) + "\nFROM " + "\n".join(frm)


_TK = ("conv_id", "turn_idx")

_ORACLES["sma3"] = _join_parts(
    _TK, [_ORACLES["sma3"], _ORACLES["sma5"], _ORACLES["trailing_window"]])

# round-5 window re-pack: per-conv salted_partial_stats columns join the
# turn-grain salt-and-stitch equivalence rows on conv_id (one gate slot)
_ORACLES["salted_sma_equivalence"] = _join_parts(
    ("conv_id",),
    [_ORACLES["salted_sma_equivalence"], _ORACLES["salted_stats"]])
del _ORACLES["salted_stats"]

_ORACLES["delta2"] = _join_parts(
    _TK, [_ORACLES["delta2"], _ORACLES["delta0"], _ORACLES["preemphasis"]])

# round-3: legacy-peaks hysteresis automaton (recursive-CTE twin) merges
# into the peaks2 gate — the full unrestricted state machine, oracle-checked
_ORACLES["peaks2_restricted"] = _join_parts(
    ("conv_id",), [_ORACLES["peaks2_restricted"], _peaks_legacy_oracle()])

_SFT_PAIRS_SQL = SQL_PREFIX + """
SELECT conv_id, turn_idx, prompt, text AS response FROM (
  SELECT conv_id, turn_idx, role, text,
    lag(role) OVER w AS prev_role, lag(text) OVER w AS prompt
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
) WHERE role = 'assistant' AND prev_role = 'user' AND length(prompt) > 0
"""

_ORACLES["sessionize"] = f"""
SELECT a.conv_id, a.turn_idx, a.session_id,
       b.session_id AS session_id_maxlen,
       p.prompt, p.response
FROM (
{_ORACLES["sessionize"]}
) a JOIN (
{_ORACLES["sessionize_maxlen"]}
) b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
LEFT JOIN (
{_SFT_PAIRS_SQL}
) p ON p.conv_id = a.conv_id AND p.turn_idx = a.turn_idx
"""

_ORACLES["functionals_session"] = _join_parts(
    ("conv_id", "session_id"),
    [_ORACLES["functionals_session"], _ORACLES["session_bounds"]],
    extra_excludes={1: ["n_turns"]})

_ORACLES["functionals_extras"] = _join_parts(
    ("conv_id",),
    [_ORACLES["functionals_kernel_extras"], _ORACLES["functionals_onset"],
     _ORACLES["functionals_segments"], _ORACLES["functionals_samples"],
     _ORACLES["functionals_dct"]],
    extra_excludes={2: ["n_turns"], 3: ["n_turns"], 4: ["n_turns"]})

_ORACLES["mvn"] = f"""
SELECT a.conv_id, a.turn_idx, a.char_len_mvn,
       b.char_len_mvn AS char_len_mvn_exp, c.char_len_mm
FROM (
{_ORACLES["mvn"]}
) a JOIN (
{_ORACLES["mvn_expanding"]}
) b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
JOIN (
{_ORACLES["mvn_minmax"]}
) c ON a.conv_id = c.conv_id AND a.turn_idx = c.turn_idx
"""

_ORACLES["fullinput_mean"] = f"""
SELECT a.conv_id, a.turn_idx, a.char_len_fim,
       b.char_len_fim AS char_len_fim_causal
FROM (
{_ORACLES["fullinput_mean"]}
) a JOIN (
{_ORACLES["fullinput_causal"]}
) b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
"""

_ORACLES["valbased_selector"] = f"""
SELECT *, 'drop' AS mode FROM (
{_ORACLES["valbased_selector"]}
)
UNION ALL
SELECT *, 'zero' AS mode FROM (
{_ORACLES["valbased_zerovec"]}
)
"""

_ORACLES["vector_ops"] = _join_parts(
    _TK, [_ORACLES["vector_ops"], _ORACLES["vector_binary_op"],
          _ORACLES["max_index"]])

_ORACLES["repetition"] = r"""
WITH toks AS (
  SELECT doc_id, length(text) AS nch,
         string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, nch, k, array_to_string(t[i.i:i.i + k - 1], ' ') AS g
  FROM toks
  CROSS JOIN (VALUES (2), (3)) ks(k)
  CROSS JOIN UNNEST(range(1, GREATEST(len(t) - k + 1, 0) + 1)) i(i)
), cnt AS (
  SELECT doc_id, nch, k, g, COUNT(*) AS c
  FROM grams GROUP BY doc_id, nch, k, g
), top AS (
  -- ties on count resolve to the lexicographically smallest gram (the
  -- Spark fold scans the SORTED gram array with a strict > update)
  SELECT doc_id, k, c * length(g) * 1.0 / nch AS frac
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, k
                                     ORDER BY c DESC, g ASC) AS rk
        FROM cnt)
  WHERE rk = 1
), dup AS (
  SELECT doc_id,
         COALESCE(SUM(CASE WHEN c >= 2 THEN c * length(g) END), 0) * 1.0
             / ANY_VALUE(nch) AS dup2
  FROM cnt WHERE k = 2 GROUP BY doc_id
)
SELECT d.doc_id,
  ROUND(COALESCE(t2.frac, 0.0), 6) AS top_2gram_frac,
  ROUND(COALESCE(t3.frac, 0.0), 6) AS top_3gram_frac,
  ROUND(COALESCE(p.dup2, 0.0), 6) AS dup_2gram_ratio
FROM documents d
LEFT JOIN top t2 ON t2.doc_id = d.doc_id AND t2.k = 2
LEFT JOIN top t3 ON t3.doc_id = d.doc_id AND t3.k = 3
LEFT JOIN dup p ON p.doc_id = d.doc_id
"""

_ORACLES["text_metrics"] = _join_parts(
    ("doc_id",),
    [_ORACLES["token_count"], _ORACLES["quality_score"],
     _ORACLES["lang_id"], _ORACLES["fingerprint"], _ORACLES["repetition"]])

_ORACLES["doc_signatures"] = _join_parts(
    ("doc_id",), [_ORACLES["minhash_signatures"], _ORACLES["simhash"]])

_ORACLES["minhash_lsh_pairs"] = _ORACLES["ngram_jaccard"]

for _k in ("sma5", "trailing_window", "delta0", "preemphasis",
           "sessionize_maxlen", "session_bounds", "functionals_kernel_extras",
           "functionals_onset", "functionals_segments", "functionals_samples",
           "functionals_dct", "mvn_expanding", "mvn_minmax",
           "fullinput_causal", "valbased_zerovec", "vector_binary_op",
           "max_index", "token_count", "quality_score", "lang_id",
           "fingerprint", "repetition", "minhash_signatures", "simhash",
           "ngram_jaccard"):
    del _ORACLES[_k]


def _compare_core_oracle() -> str:
    """Per-(conv, session) twin of the ComParE-core preset subset: sma3
    smoothing + delta2 of the smoothed channel rebuilt with the proven
    window formulas (both EXACT, no rounding), then kernel-style two-pass
    centered variance, quantile_cont percentiles, and closed-form linear
    regression per channel."""
    r = _rsig
    m_cl, off_cl = _sql_linreg("cl")
    m_dl, off_dl = _sql_linreg("dl")

    def chan(a, prefix):
        sd = f"CASE WHEN v_{a} > 0 THEN SQRT(v_{a}) ELSE 0.0 END"
        return ",\n".join([
            f'{r(f"m.m_{a}")} AS "{prefix}_amean"',
            f'{r(sd)} AS "{prefix}_stddev"',
            f'{r(f"m.q1_{a}")} AS "{prefix}_quartile1"',
            f'{r(f"m.q2_{a}")} AS "{prefix}_quartile2"',
            f'{r(f"m.q3_{a}")} AS "{prefix}_quartile3"',
            f'{r(f"m.q3_{a} - m.q1_{a}")} AS "{prefix}_iqr1-3"',
            f'{r(f"m.c1_{a}")} AS "{prefix}_linregc1"',
            f'{r(f"m.c2_{a}")} AS "{prefix}_linregc2"',
        ])

    return SQL_PREFIX + f"""
, sm AS (
  SELECT conv_id, session_id, turn_idx,
    (char_len + COALESCE(lag(char_len) OVER w, first_value(char_len) OVER wf)
     + COALESCE(lead(char_len) OVER w, last_value(char_len) OVER wf)) / 3.0
        AS cl
  FROM sessions
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
         wf AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), de AS (
  SELECT *,
    (1.0 * (COALESCE(lead(cl, 1) OVER w, last_value(cl) OVER wf)
          - COALESCE(lag(cl, 1) OVER w, first_value(cl) OVER wf))
   + 2.0 * (COALESCE(lead(cl, 2) OVER w, last_value(cl) OVER wf)
          - COALESCE(lag(cl, 2) OVER w, first_value(cl) OVER wf))) / 10.0
        AS dl
  FROM sm
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx),
         wf AS (PARTITION BY conv_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
), idx AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, session_id
                                    ORDER BY turn_idx) - 1 AS DOUBLE) AS __i
  FROM de
), mu AS (
  SELECT conv_id, session_id, COUNT(*) AS n_turns,
    AVG(cl) AS m_cl, AVG(dl) AS m_dl,
    quantile_cont(cl, 0.25) AS q1_cl, quantile_cont(cl, 0.50) AS q2_cl,
    quantile_cont(cl, 0.75) AS q3_cl,
    quantile_cont(dl, 0.25) AS q1_dl, quantile_cont(dl, 0.50) AS q2_dl,
    quantile_cont(dl, 0.75) AS q3_dl,
    {m_cl} AS c1_cl, {off_cl} AS c2_cl,
    {m_dl} AS c1_dl, {off_dl} AS c2_dl
  FROM idx GROUP BY conv_id, session_id
), vr AS (
  SELECT i.conv_id, i.session_id,
    SUM(POW(i.cl - m.m_cl, 2)) / MAX(m.n_turns) AS v_cl,
    SUM(POW(i.dl - m.m_dl, 2)) / MAX(m.n_turns) AS v_dl
  FROM idx i JOIN mu m USING (conv_id, session_id)
  GROUP BY i.conv_id, i.session_id
)
SELECT m.conv_id, m.session_id, m.n_turns,
{chan("cl", "char_len_sma3")},
{chan("dl", "char_len_sma3_de")}
FROM mu m JOIN vr USING (conv_id, session_id)
"""


_ORACLES["compare_core"] = _compare_core_oracle()

_ORACLES["decontaminate"] = f"""
WITH t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
b AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM t WHERE doc_id % 7 = 0
),
d AS (SELECT doc_id, unnest(sh) AS shingle FROM t)
SELECT d.doc_id, COUNT(*) AS n_contaminated
FROM d JOIN b USING (shingle)
GROUP BY d.doc_id
HAVING COUNT(*) >= 2
"""

# mirrors text.REDACT_PATTERNS applied in sorted order (EMAIL, IPV4,
# PHONE): each count runs against the text AFTER the previous patterns'
# replacements, exactly like the sequential Spark chain
_ORACLES["redact"] = r"""
WITH t0 AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com from 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
         || ' call +1 555 0123 456' AS s
  FROM documents
), t1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(s,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        AS n_email,
    regexp_replace(s,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g')
        AS s
  FROM t0
), t2 AS (
  SELECT doc_id, n_email,
    CAST(len(regexp_extract_all(s,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
    regexp_replace(s,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g') AS s
  FROM t1
), t3 AS (
  SELECT doc_id, n_email, n_ipv4,
    CAST(len(regexp_extract_all(s,
      '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}')) AS BIGINT) AS n_phone,
    regexp_replace(s,
      '\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}', '[PHONE]', 'g') AS s
  FROM t2
)
SELECT doc_id, n_email, n_ipv4, n_phone, s AS text_redacted FROM t3
"""

_ORACLES["corpus_stats"] = r"""
WITH e AS (
  SELECT doc_id % 10 AS stratum, doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents
)
SELECT stratum,
  COUNT(DISTINCT doc_id) AS n_docs,
  COUNT(token) AS n_tokens,
  COUNT(DISTINCT token) AS n_vocab,
  ROUND(COUNT(token) * 1.0 / COUNT(DISTINCT doc_id), 6)
      AS mean_doc_tokens
FROM e GROUP BY stratum
"""

_ORACLES["io_roundtrip"] = """
WITH t AS (
  SELECT doc_id % 10 AS bucket, doc_id, length(text) AS n_chars
  FROM documents
), w AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
        AS frameIndex,
    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id DESC) AS rev
  FROM t
), kept AS (
  SELECT bucket, doc_id, n_chars, frameIndex FROM w WHERE rev > 2
), lined AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY bucket, doc_id) - 1 AS line
  FROM kept
)
SELECT bucket, doc_id, n_chars, frameIndex
FROM lined WHERE line BETWEEN 5 AND 454
"""

# thresholds = sampling.rate_threshold(r) = int(r * 2^32) for 1.0/0.5/0.25
# split thresholds replicated with assign_splits' exact accumulation
# (hi += frac; int(min(hi, 1.0) * 2^32)) so the literals are bit-equal
_SPLIT_TS = []
_hi = 0.0
for _frac in (0.8, 0.1, 0.1):
    _hi += _frac
    _SPLIT_TS.append(int(min(_hi, 1.0) * (1 << 32)))

_ORACLES["stratified_sample"] = r"""
WITH t AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS ntok
  FROM documents
), s AS (
  SELECT doc_id,
    CASE WHEN ntok < 45 THEN 'short'
         WHEN ntok < 60 THEN 'mid' ELSE 'long' END AS stratum,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8))
         AS BIGINT) AS h,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 8))
         AS BIGINT) AS h2
  FROM t
)
SELECT doc_id, stratum,
  CASE WHEN h2 < {t0} THEN 'train'
       WHEN h2 < {t1} THEN 'val'
       WHEN h2 < {t2} THEN 'test' END AS split
FROM s
WHERE h < CASE stratum WHEN 'short' THEN 4294967296
                       WHEN 'mid' THEN 2147483648
                       ELSE 1073741824 END
""".replace("{t0}", str(_SPLIT_TS[0])) \
   .replace("{t1}", str(_SPLIT_TS[1])) \
   .replace("{t2}", str(_SPLIT_TS[2]))

_ORACLES["chunk_documents"] = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
), n AS (
  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
         GREATEST(1, CAST(ceil((len(toks) - 8) / 24.0) AS BIGINT))
             AS n_chunks
  FROM t
), e AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, n_chunks - 1)) AS i
  FROM n
)
SELECT doc_id,
  CAST(i AS INTEGER) AS chunk_idx,
  array_to_string(toks[i*24 + 1 : i*24 + 32], ' ') AS chunk_text,
  LEAST(32, n - i*24) AS chunk_tokens
FROM e
"""

_ORACLES["pack_concat"] = r"""
WITH t AS (
  SELECT source, doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
  FROM documents
), c AS (
  SELECT source, doc_id, tok,
    CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_end
  FROM t
), s AS (
  SELECT source, doc_id, tok, cum_end, cum_end - tok AS cum_start
  FROM c
), b AS (
  SELECT *, cum_start // 256 AS first_pack,
         GREATEST((cum_end - 1) // 256, cum_start // 256) AS last_pack
  FROM s
), e AS (
  SELECT source, doc_id, tok, cum_start,
         unnest(generate_series(first_pack, last_pack)) AS pack_id
  FROM b
)
SELECT source, doc_id, tok AS doc_tokens, pack_id,
  GREATEST(0, pack_id * 256 - cum_start) AS tok_begin,
  LEAST(tok, (pack_id + 1) * 256 - cum_start) AS tok_end,
  GREATEST(0, cum_start - pack_id * 256) AS pack_begin
FROM e
"""

_ORACLES["pack_greedy"] = r"""
WITH RECURSIVE t AS (
  SELECT source, doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), walk AS (
  SELECT source, doc_id, tok, rn,
         CAST(0 AS BIGINT) AS pack_id, 0 AS pack_pos, tok AS run
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.source, t.doc_id, t.tok, t.rn,
    CASE WHEN w.run + t.tok > 256 THEN w.pack_id + 1 ELSE w.pack_id END,
    CASE WHEN w.run + t.tok > 256 THEN 0 ELSE w.pack_pos + 1 END,
    CASE WHEN w.run + t.tok > 256 THEN t.tok ELSE w.run + t.tok END
  FROM walk w JOIN t ON t.source = w.source AND t.rn = w.rn + 1
)
SELECT source, doc_id, tok AS n_tokens_ws, pack_id, pack_pos,
       run AS pack_tokens
FROM walk
"""

_ORACLES["shuffle_shards"] = r"""
WITH s AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 8))
         AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard,
  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1
       AS BIGINT) AS shuffle_pos
FROM s
"""


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------

# The driver records verdicts for the FIRST 50 entries only; since round 3
# ALL 50 in-window gates carry full DuckDB-oracle twins (lpc_modulation's
# Levinson recursion is unrolled into CTE steps, its rFFT replayed as a
# direct DFT; the legacy-peaks automaton and Viterbi DP are recursive
# CTEs). Positions 51+ hold gates that are rows-only BY CONSTRUCTION
# (approximate ANN recall, hash functions with no DuckDB twin, preset
# supersets of already-gated formulas) plus oracle-checked extras that
# didn't fit the window (decontaminate, stratified_sample, io_roundtrip,
# viterbi_smooth). tools/check_correctness.py runs ALL entries.
# ---------------------------------------------------------------------------
# same-grain gate banks (driver-window consolidation, round 3b)
#
# The driver records verdicts for the FIRST 50 queries() entries only.
# Each bank below joins ALREADY-GREEN standalone gates of one output grain
# into a single entry — the constituent Spark queries and oracle twins are
# unchanged and simply joined on the grain keys — freeing window slots for
# the oracle-checked gates that previously sat past position 50.
# COVERAGE.md documents the old-gate -> bank mapping.
# ---------------------------------------------------------------------------

def _merge(keys, *parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.join(p, list(keys))
    return out


def _join_sql(keys, *sqls):
    using = ", ".join(keys)
    out = f"({sqls[0]}) AS m0"
    for i, s in enumerate(sqls[1:], 1):
        out += f"\nJOIN ({s}) AS m{i} USING ({using})"
    return "SELECT * FROM " + out


def q_smoothers_bank(spark, sf_dir):
    """cContourSmoother (sma3/sma3nz/sma5/ma5) + cDeltaRegression
    (deltawin=2/0) + cVectorPreemphasis in one (conv, turn) bank
    (constituent green gates: `sma3`, `delta2`)."""
    return _merge(("conv_id", "turn_idx"),
                  q_sma3(spark, sf_dir), q_delta2(spark, sf_dir))


def q_contour_bank(spark, sf_dir):
    """cWindower (hamming recency weights) + cPitchSmoother (median) +
    cPitchDirection in one (conv, turn) bank (constituents:
    `windowed_hamming`, `median_smooth`, `contour_direction`)."""
    return _merge(("conv_id", "turn_idx"),
                  q_windowed_hamming(spark, sf_dir),
                  q_median_smooth(spark, sf_dir),
                  q_contour_direction(spark, sf_dir))


def q_mvn_bank(spark, sf_dir):
    """The normalization family in one (conv, turn) bank: cVectorMVN
    every config (full/expanding/min-max) + FROZEN pre-trained stats +
    cFullinputMean (EOI two-pass and causal) (constituents: `mvn`,
    `mvn_pretrained` — renamed char_len_mvn_pre — and
    `fullinput_mean`)."""
    pre = q_mvn_pretrained(spark, sf_dir).withColumnRenamed(
        "char_len_mvn", "char_len_mvn_pre")
    return _merge(("conv_id", "turn_idx"), q_mvn(spark, sf_dir), pre,
                  q_fullinput_mean(spark, sf_dir))


def q_vector_ops_bank(spark, sf_dir):
    """cVectorOperation/cVectorBinaryOperation/cMaxIndex + cMonoMixdown
    per (conv, turn) (constituents: `vector_ops`, `mono_mixdown`)."""
    return _merge(("conv_id", "turn_idx"),
                  q_vector_ops(spark, sf_dir),
                  q_mono_mixdown(spark, sf_dir))


def q_regression_bank(spark, sf_dir):
    """Quadratic-regression extras per (conv, session) joined with the
    conv-level ACF/AMDF families (constituents: `functionals_qreg`,
    `functionals_acf_amdf`; conv-level columns repeat per session and the
    conv-level n_turns is renamed n_turns_conv)."""
    acf = q_functionals_acf_amdf(spark, sf_dir).withColumnRenamed(
        "n_turns", "n_turns_conv")
    return q_functionals_qreg(spark, sf_dir).join(acf, "conv_id")


def q_presets_core(spark, sf_dir):
    """The SQL-expressible cores of BOTH flagship presets — eGeMAPS-style
    and ComParE-2016-style — per (conv, session) (constituents:
    `egemaps_core`, `compare_core`)."""
    # char_len_sma3_amean is produced by BOTH preset cores (identical
    # formula over the same sessions) — keep the eGeMAPS copy
    return _merge(("conv_id", "session_id", "n_turns"),
                  q_egemaps_core(spark, sf_dir),
                  q_compare_core(spark, sf_dir)
                  .drop("char_len_sma3_amean"))


def q_spectral_bank(spark, sf_dir):
    """The full cSpectral/cPlp/cHarmonics/cSpecScale surface over the
    per-doc token spectrum (constituents: `token_spectrum`,
    `spectral_moments`, `plp_aud`, `harmonics`, `spec_scale`, plus the
    round-4b fold-in of `vector_ops_ext` — cVectorOperation frequency
    conversions and array reduces, the other doc_id-grain vector gate)."""
    return _merge(("doc_id",),
                  q_token_spectrum(spark, sf_dir),
                  q_spectral_moments(spark, sf_dir),
                  q_plp_aud(spark, sf_dir),
                  q_harmonics(spark, sf_dir),
                  q_spec_scale(spark, sf_dir),
                  q_vector_ops_ext(spark, sf_dir))


def q_pack_bank(spark, sf_dir):
    """Both sequence-packing disciplines in one (source, doc_id) bank:
    concat-then-split spans (multi-row per straddling doc) joined with
    the greedy first-fit assignment (its pack columns renamed greedy_*;
    constituents: `pack_concat`, `pack_greedy`)."""
    greedy = (q_pack_greedy(spark, sf_dir)
              .withColumnRenamed("pack_id", "greedy_pack_id")
              .withColumnRenamed("pack_pos", "greedy_pack_pos")
              .withColumnRenamed("pack_tokens", "greedy_pack_tokens")
              .drop("n_tokens_ws"))
    return q_pack_concat(spark, sf_dir).join(
        greedy, ["source", "doc_id"])


def q_lpc_lsp_bank(spark, sf_dir):
    """cFunctionalLpc + cFunctionalModulation + cLsp in one per-conv bank
    (constituents: `lpc_modulation`, `lsp` — round-4 consolidation to free
    a driver-window slot)."""
    return _merge(("conv_id", "n_turns"),
                  q_lpc_modulation(spark, sf_dir), q_lsp(spark, sf_dir))


def q_framer_bank(spark, sf_dir):
    """cFramer trailing frames + cVecToWinProcessor overlap-add
    resynthesis per (conv, position) (constituents: `frame_vector`,
    `overlap_add` — its pos IS the turn position, so the bank joins on
    (conv_id, turn_idx))."""
    return _merge(("conv_id", "turn_idx"),
                  q_frame_vector(spark, sf_dir),
                  q_overlap_add(spark, sf_dir)
                  .withColumnRenamed("pos", "turn_idx"))


def q_corpus_pipeline(spark, sf_dir):
    """The END-TO-END training-corpus pipeline as ONE oracle-checked
    gate: quality filter (>= 0.55) -> prefix exact-dedup (min-id
    survivor) -> 5-gram benchmark decontamination (doc_id % 7 == 0 docs
    play the eval set) -> stratified sampling (src0 1.0 / src1 0.5 /
    default 0.75, seed 5) -> deterministic shuffle (8 shards, seed 11).
    Full corpus rows shuffle exactly twice (content-hash dedup + shard
    exchange; remaining exchanges carry only derived count streams);
    every keep/drop decision replays bit-identically in the DuckDB twin."""
    from opensmile_spark.pipeline import corpus_pipeline

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    out = corpus_pipeline(
        docs, bench,
        min_quality=0.55,
        dedup_key=F.substring(F.col("text"), 1, 40),
        k_shingle=5, min_overlap=2,
        rates={"src0": 1.0, "src1": 0.5}, default_rate=0.75,
        sample_seed=5, shuffle_seed=11, n_shards=8,
    )
    return out.select(
        "doc_id", "source",
        F.round("quality", 6).alias("quality"),
        "shard", "shuffle_pos",
    )


def q_streaming_expanding(spark, sf_dir):
    """The STATEFUL streaming operator class as a driver gate: causal
    expanding mean/std per conversation via applyInPandasWithState (the
    conversation's values carried across micro-batches, each turn's stats
    from batched.compute_expanding as backfill computes them — the
    execution slot for sequential per-conv operators). The transcripts
    replay through readStream with each conversation written whole and
    turn-sorted into one file, so the held values are in event order; the
    oracle is the batch expanding window (avg / sqrt(var_pop) / count over
    ROWS UNBOUNDED PRECEDING). One emitted row per turn, hash-compared."""
    import tempfile
    import uuid

    from opensmile_spark.streaming import (run_stream_to_memory,
                                           stateful_expanding_stats,
                                           streaming_lld)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    t = (_transcripts(spark, sf_dir).select(*cols)
         .withColumn("ts", F.col("ts").cast("timestamp")))
    d = tempfile.mkdtemp(prefix="osk_stream_state_")
    # one file per conv group, turn-sorted: a conversation never splits
    # mid-stream, so the values the state holds are in the batch order
    (t.repartition(2, "conv_id")
     .sortWithinPartitions("conv_id", "turn_idx")
     .write.mode("overwrite").parquet(d))
    batch = spark.read.parquet(d)
    stream = spark.readStream.schema(batch.schema).parquet(d)
    out = stateful_expanding_stats(streaming_lld(stream))
    name = "gate_stream_state_" + uuid.uuid4().hex[:8]
    run_stream_to_memory(out, name)
    # the memory sink holds materialized rows; the replayed files are done
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    return (
        spark.sql(f"SELECT * FROM {name}")
        .select(
            "conv_id", "turn_idx", "char_len",
            F.round("run_mean", 6).alias("run_mean"),
            F.round("run_std", 6).alias("run_std"),
            "n",
        )
    )


def q_html_extract(spark, sf_dir):
    """HTML -> text extraction + crawl-structure signals
    (opensmile_spark/htmlops.py): a deterministic HTML page is synthesized
    per document row (synth_html — nav/footer anchors, script+style
    subtrees, a comment, entities, paragraph splits), then the map-only
    codegen'd regexp chain extracts visible text and html_signals emits
    the quality-filter metrics (link density, markup ratio, title). The
    DuckDB twin rebuilds the identical page and runs the same chain, so
    the gate doubles as a Java-regex / RE2 dialect parity check."""
    from opensmile_spark.htmlops import html_signals, html_to_text, synth_html

    out = html_signals(html_to_text(
        synth_html(_docs(spark, sf_dir)), html_col="html",
        out_col="html_text", method="expr"))
    return out.select(
        "doc_id", "html_text",
        F.col("n_tags").alias("html_n_tags"),
        F.col("n_links").alias("html_n_links"),
        F.col("link_text_chars").alias("html_link_chars"),
        F.col("text_chars").alias("html_text_chars"),
        F.round("link_density", 6).alias("html_link_density"),
        F.col("script_style_chars").alias("html_script_chars"),
        F.col("markup_ratio").alias("html_markup_ratio"),
        F.col("title").alias("html_title"),
    )


def q_url_extract(spark, sf_dir):
    """URL parsing + canonicalization + crawl signals
    (opensmile_spark/urlops.py): a deterministic URL is synthesized per
    document row (synth_urls — mixed-case scheme/host, userinfo, default
    and non-default ports, doubled slashes, trailing slash, tracking
    params, a fragment), then RFC 3986 Appendix B component extraction,
    url_signals, and normalize_url (the canonical exact-dedup key) run as
    one map-only codegen'd chain. The DuckDB twin rebuilds the identical
    URL and applies the same rules (Java-regex / RE2 parity, like
    htmlops)."""
    from opensmile_spark.urlops import (
        normalize_url, parse_urls, synth_urls, url_signals)

    out = normalize_url(url_signals(parse_urls(synth_urls(
        _docs(spark, sf_dir)))))
    return out.select(
        "doc_id", "url", "url_scheme", "url_host", "url_port", "url_path",
        "url_query", "url_depth", "url_n_params", "url_n_tracking",
        "url_is_https", "url_tld", "url_reg_domain", "url_norm")


def q_warc_ingest(spark, sf_dir):
    """Crawl-container ingest chain (opensmile_spark/warc.py): a spec-
    valid per-record-gzip WARC archive is built from the documents
    table's synthesized HTML pages, scanned back through the binaryFile
    -> record-split -> warc_to_documents path, and pushed through URL
    canonicalization + HTML text extraction. Rows-only by construction
    (ISO 28500 binary container — no SQL twin); the full roundtrip,
    chunked-transfer, charset and truncation semantics are pinned by
    tests/test_warc.py."""
    import shutil
    import tempfile

    from opensmile_spark.htmlops import html_to_text, synth_html
    from opensmile_spark.urlops import normalize_url
    from opensmile_spark.warc import read_warc, warc_to_documents, write_warc

    pages = synth_html(_docs(spark, sf_dir)).select("doc_id", "html") \
        .orderBy("doc_id").collect()  # bounded gate fixture (sf<=0.01)
    d = tempfile.mkdtemp(prefix="warc_gate_")
    try:
        shard = len(pages) // 4 + 1
        for s in range(0, len(pages), shard):
            with open(f"{d}/part-{s}.warc.gz", "wb") as fh:
                fh.write(write_warc(
                    [{"warc_type": "response",
                      "target_uri": f"https://Crawl.EX.org//d/{r['doc_id']}"
                                    f"?utm_source=gate&id={r['doc_id']}",
                      "body": r["html"]} for r in pages[s:s + shard]]))
        docs = warc_to_documents(read_warc(spark, f"{d}/*.warc.gz"))
        out = normalize_url(
            html_to_text(docs, html_col="html", out_col="text"))
        result = out.select(
            F.regexp_extract("url_norm", r"id=(\d+)$", 1).cast("long")
            .alias("doc_id"),
            "url_norm", "text")
        # materialize before the tempdir vanishes
        rows = result.collect()
        return spark.createDataFrame(
            rows, "doc_id long, url_norm string, text string")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_dsir(spark, sf_dir):
    """DSIR importance resampling (opensmile_spark/dsir.py — Xie'23
    hashed-ngram importance weights): target = docs with doc_id % 7 == 0
    (the deterministic seed-set convention the NB gate uses), raw = all
    docs; per-bucket Laplace-smoothed log ratios over 512 md5 buckets,
    per-doc log importance weight via broadcast-join + sum, and the
    Gumbel top-k sampling key from the portable md5 uniform. The DuckDB
    twin replays fit, score and key exactly."""
    from opensmile_spark.dsir import dsir_fit, dsir_score, gumbel_key

    docs = _docs(spark, sf_dir)
    tgt = docs.filter(F.col("doc_id") % 7 == 0)
    ratios = dsir_fit(tgt, docs, n_buckets=512, alpha=1.0, seed=0)
    scored = dsir_score(docs, ratios, n_buckets=512, seed=0)
    return scored.select(
        "doc_id",
        F.round("dsir_logw", 6).alias("dsir_logw"),
        "dsir_n_tokens",
        F.round(gumbel_key(F.col("dsir_logw"), "doc_id", seed=1), 6)
        .alias("dsir_key"))


def q_robots(spark, sf_dir):
    """robots.txt crawl-permission matching (opensmile_spark/robots.py,
    RFC 9309): deterministic robots bodies per synthesized host (.org
    hosts carry a corpusbot group with a wildcard disallow + longer
    anchored allow; .co.uk hosts only a '*' group, exercising the
    agent-specificity fallback), parsed with the window-function group
    model and matched longest-match against every document URL's path.
    The DuckDB twin replays parse, group assignment, pattern->regex
    translation and the (plen, is_allow, path) argmax exactly."""
    from opensmile_spark.robots import match_robots, parse_robots
    from opensmile_spark.urlops import parse_urls, synth_urls

    urls = parse_urls(synth_urls(_docs(spark, sf_dir))).select(
        "doc_id", F.col("url_host").alias("host"),
        F.col("url_path").alias("path"))
    hosts = urls.select("host").distinct()
    org = ("# synthetic robots\nUser-agent: corpusbot\n"
           "Disallow: /a//b/doc-1*\nAllow: /a//b/doc-12$\n\n"
           "User-agent: *\nDisallow: /\n")
    uk = ("User-agent: *\nDisallow: /a//b/doc-3\n"
          "Disallow: /a//b/doc-4*\n")
    rb = hosts.withColumn(
        "robots_txt",
        F.when(F.col("host").endswith(".co.uk"), F.lit(uk))
        .otherwise(F.lit(org)))
    return match_robots(urls, parse_robots(rb), "CorpusBot").select(
        "doc_id", "robots_allowed", "robots_rule")


def q_pagerank(spark, sf_dir):
    """Host-graph PageRank (opensmile_spark/linkgraph.py — the
    CommonCrawl-style domain-centrality quality prior): deterministic
    cross-host edges derived from the documents table (each doc's host
    links to the host of doc (id*31+7) mod N), 3 damped iterations with
    uniform dangling-mass redistribution, mapped back to doc grain. The
    DuckDB twin unrolls the 3 iterations as CTEs, pinning the iterative
    join loop numerically (round 1e-9)."""
    from opensmile_spark.linkgraph import host_graph, pagerank
    from opensmile_spark.urlops import parse_urls, synth_urls

    urls = parse_urls(synth_urls(_docs(spark, sf_dir))).select(
        "doc_id", F.col("url_host").alias("host"))
    n = _docs(spark, sf_dir).count()
    partner = urls.select(F.col("doc_id").alias("pid"),
                          F.col("host").alias("dst_host"))
    raw = urls.join(partner,
                    partner["pid"] == (F.col("doc_id") * 31 + 7) % n) \
        .select("host", "dst_host")
    pr = pagerank(host_graph(raw), iterations=3)
    return urls.join(pr, "host").select(
        "doc_id", F.round("rank", 9).alias("host_rank"))


def q_textnorm(spark, sf_dir):
    """Unicode text normalization (opensmile_spark/textnorm.py): the doc
    text is dirtied deterministically (every 'e' decomposed to
    e+COMBINING ACUTE, an NBSP/ZWSP/control tail appended), then the
    map-only cleanup chain (CRLF fold, control + zero-width strip,
    Unicode-space fold) and the Arrow NFC kernel run. The DuckDB twin
    replays the dirtying + cleanup with the same RE2 classes and
    nfc_normalize — a cross-engine pin of Python unicodedata NFC vs
    DuckDB utf8proc NFC."""
    from opensmile_spark.textnorm import clean_text, unicode_normalize

    dirty = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.regexp_replace("text", "e", "é"),
                 F.lit(" tail​\x01")).alias("t2"))
    out = unicode_normalize(clean_text(dirty, "t2"), "t2", form="NFC")
    return out.select(
        "doc_id", F.col("t2").alias("norm_text"),
        F.length("t2").cast("long").alias("norm_chars"))


def q_docfeat_bank(spark, sf_dir):
    """Per-doc text analysis + dedup signatures + C4 structural quality
    signals in one doc_id-grain bank (constituents: `text_metrics`,
    `doc_signatures`, the round-3b `c4_signals` columns, and — round-4b,
    so the driver hash-checks them inside the 50-entry window — the
    char-bigram perplexity filter `charlm_ppl`, the ExactSubstr
    span-dedup gate `span_dedup` (cols prefixed span_) and the
    repeated-line boilerplate filter `line_dedup` (cols prefixed
    line_/page_))."""
    from opensmile_spark.text import c4_signals, char_entropy

    c4 = c4_signals(_docs(spark, sf_dir)).select(
        "doc_id", "n_lines",
        F.round("frac_lines_term", 6).alias("frac_lines_term"),
        F.round("words_per_line", 6).alias("words_per_line"),
        "n_sentences", "has_brace", "has_lorem",
    )
    ent = char_entropy(_docs(spark, sf_dir)).select(
        "doc_id", F.round("char_entropy", 6).alias("char_entropy"))
    span = (q_span_dedup(spark, sf_dir)
            .withColumnRenamed("dup_ratio", "span_dup_ratio")
            .withColumnRenamed("clean_text", "span_clean_text"))
    line = (q_line_dedup(spark, sf_dir)
            .withColumnRenamed("n_lines", "page_n_lines")
            .withColumnRenamed("dup_ratio", "line_dup_ratio")
            .withColumnRenamed("clean_text", "line_clean_text"))
    return _merge(("doc_id",),
                  q_text_metrics(spark, sf_dir),
                  q_doc_signatures(spark, sf_dir),
                  c4, ent,
                  q_redact(spark, sf_dir),
                  q_charlm_ppl(spark, sf_dir),
                  span, line,
                  q_nb_quality(spark, sf_dir),
                  q_html_extract(spark, sf_dir),
                  q_url_extract(spark, sf_dir),
                  q_dsir(spark, sf_dir),
                  q_robots(spark, sf_dir),
                  q_pagerank(spark, sf_dir),
                  q_textnorm(spark, sf_dir))


def q_nb_quality(spark, sf_dir):
    """Seed-based multinomial NB quality classifier
    (opensmile_spark/classify.py — the fastText/DCLM-style quality-filter
    analogue): deterministic seed labels (doc_id % 5 != 0 plays the
    curated class), one-shuffle per-token log-odds fit, broadcast-join
    scoring with the constant out-of-vocab backoff + class prior. Joined
    into the text_metrics bank so the whole fit->score chain is
    driver-hash-checked against a DuckDB CTE twin."""
    from opensmile_spark.classify import nb_fit, nb_score

    docs = _docs(spark, sf_dir)
    labeled = docs.withColumn(
        "label", (F.col("doc_id") % 5 != 0).cast("int"))
    w, params = nb_fit(labeled, alpha=1.0)
    out = nb_score(docs, w, params)
    return out.select(
        "doc_id", "n_tokens_nb", "n_seen_nb",
        F.round("nb_score", 6).alias("nb_score"), "nb_score_pred")


def q_streaming_sessions(spark, sf_dir):
    """SURVEY §2.8 executed AS A STREAM, hash-checked against a batch
    oracle: the transcripts table is replayed through readStream (file
    source), the stateless streaming LLD, and closed_session_functionals
    (433 s gap, 0 s watermark), driven to completion with
    Trigger.AvailableNow by run_stream_to_memory, whose flush emits the
    sessions still open at end of input — the reference's end-of-input
    ticks (componentManager.cpp:1485-1502). No sentinel row: every
    session of every conversation must come out of the library. The
    oracle is the pure-batch SQL session rule of the engine (rows ordered
    by (ts, turn_idx); a turn more than 433 s after the previous one,
    compared in integer microseconds, starts a new session, so a turn
    exactly 433 s later stays in it) + the same single-pass aggregates.
    Stream/batch equivalence as a driver gate, not just a pytest
    (test_streaming.py pins the remaining streaming surface)."""
    import shutil
    import tempfile
    import uuid

    from opensmile_spark.streaming import (closed_session_functionals,
                                           run_stream_to_memory,
                                           streaming_lld)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    # withWatermark requires TIMESTAMP (not NTZ); the session pins UTC so
    # the cast preserves epoch values and the DuckDB twin is unaffected
    t = (_transcripts(spark, sf_dir).select(*cols)
         .withColumn("ts", F.col("ts").cast("timestamp")))
    d = tempfile.mkdtemp(prefix="osk_stream_gate_")
    t.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(t.schema).parquet(d)
    sess, flush = closed_session_functionals(
        streaming_lld(stream), gap="433 seconds", watermark="0 seconds",
        families=["means", "moments", "extremes"])
    name = "gate_stream_sessions_" + uuid.uuid4().hex[:8]
    run_stream_to_memory(sess, name, flush=flush)
    # the memory table holds materialized rows; the replayed files are done
    shutil.rmtree(d, ignore_errors=True)
    vc = "char_len"
    aggs = [f"{vc}_amean", f"{vc}_absmean", f"{vc}_qmean", f"{vc}_rqmean",
            f"{vc}_variance", f"{vc}_max", f"{vc}_min", f"{vc}_nnz"]
    return (
        spark.sql(f"SELECT * FROM {name}")
        .select(
            "conv_id",
            F.round(_epoch("session_start"), 6).alias("session_start_epoch"),
            F.round(_epoch("session_end"), 6).alias("session_end_epoch"),
            "n_turns",
            *[F.round(c, 6).alias(c) for c in aggs],
        )
    )


_KEYS_CT = ("conv_id", "turn_idx")
_ORACLES["sma3"] = _join_sql(_KEYS_CT, _ORACLES["sma3"],
                             _ORACLES.pop("delta2"))
_ORACLES["windowed_hamming"] = _join_sql(
    _KEYS_CT, _ORACLES["windowed_hamming"], _ORACLES.pop("median_smooth"),
    _ORACLES.pop("contour_direction"))
_ORACLES["mvn"] = _join_sql(
    _KEYS_CT, _ORACLES["mvn"],
    "SELECT * EXCLUDE (char_len_mvn), char_len_mvn AS char_len_mvn_pre "
    "FROM (" + _ORACLES.pop("mvn_pretrained") + ") pre",
    _ORACLES.pop("fullinput_mean"))
_ORACLES["vector_ops"] = _join_sql(
    _KEYS_CT, _ORACLES["vector_ops"], _ORACLES.pop("mono_mixdown"))
_ORACLES["functionals_qreg"] = _join_sql(
    ("conv_id",), _ORACLES["functionals_qreg"],
    "SELECT * EXCLUDE (n_turns), n_turns AS n_turns_conv "
    "FROM (" + _ORACLES.pop("functionals_acf_amdf") + ") acf")
_ORACLES["egemaps_core"] = _join_sql(
    ("conv_id", "session_id", "n_turns"), _ORACLES["egemaps_core"],
    'SELECT * EXCLUDE ("char_len_sma3_amean") FROM ('
    + _ORACLES.pop("compare_core") + ") cpc")
_ORACLES["token_spectrum"] = _join_sql(
    ("doc_id",), _ORACLES["token_spectrum"],
    _ORACLES.pop("spectral_moments"), _ORACLES.pop("plp_aud"),
    _ORACLES.pop("harmonics"), _ORACLES.pop("spec_scale"),
    _ORACLES.pop("vector_ops_ext"))
_ORACLES["text_metrics"] = _join_sql(
    ("doc_id",), _ORACLES["text_metrics"], _ORACLES.pop("doc_signatures"),
    r"""
SELECT doc_id,
  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
  round(CAST(len(list_filter(string_split(text, chr(10)),
        l -> regexp_matches(l, '[.!?"]\s*$'))) AS DOUBLE)
      / len(string_split(text, chr(10))), 6) AS frac_lines_term,
  round(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
      / len(string_split(text, chr(10))), 6) AS words_per_line,
  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS n_sentences,
  CAST(contains(text, '{') AS INTEGER) AS has_brace,
  CAST(contains(lower(text), 'lorem ipsum') AS INTEGER) AS has_lorem
FROM documents
""", r"""
WITH c AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), f AS (
  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS n FROM c GROUP BY 1, 2
), tot AS (
  SELECT doc_id, sum(n) AS tot FROM f GROUP BY 1
)
SELECT doc_id,
  round(-sum((n / tot) * log2(n / tot)), 6) AS char_entropy
FROM f JOIN tot USING (doc_id) GROUP BY doc_id
""", _ORACLES.pop("redact"),
    _ORACLES.pop("charlm_ppl"),
    "SELECT doc_id, n_tokens, n_dup_spans, dup_tokens, "
    "dup_ratio AS span_dup_ratio, clean_text AS span_clean_text "
    "FROM (" + _ORACLES.pop("span_dedup") + ") sp",
    "SELECT doc_id, n_lines AS page_n_lines, n_removed, "
    "dup_ratio AS line_dup_ratio, clean_text AS line_clean_text "
    "FROM (" + _ORACLES.pop("line_dedup") + ") ln", r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
         AS token
  FROM documents
), lab AS (
  SELECT doc_id, CAST(doc_id % 5 <> 0 AS INT) AS y FROM documents
), tl AS (
  SELECT t.doc_id, t.token, l.y FROM toks t JOIN lab l USING (doc_id)
), counts AS (
  SELECT token, CAST(SUM(y) AS DOUBLE) AS c1,
         CAST(COUNT(*) - SUM(y) AS DOUBLE) AS c0
  FROM tl GROUP BY token
), tot AS (
  SELECT SUM(c1) AS t1, SUM(c0) AS t0, CAST(COUNT(*) AS DOUBLE) AS v
  FROM counts
), w AS (
  SELECT token,
         ln((c1 + 1.0) / (t1 + v)) - ln((c0 + 1.0) / (t0 + v)) AS log_odds
  FROM counts CROSS JOIN tot
), consts AS (
  SELECT ln((t0 + v) / (t1 + v)) AS w_unseen FROM tot
), pri AS (
  SELECT ln(CAST(SUM(y) AS DOUBLE) / (COUNT(*) - SUM(y))) AS prior
  FROM lab
), sc AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens_nb,
         CAST(COUNT(w.log_odds) AS BIGINT) AS n_seen_nb,
         COALESCE(SUM(w.log_odds), 0.0) AS seen_sum
  FROM toks t LEFT JOIN w USING (token) GROUP BY t.doc_id
), scored AS (
  SELECT d.doc_id,
         COALESCE(sc.n_tokens_nb, 0) AS n_tokens_nb,
         COALESCE(sc.n_seen_nb, 0) AS n_seen_nb,
         COALESCE(sc.seen_sum, 0.0)
           + (COALESCE(sc.n_tokens_nb, 0) - COALESCE(sc.n_seen_nb, 0))
             * consts.w_unseen
           + pri.prior AS raw
  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
  CROSS JOIN consts CROSS JOIN pri
)
SELECT doc_id, n_tokens_nb, n_seen_nb,
       ROUND(raw, 6) AS nb_score,
       CAST(raw > 0 AS INT) AS nb_score_pred
FROM scored
""", r"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), sp AS (
  SELECT doc_id, ws,
    greatest(CAST(floor(len(ws) / 2.0) AS BIGINT), 1) AS half
  FROM w
), pg AS (
  SELECT doc_id,
    '<!DOCTYPE html><html><head><title>Doc &amp; page '
    || CAST(doc_id AS VARCHAR)
    || '</title><style>body { color: #000; }</style>'
    || '<script>var x = 1 < 2;</script></head><body>'
    || '<!-- crawler: ignore -->'
    || '<nav><a href="/home">Home</a> <a href="/about">About</a></nav><h1>Doc '
    || CAST(doc_id AS VARCHAR)
    || '</h1><p>' || array_to_string(ws[1:half], ' ')
    || '</p><p>' || array_to_string(ws[half+1:len(ws)], ' ')
    || '</p><div>score &lt; 1 &amp; done</div>'
    || '<footer><a href="/terms">Terms</a></footer></body></html>' AS html
  FROM sp
), ex AS (
  SELECT doc_id, html,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
      '(?s)<!--.*?-->', '', 'g'),
      '(?is)<(script|style|noscript)\b[^>]*>.*?</(script|style|noscript)\s*>',
      '', 'g'),
      '(?i)</(?:p|div|li|ul|ol|table|tr|h1|h2|h3|h4|h5|h6|section|article|header|footer|nav|blockquote|pre|title|head)\s*>|<(?:br|hr)\s*/?>',
      chr(10), 'g'),
      '(?s)<[^>]*>', '', 'g') AS t0
  FROM pg
), ex2 AS (
  SELECT doc_id, html,
    replace(replace(replace(replace(replace(replace(t0,
      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      '&#39;', chr(39)), '&amp;', '&') AS t1
  FROM ex
), ex3 AS (
  SELECT doc_id, html,
    regexp_replace(regexp_replace(regexp_replace(t1,
      '[^\S\n]*\n\s*', chr(10), 'g'),
      '[ \t\r\f]+', ' ', 'g'),
      '^\s+|\s+$', '', 'g') AS html_text
  FROM ex2
), ttl AS (
  SELECT doc_id,
    trim(replace(replace(replace(replace(replace(replace(
      regexp_extract(html, '(?is)<title\b[^>]*>(.*?)</title\s*>', 1),
      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      '&#39;', chr(39)), '&amp;', '&')) AS html_title
  FROM pg
)
SELECT e.doc_id, e.html_text,
  CAST(len(regexp_extract_all(e.html, '(?s)<[^>]+>')) AS BIGINT)
    AS html_n_tags,
  CAST(len(regexp_extract_all(e.html, '(?i)<a\b')) AS BIGINT)
    AS html_n_links,
  CAST(coalesce(list_sum(list_transform(
      regexp_extract_all(e.html, '(?is)<a\b[^>]*>(.*?)</a\s*>', 1),
      x -> len(trim(regexp_replace(x, '(?s)<[^>]*>', '', 'g'))))), 0)
    AS BIGINT) AS html_link_chars,
  CAST(len(e.html_text) AS BIGINT) AS html_text_chars,
  CASE WHEN len(e.html_text) > 0 THEN
    round(CAST(coalesce(list_sum(list_transform(
      regexp_extract_all(e.html, '(?is)<a\b[^>]*>(.*?)</a\s*>', 1),
      x -> len(trim(regexp_replace(x, '(?s)<[^>]*>', '', 'g'))))), 0)
      AS DOUBLE) / len(e.html_text), 6)
  ELSE 0.0 END AS html_link_density,
  CAST(coalesce(list_sum(list_transform(
      regexp_extract_all(e.html,
        '(?is)<(?:script|style)\b[^>]*>(.*?)</(?:script|style)\s*>', 1),
      x -> len(x))), 0) AS BIGINT) AS html_script_chars,
  round(1.0 - CAST(len(e.html_text) AS DOUBLE)
        / greatest(CAST(len(e.html) AS DOUBLE), 1.0), 6)
    AS html_markup_ratio,
  t.html_title
FROM ex3 e JOIN ttl t USING (doc_id)
""", r"""
WITH synth AS (
  SELECT doc_id,
    (CASE doc_id % 3 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'http'
     ELSE 'https' END)
    || '://'
    || (CASE WHEN doc_id % 3 = 0 THEN 'crawler@' ELSE '' END)
    || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE 'cdn.' END)
    || lower(source)
    || (CASE WHEN doc_id % 4 = 1 THEN '.co.uk' ELSE '.org' END)
    || (CASE WHEN doc_id % 4 = 2 THEN ':443'
             WHEN doc_id % 4 = 3 THEN ':8080' ELSE '' END)
    || '/a//b/doc-' || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 2 THEN '/' ELSE '' END)
    || '?z=' || CAST(doc_id AS VARCHAR) || '&utm_source=feed&a=1'
    || (CASE WHEN doc_id % 4 = 0 THEN '&gclid=xyz' ELSE '' END)
    || '#frag-' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
    lower(regexp_extract(url, '__URI__', 2)) AS url_scheme,
    regexp_extract(url, '__URI__', 4) AS auth,
    regexp_extract(url, '__URI__', 5) AS raw_path,
    regexp_extract(url, '__URI__', 7) AS url_query
  FROM synth
), hp AS (
  SELECT *, regexp_replace(auth, '^.*@', '') AS hostport FROM parts
), comp AS (
  SELECT doc_id, url, url_scheme, raw_path AS url_path, url_query,
    lower(regexp_replace(hostport, ':\d*$', '')) AS url_host,
    regexp_extract(hostport, ':(\d+)$', 1) AS url_port
  FROM hp
), canon AS (
  SELECT *,
    CASE WHEN url_port = '' THEN ''
         WHEN (url_scheme = 'http' AND url_port = '80')
           OR (url_scheme = 'https' AND url_port = '443')
           OR (url_scheme = 'ftp' AND url_port = '21') THEN ''
         ELSE ':' || url_port END AS keep_port,
    CASE WHEN regexp_replace(url_path, '/{2,}', '/', 'g') = '' THEN '/'
         ELSE regexp_replace(url_path, '/{2,}', '/', 'g') END AS p1,
    array_to_string(list_sort(list_filter(string_split(url_query, '&'),
      x -> len(x) > 0 AND NOT regexp_matches(x, '__TRK__'))), '&') AS cq,
    list_filter(string_split(url_path, '/'), x -> len(x) > 0) AS segs,
    list_filter(string_split(url_query, '&'), x -> len(x) > 0) AS qparts,
    string_split(url_host, '.') AS labels
  FROM comp
), canon2 AS (
  SELECT *,
    CASE WHEN len(p1) > 1 AND p1 LIKE '%/'
         THEN substr(p1, 1, len(p1) - 1) ELSE p1 END AS p2,
    len(labels) AS nlab,
    labels[-1] AS tld0,
    CASE WHEN len(labels) > 1 THEN labels[-2] ELSE '' END AS sld
  FROM canon
)
SELECT doc_id, url, url_scheme, url_host, url_port, url_path, url_query,
  CAST(len(segs) AS BIGINT) AS url_depth,
  CAST(len(qparts) AS BIGINT) AS url_n_params,
  CAST(len(list_filter(qparts, x -> regexp_matches(x, '__TRK__')))
    AS BIGINT) AS url_n_tracking,
  CAST(url_scheme = 'https' AS INT) AS url_is_https,
  CASE WHEN nlab > 0 THEN tld0 ELSE '' END AS url_tld,
  CASE WHEN nlab >= 3 AND sld IN ('co','com','net','org','ac','gov','edu')
       THEN labels[-3] || '.' || sld || '.' || tld0
       WHEN nlab >= 2 THEN sld || '.' || tld0
       ELSE url_host END AS url_reg_domain,
  url_scheme || '://' || url_host || keep_port || p2
    || (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS url_norm
FROM canon2
""".replace(
    "__URI__", r"^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?(#(.*))?"
).replace(
    "__TRK__",
    r"^(utm_[a-z]+|fbclid|gclid|dclid|msclkid|mc_eid|igshid|ref|ref_src|_ga)="
), r"""
WITH tl AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(lower(text)), '\s+'),
                x -> len(x) > 0) AS ws
  FROM documents
), grams AS (
  SELECT doc_id, unnest(ws) AS tok FROM tl
  UNION ALL
  SELECT tl.doc_id, ws[i] || '_' || ws[i + 1] AS tok
  FROM tl, unnest(generate_series(1, len(ws) - 1)) AS t(i)
), bk AS (
  SELECT doc_id,
    CAST('0x' || substr(md5(tok || ':0'), 1, 8) AS BIGINT) % 512 AS bucket
  FROM grams
), grid AS (
  SELECT unnest(generate_series(0, 511)) AS bucket
), tc AS (
  SELECT bucket, count(*) AS ct FROM bk WHERE doc_id % 7 = 0 GROUP BY 1
), rc AS (
  SELECT bucket, count(*) AS cr FROM bk GROUP BY 1
), j AS (
  SELECT g.bucket, coalesce(tc.ct, 0) AS ct, coalesce(rc.cr, 0) AS cr
  FROM grid g LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)
), tot AS (
  SELECT CAST(sum(ct) AS DOUBLE) AS t, CAST(sum(cr) AS DOUBLE) AS r FROM j
), ratio AS (
  SELECT bucket,
    ln(ct + 1.0) - ln(t + 512.0) - ln(cr + 1.0) + ln(r + 512.0) AS log_ratio
  FROM j CROSS JOIN tot
), per AS (
  SELECT bk.doc_id, sum(ratio.log_ratio) AS logw,
         CAST(count(*) AS BIGINT) AS ntok
  FROM bk JOIN ratio USING (bucket) GROUP BY 1
), dsc AS (
  SELECT d.doc_id, coalesce(per.logw, 0.0) AS logw,
         coalesce(per.ntok, 0) AS ntok
  FROM documents d LEFT JOIN per USING (doc_id)
)
SELECT doc_id,
  round(logw, 6) AS dsir_logw,
  ntok AS dsir_n_tokens,
  round(logw + (-ln(-ln(
    (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 8)
          AS BIGINT) + 1.0) / 4294967297.0))), 6) AS dsir_key
FROM dsc
""", r"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE 'cdn.' END)
    || lower(source)
    || (CASE WHEN doc_id % 4 = 1 THEN '.co.uk' ELSE '.org' END) AS host,
    '/a//b/doc-' || CAST(doc_id AS VARCHAR)
    || (CASE WHEN doc_id % 3 = 2 THEN '/' ELSE '' END) AS path
  FROM documents
), hosts AS (
  SELECT DISTINCT host FROM u
), rb AS (
  SELECT host, CASE WHEN host LIKE '%.co.uk' THEN
    'User-agent: *' || chr(10) || 'Disallow: /a//b/doc-3' || chr(10)
    || 'Disallow: /a//b/doc-4*' || chr(10)
  ELSE
    '# synthetic robots' || chr(10) || 'User-agent: corpusbot' || chr(10)
    || 'Disallow: /a//b/doc-1*' || chr(10) || 'Allow: /a//b/doc-12$'
    || chr(10) || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /'
    || chr(10)
  END AS txt FROM hosts
), lx AS (
  SELECT host, string_split_regex(txt, '\r?\n') AS ls FROM rb
), lines AS (
  SELECT host, i AS line_idx,
    trim(regexp_replace(ls[i], '#.*$', '')) AS line
  FROM lx, unnest(generate_series(1, len(ls))) t(i)
), kv0 AS (
  SELECT host, line_idx,
    lower(trim(regexp_extract(line, '^([^:]+):', 1))) AS key,
    trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) AS value
  FROM lines WHERE line <> ''
), kv AS (
  SELECT * FROM kv0
  WHERE key IN ('user-agent', 'allow', 'disallow', 'sitemap')
), kg AS (
  SELECT *,
    CAST(key = 'user-agent'
         AND coalesce(lag(key) OVER (PARTITION BY host ORDER BY line_idx),
                      '') <> 'user-agent' AS INT) AS starts_group
  FROM kv
), kgg AS (
  SELECT *, sum(starts_group) OVER (
    PARTITION BY host ORDER BY line_idx
    ROWS UNBOUNDED PRECEDING) AS group_id
  FROM kg
), agents AS (
  SELECT host, group_id, lower(value) AS agent
  FROM kgg WHERE key = 'user-agent'
), rl AS (
  SELECT host, group_id, key AS rule, value AS rule_path
  FROM kgg WHERE key IN ('allow', 'disallow') AND value <> ''
), grouped AS (
  SELECT a.host, a.agent, r.rule, r.rule_path
  FROM agents a JOIN rl r USING (host, group_id)
), cand AS (
  SELECT host, rule, rule_path,
    CAST(agent = 'corpusbot' AS INT) AS exact
  FROM grouped WHERE agent IN ('corpusbot', '*')
), lvl AS (
  SELECT host, max(exact) AS best FROM cand GROUP BY 1
), r2 AS (
  SELECT c.host, c.rule, c.rule_path,
    len(c.rule_path) AS plen,
    '^' || (CASE WHEN c.rule_path LIKE '%$'
            THEN replace(regexp_replace(c.rule_path,
                 '([.^+?(){}\[\]\\|])', '\\\1', 'g'), '*', '.*')
            ELSE replace(regexp_replace(c.rule_path,
                 '([.^+?(){}\[\]\\|])', '\\\1', 'g'), '*', '.*') || '.*'
            END) AS rx
  FROM cand c JOIN lvl USING (host) WHERE c.exact = lvl.best
), hits AS (
  SELECT u.doc_id, r2.rule_path, r2.plen,
    CAST(r2.rule = 'allow' AS INT) AS is_allow,
    row_number() OVER (PARTITION BY u.doc_id
      ORDER BY r2.plen DESC, CAST(r2.rule = 'allow' AS INT) DESC,
               r2.rule_path DESC) AS rn
  FROM u JOIN r2 USING (host)
  WHERE regexp_matches(u.path, r2.rx)
), win AS (
  SELECT doc_id, is_allow, rule_path FROM hits WHERE rn = 1
)
SELECT u.doc_id,
  coalesce(win.is_allow, 1) AS robots_allowed,
  coalesce(win.rule_path, '') AS robots_rule
FROM u LEFT JOIN win USING (doc_id)
""", r"""
WITH u AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE 'cdn.' END)
    || lower(source)
    || (CASE WHEN doc_id % 4 = 1 THEN '.co.uk' ELSE '.org' END) AS host
  FROM documents
), nn0 AS (
  SELECT count(*) AS nd FROM documents
), raw AS (
  SELECT a.host AS src, b.host AS dst
  FROM u a JOIN nn0 ON TRUE
  JOIN u b ON b.doc_id = (a.doc_id * 31 + 7) % nn0.nd
  WHERE a.host <> b.host
), e AS (
  SELECT src, dst FROM raw GROUP BY 1, 2
), nodes AS (
  SELECT src AS host FROM e UNION SELECT dst FROM e
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
), deg AS (
  SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY 1
), r0 AS (
  SELECT host, 1.0 / nn.n AS rank FROM nodes, nn
),
d0 AS (SELECT coalesce(sum(rank), 0.0) AS dm
       FROM r0 LEFT JOIN deg ON r0.host = deg.src WHERE outdeg IS NULL),
i0 AS (SELECT e.dst AS host, sum(r0.rank / deg.outdeg) AS inflow
       FROM e JOIN r0 ON e.src = r0.host JOIN deg ON e.src = deg.src
       GROUP BY 1),
r1 AS (SELECT nodes.host,
         (1.0 - 0.85) / nn.n
         + 0.85 * (coalesce(i0.inflow, 0.0) + d0.dm / nn.n) AS rank
       FROM nodes LEFT JOIN i0 USING (host), nn, d0),
d1 AS (SELECT coalesce(sum(rank), 0.0) AS dm
       FROM r1 LEFT JOIN deg ON r1.host = deg.src WHERE outdeg IS NULL),
i1 AS (SELECT e.dst AS host, sum(r1.rank / deg.outdeg) AS inflow
       FROM e JOIN r1 ON e.src = r1.host JOIN deg ON e.src = deg.src
       GROUP BY 1),
r2 AS (SELECT nodes.host,
         (1.0 - 0.85) / nn.n
         + 0.85 * (coalesce(i1.inflow, 0.0) + d1.dm / nn.n) AS rank
       FROM nodes LEFT JOIN i1 USING (host), nn, d1),
d2 AS (SELECT coalesce(sum(rank), 0.0) AS dm
       FROM r2 LEFT JOIN deg ON r2.host = deg.src WHERE outdeg IS NULL),
i2 AS (SELECT e.dst AS host, sum(r2.rank / deg.outdeg) AS inflow
       FROM e JOIN r2 ON e.src = r2.host JOIN deg ON e.src = deg.src
       GROUP BY 1),
r3 AS (SELECT nodes.host,
         (1.0 - 0.85) / nn.n
         + 0.85 * (coalesce(i2.inflow, 0.0) + d2.dm / nn.n) AS rank
       FROM nodes LEFT JOIN i2 USING (host), nn, d2)
SELECT u.doc_id, round(r3.rank, 9) AS host_rank
FROM u JOIN r3 ON u.host = r3.host
""", r"""
WITH dirty AS (
  SELECT doc_id,
    regexp_replace(text, 'e', 'e' || chr(769), 'g')
    || chr(160) || 'tail' || chr(8203) || chr(1) AS t2
  FROM documents
), cleaned AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(t2,
      '\r\n?', chr(10), 'g'),
      '[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}]', '', 'g'),
      '[\x00-\x08\x0B-\x1F\x7F\x{0080}-\x{009F}]', '', 'g'),
      '[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]', ' ',
      'g') AS t2
  FROM dirty
)
SELECT doc_id, nfc_normalize(t2) AS norm_text,
  CAST(len(nfc_normalize(t2)) AS BIGINT) AS norm_chars
FROM cleaned
""")

_ORACLES["lpc_modulation"] = _join_sql(
    ("conv_id", "n_turns"), _ORACLES["lpc_modulation"],
    _ORACLES.pop("lsp"))

_ORACLES["frame_vector"] = _join_sql(
    _KEYS_CT, _ORACLES["frame_vector"],
    "SELECT conv_id, pos AS turn_idx, value FROM ("
    + _ORACLES.pop("overlap_add") + ") oa")

_ORACLES["cosine_topk"] = (
    _ORACLES["cosine_topk"]
    + "\nUNION ALL\nSELECT 'bm25' AS path, query_id, doc_id AS item_id, "
    + "rank, score FROM (" + _ORACLES.pop("bm25_topk") + ") bm")

_ORACLES["pack_bank"] = _join_sql(
    ("source", "doc_id"), _ORACLES.pop("pack_concat"),
    "SELECT source, doc_id, pack_id AS greedy_pack_id, "
    "pack_pos AS greedy_pack_pos, pack_tokens AS greedy_pack_tokens "
    "FROM (" + _ORACLES.pop("pack_greedy") + ") g")

_ORACLES["corpus_pipeline"] = r"""
WITH t AS (
  SELECT doc_id, source, text,
    string_split_regex(trim(lower(text)), '\s+') AS ltoks,
    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS DOUBLE)
        AS n_tok,
    CAST(length(text) AS DOUBLE) AS n_chr
  FROM documents
), q AS (
  SELECT doc_id, source, text,
    LEAST(n_tok / 100.0, 1.0) * 0.4
    + LEAST(CAST(len(list_intersect(ltoks,
        ['the','and','of','to','a','in','is','that','it','for']))
        AS DOUBLE) / 10.0 * 2.0, 1.0) * 0.3
    + CASE WHEN n_chr / n_tok >= 3 AND n_chr / n_tok <= 12
           THEN 0.2 ELSE 0.0 END
    + CASE WHEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g'))
                AS DOUBLE) / n_chr <= 0.1 THEN 0.1 ELSE 0.0 END AS quality
  FROM t
), qf AS (
  SELECT * FROM q WHERE quality >= 0.55
), dd AS (
  SELECT * FROM qf
  QUALIFY row_number() OVER (PARTITION BY md5(substr(text, 1, 40))
                             ORDER BY doc_id) = 1
), bsh AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
      range(0, greatest(len(string_split_regex(trim(lower(text)), '\s+'))
            - 5, 0) + 1),
      i -> array_to_string(list_slice(
          string_split_regex(trim(lower(text)), '\s+'), i + 1, i + 5),
          ' ')))) AS shingle
  FROM documents WHERE doc_id % 7 = 0
), dsh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      range(0, greatest(len(string_split_regex(trim(lower(text)), '\s+'))
            - 5, 0) + 1),
      i -> array_to_string(list_slice(
          string_split_regex(trim(lower(text)), '\s+'), i + 1, i + 5),
          ' ')))) AS shingle
  FROM dd
), flagged AS (
  SELECT doc_id FROM dsh JOIN bsh USING (shingle)
  GROUP BY doc_id HAVING COUNT(*) >= 2
), dc AS (
  SELECT dd.* FROM dd ANTI JOIN flagged USING (doc_id)
), samp AS (
  SELECT * FROM dc
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':5'), 1, 8))
             AS BIGINT)
      < CASE source WHEN 'src0' THEN 4294967296
                    WHEN 'src1' THEN 2147483648
                    ELSE 3221225472 END
), sh AS (
  SELECT doc_id, source, quality,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 8))
         AS BIGINT) AS h
  FROM samp
)
SELECT doc_id, source, round(quality, 6) AS quality,
  CAST(h % 8 AS INTEGER) AS shard,
  CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1
       AS BIGINT) AS shuffle_pos
FROM sh
"""

_ORACLES["winnow_pairs"] = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
  FROM documents
), h AS (
  SELECT doc_id,
    list_transform(
      range(0, greatest(len(toks) - 3, 0) + 1),
      i -> CAST(('0x' || substr(md5(
             array_to_string(list_slice(toks, i + 1, i + 3), ' ')), 1, 8))
           AS BIGINT)) AS hs
  FROM t
), fps AS (
  SELECT doc_id,
    unnest(list_distinct(list_transform(
      range(0, greatest(len(hs) - 4, 0) + 1),
      i -> list_min(list_slice(hs, i + 1, i + 4))))) AS fp
  FROM h
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       count(*) AS n_shared_fp
FROM fps a JOIN fps b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
"""

# round-5 window re-pack: both (id_a, id_b) near-dup candidate banks ride
# the minhash gate — banding+Jaccard as path='minhash', MOSS winnowing
# shared-fp counts as path='winnow'
_ORACLES["minhash_lsh_pairs"] = (
    "SELECT 'minhash' AS path, id_a, id_b, jaccard AS score FROM (\n"
    + _ORACLES["minhash_lsh_pairs"] + "\n)\nUNION ALL\n"
    + "SELECT 'winnow' AS path, id_a, id_b,\n"
    + "       CAST(n_shared_fp AS DOUBLE) AS score FROM (\n"
    + _ORACLES["winnow_pairs"] + "\n)")
del _ORACLES["winnow_pairs"]

_ORACLES["streaming_expanding"] = SQL_PREFIX + """
SELECT conv_id, turn_idx, char_len,
  round(avg(char_len) OVER w, 6) AS run_mean,
  round(sqrt(var_pop(char_len) OVER w), 6) AS run_std,
  count(*) OVER w AS n
FROM lld
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS UNBOUNDED PRECEDING)
"""

_ORACLES["streaming_sessions"] = SQL_PREFIX + """
, flagged AS (
  SELECT conv_id, turn_idx, 1e-6*epoch_us(ts) AS e, char_len,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
              (PARTITION BY conv_id ORDER BY ts, turn_idx)) > 433000000
         THEN 1 ELSE 0 END AS new_sess
  FROM lld
), sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY conv_id ORDER BY e, turn_idx
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT conv_id,
  round(min(e), 6) AS session_start_epoch,
  round(max(e) + 433, 6) AS session_end_epoch,
  count(*) AS n_turns,
  round(avg(char_len), 6) AS char_len_amean,
  round(avg(abs(char_len)), 6) AS char_len_absmean,
  round(avg(char_len*char_len), 6) AS char_len_qmean,
  round(sqrt(avg(char_len*char_len)), 6) AS char_len_rqmean,
  round(var_pop(char_len), 6) AS char_len_variance,
  round(max(char_len), 6) AS char_len_max,
  round(min(char_len), 6) AS char_len_min,
  round(CAST(sum(CASE WHEN char_len <> 0 THEN 1 ELSE 0 END) AS DOUBLE), 6)
      AS char_len_nnz
FROM sess GROUP BY conv_id, sid
"""


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # sources + LLD
    "transcripts": q_transcripts,
    "lld": q_lld,
    # contour smoothers / differencers / contour classifiers (banks)
    "sma3": q_smoothers_bank,
    "windowed_hamming": q_contour_bank,
    # framing / segmentation
    "sessionize": q_sessionize,
    "streaming_sessions": q_streaming_sessions,   # §2.8 as a STREAM (oracle)
    "streaming_expanding": q_streaming_expanding,  # stateful stream (oracle)
    "turn_detector": q_turn_detector,
    "meta_segments": q_meta_segments,
    "tumbling_window": q_tumbling_window,
    "interval_join": q_interval_join,
    "frame_vector": q_framer_bank,   # + overlap_add (round-4 bank)
    # functionals
    "functionals_sql": q_functionals_sql,
    "functionals_derive": q_functionals_derive,  # fused derive= + arrow
    "functionals_session": q_functionals_session,
    "functionals_extras": q_functionals_extras,
    "functionals_qreg": q_regression_bank,
    "peaks2_restricted": q_peaks2_restricted,
    "lpc_modulation": q_lpc_lsp_bank,     # oracle (unrolled Levinson + DFT
    #                                       + closed-form LSP quadratics)
    "viterbi_smooth": q_viterbi_smooth,   # oracle (recursive-CTE trellis)
    # point-in-time / joins / time-grid regularization
    "asof_join": q_asof_join,
    "backfill_means": q_backfill_means,
    "resample": q_resample,               # cSmileResample/cSpecResample
    # normalization
    "mvn": q_mvn_bank,
    # selection / vector math
    "valbased_selector": q_valbased_selector,
    "data_selector": q_data_selector,
    "vector_ops": q_vector_ops_bank,
    # (vector_ops_ext folded into the token_spectrum bank — round-4b)
    # skew handling (round-5 merge: per-conv salted_partial_stats columns
    # join the turn-grain salt-and-stitch equivalence rows on conv_id)
    "salted_sma_equivalence": q_salted_sma_equivalence,
    # presets (eGeMAPS + ComParE cores, + the full named bundles:
    # round-5 merge — emo_large joins egemaps_bundle at the shared
    # (conv, session) grain under emo_-prefixed names, freeing window
    # slots so every SQL-twinned gate sits inside the driver's 50)
    "egemaps_core": q_presets_core,
    "egemaps_bundle": q_egemaps_bundle,
    # spectral (full cSpectral/cPlp/cHarmonics/cSpecScale bank)
    "token_spectrum": q_spectral_bank,
    # sources / sinks
    "io_roundtrip": q_io_roundtrip,
    # text analysis / dedup / similarity
    "text_metrics": q_docfeat_bank,   # + charlm_ppl/span_dedup/line_dedup
    "exact_dedup": q_exact_dedup,
    "incremental_dedup": q_incremental_dedup,  # cross-snapshot (FULL oracle)
    # round-5 merge: the MOSS winnow_near_dups pairs ride the same gate
    # under path='winnow' (both are (id_a, id_b) near-dup candidate banks)
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_near_dups": q_simhash_near_dups,
    "embedding_near_dups": q_embedding_near_dups,
    "dedup_components": q_dedup_components,
    "winnow_fingerprints": q_winnow_fingerprints,
    "cosine_topk": q_cosine_topk,
    "quantize_embeddings": q_quantize_embeddings,
    # training-data pipeline (decontamination / sampling / stats / scrub)
    "decontaminate": q_decontaminate,
    "stratified_sample": q_stratified_sample,
    "corpus_stats": q_corpus_stats,
    # sequence assembly (training-data last mile)
    "chunk_documents": q_chunk_documents,
    "pack_bank": q_pack_bank,
    "pack_sequences": q_pack_sequences,   # materialized packed ids (oracle)
    "shuffle_shards": q_shuffle_shards,
    # the composed end-to-end corpus build (one oracle-checked gate)
    "corpus_pipeline": q_corpus_pipeline,
    # ---- position 51+: rows-only BY CONSTRUCTION (outside driver window) --
    # After the round-5 re-pack (salted_stats / winnow_pairs / emo_large
    # merged into their same-grain sibling gates), EVERY oracle-checked
    # gate sits inside the 50-entry driver window; this tail is exclusively
    # gates whose driver check is rows-only because no SQL twin can exist
    # (approximate ANN recall, xxhash64, sextic roots, iterative BPE,
    # WAV decode + rfft).
    "ann_lsh_topk": q_ann_lsh_topk,       # rows-only (approximate ANN)
    "ann_ivf_topk": q_ann_ivf_topk,       # rows-only (approximate ANN)
    "ann_pq_topk": q_ann_pq_topk,         # rows-only (approximate ANN)
    "ann_ivfpq_topk": q_ann_ivfpq_topk,   # rows-only (approximate ANN)
    "embedding_near_dups_lsh": q_embedding_near_dups_lsh,  # rows-only (ANN)
    "datagen": q_datagen,                 # rows-only (xxhash64 has no twin)
    "formants": q_formants,               # rows-only (sextic roots: no closed form)
    "bpe_tokens": q_bpe_tokens,           # rows-only (iterative merge loop)
    "audio_lld": q_audio_lld,             # rows-only (WAV decode + rfft)
    "warc_ingest": q_warc_ingest,         # rows-only (binary container)
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-(conv, session) eGeMAPS-style functional vector over the
    smoothed turn-length LLD at sf0.001 (SURVEY.md §7.2 minimum slice)."""
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.operators import sessionize, sma

    sf_dir = "/root/testdata/sf0.001"
    lld = _lld(spark, sf_dir)
    lld = sma(lld, ["char_len"], 3)
    lld = sessionize(lld, gap_seconds=SESSION_GAP_S)
    return functionals_kernel(
        lld, ["char_len_sma3"], ("conv_id", "session_id"),
        families=["means", "moments", "percentiles", "regression", "peaks2"],
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
