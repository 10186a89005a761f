"""DSIR-style data selection: hashed n-gram importance resampling.

Public algorithm (Xie et al., "Data Selection for Language Models via
Importance Resampling", NeurIPS 2023): featurize documents as hashed
n-gram (unigram + bigram) counts over B buckets, fit bag-of-words bucket
distributions for a TARGET corpus (what you want more of) and the RAW
corpus, weight every raw document by its log importance ratio
log w(x) = sum_b c_b(x) [log p_target(b) - log q_raw(b)], then sample
with Gumbel top-k so the selected set follows the target distribution
instead of greedy top-scoring near-duplicates.

100 TB shape (the same fit->broadcast->score layout as classify.nb_*):
  - fit: ONE groupBy over exploded hashed tokens per corpus — the
    result is <= B rows (B defaults to 512), trivially collectable and
    broadcastable; Laplace-smoothed log-ratio per bucket.
  - score: explode -> broadcast-join the B-row ratio table -> one
    groupBy(doc) sum. Two narrow shuffles of token rows, zero Python.
  - sample: the Gumbel key is a pure column expression over a portable
    md5-derived uniform (replayable in any engine); ordering by it and
    taking k rows is a TakeOrdered, not a global sort.

Everything — tokenization, bucket hashing (first 8 hex chars of md5,
the repo's portable-hash convention from sampling._hash32), smoothing,
the Gumbel transform — is chosen to be bit-replayable by the DuckDB
oracle twin.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 1 << 32


def _tokens(text_col) -> Column:
    """lower -> trim -> whitespace split -> drop empties (portable)."""
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    return F.filter(toks, lambda x: F.length(x) > 0)


def _with_bigrams(toks: Column) -> Column:
    """unigrams ++ adjacent-pair bigrams joined by '_'."""
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))  # 0-token docs: slice len
    bi = F.zip_with(F.slice(toks, 1, n1), F.slice(toks, 2, n1),
                    lambda a, b: F.concat(a, F.lit("_"), b))
    return F.concat(toks, bi)


def _bucket(tok: Column, n_buckets: int, seed: int) -> Column:
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", tok, F.lit(str(seed)))), 1, 8), 16, 10)
    return (h.cast("long") % n_buckets).alias("bucket")


def _bucket_counts(df: DataFrame, text_col: str, n_buckets: int,
                   seed: int) -> DataFrame:
    toks = _with_bigrams(_tokens(F.col(text_col)))
    ex = df.select(F.explode(toks).alias("tok"))
    return ex.groupBy(_bucket(F.col("tok"), n_buckets, seed)) \
        .agg(F.count("*").alias("n"))


def dsir_fit(target: DataFrame, raw: DataFrame, text_col: str = "text",
             n_buckets: int = 512, alpha: float = 1.0,
             seed: int = 0) -> DataFrame:
    """Fit the per-bucket log importance ratio table (<= n_buckets rows).

    log_ratio(b) = log (ct_b + alpha)/(T + alpha*B)
                 - log (cr_b + alpha)/(R + alpha*B)
    with T/R the corpus token totals. Buckets unseen in BOTH corpora are
    materialized too (a dense B-row table) so scoring needs no OOV
    branch."""
    spark = target.sparkSession
    tc = _bucket_counts(target, text_col, n_buckets, seed) \
        .withColumnRenamed("n", "ct")
    rc = _bucket_counts(raw, text_col, n_buckets, seed) \
        .withColumnRenamed("n", "cr")
    grid = spark.range(n_buckets).withColumnRenamed("id", "bucket")
    j = grid.join(tc, "bucket", "left").join(rc, "bucket", "left") \
        .fillna(0, ["ct", "cr"])
    tot = j.agg(F.sum("ct").alias("t"), F.sum("cr").alias("r")) \
        .collect()[0]
    t_tot, r_tot = float(tot["t"]), float(tot["r"])
    denom_t = math.log(t_tot + alpha * n_buckets)
    denom_r = math.log(r_tot + alpha * n_buckets)
    return j.select(
        "bucket",
        (F.log(F.col("ct") + alpha) - F.lit(denom_t)
         - F.log(F.col("cr") + alpha) + F.lit(denom_r))
        .alias("log_ratio"))


def dsir_score(df: DataFrame, ratios: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", n_buckets: int = 512,
               seed: int = 0) -> DataFrame:
    """Per-document log importance weight: explode hashed tokens,
    broadcast-join the B-row ratio table, one groupBy(doc) sum. Docs
    with zero tokens keep logw = 0 (left join from the corpus)."""
    toks = _with_bigrams(_tokens(F.col(text_col)))
    ex = df.select(id_col, F.explode(toks).alias("tok")) \
        .select(id_col, _bucket(F.col("tok"), n_buckets, seed))
    per_doc = ex.join(F.broadcast(ratios), "bucket") \
        .groupBy(id_col).agg(
            F.sum("log_ratio").alias("dsir_logw"),
            F.count("*").alias("dsir_n_tokens"))
    return df.select(id_col).join(per_doc, id_col, "left") \
        .fillna({"dsir_logw": 0.0, "dsir_n_tokens": 0})


def gumbel_key(logw_col, id_col, seed: int = 1) -> Column:
    """Gumbel-top-k sampling key: logw + Gumbel(0,1) noise from a
    portable md5-derived uniform on (0,1) — selecting the top-k keys
    draws k docs WITHOUT replacement with probability proportional to
    exp(logw), the Gumbel-max identity."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                          F.lit(str(seed)))), 1, 8), 16, 10).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(_HASH_SPACE + 1))
    return logw_col + (-F.log(-F.log(u)))
