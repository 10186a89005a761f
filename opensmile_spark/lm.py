"""Statistical language-model scoring and lexical retrieval over the
`documents` table.

Two classic training-data-pipeline components the quality/dedup stack
doesn't cover yet:

  charlm_fit / charlm_perplexity
      CCNet-style perplexity filtering (Wenzek et al., LREC 2020 uses a
      KenLM 5-gram; here a character-bigram model with additive
      smoothing — the same shape at tractable vocabulary). Fit is ONE
      shuffle whose output is at most |charset|^2 rows (a model small
      enough to broadcast no matter the corpus size); scoring is one
      broadcast-join plan (oracle-portable, no Python worker).

  bm25_index / bm25_search
      Okapi BM25 (Robertson/Sparck Jones; the Lucene idf variant)
      retrieval of top-k documents per query — the lexical complement
      of similarity.py's embedding ANN. The postings list shuffles once
      on term; the query side broadcasts (query batches are small by
      contract, like cosine_topk); candidate work is bounded by the
      posting lengths of the query's terms, never N_docs x N_queries.

Reference anchor: openSMILE has no text retrieval, but the fit/score
two-phase mirrors its train/apply split in cVectorMVN
(/root/reference/src/dspcore/vectorMVN.cpp) — model estimated in one
full pass, applied in a second — and BM25's tf saturation curve is the
same "bounded contribution per feature" idea as ratioLimit clamps in
functionalMoments.cpp.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "CharLM", "charlm_fit", "charlm_perplexity",
    "bm25_index", "bm25_search",
]

# ---------------------------------------------------------------------------
# CCNet-style char-bigram LM perplexity
# ---------------------------------------------------------------------------


@dataclass
class CharLM:
    """Fitted character-bigram model.

    bigrams:  DataFrame (bg string, c long)        -- corpus bigram counts
    prefixes: DataFrame (p string, pc long)        -- counts per first char
    vocab:    int   -- number of distinct continuation characters
    alpha:    float -- additive-smoothing mass
    """

    bigrams: DataFrame
    prefixes: DataFrame
    vocab: int
    alpha: float


def _bigram_col(text_col: str):
    """Array of character bigrams of lower(text) (interior positions only;
    no BOS/EOS markers — keeps both engines' SQL identical)."""
    s = F.lower(F.col(text_col))
    return F.when(
        F.length(s) >= 2,
        F.transform(F.sequence(F.lit(1), F.length(s) - 1),
                    lambda i: s.substr(i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))


def charlm_fit(df: DataFrame, text_col: str = "text",
               alpha: float = 0.1) -> CharLM:
    """Estimate p(cur|prev) over characters with additive smoothing:

        p(cur|prev) = (c(prev,cur) + alpha) / (c(prev,*) + alpha * V)

    V = number of distinct continuation characters. ONE explode +
    groupBy(bigram) shuffle with map-side partial aggregation; the
    result is <= |charset|^2 rows regardless of corpus size, so the
    fitted model always broadcasts."""
    bg = (df.select(F.explode(_bigram_col(text_col)).alias("bg"))
            .groupBy("bg").agg(F.count(F.lit(1)).alias("c")))
    bg = bg.persist()
    pre = (bg.groupBy(F.substring("bg", 1, 1).alias("p"))
             .agg(F.sum("c").alias("pc")))
    vocab = bg.select(F.substring("bg", 2, 1).alias("s")).distinct().count()
    return CharLM(bigrams=bg, prefixes=pre, vocab=vocab, alpha=alpha)


def charlm_perplexity(df: DataFrame, model: CharLM,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-document bigram perplexity 2^(mean -log2 p(cur|prev)).

    Explode bigrams, LEFT broadcast-join the bigram-count and
    prefix-count model tables, aggregate per doc — one shuffle on
    id_col, joins never shuffle (model side is broadcast by
    construction).

    Unseen bigram with a seen prefix scores alpha/(pc + alpha*V); an
    unseen prefix scores 1/V. Docs with < 2 characters get ppl NULL
    (no bigrams to score)."""
    av = float(model.alpha * model.vocab)
    alpha = float(model.alpha)
    exploded = df.select(id_col, F.explode(_bigram_col(text_col)).alias("bg"))
    scored = (
        exploded
        .join(F.broadcast(model.bigrams), "bg", "left")
        .join(F.broadcast(model.prefixes),
              F.substring("bg", 1, 1) == F.col("p"), "left")
        .withColumn(
            "logp",
            F.when(
                F.col("pc").isNotNull(),
                F.log2((F.coalesce(F.col("c"), F.lit(0)) + F.lit(alpha))
                       / (F.col("pc") + F.lit(av))),
            ).otherwise(F.log2(F.lit(1.0) / model.vocab)))
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.avg("logp")).alias("nll"))
    return (df.select(id_col).join(agg, id_col, "left")
              .select(id_col,
                      F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                      F.pow(F.lit(2.0), F.col("nll")).alias("ppl")))


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

_WORD_RE = r"[a-z0-9]+"


def _terms_col(text_col: str):
    return F.expr(
        f"regexp_extract_all(lower({text_col}), '{_WORD_RE}', 0)")


def bm25_index(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               max_df_ratio: float = 1.0) -> dict:
    """Build the BM25 postings index.

    postings: (term, doc_id, tf)  -- one shuffle on (doc_id, term) for
              tf, reused by the df count (map-side partial aggs).
    stats:    (term, df)          -- document frequency per term.
    n_docs / avgdl: scalars.

    max_df_ratio < 1 drops terms appearing in more than that fraction
    of documents (stopword skew guard: at corpus scale the posting list
    of 'the' is the one pathological shuffle key; dropping df-saturated
    terms bounds every posting list and barely moves scores, since
    their idf is ~0 anyway).

    The document length dl rides along inside the postings rows
    (denormalized at build time) so search needs NO corpus-side join —
    at 100 TB a separate doc->dl join would re-shuffle every candidate
    row; here it is one extra long column on a table we shuffle once
    anyway."""
    toks = (df.select(id_col, _terms_col(text_col).alias("__terms"))
              .select(id_col,
                      F.size("__terms").cast("double").alias("dl"),
                      F.explode("__terms").alias("term")))
    postings = (toks.groupBy(id_col, "term")
                    .agg(F.count(F.lit(1)).alias("tf"),
                         F.first("dl").alias("dl")))
    postings = postings.persist()
    stats = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_t"))
    n_docs = df.count()
    avgdl = (df.select(F.avg(F.size(_terms_col(text_col))
                             .cast("double")).alias("a")).first()["a"]) or 0.0
    if max_df_ratio < 1.0:
        keep = stats.filter(F.col("df_t") <= max_df_ratio * n_docs)
        postings = postings.join(F.broadcast(keep.select("term")), "term")
        stats = keep
    return {"postings": postings, "stats": stats,
            "n_docs": n_docs, "avgdl": float(avgdl)}


def bm25_search(index: dict, queries: DataFrame, k: int = 10,
                text_col: str = "text", qid_col: str = "query_id",
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-k documents per query by BM25 (Lucene idf variant):

        idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
        s(t) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    The query side (qid, term) is broadcast — query batches are small
    by contract, same as cosine_topk — so the postings table never
    re-shuffles: candidates stream out of the one persisted postings
    layout, bounded by the posting lengths of the query's terms. Final
    top-k is a per-query window over the bounded candidate set. Scores
    are rounded to 6 decimals BEFORE ranking (ties then break on
    doc_id) so rank order is reproducible across engines."""
    n, avgdl = index["n_docs"], index["avgdl"]
    qterms = (queries
              .select(qid_col, F.explode(_terms_col(text_col)).alias("term"))
              .distinct())
    # stats has one row per vocabulary term — far too big to broadcast at
    # corpus scale. Restrict it to the query's terms FIRST (broadcast the
    # tiny qterms into that join); the result is bounded by |query terms|
    # and is what gets broadcast against the postings.
    qstats = index["stats"].join(F.broadcast(qterms), "term")
    cand = index["postings"].join(F.broadcast(qstats), "term")
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5))
    tfs = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    scored = (cand.withColumn("s", idf * tfs)
                  .groupBy(qid_col, "doc_id")
                  .agg(F.round(F.sum("s"), 6).alias("score")))
    from pyspark.sql import Window
    w = (Window.partitionBy(qid_col)
               .orderBy(F.desc("score"), F.asc("doc_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))
