"""Duplicate-SPAN dedup: find and cut text ranges repeated across the corpus.

Doc-level dedup (exact_dedup / minhash / simhash / semdedup) removes whole
documents; this module implements the substring-level recipe of
"Deduplicating Training Data Makes Language Models Better" (Lee et al.,
ACL 2022, ExactSubstr): any token span that occurs more than once in the
ENTIRE corpus is a duplicated span, and training quality improves when the
repeated occurrences are cut out of the text rather than the documents
dropped. Lee et al. build a corpus-wide suffix array; the Spark-first
equivalent below reaches the same fixed-k guarantee with three shuffles,
all linear in corpus size:

  1. k-gram posting: one narrow pass explodes each doc into (pos, k-gram)
     — grams keyed by xxhash64 so the shuffle moves 8-byte keys, never
     gram strings.
  2. duplicated grams: groupBy(key).count() with map-side partial agg
     (the classic shingle-count job), filter count >= min_count; then one
     hash join back to the postings. Output is only the positions whose
     gram is duplicated — bounded by the corpus' actual duplication, and
     a super-common gram costs one posting row per occurrence (linear),
     never a pairwise blow-up.
  3. per-doc interval merge: overlapping [pos, pos+k) hits collapse to
     maximal spans with a running-max window + cumulative-sum grouping —
     pure JVM window functions partitioned by doc_id (bounded by doc
     length, the same per-conv skew story the rest of the engine handles
     with overlap_salt if a single doc is pathological).

Semantics vs Lee et al.: a suffix array finds duplicated substrings of
ANY length >= L; the k-gram formulation finds exactly the spans every one
of whose length-k windows is duplicated — identical output when the
duplicated regions are verbatim repeats of length >= k (the training-data
case: boilerplate, licenses, templated pages), and the merge step
reconstructs the maximal repeated region from its overlapping k-windows.
Matching runs on the whitespace-normalized lowercase token stream, the
same normalization as the rest of the dedup suite (dedup.py:_tokens), and
`clean_text` is re-assembled from that stream.

Reference parity note: the reference engine (openSMILE) has no corpus
dedup at all — this is part of the training-data-pipeline layer the
SURVEY adds on top (SURVEY.md §2, LLM-data-pipeline ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opensmile_spark.dedup import _tokens


def _pos_grams(df: DataFrame, id_col: str, text_col: str, k: int
               ) -> DataFrame:
    """(id, pos, gram_key) for every token position 0 <= pos <= n-k.

    gram_key = xxhash64 of the space-joined k-gram: the corpus-wide
    grouping key is 8 bytes, so the count shuffle never moves text. (At
    sf test scale collisions are absent; at 10^12 tokens a collision
    merges two gram groups and can only OVER-mark a span as duplicated —
    the conservative direction for training-data cleaning.)
    """
    toks = F.expr(_tokens(text_col))
    n = F.size(toks)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, k), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return df.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram_key")
    )


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 16,
                     min_count: int = 2) -> DataFrame:
    """Maximal duplicated token spans per document.

    A position `pos` is HIT when its k-gram occurs >= min_count times in
    the whole corpus (within-doc repeats count, matching ExactSubstr's
    "more than once in the corpus"). Overlapping hit windows
    [pos, pos+k) merge into maximal spans.

    Returns (id_col, span_start, span_end): token indices into the
    normalized token stream, 0-based, end-exclusive, disjoint per doc.
    """
    grams = _pos_grams(df, id_col, text_col, k)
    dup = (grams.groupBy("gram_key").count()
           .filter(F.col("count") >= min_count).drop("count"))
    hits = grams.join(dup, "gram_key").drop("gram_key")

    w_prev = (Window.partitionBy(id_col).orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy(id_col).orderBy("pos")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    prev_end = F.max(F.col("pos") + k).over(w_prev)
    brk = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1) \
        .otherwise(0)
    return (
        hits.withColumn("__grp", F.sum(brk).over(w_run))
        .groupBy(id_col, "__grp")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + k).alias("span_end"))
        .drop("__grp")
    )


def span_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", k: int = 16,
               min_count: int = 2) -> DataFrame:
    """Cut every corpus-duplicated span out of every document.

    Output per input row:
      n_tokens     tokens in the normalized stream
      n_dup_spans  maximal duplicated spans found
      dup_tokens   tokens covered by those spans
      dup_ratio    dup_tokens / n_tokens (0.0 for empty docs)
      clean_text   the normalized token stream with duplicated spans
                   removed (space-joined; '' if everything was duplicated)

    The spans table is tiny next to the corpus, so the final join back is
    on the doc key; docs without spans pass through with dup_tokens=0.
    The filter over tokens is a JVM lambda (F.filter with index) — no
    Python in the path.
    """
    spans = duplicated_spans(df, id_col, text_col, k, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans"))

    toks = F.expr(_tokens(text_col))
    out = df.join(per_doc, id_col, "left")
    no_spans = F.col("__spans").isNull()
    covered = lambda i: F.exists(
        F.col("__spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]))
    clean = F.when(no_spans, toks).otherwise(
        F.filter(toks, lambda t, i: ~covered(i)))
    n_tok = F.size(toks)
    dup_tok = F.when(no_spans, F.lit(0)).otherwise(
        F.aggregate(F.col("__spans"), F.lit(0),
                    lambda acc, s: acc + s["span_end"] - s["span_start"]))
    return (
        out.withColumn("n_tokens", n_tok)
        .withColumn("n_dup_spans",
                    F.when(no_spans, F.lit(0))
                    .otherwise(F.size(F.col("__spans"))).cast("int"))
        .withColumn("dup_tokens", dup_tok.cast("int"))
        .withColumn(
            "dup_ratio",
            F.when(n_tok > 0, dup_tok.cast("double") / n_tok)
            .otherwise(F.lit(0.0)))
        .withColumn("clean_text", F.array_join(clean, " "))
        .drop("__spans")
    )
