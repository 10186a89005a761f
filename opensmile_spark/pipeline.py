"""End-to-end training-corpus pipeline — the composition story.

Each stage is a proven standalone operator; composed, the corpus is
scanned once and its FULL ROWS are shuffled exactly TWICE regardless of
scale (the content-hash dedup window and the shard exchange); the other
exchanges in the plan carry only derived small streams — the benchmark
shingle set and map-side-combined per-doc contamination counts:

  quality filter         map-only column exprs (text.quality_score;
                         whole-stage codegen, pushes past pruning)
  exact dedup            ONE shuffle on the content hash (row_number per
                         md5(key); min-id survivor)
  decontamination        broadcast semi-join against the benchmark
                         shingle set (dedup.decontaminate_survivors —
                         the corpus side never shuffles)
  stratified sampling    map-only hash-threshold filter
                         (sampling.stratified_sample)
  deterministic shuffle  ONE shuffle on the shard key
                         (packing.deterministic_shuffle)

The output (doc_id, shard, shuffle_pos, ...) is what a training reader
consumes; feed it to packing.pack_concat / chunk_documents per shard for
sequence assembly. Every keep/drop decision derives from md5 hashes of
stable keys, so the whole pipeline replays bit-identically across reruns
and engines — the property that makes a 100 TB corpus build auditable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def corpus_pipeline(docs: DataFrame, benchmark: DataFrame, *,
                    min_quality: float = 0.0,
                    dedup_key: Column | None = None,
                    k_shingle: int = 3, min_overlap: int = 2,
                    rates: dict[str, float] | None = None,
                    strata_col: str = "source", default_rate: float = 1.0,
                    sample_seed: int = 0, shuffle_seed: int = 1,
                    n_shards: int = 1024,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Quality-filter, dedup, decontaminate, sample, and shuffle `docs`
    into a training-ready corpus. Returns the surviving rows with
    `quality`, `shard`, and `shuffle_pos` columns added.

    `dedup_key` defaults to the full text (verbatim dedup); pass e.g.
    ``F.substring(F.col("text"), 1, 40)`` for prefix dedup. `rates` maps
    stratum value -> keep rate (absent strata fall back to
    `default_rate`)."""
    from .dedup import decontaminate_survivors
    from .packing import deterministic_shuffle
    from .sampling import stratified_sample
    from .text import quality_score

    q = (quality_score(docs, text_col)
         .filter(F.col("quality") >= min_quality)
         .drop("punct_ratio", "stopword_ratio", "mean_token_len"))

    key = dedup_key if dedup_key is not None else F.col(text_col)
    w = Window.partitionBy(F.md5(key)).orderBy(id_col)
    q = (q.withColumn("__rn", F.row_number().over(w))
         .filter(F.col("__rn") == 1).drop("__rn"))

    q = decontaminate_survivors(q, benchmark, k_shingle, min_overlap,
                                id_col, text_col)
    if rates is not None:
        q = stratified_sample(q, strata_col, rates, key_col=id_col,
                              seed=sample_seed, default_rate=default_rate)
    # distinct seeds: reusing the sampling hash for the shuffle would
    # correlate shard position with the keep threshold (low-h skew)
    return deterministic_shuffle(q, n_shards=n_shards, key_col=id_col,
                                 seed=shuffle_seed)
