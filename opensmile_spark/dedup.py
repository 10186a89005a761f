"""Deduplication suite for training-data pipelines over `documents`.

Scale design notes (the point of each variant at 100 TB):
  exact        one hash-groupBy; map-side partial agg, no pairs ever formed.
  minhash LSH  shingle -> k md5-salted minhashes -> b bands; candidate pairs
               only *within* a band bucket (the classic banding bound), so
               pair formation is output-bounded, never O(n^2). Portable
               hashing: md5 (same function in Spark and DuckDB -> oracle-able).
  simhash      64-bit sign-aggregated token hashes; near-dup = small Hamming
               distance; bucket by 16-bit blocks for candidate generation.
  ngram-jaccard exact verification on LSH candidates (pair-bounded).
  embedding    cosine near-dup over `embeddings` via exact threshold join on
               LSH-bucketed candidates (see similarity.py for ANN).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opensmile_spark.util import sql_ident

# The builders below (tokens, shingles, the n_hashes-wide minhash fold, the
# LSH band keys, the simhash bit votes) render SQL text: built as Column
# trees their nested lambda HOFs cost one py4j round trip per node — ~1 s
# per minhash+jaccard query CONSTRUCTION at bench scale, more than the
# query's own runtime — while one text is parsed once per builder call.


def _tokens(text_col: str) -> str:
    return rf"split(trim(lower({sql_ident(text_col)})), '\\s+')"


def _shingles(text_col: str, k: int) -> str:
    toks = _tokens(text_col)
    return (f"array_distinct(transform(sequence(0, greatest((size({toks})"
            f" - {k}), 0)), x -> array_join(slice({toks}, (x + 1), {k}),"
            f" ' ')))")


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", key=None) -> DataFrame:
    """Exact duplicate groups by content hash: one row per duplicated key
    with the survivor (min id) and the duplicate count. `key` defaults to
    the full text; pass e.g. F.substring(text, 1, 40) for prefix dedup."""
    key = key if key is not None else F.col(text_col)
    return (
        df.groupBy(F.md5(key).alias("content_md5"))
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k_shingle: int = 3,
                       n_hashes: int = 16) -> DataFrame:
    """Per-doc minhash signature. Each md5 digest yields FOUR independent
    32-bit hashes (8 hex chars each), so only ceil(n_hashes/4) salted md5
    calls run per shingle — hashing was the dominant cost of the dedup
    stage (md5 per shingle per hash). h_i = min over shingles of
    substr(md5((i div 4) || '|' || shingle), 8*(i mod 4)+1, 8); min over
    fixed-width lowercase hex == min over the 32-bit values, and md5/substr
    exist verbatim in DuckDB so the signature stays oracle-checkable."""
    # ZERO-shuffle signatures (r6): the per-doc min runs as ONE array fold
    # (aggregate over the shingle array with an n_hashes-wide running-min
    # accumulator), i.e. a map-only projection — the r5 explode + groupBy
    # formulation paid an exchange and (with min(string)'s immutable
    # buffer) two SortAggregate sorts of the exploded rows. The digest
    # array is referenced exactly once and the fold result is pinned
    # behind an explode(array(...)) Generate barrier, so projection
    # collapse cannot inline the shingle pipeline n_hashes times (the
    # blowup the r3 bench observed with naive array_min projections).
    # least(string) skips nulls exactly like min(); an all-null/absent
    # shingle set leaves the init sentinel ('g' > any hex digit), mapped
    # back to NULL — frame-equal to the explode+groupBy formulation
    # (verified exceptAll-empty both directions at two corpus sizes).
    from opensmile_spark.util import ensure_min_partitions

    df = ensure_min_partitions(df)   # md5 map side must not run on 1 split
    sig, unsentinel = _mh_sig_exprs(text_col, k_shingle, n_hashes)
    barrier = df.selectExpr(sql_ident(id_col), f"explode(array({sig})) AS __sig")
    return barrier.selectExpr(sql_ident(id_col), *unsentinel)


def _mh_sig_exprs(text_col: str, k_shingle: int, n_hashes: int):
    """(fold signature, sentinel-to-NULL outputs) as SQL text."""
    digests = "transform({}, x -> concat({}))".format(
        _shingles(text_col, k_shingle),
        ", ".join(f"md5(concat('{d}|', x))" for d in range((n_hashes + 3) // 4)))
    subs = ", ".join(f"substring(y, {32 * (i // 4) + 8 * (i % 4) + 1}, 8)"
                     for i in range(n_hashes))
    sig = (f"aggregate({digests}, array_repeat('gggggggg', {n_hashes}), "
           f"(x, y) -> zip_with(x, array({subs}), (x, y) -> least(x, y)))")
    unsentinel = [
        f"CASE WHEN (element_at(__sig, {i + 1}) = 'gggggggg') THEN NULL "
        f"ELSE element_at(__sig, {i + 1}) END AS mh{i}"
        for i in range(n_hashes)
    ]
    return sig, unsentinel


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k_shingle: int = 3,
                      n_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band key
    become a pair (id_a < id_b). Pair formation is per-bucket — bounded by
    bucket sizes, shuffles on the band key only.

    Physically (r6): ONE aggregation per band bucket (sorted id list) and
    an in-bucket ordered-pair explosion, instead of a bucket self-join.
    The self-join evaluated the whole signature pipeline TWICE (Spark does
    not CSE across the two sides of a join) and broadcast one copy; the
    groupBy form computes signatures once and emits the identical pair set
    (same buckets, same a < b ordering, same distinct)."""
    sig = minhash_signatures(df, id_col, text_col, k_shingle, n_hashes)
    band_keys, stack_expr, pair_arr = _lsh_band_exprs(n_hashes, bands)
    banded = sig.selectExpr(sql_ident(id_col), *band_keys)
    stacked = banded.selectExpr(sql_ident(id_col), stack_expr)
    buckets = (
        stacked.groupBy("band_no", "band_key")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    return (
        buckets.selectExpr(f"explode({pair_arr}) AS __p")
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )


def _lsh_band_exprs(n_hashes: int, bands: int):
    """(band keys, stack expr, in-bucket pair explosion) as SQL text."""
    rows_per_band = n_hashes // bands
    band_keys = [
        "md5(concat_ws('|', {}, {})) AS band{}".format(
            b, ", ".join(f"mh{b * rows_per_band + r}"
                         for r in range(rows_per_band)), b)
        for b in range(bands)
    ]
    stack_expr = "stack({n}, {args}) as (band_no, band_key)".format(
        n=bands,
        args=", ".join(f"'{b}', band{b}" for b in range(bands)),
    )
    pair_arr = ("flatten(transform(__ids, (x, y) -> transform(slice(__ids,"
                " (y + 2), size(__ids)), z -> struct(x AS id_a, z AS id_b))))")
    return band_keys, stack_expr, pair_arr


def ngram_jaccard(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", k_shingle: int = 3,
                  threshold: float = 0.0) -> DataFrame:
    """Exact Jaccard over k-shingle sets for given candidate pairs (the
    verify stage after LSH). Join is pair-bounded.

    Shingles are computed ONLY for docs that appear in a candidate pair
    (r6): a broadcast semi-join on the pair id set first — candidate docs
    are a tiny, output-bounded subset of the corpus, so the corpus-wide
    shingle projection (and its broadcast) was almost entirely thrown
    away. The candidate pair table is materialized once (eager
    localCheckpoint — it is output-bounded by construction) because it is
    read twice here (id set + verify join) and Spark would otherwise
    re-execute its whole lineage for each read."""
    from opensmile_spark.util import ensure_min_partitions

    pairs = pairs.localCheckpoint(eager=True)
    pair_ids = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
        .distinct()
    )
    # ensure_min_partitions runs on the BASE table (its partition-count
    # probe is cached on the caller's long-lived Dataset) rather than on
    # the per-call semi-join output, whose fresh probe costs a driver-side
    # physical-planning pass every invocation; the broadcast semi-join
    # preserves the repartitioned layout, so the shingle map side is
    # parallel either way
    cand = ensure_min_partitions(df).join(
        F.broadcast(pair_ids), id_col, "left_semi")
    sh = cand.selectExpr(
        sql_ident(id_col), f"{_shingles(text_col, k_shingle)} AS sh")
    # the verify join reads sh TWICE (id_a and id_b sides) and Spark does
    # not CSE across join sides — materialize the candidate-bounded
    # shingle table once (r6 second pass; same discipline as the pair
    # table above) instead of computing the shingles twice
    sh = sh.localCheckpoint(eager=True)
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("uni") > 0,
                   F.col("inter").cast("double") / F.col("uni"))
            .otherwise(0.0),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 32) -> DataFrame:
    """SimHash over tokens: bit b of the signature = sign of
    sum over distinct tokens of (+1 if bit b of md5(token) set else -1).
    Uses the first 8 hex chars of md5 (32 bits) — portable to DuckDB."""
    from opensmile_spark.util import ensure_min_partitions

    df = ensure_min_partitions(df)   # per-token hashing must not run on 1 split
    return df.selectExpr(sql_ident(id_col), _simhash_expr(text_col, bits))


def _simhash_expr(text_col: str, bits: int) -> str:
    h = (f"transform(array_distinct({_tokens(text_col)}), x -> "
         f"CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT))")
    # ONE fold over the token array producing ALL `bits` vote counters at
    # once (accumulator = int array), instead of `bits` separate aggregate
    # expressions each re-traversing the array — O(tokens * bits) work
    # either way, but a single pass over the data and one expression tree
    # instead of `bits` of them (the r3 bench's most expensive stage was
    # dominated by the 32-fold variant)
    bit_votes = ", ".join(
        f"CASE WHEN ((shiftright(y, {b}) % 2) = 1) THEN 1 ELSE -1 END"
        for b in range(bits))
    votes = (f"aggregate({h}, array_repeat(0, {bits}), (x, y) -> "
             f"zip_with(x, array({bit_votes}), (x, y) -> (x + y)))")
    weights = ", ".join(f"CAST({1 << b} AS BIGINT)" for b in range(bits))
    return (f"aggregate(zip_with({votes}, array({weights}), (x, y) -> "
            f"CASE WHEN (x > 0) THEN y ELSE CAST(0 AS BIGINT) END), "
            f"CAST(0 AS BIGINT), (x, y) -> (x + y)) AS simhash")


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", bits: int = 32,
                      max_hamming: int = 3, blocks: int = 4) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming. Candidate
    generation: split the signature into `blocks` blocks — any pair within
    Hamming d < blocks shares at least one exact block (pigeonhole), so we
    bucket-join per block, then verify exactly with bit_count(xor)."""
    sig = simhash(df, id_col, text_col, bits)
    stack_expr, pair_arr = _simhash_block_exprs(bits, blocks)
    stacked = sig.selectExpr(sql_ident(id_col), "simhash", stack_expr)
    # per-bucket member list + in-bucket ordered-pair explosion instead of
    # a block self-join (r6, the minhash_lsh_pairs treatment): the join
    # evaluated the whole simhash token-fold pipeline twice — Spark does
    # not CSE across join sides. sort_array on struct(id, simhash) orders
    # by id (ids are unique within a bucket), so pairs keep id_a < id_b;
    # identical pair set, signatures computed once.
    buckets = (
        stacked.groupBy("blk_no", "blk")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col(id_col).alias("i"), F.col("simhash").alias("s")
        ))).alias("__m"))
        .filter(F.size("__m") > 1)
    )
    cand = (
        buckets.selectExpr(f"explode({pair_arr}) AS __p")
        .select(F.col("__p.id_a"), F.col("__p.id_b"), F.col("__p.hamming"))
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def _simhash_block_exprs(bits: int, blocks: int):
    """(block stack expr, in-bucket pair explosion) as SQL text."""
    bw = bits // blocks
    mask = (1 << bw) - 1
    stack_expr = "stack({n}, {args}) as (blk_no, blk)".format(
        n=blocks,
        args=", ".join(
            f"'{b}', shiftright(simhash, {b * bw}) & {mask}"
            for b in range(blocks)),
    )
    pair_arr = ("flatten(transform(__m, (x, y) -> transform(slice(__m,"
                " (y + 2), size(__m)), z -> struct(x['i'] AS id_a, z['i'] AS"
                " id_b, bit_count((x['s'] ^ z['s'])) AS hamming))))")
    return stack_expr, pair_arr


def _exact_cosine_pairs(emb: DataFrame, pairs: DataFrame | None,
                        id_col: str, vec_col: str,
                        threshold: float) -> DataFrame:
    """Exact cosine over pairs. With `pairs` given: pair-bounded join (the
    verify stage). With pairs=None: brute all-pairs crossJoin — TEST/ORACLE
    ONLY, O(n^2); never the production path."""
    def norm(df, suffix):
        v = F.col(vec_col)
        n = F.sqrt(F.aggregate(v, F.lit(0.0),
                               lambda a, x: a + x.cast("double") * x))
        return df.select(
            F.col(id_col).alias(f"id_{suffix}"),
            v.alias(f"v_{suffix}"),
            n.alias(f"n_{suffix}"),
        )

    a = norm(emb, "a")
    b = norm(emb, "b")
    if pairs is None:
        joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    else:
        joined = pairs.join(a, "id_a").join(b, "id_b")
    dot = F.aggregate(
        F.zip_with("v_a", "v_b", lambda x, y: x.cast("double") * y),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    return (
        joined
        .withColumn("cosine", dot / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        method: str = "lsh",
                        dim: int = 64,
                        bits: int = 8,
                        tables: int = 16,
                        seed: int = 42) -> DataFrame:
    """Cosine near-dup pairs above threshold.

    method="lsh" (production): LSH-bucketed candidate generation
    (similarity.lsh_bucket_candidates — per-bucket self-join, output
    bounded, single scan of the input for all tables) + exact cosine
    verification of candidates only. Approximate in RECALL only (tunable
    via bits/tables; recall >= 0.95 on planted near-dups pinned by
    tests/test_similarity.py); every emitted pair is exactly verified.

    method="brute": exact all-pairs crossJoin — the small-side test oracle
    the gate pins the verifier against; O(n^2), never use at scale."""
    if method == "brute":
        return _exact_cosine_pairs(emb, None, id_col, vec_col, threshold)
    from opensmile_spark.similarity import lsh_bucket_candidates

    cand = lsh_bucket_candidates(emb, dim=dim, bits=bits, tables=tables,
                                 seed=seed, id_col=id_col, vec_col=vec_col)
    return _exact_cosine_pairs(emb, cand, id_col, vec_col, threshold)


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', SoCC'14): for every node u, connect each
    strictly-LARGER neighbor to the minimum of u's closed neighborhood.
    Input/output edges oriented src > dst."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = (
        sym.groupBy("src").agg(F.min("dst").alias("__mn"))
        .select("src", F.least(F.col("__mn"), F.col("src")).alias("m"))
    )
    out = (
        sym.join(m, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: for every node u (edges oriented src > dst),
    connect all of u's smaller neighbors AND u itself to the minimum
    smaller neighbor. Keeps the src > dst orientation."""
    m = edges.groupBy("src").agg(F.min("dst").alias("m"))
    moved = (
        edges.join(m, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    center = m.select(F.col("src"), F.col("m").alias("dst"))
    return (
        moved.unionByName(center)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Duplicate-cluster labels from near-dup pairs: every node gets the
    MINIMUM id reachable through the pair graph (the canonical survivor),
    so downstream dedup keeps exactly one document per component.

    Algorithm: alternating large-star/small-star (Kiveris et al., SoCC'14)
    — converges in O(log^2 n) rounds INDEPENDENT of graph diameter, unlike
    min-label propagation (O(diameter) rounds, which silently truncates on
    adversarial chains when capped). Each round is two grouped shuffles on
    node id; lineage is cut per round with localCheckpoint. On convergence
    the edge set is a forest of stars whose centers are the component
    minima, so labels read off directly. Equality with a union-find oracle
    (incl. a 400-node chain) is pinned by tests/test_similarity.py.

    Input: pairs (id_a, id_b). Output: (id, component) for every node that
    appears in any pair (singletons are their own component by definition
    and need no row)."""
    edges = (
        pairs.select(F.greatest("id_a", "id_b").alias("src"),
                     F.least("id_a", "id_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        same = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        edges = new_edges
        if same:
            break
    # star forest: non-centers point at their component min; centers are
    # every dst (a center never appears as src once converged)
    return (
        edges.select(F.col("src").alias("id"),
                     F.col("dst").alias("component"))
        .unionByName(edges.select(F.col("dst").alias("id"),
                                  F.col("dst").alias("component")))
        .distinct()
    )


def ngram_decontaminate(docs: DataFrame, benchmark: DataFrame,
                        k_shingle: int = 3, min_overlap: int = 2,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Benchmark decontamination (the GPT-3 / Pile 13-gram recipe shape):
    flag training documents sharing >= min_overlap DISTINCT k-token
    n-grams with ANY benchmark document — the standard guard against
    eval-set leakage into a training corpus.

    Spark-first shape for 100 TB: the corpus side explodes to distinct
    (doc_id, shingle) in ONE scan; the benchmark side (tiny vs the corpus
    — eval sets are MBs, corpora are TBs) collapses to a distinct shingle
    set and BROADCASTS, so flagging is a single corpus pass + broadcast
    hash join + map-side-combinable count — the corpus itself never
    shuffles. Returns (doc_id, n_contaminated) for flagged docs only;
    remove them with a left_anti join (decontaminate_survivors)."""
    sh = f"explode({_shingles(text_col, k_shingle)}) AS __sh"
    d = docs.selectExpr(sql_ident(id_col), sh)
    b = benchmark.selectExpr(sh).distinct()
    return (
        d.join(F.broadcast(b), "__sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
        .filter(F.col("n_contaminated") >= min_overlap)
    )


def decontaminate_survivors(docs: DataFrame, benchmark: DataFrame,
                            k_shingle: int = 3, min_overlap: int = 2,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """The corpus minus every benchmark-contaminated document."""
    flagged = ngram_decontaminate(
        docs, benchmark, k_shingle, min_overlap, id_col, text_col
    ).select(id_col)
    return docs.join(flagged, id_col, "left_anti")


def dedup_survivors(df: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """End-to-end near-dup removal: keep one document per connected
    component of the pair graph (the min-id survivor) plus every document
    in no pair. Anti-join on the non-survivor set — no full-table join."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")) \
        .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")
