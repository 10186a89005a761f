"""Point-in-time as-of merge + backfill — the causal ring-buffer read, as a join.

The reference's buffer protocol IS its temporal-leakage guarantee: a reader
can never observe frames beyond the write cursor (`curW`), and relative reads
are "latest frame with vIdx <= now" (/root/reference/src/include/core/
dataMemoryLevel.hpp:296-311, dataReader.hpp:87-88 getFrameRel). Cross-rate
reads (e.g. pitchJitter reading wave + F0 levels at different periods,
GeMAPSv01b_core.lld.conf.inc:174-179) resolve time via secToVidx
(dataMemory.hpp:132-133) — exactly an as-of lookup.

Spark-first implementation — union + last-non-null over an ordered window:
one shuffle+sort on (key, time), linear work, no O(anchor x rows) blowup,
AQE-skew friendly. For each anchor row, every right column is filled with the
latest right value at ts <= anchor_ts (ties: the right row wins, i.e. a turn
AT the anchor timestamp is visible — mirroring "frame written at t is
readable at t").

`backfill_functionals` materializes whole functional vectors at every
(conv_id, anchor_ts) grid point: for A anchors over N turns it does one
sort plus prefix scans — not A separate window jobs. Physically it is ONE
union-tag shuffle + mapInArrow over blocks of whole conversations
(groupbatch.group_blocks, shared with functionals_kernel), and each block
is evaluated by one kernel call per value column: Python dispatch is paid
per Arrow block, never per conversation, which at high conversation
cardinality would dominate the numpy work by an order of magnitude.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opensmile_spark.functionals.batched import (
    EXPANDING_FAMILIES, compute_expanding, compute_groups, output_keys,
)


def asof_join(
    anchors: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    anchor_ts: str = "anchor_ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    strict: bool = False,
    right_order_col: str | None = None,
) -> DataFrame:
    """For each anchor row: latest `right` row with right_ts <= anchor_ts
    (right_ts < anchor_ts when strict=True). Null columns when no prior row
    exists (the DMEM_PAD_ZERO analogue is a caller-side fillna; padding
    policies per dataMemoryLevel.hpp:26-28). A null timestamp on either
    side matches nothing: null-ts right rows are dropped, so a null
    anchor_ts, which sorts first, has no prior row.

    `right_order_col` breaks ties between right rows sharing a timestamp:
    the row with the HIGHEST value wins (deterministic across repartitioning
    / cluster runs). Defaults to `turn_idx` when the right side has one;
    without any order column equal-ts winners are partition-order dependent.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    if right_order_col is None and "turn_idx" in right.columns:
        right_order_col = "turn_idx"
    a = anchors.select(
        F.col(on),
        F.col(anchor_ts).alias("__t"),
        F.lit(1).alias("__is_anchor"),
        F.lit(None).cast("long").alias("__ord"),
        *[F.col(c) for c in anchors.columns if c not in (on, anchor_ts)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    r = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_anchor"),
        (F.col(right_order_col).cast("long") if right_order_col is not None
         else F.lit(0).cast("long")).alias("__ord"),
        *[F.lit(None).cast(anchors.schema[c].dataType).alias(c)
          for c in anchors.columns if c not in (on, anchor_ts)],
        *[F.col(c) for c in value_cols],
    )
    # non-strict: right rows sort before anchors at equal __t => ties visible;
    # strict: anchors sort first => equal-time right rows NOT visible.
    # __ord orders equal-ts right rows so F.last picks a DEFINED winner
    # (anchors carry null __ord; their relative order is irrelevant since
    # anchor rows are transparent to last(ignorenulls) reads).
    tie_order = F.col("__is_anchor").desc() if strict else F.col("__is_anchor").asc()
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), tie_order, F.col("__ord").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = a.unionByName(r)
    for c in value_cols:
        merged = merged.withColumn(c, F.last(c, ignorenulls=True).over(w))
    out = merged.filter(F.col("__is_anchor") == 1).drop("__is_anchor", "__ord")
    return out.withColumnRenamed("__t", anchor_ts)


def backfill_functionals(
    lld: DataFrame,
    anchors: DataFrame,
    value_cols: list[str],
    families: list[str] | None = None,
    options: dict | None = None,
    window_seconds: float | None = None,
    on: str = "conv_id",
    anchor_ts: str = "anchor_ts",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Functional vectors at every (conv_id, anchor_ts): each anchor sees
    only turns with ts <= anchor_ts (zero temporal leakage, enforced in one
    place), optionally bounded to a trailing window of `window_seconds`.

    A null timestamp on either side matches nothing: null-ts turns are
    never visible, and an anchor with a null anchor_ts sees no turn.

    Physical strategy: union-tag the turn and anchor tables (side 0 / 1),
    ONE repartition by conv + in-partition sort, then a single mapInArrow
    pass over blocks of whole conversations (groupbatch.group_blocks holds
    back a conversation that straddles an Arrow batch edge). Each block is
    evaluated at once: one vectorized pass finds every anchor's visible
    turn range, one batched.compute_expanding call per value column covers
    every conversation of the block, and the per-anchor windows of the
    gathered families are concatenated into ONE array evaluated for ALL
    anchors by batched.compute_groups — no per-conversation or per-anchor
    Python dispatch, under any family option. Every conversation's
    outputs are bit-identical whatever else shares its block. The key and
    anchor_ts columns keep their input types. The gather is chunked so the
    gathered array stays bounded (`max_gather_elems`) regardless of
    anchor density. Empty windows emit null features (anchor row is kept
    so the grid is complete — the PAD_ZERO/PAD_NONE choice is the
    caller's fillna/dropna).

    Cost model per family on an UNBOUNDED (expanding) grid with N turns and
    A anchors per conversation: means/extremes/moments/percentiles
    (batched.EXPANDING_FAMILIES) are O(N + A*B) via the prefix,
    blocked-Chan, and offline order-statistic paths
    (batched.compute_expanding, which takes every option of these four
    families) — linear in the conversation. Every other family, regression
    included, takes the memory-bounded gather, which is O(sum of window
    sizes): regression's |residual| sums apply each window's own fit to
    every element of that window. With window_seconds set, every family
    gathers, but the window bound caps the work. A key both paths emit
    (amean) is taken from compute_expanding.
    """
    import numpy as np
    import pyarrow as pa

    from opensmile_spark.groupbatch import group_blocks

    families = families or ["means", "moments", "extremes", "percentiles",
                            "regression"]
    options = options or {}
    max_gather_elems = 16_000_000  # ~128 MB of float64 gather per block

    feat_names = [f"{c}_{k}" for c in value_cols
                  for k in output_keys(families, options)]
    exp_fams = [f for f in families
                if window_seconds is None and f in EXPANDING_FAMILIES]
    gather_fams = [f for f in families if f not in exp_fams]

    def _emit(rb, starts, ends):
        """One block of whole conversations (groupbatch.group_blocks) ->
        one output RecordBatch, evaluated for every anchor of the block at
        once. Rows are sorted by (__k, __side, __t, __ord): per conv,
        side-0 turn rows sorted by (ts, order), then side-1 anchor rows
        sorted by anchor_ts. Output rows are the anchor rows, in input
        order."""
        side = rb.column("__side").to_numpy(zero_copy_only=False)
        anchor_rows = np.flatnonzero(side == 1)
        if not anchor_rows.size:
            return None   # convs with turns but no anchors: no output rows
        turn_rows = np.flatnonzero(side == 0)
        conv = np.repeat(np.arange(starts.size, dtype=np.int64),
                         ends - starts)
        t_col = rb.column("__t")
        t_np = t_col.to_numpy(zero_copy_only=False)
        # turns of conv g are turn_rows[offs[g]:offs[g+1]], sorted by ts
        offs = np.zeros(starts.size + 1, dtype=np.int64)
        np.cumsum(np.bincount(conv[turn_rows], minlength=starts.size),
                  out=offs[1:])
        turn_t, anchor_t = t_np[turn_rows], t_np[anchor_rows]
        ca = conv[anchor_rows]
        # visible turns per anchor, for every anchor in one pass: rank the
        # times against the block's distinct turn times, so (conv, rank)
        # is one int64 key that is sorted over the turn rows
        uniq = np.unique(turn_t)
        stride = uniq.size + 1
        turn_key = conv[turn_rows] * stride + np.searchsorted(uniq, turn_t)

        def n_before(bound, how):
            """turns of each anchor's conv with ts <= bound (how="right")
            or ts < bound (how="left")."""
            key = ca * stride + np.searchsorted(uniq, bound, side=how)
            return np.searchsorted(turn_key, key) - offs[ca]

        hi = n_before(anchor_t, "right")
        if window_seconds is not None:
            lo = n_before(anchor_t - np.timedelta64(
                int(window_seconds * 1e6), "us"), "left")
        else:
            lo = np.zeros_like(hi)
        # a null anchor_ts sees nothing (null turns never reach the kernel)
        null_anchor = t_col.is_null().to_numpy(
            zero_copy_only=False)[anchor_rows]
        hi[null_anchor] = 0
        lo[null_anchor] = 0

        A = anchor_rows.size
        out_cols = {f: np.full(A, np.nan) for f in feat_names}
        sizes = hi - lo
        nonempty = np.flatnonzero(sizes > 0)
        turn_vals = {c: rb.column(c).to_numpy(zero_copy_only=False)
                     .astype(np.float64, copy=False)[turn_rows]
                     for c in value_cols}

        # every window of the block in one gather, chunked so the gathered
        # array stays within the memory cap
        first = offs[ca] + lo
        blk_start = 0
        csum = np.cumsum(sizes[nonempty])
        while gather_fams and blk_start < nonempty.size:
            base = csum[blk_start - 1] if blk_start > 0 else 0
            blk_end = int(np.searchsorted(
                csum, base + max_gather_elems, side="right"))
            blk_end = max(blk_end, blk_start + 1)
            sel = nonempty[blk_start:blk_end]
            bsizes = sizes[sel]
            bstarts = np.zeros(sel.size, dtype=np.int64)
            bstarts[1:] = np.cumsum(bsizes)[:-1]
            bends = bstarts + bsizes
            # gather index: element j of window i reads first[i] + (j - bstarts[i])
            gather = (np.arange(int(bsizes.sum()), dtype=np.int64)
                      + np.repeat(first[sel] - bstarts, bsizes))
            for c in value_cols:
                got = compute_groups(turn_vals[c][gather], bstarts, bends,
                                     gather_fams, options)
                for k, v in got.items():
                    out_cols[f"{c}_{k}"][sel] = v
            blk_start = blk_end

        # prefix-scan families: one compute_expanding call per value column
        # over every conversation of the block, no gather. It runs after
        # the gather, so a key both paths emit (amean) is its own.
        if exp_fams and nonempty.size:
            cuts = np.searchsorted(ca[nonempty],
                                   np.arange(1, starts.size))
            his = np.split(hi[nonempty], cuts)
            for c in value_cols:
                ex = compute_expanding(np.split(turn_vals[c], offs[1:-1]),
                                       his, exp_fams, options)
                for k, v in ex.items():
                    out_cols[f"{c}_{k}"][nonempty] = v

        arrays = [rb.column("__k").take(anchor_rows),
                  t_col.take(anchor_rows),
                  pa.array(sizes, type=pa.int64())]
        # from_pandas=True: NaN (empty window) -> null
        arrays += [pa.array(out_cols[f], type=pa.float64(), from_pandas=True)
                   for f in feat_names]
        return pa.RecordBatch.from_arrays(
            arrays, names=[on, anchor_ts, "n_visible"] + feat_names)

    def run(batches):
        for rb, starts, ends in group_blocks(batches, ["__k"]):
            out = _emit(rb, starts, ends)
            if out is not None:
                yield out

    # a null ts matches nothing: null-ts turns are never visible
    left = lld.filter(F.col(ts_col).isNotNull()).select(
        F.col(on).alias("__k"),
        F.lit(0).alias("__side"),
        F.col(ts_col).alias("__t"),
        F.col(order_col).cast("long").alias("__ord"),
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    )
    right = anchors.select(
        F.col(on).alias("__k"),
        F.lit(1).alias("__side"),
        F.col(anchor_ts).alias("__t"),
        F.lit(0).cast("long").alias("__ord"),
        *[F.lit(None).cast("double").alias(c) for c in value_cols],
    )
    merged = (
        left.unionByName(right)
        .repartition(F.col("__k"))
        .sortWithinPartitions("__k", "__side", "__t", "__ord")
    )
    # key and anchor_ts keep their input types: the output arrays are
    # taken from the __k/__t input columns
    schema = (
        f"`{on}` {merged.schema['__k'].dataType.simpleString()}, "
        f"`{anchor_ts}` {merged.schema['__t'].dataType.simpleString()}, "
        "n_visible long, " + ", ".join(f"`{n}` double" for n in feat_names)
    )
    return merged.mapInArrow(run, schema=schema)


def conv_watermark(lld: DataFrame, on: str = "conv_id",
                   ts_col: str = "ts") -> DataFrame:
    """Per-conversation watermark table (on, max_ts, n_rows) that
    incremental_backfill compares the next run's input against: the count
    catches late or corrected rows whose ts does not advance the max."""
    return lld.groupBy(on).agg(F.max(ts_col).alias("max_ts"),
                               F.count(F.lit(1)).alias("n_rows"))


def incremental_backfill(
    prev_features: DataFrame,
    prev_max_ts: DataFrame,
    lld: DataFrame,
    anchors: DataFrame,
    value_cols: list[str],
    families: list[str] | None = None,
    options: dict | None = None,
    window_seconds: float | None = None,
    on: str = "conv_id",
    anchor_ts: str = "anchor_ts",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
) -> tuple[DataFrame, DataFrame]:
    """Feature-store incremental refresh: recompute point-in-time vectors
    ONLY for conversations that received new turns since the last run,
    carry every other conversation's rows forward untouched.

    `prev_features` / `prev_max_ts` are the previous run's output and its
    per-conv watermark table (conv_id, max_ts, n_rows) — both written by
    the last call. A conv is STALE iff its current (max(ts), count(*))
    pair differs from the recorded watermark (new convs count as stale):
    the count catches late-arriving turns with ts <= the recorded max and
    corrected/deleted rows, which a max-only watermark would silently
    classify fresh. (A same-count in-place VALUE edit at an existing ts is
    still invisible — watermarks are O(1) per conv by design; full
    content-addressed staleness needs a row-hash aggregate, at which point
    run the full recompute.) A legacy (conv_id, max_ts)-only watermark
    table is accepted and degrades to max-equality staleness.
    Cost per refresh is proportional
    to the CHANGED conversations, not the corpus: the stale-conv set is a
    tiny aggregate join (broadcast-able), the recompute runs the normal
    `backfill_functionals` over only those convs' rows and anchors, and
    the carry-forward is an anti-join on the same small set. With daily
    appends touching f% of conversations the refresh does f% of the full
    backfill's work — the difference between re-deriving a 10^12-turn
    feature table nightly and touching only what moved.

    Anchors must be re-supplied for stale convs (typically one per new
    turn plus any standing grid). Returns (features, max_ts) — write both;
    they are next run's `prev_*`. Correctness contract: equals the full
    recompute bit-for-bit (pinned in tests/test_asof.py), because features
    at (conv, anchor) depend only on that conv's rows — conversations are
    independent, so an untouched conv's rows cannot change.
    """
    cur_max = conv_watermark(lld, on, ts_col)
    prev = prev_max_ts.withColumnRenamed("max_ts", "__prev_max")
    changed = (F.col("__prev_max").isNull()
               | (F.col("max_ts") != F.col("__prev_max")))
    if "n_rows" in prev_max_ts.columns:
        prev = prev.withColumnRenamed("n_rows", "__prev_n")
        changed = changed | (F.col("n_rows") != F.col("__prev_n"))
    stale = F.broadcast(cur_max.join(prev, on, "left").filter(changed)
                        .select(on))
    fresh_feats = backfill_functionals(
        lld.join(stale, on, "left_semi"), anchors.join(stale, on, "left_semi"),
        value_cols, families, options, window_seconds,
        on, anchor_ts, ts_col, order_col,
    )
    carried = prev_features.join(stale, on, "left_anti")
    features = carried.unionByName(fresh_feats)
    return features, cur_max
