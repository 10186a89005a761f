"""Whole-group blocks over key-sorted Arrow batches — the one batch carry.

Every per-group kernel (functionals_kernel, backfill_functionals,
viterbi_smooth_df) reads a key-partitioned, key-sorted stream of Arrow
RecordBatches whose batch edges ignore group edges. The reference solves
the same problem with its blocksize reader discipline: readers only see
whole frames, and a frame still being written is held back until it is
complete (/root/reference/src/include/core/dataMemoryLevel.hpp:239-241).
`group_blocks` is that discipline for Arrow: it yields blocks of whole
groups and holds back the trailing group of each batch, because the group
may continue in the next one.

The held group is kept as a list of zero-copy slices and concatenated once,
when it is complete — a conversation spanning k batches costs one copy, not
k. Group boundaries come from `pyarrow.compute` on the key columns, so keys
never become Python objects, and a null key equals a null key (Spark's
grouping semantics).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _differs(a: pa.Array, b: pa.Array) -> pa.Array:
    """Elementwise a != b where null equals null and differs from a value."""
    return pc.coalesce(pc.not_equal(a, b),
                       pc.not_equal(pc.is_null(a), pc.is_null(b)))


def _concat(parts: list) -> pa.RecordBatch:
    if len(parts) == 1:
        return parts[0]
    return pa.Table.from_batches(parts).combine_chunks().to_batches()[0]


def group_blocks(batches, key_cols):
    """Yield (block, starts, ends) from key-sorted RecordBatches.

    `block` is a RecordBatch of whole groups only; group g occupies rows
    starts[g]:ends[g] (int64 numpy arrays). Rows of one key must be
    contiguous in the input stream (repartition + sort by the key, or a
    group-contiguous layout). Empty batches are skipped; an input of no
    rows yields nothing."""
    key_cols = list(key_cols)
    held: list = []     # slices of the trailing group, oldest first
    n_held = 0
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        change = np.zeros(n, dtype=bool)
        change[0] = not held
        for c in key_cols:
            col = rb.column(c)
            if n > 1:
                change[1:] |= _differs(col.slice(1), col.slice(0, n - 1)) \
                    .to_numpy(zero_copy_only=False)
            if held:
                last = held[-1].column(c)
                change[0] |= _differs(last.slice(len(last) - 1),
                                      col.slice(0, 1))[0].as_py()
        bounds = np.flatnonzero(change)
        if bounds.size == 0:            # the batch lies inside the held group
            held.append(rb)
            n_held += n
            continue
        tail = int(bounds[-1])
        if held or tail:
            starts = np.concatenate([[0] if held else [],
                                     n_held + bounds[:-1]]).astype(np.int64)
            ends = np.append(starts[1:], n_held + tail)
            parts = held + ([rb.slice(0, tail)] if tail else [])
            yield _concat(parts), starts, ends
        held, n_held = [rb.slice(tail)], n - tail
    if held:
        yield _concat(held), np.zeros(1, np.int64), \
            np.array([n_held], np.int64)
