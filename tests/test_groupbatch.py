"""group_blocks on hand-built Arrow batches: whole groups only, every row
exactly once, in order, whatever the batch edges."""

import numpy as np
import pyarrow as pa

from opensmile_spark.groupbatch import group_blocks


def _batches(keys, sizes, key2=None):
    """Split rows (key, [key2,] v=row index) into batches of `sizes`."""
    cols = {"k": pa.array(keys)}
    if key2 is not None:
        cols["k2"] = pa.array(key2)
    cols["v"] = pa.array(np.arange(len(keys), dtype=np.float64))
    rb = pa.RecordBatch.from_pydict(cols)
    out, at = [], 0
    for n in sizes:
        out.append(rb.slice(at, n))
        at += n
    assert at == len(keys)
    return out


def _groups(batches, key_cols):
    """[(key tuple, [v...])] per yielded group, plus the block count."""
    got, n_blocks = [], 0
    for block, starts, ends in group_blocks(batches, key_cols):
        n_blocks += 1
        assert starts.dtype == np.int64 and ends.dtype == np.int64
        assert starts[0] == 0 and ends[-1] == block.num_rows
        assert (starts[1:] == ends[:-1]).all() and (ends > starts).all()
        for s, e in zip(starts, ends):
            key = tuple(block.column(c)[s].as_py() for c in key_cols)
            for c in key_cols:     # one key per group
                assert block.column(c).slice(s, e - s).to_pylist() \
                    == [key[key_cols.index(c)]] * (e - s)
            got.append((key, block.column("v").slice(s, e - s).to_pylist()))
    return got, n_blocks


def _expected(keys, key2=None):
    rows = list(zip(keys, key2)) if key2 is not None else \
        [(k,) for k in keys]
    out = []
    for i, k in enumerate(rows):
        if out and out[-1][0] == k:
            out[-1][1].append(float(i))
        else:
            out.append((k, [float(i)]))
    return out


def test_group_spanning_batches_with_inner_batch():
    # group "b" spans 4 batches; batches 2 and 3 lie wholly inside it
    keys = ["a"] * 3 + ["b"] * 12 + ["c"] * 2
    got, n_blocks = _groups(_batches(keys, [5, 4, 4, 4]), ["k"])
    assert got == _expected(keys)
    assert n_blocks == 3          # "a", then "b" once complete, then "c"


def test_batch_edge_on_group_edge():
    keys = ["a"] * 4 + ["b"] * 4 + ["c"] * 4
    got, _ = _groups(_batches(keys, [4, 4, 4]), ["k"])
    assert got == _expected(keys)


def test_empty_batches_and_empty_input():
    keys = ["a"] * 3 + ["b"] * 5
    bs = _batches(keys, [0, 2, 0, 0, 4, 0, 2, 0])
    got, _ = _groups(bs, ["k"])
    assert got == _expected(keys)
    assert list(group_blocks([], ["k"])) == []
    assert list(group_blocks(_batches([], [0, 0]), ["k"])) == []


def test_single_row_batches():
    keys = ["a", "a", "b", "c", "c", "c"]
    got, _ = _groups(_batches(keys, [1] * 6), ["k"])
    assert got == _expected(keys)


def test_null_keys_group_together():
    # nulls form one group, distinct from the neighbouring values, also
    # across a batch edge that falls inside the null run
    keys = [None, None, None, "a", "a", None, None, "b"]
    got, _ = _groups(_batches(keys, [2, 3, 3]), ["k"])
    assert got == _expected(keys)
    assert [k for k, _ in got] == [(None,), ("a",), (None,), ("b",)]


def test_null_integer_keys():
    keys = [1, 1, None, None, 2]
    got, _ = _groups(_batches(keys, [3, 2]), ["k"])
    assert got == _expected(keys)


def test_two_column_keys():
    # k alone repeats across a k2 change and k2 alone repeats across a k
    # change — only the pair defines the group
    k1 = ["a", "a", "a", "a", "b", "b", "b", None, None]
    k2 = [1, 1, 2, 2, 2, 2, None, None, None]
    got, _ = _groups(_batches(k1, [3, 1, 3, 2], key2=k2), ["k", "k2"])
    assert got == _expected(k1, k2)
    assert [k for k, _ in got] == [("a", 1), ("a", 2), ("b", 2),
                                   ("b", None), (None, None)]


def test_blocks_keep_types_and_slices():
    ts = pa.array(np.array([0, 0, 5, 5, 5], dtype="datetime64[us]"),
                  type=pa.timestamp("us", tz="UTC"))
    rb = pa.RecordBatch.from_arrays(
        [pa.array(["x", "x", "y", "y", "y"]), ts], names=["k", "t"])
    blocks = list(group_blocks([rb.slice(0, 3), rb.slice(3)], ["k"]))
    assert sum(b.num_rows for b, _, _ in blocks) == 5
    for b, _, _ in blocks:
        assert b.schema == rb.schema
    assert pa.concat_arrays([b.column("t") for b, _, _ in blocks]) \
        .equals(ts)
