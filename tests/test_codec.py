"""A8 codec properties (SURVEY.md §5: hypothesis round-trips + bound checks)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from localsearchengine_spark.operators import codec


def _decode(blocks):
    """encode_blocks output → (doc_ids, tfs, dls) through the Arrow decoder
    of the distributed read paths and compaction, with the blocks as one
    posting-list row."""
    import pyarrow as pa

    dec = codec.decode_block_lists(pa.array([[blk._asdict() for blk in blocks]]))
    if dec is None:
        return (np.empty(0, dtype=np.int64),) * 3
    row_off, d, t, L, _ = dec
    assert row_off.tolist() == [0, len(d)]
    return d, t, L


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.uint64)
    assert np.array_equal(codec.decode_varints(codec.encode_varints(arr), len(arr)), arr)


@given(
    st.lists(st.integers(min_value=1, max_value=10**7), min_size=1, max_size=500),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(deltas, block_size):
    doc_ids = np.cumsum(np.asarray(deltas, dtype=np.int64))  # strictly increasing
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 50, size=len(doc_ids)).astype(np.int64)
    dls = rng.integers(1, 200, size=len(doc_ids)).astype(np.int64)
    blocks = codec.encode_blocks(
        doc_ids, tfs, dls, block_size=block_size, k1=1.2, b=0.75, avgdl=50.0
    )
    d, t, L = _decode(blocks)
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(L, dls)
    # block metadata invariants: max_doc_id exact, tf_norm_max is an upper bound
    pos = 0
    for blk in blocks:
        seg = slice(pos, pos + blk.n)
        assert blk.max_doc_id == int(doc_ids[seg][-1])
        tfn = tfs[seg] / (tfs[seg] + 1.2 * (1 - 0.75 + 0.75 * dls[seg] / 50.0))
        assert blk.tf_norm_max >= tfn.max() - 1e-15
        pos += blk.n
    assert pos == len(doc_ids)


def test_empty():
    assert codec.encode_varints(np.empty(0, dtype=np.uint64)) == b""
    assert len(codec.decode_varints(b"", 0)) == 0
    assert codec.encode_blocks(
        np.empty(0), np.empty(0), np.empty(0), block_size=128, k1=1.2, b=0.75, avgdl=10
    ) == []
    d, t, L = _decode([])
    assert len(d) == 0 and len(t) == 0 and len(L) == 0


def test_big_doc_ids():
    # 10^12-turn design scale: doc_ids near 2^40+ must round-trip
    doc_ids = np.asarray([10**12, 10**12 + 1, 10**12 + 10**9], dtype=np.int64)
    tfs = np.asarray([1, 2, 3], dtype=np.int64)
    dls = np.asarray([10, 20, 30], dtype=np.int64)
    blocks = codec.encode_blocks(doc_ids, tfs, dls, block_size=2, k1=1.2, b=0.75, avgdl=20.0)
    d, t, L = _decode(blocks)
    assert np.array_equal(d, doc_ids)


def test_docids_from_deltas_overflow_fallback():
    """A running global cumsum of concatenated absolute-first blocks can
    exceed 2^63 (many blocks x huge doc_ids); the decoder must fall back to
    per-block cumsums instead of silently wrapping."""
    import numpy as np

    from localsearchengine_spark.operators.codec import docids_from_deltas

    base = np.int64(2**62)  # huge absolute first doc_id per block
    n_blocks, per = 8, 4
    vals = np.tile(np.array([base, 1, 1, 1], dtype=np.uint64), n_blocks)
    counts = np.full(n_blocks, per, dtype=np.int64)
    got = docids_from_deltas(vals, counts)
    exp = np.concatenate([base + np.arange(per, dtype=np.int64)] * n_blocks)
    assert (got == exp).all()
    assert (got > 0).all()  # no silent int64 wrap


def test_binary_offsets_large_and_small():
    import numpy as np
    import pyarrow as pa

    vals = [b"ab", b"", b"cdef", b"g"]
    for typ in (pa.binary(), pa.large_binary()):
        arr = pa.array(vals, type=typ)
        offs = codec.binary_offsets(arr)
        assert offs.dtype == np.int64
        assert offs.tolist() == [0, 2, 2, 6, 7]
    sliced = pa.array(vals, type=pa.binary()).slice(1, 3)
    assert codec.binary_offsets(sliced).tolist() == [2, 2, 6, 7]
