"""A8 codec properties (SURVEY.md §5: hypothesis round-trips + bound checks)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from localsearchengine_spark.operators import codec


def _decode(blocks):
    """encode_blocks output for one posting list → (doc_ids, tfs, dls)
    through the Arrow decoder of the distributed read paths and compaction."""
    dec = codec.decode_block_lists(blocks)
    if dec is None:
        return (np.empty(0, dtype=np.int64),) * 3
    row_off, d, t, L, _ = dec
    assert row_off.tolist() == [0, len(d)]
    return d, t, L


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.asarray(vals, dtype=np.uint64)
    assert np.array_equal(codec.decode_varints(codec.encode_varints_with_lengths(arr)[0], len(arr)), arr)


@given(
    st.lists(
        st.lists(st.integers(min_value=1, max_value=10**7), min_size=1, max_size=300),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=64),
    st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(groups, block_size, with_pos):
    """Several posting lists in one encode_blocks call: each decodes to its
    own postings (and positions), and each block's metadata is exact."""
    ids = [np.cumsum(np.asarray(g, dtype=np.int64)) for g in groups]  # strictly increasing
    doc_ids = np.concatenate(ids)
    group_off = np.concatenate(([0], np.cumsum([len(g) for g in ids])))
    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 9, size=len(doc_ids)).astype(np.int64)
    dls = rng.integers(1, 200, size=len(doc_ids)).astype(np.int64)
    pos = rng.integers(0, 10**6, size=int(tfs.sum())) if with_pos else None
    la = codec.encode_blocks(
        doc_ids, tfs, dls, group_off, block_size=block_size, k1=1.2, b=0.75,
        avgdl=50.0, positions=pos,
    )
    assert len(la) == len(groups)
    # one call over many lists ≡ one call per list
    tf_cum = np.concatenate(([0], np.cumsum(tfs)))
    singles = [
        codec.encode_blocks(
            doc_ids[lo:hi], tfs[lo:hi], dls[lo:hi], [0, hi - lo], block_size=block_size,
            k1=1.2, b=0.75, avgdl=50.0,
            positions=pos[tf_cum[lo]:tf_cum[hi]] if with_pos else None,
        )
        for lo, hi in zip(group_off[:-1], group_off[1:])
    ]
    assert pa.concat_arrays(singles).equals(la)
    row_off, d, t, L, p = codec.decode_block_lists(la, with_pos=with_pos)
    assert row_off.tolist() == group_off.tolist()
    assert np.array_equal(d, doc_ids)
    assert np.array_equal(t, tfs)
    assert np.array_equal(L, dls)
    if with_pos:
        assert np.array_equal(p, pos)
    # block metadata: blocks of block_size postings restart at every list,
    # max_doc_id is exact and tf_norm_max is the block's largest tf_norm
    blk_off = la.offsets.to_numpy()
    blocks = la.values
    n = blocks.field("n").to_numpy()
    max_doc = blocks.field("max_doc_id").to_numpy()
    tfn_max = blocks.field("tf_norm_max").to_numpy()
    tfn = tfs / (tfs + 1.2 * (1 - 0.75 + 0.75 * dls / 50.0))
    for g in range(len(groups)):
        size = group_off[g + 1] - group_off[g]
        sizes = [min(block_size, size - s) for s in range(0, size, block_size)]
        assert n[blk_off[g] : blk_off[g + 1]].tolist() == sizes
        start = group_off[g]
        for i in range(blk_off[g], blk_off[g + 1]):
            seg = slice(start, start + n[i])
            assert max_doc[i] == doc_ids[seg][-1]
            assert tfn_max[i] == tfn[seg].max()
            start += n[i]


def test_empty():
    assert codec.encode_varints_with_lengths(np.empty(0, dtype=np.uint64))[0] == b""
    assert len(codec.decode_varints(b"", 0)) == 0
    empty = np.empty(0)
    for group_off, rows in (([0], 0), ([0, 0], 1)):
        la = codec.encode_blocks(
            empty, empty, empty, group_off, block_size=128, k1=1.2, b=0.75, avgdl=10
        )
        assert len(la) == rows and len(la.values) == 0
    d, t, L = _decode(la)
    assert len(d) == 0 and len(t) == 0 and len(L) == 0


def test_big_doc_ids():
    # 10^12-turn design scale: doc_ids near 2^40+ must round-trip
    doc_ids = np.asarray([10**12, 10**12 + 1, 10**12 + 10**9], dtype=np.int64)
    tfs = np.asarray([1, 2, 3], dtype=np.int64)
    dls = np.asarray([10, 20, 30], dtype=np.int64)
    blocks = codec.encode_blocks(
        doc_ids, tfs, dls, [0, 3], block_size=2, k1=1.2, b=0.75, avgdl=20.0
    )
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
