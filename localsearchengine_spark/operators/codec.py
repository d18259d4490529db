"""A8 — delta+varint block compression of sorted docID postings.

BASELINE.json:6 mandates "delta+varint block compression of sorted docID
postings".  This module owns the posting-block format: its one declaration
(:data:`BLOCK_FIELDS`, and :func:`postings_schema` for the rows that
carry the blocks), the build's vectorized encode straight into Arrow
(:func:`encode_blocks`), the Arrow decode of whole ``blocks`` columns for
the distributed paths (:func:`decode_block_lists`) and the driver-local
lazy decode (:class:`StreamBlocks`, built here from a term's Arrow block
rows).  No other module reads a block field or a stream buffer: the query
side sees decoded NumPy arrays only.  All of it is NumPy over whole
streams (vectorized LEB128), with no Python per posting or per block.

Block layout (per posting-list block of up to ``block_size`` postings):
  n            int32   postings in this block
  max_doc_id   int64   last (max) doc_id — enables whole-block skipping (A16/A17)
  tf_norm_max  float64 max over docs of tf/(tf + k1*(1-b+b*dl/avgdl)) —
                       block-max score bound = idf * (k1+1) * tf_norm_max
                       (Ding & Suel, SIGIR 2011)
  max_tf       int64   max term frequency in the block  } recompute a valid
  min_dl       int64   min document length in the block } bound under a new
                       avgdl without decoding: tf_norm rises with tf and falls
                       with dl, so bound(max_tf, min_dl, avgdl') ≥ every doc's
                       tf_norm (the segment merge, A10, relies on this)
  doc_bytes    binary  LEB128 varints of doc_id deltas (first = absolute)
  tf_bytes     binary  LEB128 varints of term frequencies
  dl_bytes     binary  LEB128 varints of document lengths (stored per posting
                       so query-time scoring needs no doc-table join — an
                       impact-style space/shuffle tradeoff, SURVEY.md §7.4)
  pos_bytes    binary  LEB128 varints of each posting's ascending within-doc
                       token positions (tf of them), concatenated; empty
                       unless the index stores positions

Blocks are self-contained (the first doc_id of each block is stored absolute,
not as a delta from the previous block) so salted sub-postings and segments
can be concatenated in doc_id-range order without re-encoding (A7/A10).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_FIELDS = (
    ("n", pa.int32()),
    ("max_doc_id", pa.int64()),
    ("tf_norm_max", pa.float64()),
    ("max_tf", pa.int64()),
    ("min_dl", pa.int64()),
    ("doc_bytes", pa.binary()),
    ("tf_bytes", pa.binary()),
    ("dl_bytes", pa.binary()),
    ("pos_bytes", pa.binary()),
)

_MASK7 = np.uint64(0x7F)
_SHIFT7 = np.uint64(7)


def encode_varints_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized LEB128 encode of a uint64 array → (stream, per-value byte
    lengths).  The lengths let callers slice the concatenated stream at any
    value boundary (e.g. per block) without re-encoding."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    out = np.zeros((n, 10), dtype=np.uint8)
    lengths = np.zeros(n, dtype=np.int64)
    cur = v.copy()
    for i in range(10):
        byte = (cur & _MASK7).astype(np.uint8)
        cur >>= _SHIFT7
        more = cur > 0
        out[:, i] = byte | (more.astype(np.uint8) << 7)
        lengths = np.where((lengths == 0) & ~more, i + 1, lengths)
        if not more.any():
            break
    mask = np.arange(10) < lengths[:, None]
    return out[mask].tobytes(), lengths


def decode_varints(buf, count: int) -> np.ndarray:
    """Vectorized LEB128 decode of a bytes-like ``buf`` → uint64 array of
    ``count`` values."""
    if count == 0:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    if len(ends) != count:
        raise ValueError(f"varint stream has {len(ends)} values, expected {count}")
    starts = np.empty(count, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    group = np.repeat(np.arange(count), np.diff(np.concatenate(([-1], ends))))
    pos = np.arange(len(b)) - starts[group]
    vals7 = (b & np.uint8(0x7F)).astype(np.uint64) << (pos.astype(np.uint64) * _SHIFT7)
    values = np.zeros(count, dtype=np.uint64)
    np.add.at(values, group, vals7)
    return values


def block_type() -> pa.DataType:
    """The Arrow struct of one posting block (layout in the module
    docstring), built from :data:`BLOCK_FIELDS`."""
    return pa.struct([pa.field(name, typ) for name, typ in BLOCK_FIELDS])


def postings_schema() -> pa.Schema:
    """The Arrow schema of one postings row: a (term, salt) sub-list with
    its df, cf and blocks.  The build writes it; every Spark read of a
    postings directory declares it (:func:`postings_spark_schema`)."""
    return pa.schema(
        [("term", pa.string()), ("salt", pa.int32()), ("df", pa.int64()),
         ("cf", pa.int64()), ("blocks", pa.list_(block_type()))]
    )


def postings_spark_schema():
    """:func:`postings_schema` as a Spark ``StructType``.  A read that
    declares it runs no schema-inference job, and a file with further
    columns (indexes written before they were dropped) reads the same."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(postings_schema())


def _binary_column(values: np.ndarray, cuts: np.ndarray) -> pa.Array:
    """One varint stream as a ``binary`` column: the LEB128 buffer of all
    ``values`` plus the byte offsets of the value indices ``cuts`` — value
    ``cuts[i]:cuts[i+1]`` is row i, with no Python object per row."""
    buf, lens = encode_varints_with_lengths(values)
    off = np.concatenate(([0], np.cumsum(lens)))[cuts]
    if off[-1] > np.iinfo(np.int32).max:
        raise OverflowError(
            f"{off[-1]} varint bytes exceed one binary column's 2 GiB offsets"
        )
    return pa.Array.from_buffers(
        pa.binary(), len(cuts) - 1,
        [None, pa.py_buffer(off.astype(np.int32)), pa.py_buffer(buf)],
    )


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_off: np.ndarray,
    *,
    block_size: int,
    k1: float,
    b: float,
    avgdl: float,
    positions: np.ndarray | None = None,
) -> pa.ListArray:
    """Encode many posting lists in one call → a ``list<block>`` array with
    one row per list.

    List g owns postings ``group_off[g]:group_off[g+1]`` of the parallel
    doc_id/tf/dl arrays (``group_off`` runs from 0 to ``len(doc_ids)``);
    its doc_ids are strictly increasing.  ``positions`` (optional): flat
    ascending within-doc token positions, concatenated per posting —
    posting i owns positions[Σtf[:i] : Σtf[:i+1]].

    ONE varint pass per stream for all lists: per-value byte lengths give
    the block boundaries inside each concatenated stream, so blocking is
    pure offset arithmetic and each binary column is that stream's buffer
    plus its block byte offsets.
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    dls = np.ascontiguousarray(dls, dtype=np.int64)
    group_off = np.asarray(group_off, dtype=np.int64)
    n = len(doc_ids)
    # block j of list g starts at posting group_off[g] + j·block_size
    n_blk = -(-np.diff(group_off) // block_size)
    blk_off = np.concatenate(([0], np.cumsum(n_blk)))
    starts = np.repeat(group_off[:-1], n_blk) + block_size * (
        np.arange(blk_off[-1]) - np.repeat(blk_off[:-1], n_blk)
    )
    cuts = np.append(starts, n)
    deltas = np.diff(doc_ids, prepend=0).astype(np.uint64)
    deltas[starts] = doc_ids[starts].astype(np.uint64)  # block-local absolutes
    tf_f = tfs.astype(np.float64)
    tf_norm = tf_f / (tf_f + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))
    if positions is None:
        pos = _binary_column(np.empty(0, np.uint64), np.zeros(len(cuts), np.int64))
    else:
        tf_cum = np.concatenate(([0], np.cumsum(tfs)))
        pos = _binary_column(np.ascontiguousarray(positions, dtype=np.uint64), tf_cum[cuts])
    columns = {
        "n": pa.array(np.diff(cuts).astype(np.int32)),
        "max_doc_id": pa.array(doc_ids[cuts[1:] - 1]),
        "tf_norm_max": pa.array(np.maximum.reduceat(tf_norm, starts)),
        "max_tf": pa.array(np.maximum.reduceat(tfs, starts)),
        "min_dl": pa.array(np.minimum.reduceat(dls, starts)),
        "doc_bytes": _binary_column(deltas, cuts),
        "tf_bytes": _binary_column(tfs.astype(np.uint64), cuts),
        "dl_bytes": _binary_column(dls.astype(np.uint64), cuts),
        "pos_bytes": pos,
    }
    blocks = pa.StructArray.from_arrays(
        [columns[name] for name, _ in BLOCK_FIELDS], fields=list(block_type())
    )
    return pa.ListArray.from_arrays(pa.array(blk_off.astype(np.int32)), blocks)


def docids_from_deltas(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated per-block delta streams → absolute doc_ids in one pass.

    Each block's first value is stored absolute (blocks are self-contained),
    so a global cumsum needs only the previous block's running total
    subtracted back out — a segmented cumsum with no Python per block.

    The running total grows as n_blocks × avg_doc_id: at the 10^12-turn
    design scale a long posting list with large doc_ids (e.g. a salted
    stopword concatenated at fetch) can push it past 2^63, where np.cumsum
    wraps silently.  A cheap float64 bound detects that case and falls back
    to per-block cumsums (each block's own sum is ≤ max doc_id < 2^63 by
    construction, so the fallback cannot overflow).
    """
    if float(vals.astype(np.float64).sum()) > float(2**62):
        out = np.empty(len(vals), dtype=np.int64)
        starts = np.cumsum(counts) - counts
        for s, n in zip(starts, counts):
            out[s : s + n] = np.cumsum(vals[s : s + n].astype(np.int64))
        return out
    c = np.cumsum(vals.astype(np.int64))
    starts = np.cumsum(counts) - counts
    prev = np.where(starts > 0, c[np.maximum(starts - 1, 0)], 0)
    return c - np.repeat(prev, counts)


class StreamBlocks:
    """One posting list's blocks for lazy decode: per-block metadata as
    NumPy arrays, and per stream ONE contiguous byte buffer plus per-block
    offsets (:meth:`from_rows`).  Decoding the whole list is a single LEB128
    pass per stream — concatenated varint streams are themselves a valid
    varint stream — instead of a NumPy call per 128-entry block."""

    __slots__ = ("counts", "max_doc", "bound_tfn", "bufs", "offs")

    def __init__(self, counts, max_doc, bound_tfn, bufs: dict, offs: dict):
        self.counts = counts        # int64 postings per block
        self.max_doc = max_doc      # int64 last doc_id per block
        self.bound_tfn = bound_tfn  # float64 tf_norm_max per block
        self.bufs = bufs            # stream name -> uint8 (blocks concatenated)
        self.offs = offs            # stream name -> int64 offsets (len blocks+1)

    @classmethod
    def from_rows(cls, la: pa.ListArray, rows=None) -> "StreamBlocks":
        """Rows ``rows`` (default: all) of a ``list<block>`` array as one
        list, e.g. a term's rows from a postings scan in salt (= doc_id
        range) order: blocks are self-contained, so one Arrow ``take``
        concatenates them, and the streams are views of its buffers."""
        if rows is not None:
            la = la.take(pa.array(rows, type=pa.int64()))
        blocks = la.flatten()
        bufs, offs = {}, {}
        for name in ("doc", "tf", "dl", "pos"):
            ba = blocks.field(f"{name}_bytes")
            o = binary_offsets(ba)
            data = ba.buffers()[2]
            raw = np.empty(0, np.uint8) if data is None else np.frombuffer(data, np.uint8)
            bufs[name] = raw[o[0]:o[-1]]
            offs[name] = o - o[0]
        return cls(
            blocks.field("n").to_numpy().astype(np.int64),
            blocks.field("max_doc_id").to_numpy(),
            blocks.field("tf_norm_max").to_numpy(),
            bufs, offs,
        )

    def decode_all(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        total = int(self.counts.sum())
        deltas = decode_varints(self.bufs["doc"], total)
        return (
            docids_from_deltas(deltas, self.counts),
            decode_varints(self.bufs["tf"], total).astype(np.int64),
            decode_varints(self.bufs["dl"], total).astype(np.int64),
        )

    def _stream_block(self, name: str, i: int, count: int) -> np.ndarray:
        o = self.offs[name]
        return decode_varints(self.bufs[name][o[i]:o[i + 1]], count)

    def decode_block(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        n = int(self.counts[i])
        doc, tf, dl = (self._stream_block(name, i, n) for name in ("doc", "tf", "dl"))
        return np.cumsum(doc.astype(np.int64)), tf.astype(np.int64), dl.astype(np.int64)

    def decode_positions(self, i: int) -> tuple[np.ndarray, list[np.ndarray]]:
        """Block ``i``'s doc_ids and each posting's ascending within-doc
        positions (the list must come from a positional index)."""
        ids, tfs, _ = self.decode_block(i)
        flat = self._stream_block("pos", i, int(tfs.sum())).astype(np.int64)
        return ids, np.split(flat, np.cumsum(tfs)[:-1])


def reorder_positions(
    flat: np.ndarray, starts: np.ndarray, tfs: np.ndarray, order: np.ndarray
) -> np.ndarray:
    """Re-lay a flat per-posting position stream in a new posting order.

    ``flat`` holds each posting's ``tfs[i]`` positions contiguously at
    ``starts[i]``; the result is the same stream with postings permuted by
    ``order`` — a vectorized gather (no Python loop over postings)."""
    lens = tfs[order]
    cum = np.concatenate(([0], np.cumsum(lens)))
    idx = (
        np.arange(cum[-1], dtype=np.int64)
        - np.repeat(cum[:-1], lens)
        + np.repeat(starts[order], lens)
    )
    return flat[idx]


def binary_offsets(ba) -> np.ndarray:
    """Value offsets of an Arrow Binary/LargeBinary array as int64.

    Plain ``binary`` stores int32 offsets, which cap a column chunk's byte
    payload at 2 GiB; readers switch to ``large_binary`` (int64 offsets)
    beyond that — a 100× index can hit it, so both layouts are handled
    instead of assuming int32.
    """
    if pa.types.is_large_binary(ba.type) or pa.types.is_large_string(ba.type):
        dtype = np.int64
    elif pa.types.is_binary(ba.type) or pa.types.is_string(ba.type):
        dtype = np.int32
    else:
        raise TypeError(f"expected a (large_)binary array, got {ba.type}")
    return np.frombuffer(ba.buffers()[1], dtype=dtype)[
        ba.offset : ba.offset + len(ba) + 1
    ].astype(np.int64)


def decode_block_lists(la, with_pos: bool = False):
    """Decode an Arrow ``list<block struct>`` array (one posting list per
    row, e.g. a RecordBatch's ``blocks`` column) straight from its buffers.

    All rows read as one :class:`StreamBlocks`, so each varint stream is
    decoded in a single LEB128 pass (:func:`docids_from_deltas` restores
    absolutes across block and row boundaries) — no Python object per
    block.  Returns ``None`` when the rows hold no blocks, else
    ``(row_off, doc_ids, tfs, dls, pos)``: row i owns postings
    ``row_off[i]:row_off[i+1]`` of the int64 arrays, and ``pos`` (None
    unless ``with_pos``) is the flat position stream in which posting j owns
    ``tfs[j]`` positions."""
    blk_off = la.offsets.to_numpy().astype(np.int64)
    if blk_off[-1] == blk_off[0]:
        return None
    sb = StreamBlocks.from_rows(la)
    doc_ids, tfs, dls = sb.decode_all()
    pos = None
    if with_pos:
        pos = decode_varints(sb.bufs["pos"], int(tfs.sum())).astype(np.int64)
    cs = np.concatenate(([0], np.cumsum(sb.counts)))
    return cs[blk_off - blk_off[0]], doc_ids, tfs, dls, pos
