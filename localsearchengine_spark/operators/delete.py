"""A22 — document deletes: tombstones + distributed compaction.

Lucene-style two-phase semantics (the only shape that works at 10^12 turns,
where rewriting the index per delete is absurd):

* ``delete_docs`` appends a TOMBSTONE file (a parquet of docIDs) under the
  index — O(deleted ids), no index rewrite.  Queries immediately stop
  returning tombstoned docs: the driver-local paths mask them during block
  decode (`TermPostings` — WAND stays exact because block upper bounds
  remain valid upper bounds after removing entries), and the distributed
  batch path (`batch_query`) drops them in the decode kernel.  Corpus stats
  (N, avgdl, df/idf) stay AS-BUILT until compaction, exactly like Lucene's
  deleted-docs bitmaps: scores of surviving docs are unchanged by a delete.

* ``compact`` rewrites the index WITHOUT the tombstoned docs and recomputes
  every statistic (N, avgdl, per-term df/cf, block tf_norm bounds), after
  which the index is indistinguishable from one built over the surviving
  corpus with the SAME docIDs — compaction must never renumber: external
  references (and the driver gate's doc_id ≡ source doc_id invariant) out-
  live a compaction.  The rewrite is one distributed pass that reuses the
  build's own machinery: an Arrow kernel decodes each (term, salt) row's
  blocks, drops tombstoned postings vectorized, and re-emits the build's
  packed EMIT_SCHEMA rows, which flow through ``build_posting_partitions``
  (salted shuffle → new-avgdl block encode → task-atomic segment write →
  manifests) and ``write_dictionary`` unchanged.  meta.json is written
  last, atomically — a crashed compaction leaves a dir `Index` refuses.
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOMBSTONE_DIR = "tombstones"


def _isin_sorted(values: np.ndarray, sorted_set: np.ndarray) -> np.ndarray:
    """Membership of int64 ``values`` in a SORTED unique int64 array."""
    if len(sorted_set) == 0 or len(values) == 0:
        return np.zeros(len(values), dtype=bool)
    pos = np.searchsorted(sorted_set, values)
    pos_c = np.minimum(pos, len(sorted_set) - 1)
    return sorted_set[pos_c] == values


def delete_docs(index_dir: str, doc_ids) -> int:
    """Append a tombstone file for ``doc_ids``; returns the count written.

    Idempotent by content (the same id in two files deletes once); atomic
    via temp-file + rename, so a reader never sees a partial tombstone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
    tdir = os.path.join(index_dir, TOMBSTONE_DIR)
    os.makedirs(tdir, exist_ok=True)
    tmp = os.path.join(tdir, f".ts.parquet.tmp-{os.getpid()}")
    pq.write_table(pa.table({"doc_id": pa.array(ids, type=pa.int64())}), tmp)
    os.replace(tmp, os.path.join(tdir, f"ts-{uuid.uuid4().hex[:12]}.parquet"))
    return int(len(ids))


def load_tombstones(index_dir: str) -> np.ndarray:
    """Union of all tombstone files → sorted unique int64 array (empty when
    the index has no deletes).  URI-portable via sources/io."""
    from localsearchengine_spark.sources import io as lse_io

    tdir = os.path.join(index_dir, TOMBSTONE_DIR)
    try:
        ds_obj = lse_io.open_dataset(tdir)
    except FileNotFoundError:
        return np.empty(0, dtype=np.int64)
    tbl = ds_obj.to_table(columns=["doc_id"])
    if tbl.num_rows == 0:
        return np.empty(0, dtype=np.int64)
    return np.unique(tbl["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64))


def _emit_surviving(
    postings: DataFrame, tombstones: np.ndarray, with_pos: bool = False
) -> DataFrame:
    """(term, salt, blocks) rows → the build's packed EMIT_SCHEMA rows with
    tombstoned postings dropped — the same Arrow-buffer decode as
    `batch_query._decode_arrow` (`codec.decode_block_lists`), but per-row
    grouping is preserved so the output feeds `build_posting_partitions`
    directly (no explode, no extra shuffle beyond the build's own salted
    repartition).  With ``with_pos`` the flat position stream rides along:
    posting i owns tf[i] positions, so the posting keep-mask expands to
    positions with one np.repeat."""
    from localsearchengine_spark.operators import codec
    from localsearchengine_spark.operators.postings import EMIT_SCHEMA, EMIT_SCHEMA_POS

    sc = postings.sparkSession.sparkContext
    ts_bc = sc.broadcast(tombstones)

    def kernel(batches):
        import pyarrow as pa

        ts = ts_bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            dec = codec.decode_block_lists(cols["blocks"], with_pos)
            if dec is None:
                continue
            row_off, doc_ids, tfs, dls, pos = dec
            keep = ~_isin_sorted(doc_ids, ts)
            # per-row posting offsets → per-row KEPT offsets via one cumsum
            kept_cum = np.concatenate(([0], np.cumsum(keep, dtype=np.int64)))
            offs = pa.array(kept_cum[row_off].astype(np.int32))
            arrays = [
                cols["term"],
                cols["salt"],
                pa.ListArray.from_arrays(
                    offs, pa.array(doc_ids[keep], type=pa.int64())
                ),
                pa.ListArray.from_arrays(offs, pa.array(tfs[keep], type=pa.int64())),
                pa.ListArray.from_arrays(offs, pa.array(dls[keep], type=pa.int64())),
            ]
            names = ["term", "salt", "doc_ids", "tfs", "dls"]
            if with_pos:
                kept_tf_cum = np.concatenate(
                    ([0], np.cumsum(np.where(keep, tfs, 0), dtype=np.int64))
                )
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(kept_tf_cum[row_off].astype(np.int32)),
                        pa.array(pos[np.repeat(keep, tfs)], type=pa.int64()),
                    )
                )
                names.append("pos")
            yield pa.RecordBatch.from_arrays(arrays, names)

    return (
        postings.select("term", "salt", "blocks")
        .mapInArrow(kernel, schema=EMIT_SCHEMA_POS if with_pos else EMIT_SCHEMA)
        .filter(F.size("doc_ids") > 0)
    )


def compact(spark: SparkSession, index_dir: str, out_dir: str) -> dict:
    """Rewrite ``index_dir`` minus its tombstones into ``out_dir``.

    docIDs are PRESERVED (sparse after deletes — every read path already
    treats docIDs as opaque int64s); N/avgdl/df/cf/block bounds are
    recomputed over the survivors, so a compacted index scores exactly like
    an index built over the surviving corpus with the same docIDs (the
    fts12 driver gate pins this against the SQL oracle).  Positional
    indexes compact too: each surviving posting's position run rides
    through the same kernel, so phrase queries keep working afterwards.
    The meta's ``doc_id_high_water`` keeps appends numbering above the
    deleted ids too, so no deleted doc's id is reused.  Its ``elapsed_s``
    holds the compaction's own stage walls (stats, docs, postings,
    dictionary, total), not the source build's."""
    import pyarrow as pa

    from localsearchengine_spark.operators import codec
    from localsearchengine_spark.operators.merge import next_doc_id
    from localsearchengine_spark.operators.postings import (
        build_posting_partitions,
        skew_report,
        write_dictionary,
    )
    from localsearchengine_spark.operators.search import Index
    from localsearchengine_spark.utils import atomic_write_json, read_json

    t_all = t0 = time.time()
    elapsed: dict[str, float] = {}
    index = Index(spark, index_dir)
    conf = index.conf
    ts = load_tombstones(index_dir)
    ts_df = spark.createDataFrame(pa.table({"doc_id": pa.array(ts, type=pa.int64())}))

    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    # deleted-doc stats BEFORE the rewrite: the new avgdl feeds the block
    # encoder's tf_norm bounds.  Token counts use the build's own analyzer
    # (an Arrow kernel), so total_tokens(meta) − deleted tokens ≡ the
    # survivors' total exactly as a build over them would count it.
    cfg = conf.bm25

    def count_tokens(batches):
        import pyarrow as pa

        from localsearchengine_spark.functions.analyze import doc_lengths

        for rb in batches:
            dl = doc_lengths(rb.column(0).to_pandas(), cfg)
            yield pa.RecordBatch.from_arrays(
                [pa.array([rb.num_rows]), pa.array([int(dl.sum())])], ["n", "t"]
            )

    drow = (
        docs.join(F.broadcast(ts_df), "doc_id", "left_semi")
        .select("text")
        .mapInArrow(count_tokens, schema="n long, t long")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
             F.coalesce(F.sum("t"), F.lit(0)).alias("t"))
        .collect()[0]
    )
    n_del, tok_del = int(drow["n"]), int(drow["t"])
    n_new = index.n_docs - n_del
    if n_new <= 0:
        raise ValueError("compaction would delete every document")
    total_tokens_new = int(index.meta["total_tokens"]) - tok_del
    avgdl_new = total_tokens_new / n_new
    elapsed["stats"] = round(time.time() - t0, 3)

    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    build_id = uuid.uuid4().hex[:12]
    new_docs = docs.join(F.broadcast(ts_df), "doc_id", "left_anti")
    P = int(index.meta.get("num_partitions", conf.num_partitions))
    (
        new_docs.repartitionByRange(P, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "docs"))
    )
    elapsed["docs"] = round(time.time() - t0, 3)

    t0 = time.time()
    postings = spark.read.schema(codec.postings_spark_schema()).parquet(
        os.path.join(index_dir, "postings")
    )
    emitted = _emit_surviving(postings, ts, with_pos=conf.store_positions)
    manifest_dir = os.path.join(out_dir, "manifest")
    os.makedirs(manifest_dir, exist_ok=True)
    build_posting_partitions(
        emitted,
        conf=conf,
        avgdl=avgdl_new,
        num_partitions=P,
        postings_dir=os.path.join(out_dir, "postings"),
        manifest_dir=manifest_dir,
        build_id=build_id,
    )
    elapsed["postings"] = round(time.time() - t0, 3)
    t0 = time.time()
    write_dictionary(
        spark, os.path.join(out_dir, "postings"), os.path.join(out_dir, "dictionary")
    )
    elapsed["dictionary"] = round(time.time() - t0, 3)
    atomic_write_json(
        os.path.join(manifest_dir, "docs-complete.json"), {"build_id": build_id}
    )
    manifest_rows = [
        read_json(os.path.join(manifest_dir, f))
        for f in sorted(os.listdir(manifest_dir))
        if f.startswith("postings-")
    ]
    meta = dict(index.meta)
    meta.update(
        {
            "build_id": build_id,
            "n_docs": n_new,
            "avgdl": avgdl_new,
            "total_tokens": total_tokens_new,
            "skew": skew_report(manifest_rows),
            "compacted_from": index_dir,
            "deleted_docs": n_del,
            "doc_id_high_water": next_doc_id(index_dir),
            "status": "complete",
            "elapsed_s": {**elapsed, "total": round(time.time() - t_all, 3)},
        }
    )
    atomic_write_json(os.path.join(out_dir, "meta.json"), meta)
    return {"n_docs": n_new, "deleted_docs": n_del, "avgdl": avgdl_new}
