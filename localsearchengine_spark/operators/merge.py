"""A10 — distributed segment merge.

BASELINE.json:6: "distributed segment merge with per-partition lineage
checkpoints".  Merges k complete indexes (segments) whose doc_id spaces are
disjoint into one index.

Doc store: doc_ids are already globally unique, so the merged ``docs/`` is
the inputs' files hard-linked (copied when a link fails) in doc-range
order — no rewrite; ranges and row counts come from the parquet footers,
with no Spark job.  Postings are always rewritten (block bounds depend on
the merged avgdl), on one of two paths:

* **Ordered fast path** (the common case: incremental batches are
  appended, *contiguous* doc_id ranges): blocks are self-contained
  (codec.py), so a term's merged posting list is just its segment rows in
  (segment, salt) order.  The merge is then a pure DataFrame job — union →
  renumber salts densely by (seg, salt) per term → recompute block score
  bounds from (max_tf, min_dl) under the merged corpus avgdl with JVM
  `transform()` expressions.  Zero Python in the plan, zero decode.

* **Interleaved fallback**: doc ranges overlap (but doc_ids are still
  globally unique across segments) — repartition by term and k-way merge
  inside an Arrow `applyInPandas` stage: decode, merge-sort, re-encode.
  Memory per task is bounded by the largest single term across segments;
  at true scale callers should keep appends range-ordered (the builders in
  this package always do).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators import codec
from localsearchengine_spark.utils import atomic_write_json, read_json


def _docs_files(index_dir: str) -> list[tuple[int, int, int, str]]:
    """(min doc_id, max doc_id, rows, path) of each non-empty docs file,
    from its parquet footer."""
    import pyarrow.parquet as pq

    out, ddir = [], os.path.join(index_dir, "docs")
    for path in [os.path.join(ddir, f) for f in sorted(os.listdir(ddir)) if f[0] not in "_."]:
        md = pq.read_metadata(path)
        col = md.schema.names.index("doc_id")
        sts = [md.row_group(g).column(col).statistics for g in range(md.num_row_groups)]
        if md.num_rows == 0:
            continue
        if any(st is None or not st.has_min_max for st in sts):
            raise RuntimeError(f"docs file {path} has no doc_id statistics in its footer")
        out.append((min(st.min for st in sts), max(st.max for st in sts), md.num_rows, path))
    return out


def _bound_expr(max_tf, min_dl, k1: float, b: float, avgdl: float):
    from localsearchengine_spark.functions.bm25 import tf_norm_column

    return tf_norm_column(max_tf, min_dl, F.lit(avgdl), k1, b)


def _with_pos_bytes(posts: DataFrame) -> DataFrame:
    """Version shim: indexes written before the positional-postings field
    lack ``blocks[].pos_bytes``; default it to empty so pre-positions
    segments merge cleanly instead of failing analysis on the missing
    field."""
    fields = posts.schema["blocks"].dataType.elementType.fieldNames()
    if "pos_bytes" in fields:
        return posts
    new_blocks = F.transform(
        F.col("blocks"),
        lambda blk: F.struct(
            *[blk[f].alias(f) for f in fields],
            F.lit(b"").alias("pos_bytes"),
        ),
    )
    return posts.withColumn("blocks", new_blocks)


def merge_indexes(
    spark: SparkSession, index_dirs: list[str], out_dir: str,
    force_path: str | None = None,
) -> dict:
    """Merge complete indexes at ``index_dirs`` into a new index at
    ``out_dir``.  Returns the merged meta dict.  ``force_path`` overrides
    path selection ("ordered"/"interleaved") — tests and external segments.

    ``out_dir/docs`` links every input docs file (P more per append);
    ``delete.compact(spark, out_dir, new_dir)`` rewrites it into P files."""
    t0 = time.time()
    metas = [read_json(os.path.join(d, "meta.json")) for d in index_dirs]
    for m, d in zip(metas, index_dirs):
        if m.get("status") != "complete":
            raise RuntimeError(f"cannot merge incomplete index at {d}")
    confs = {m["config"] for m in metas}
    if len(confs) != 1:
        raise RuntimeError("cannot merge indexes built with different configs")
    conf = BuildConfig.from_json(metas[0]["config"])
    cfg = conf.bm25

    # ---- merged corpus stats ------------------------------------------------
    n_docs = sum(int(m["n_docs"]) for m in metas)
    total_tokens = sum(int(m["total_tokens"]) for m in metas)
    avgdl = total_tokens / n_docs if n_docs else 0.0

    # ---- doc-range layout: ordered fast path vs interleaved fallback -------
    files = [_docs_files(d) for d in index_dirs]
    ranges = sorted(
        (min(f[0] for f in fs), max(f[1] for f in fs), sum(f[2] for f in fs), d)
        for d, fs in zip(index_dirs, files)
    )
    total_n = sum(r[2] for r in ranges)
    if total_n != n_docs:
        raise RuntimeError("docs tables inconsistent with metas")
    ordered = all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
    if force_path is not None:
        ordered = force_path == "ordered"
    seg_order = {r[3]: i for i, r in enumerate(ranges)}

    os.makedirs(out_dir, exist_ok=True)

    # ---- docs: link the inputs' files (doc_ids already globally unique) ----
    docs_out = os.path.join(out_dir, "docs")
    shutil.rmtree(docs_out, ignore_errors=True)
    os.makedirs(docs_out)
    for k, f in enumerate(sorted(f for fs in files for f in fs)):
        dst = os.path.join(docs_out, f"part-{k:05d}.parquet")
        try:
            os.link(f[3], dst)
        except OSError:  # another filesystem, or no hard links
            shutil.copyfile(f[3], dst)

    # ---- postings -----------------------------------------------------------
    posts = None
    for d in index_dirs:
        raw = spark.read.parquet(os.path.join(d, "postings"))
        shimmed = "pos_bytes" not in raw.schema["blocks"].dataType.elementType.fieldNames()
        if shimmed and conf.store_positions:
            # a pre-positions segment cannot satisfy a positional config:
            # merged phrase queries would crash on its empty streams later
            raise RuntimeError(
                f"segment at {d} predates positional postings but the build "
                "config stores positions — rebuild it before merging"
            )
        part = _with_pos_bytes(raw).withColumn("seg", F.lit(seg_order[d]))
        posts = part if posts is None else posts.unionByName(part)

    if ordered:
        merged = _merge_ordered(posts, cfg.k1, cfg.b, avgdl)
    else:
        merged = _merge_interleaved(posts, conf, avgdl)
    merged.write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))

    # ---- dictionary (same shape + adaptive path as build.py) ----------------
    from localsearchengine_spark.operators.postings import write_dictionary

    write_dictionary(spark, os.path.join(out_dir, "postings"), os.path.join(out_dir, "dictionary"))

    meta = {
        "build_id": uuid.uuid4().hex[:12],
        "config": metas[0]["config"],
        "snapshot": "+".join(m["snapshot"] for m in metas),
        "status": "complete",
        "source": "merge:" + ",".join(index_dirs),
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": avgdl,
        "num_partitions": int(metas[0].get("num_partitions", 8)),
        "merged_from": len(index_dirs),
        "merge_path": "ordered" if ordered else "interleaved",
        "merge_elapsed_s": round(time.time() - t0, 3),
    }
    # A22 interplay: tombstones of the inputs carry into the merged index —
    # merging must never resurrect a deleted doc.  Stats stay the inputs'
    # as-built sums, consistent with tombstone semantics (compact() is the
    # pressure valve that folds deletes into the stats).
    from localsearchengine_spark.operators.delete import delete_docs, load_tombstones

    all_ts = np.unique(
        np.concatenate(
            [load_tombstones(d) for d in index_dirs] or [np.empty(0, dtype=np.int64)]
        )
    )
    if len(all_ts):
        delete_docs(out_dir, all_ts)
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    atomic_write_json(os.path.join(out_dir, "manifest", "merge-complete.json"), meta)
    atomic_write_json(os.path.join(out_dir, "meta.json"), meta)
    return meta


def _merge_ordered(posts: DataFrame, k1: float, b: float, avgdl: float) -> DataFrame:
    """Declarative merge: per-term dense salt renumbering by (seg, salt) via
    a row_number window (rows per term are few — salts, not postings), which
    stays collision-free under repeated merges; block score bounds are
    recomputed JVM-side from (max_tf, min_dl) for the new avgdl."""
    from pyspark.sql import Window
    new_blocks = F.transform(
        F.col("blocks"),
        lambda blk: F.struct(
            blk["n"].alias("n"),
            blk["max_doc_id"].alias("max_doc_id"),
            _bound_expr(blk["max_tf"], blk["min_dl"], k1, b, avgdl).alias("tf_norm_max"),
            blk["max_tf"].alias("max_tf"),
            blk["min_dl"].alias("min_dl"),
            blk["doc_bytes"].alias("doc_bytes"),
            blk["tf_bytes"].alias("tf_bytes"),
            blk["dl_bytes"].alias("dl_bytes"),
            blk["pos_bytes"].alias("pos_bytes"),
        ),
    )
    w = Window.partitionBy("term").orderBy("seg", "salt")
    return posts.select(
        "term",
        (F.row_number().over(w) - 1).cast("int").alias("salt"),
        "df",
        "cf",
        F.array_max(F.transform(new_blocks, lambda blk: blk["tf_norm_max"])).alias(
            "max_tf_norm"
        ),
        F.size(new_blocks).cast("long").alias("n_blocks"),
        # merged files do not follow the hash(term,salt) layout; the sentinel
        # makes query-time partition pruning fall back to the full scan
        F.lit(-1).cast("int").alias("pid"),
        new_blocks.alias("blocks"),
    )


def reorder_positions(
    flat: np.ndarray, starts: np.ndarray, tfs: np.ndarray, order: np.ndarray
) -> np.ndarray:
    """Re-lay a flat per-posting position stream in merged posting order.

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


def _merge_interleaved(posts: DataFrame, conf: BuildConfig, avgdl: float) -> DataFrame:
    """Arrow fallback: per-term decode → merge-sort → re-encode (positional
    streams included: per-posting position runs are gathered into merged
    order and re-blocked)."""
    cfg = conf.bm25
    block_size = conf.block_size

    def merge_term(pdf: pd.DataFrame) -> pd.DataFrame:
        term = pdf["term"].iloc[0]
        pdf = pdf.sort_values(["seg", "salt"])
        parts = [codec.decode_blocks(list(bl)) for bl in pdf["blocks"]]
        d = np.concatenate([p[0] for p in parts])
        t = np.concatenate([p[1] for p in parts])
        L = np.concatenate([p[2] for p in parts])
        has_pos = any(
            len(blk["pos_bytes"] or b"") for bl in pdf["blocks"] for blk in bl
        )
        flat = starts = None
        if has_pos:
            # positions are absolute within-doc values (not cross-posting
            # deltas), so per-part streams concatenate into one flat array;
            # posting i of the unmerged order owns flat[starts[i] : +tf[i]]
            flats = []
            for bl, (_, pt, _) in zip(pdf["blocks"], parts):
                raw = b"".join(bytes(blk["pos_bytes"] or b"") for blk in bl)
                if not raw and pt.sum() > 0:
                    raise ValueError(
                        f"term {term!r}: segment mixes positional and "
                        "position-less postings — cannot interleave-merge"
                    )
                flats.append(codec.decode_varints(raw, int(pt.sum())).astype(np.int64))
            flat = np.concatenate(flats) if flats else np.empty(0, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(t)))[:-1]
        order = np.argsort(d, kind="mergesort")
        d_m, t_m, L_m = d[order], t[order], L[order]
        if len(d_m) > 1 and (np.diff(d_m) == 0).any():
            raise ValueError(f"duplicate doc_id across segments for term {term!r}")
        positions = None
        if has_pos:
            positions = reorder_positions(flat, starts, t, order)
        d, t, L = d_m, t_m, L_m
        blocks = codec.encode_blocks(
            d, t, L, block_size=block_size, k1=cfg.k1, b=cfg.b, avgdl=avgdl,
            positions=positions,
        )
        return pd.DataFrame(
            [
                {
                    "term": term,
                    "salt": 0,
                    "df": len(d),
                    "cf": int(t.sum()),
                    "max_tf_norm": max(blk.tf_norm_max for blk in blocks),
                    "n_blocks": len(blocks),
                    "pid": -1,
                    "blocks": [blk._asdict() for blk in blocks],
                }
            ]
        )

    schema = (
        "term string, salt int, df long, cf long, max_tf_norm double, n_blocks long, "
        "pid int, "
        "blocks array<struct<n:int,max_doc_id:long,tf_norm_max:double,"
        "max_tf:long,min_dl:long,doc_bytes:binary,tf_bytes:binary,dl_bytes:binary,"
        "pos_bytes:binary>>"
    )
    # groupBy+applyInPandas loads one term's rows per call — memory bounded
    # by the largest single term across segments (acceptable fallback; the
    # builders always produce range-ordered segments → fast path instead)
    return posts.groupBy("term").applyInPandas(merge_term, schema=schema)
