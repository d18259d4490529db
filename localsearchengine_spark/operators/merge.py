"""A10 — distributed segment merge.

BASELINE.json:6: "distributed segment merge with per-partition lineage
checkpoints".  Merges k complete indexes (segments) whose doc_id ranges are
disjoint into one index; overlapping ranges are rejected before anything is
written (every builder in the package numbers a segment above the ids it
is merged with — ``IncrementalIndexer`` above the live index's largest).

Doc store: doc_ids are already globally unique, so the merged ``docs/`` is
the inputs' files hard-linked (copied when a link fails) in doc-range
order — no rewrite; ranges and row counts come from the parquet footers,
with no Spark job.

Postings are rewritten because block score bounds depend on the merged
avgdl, but never decoded: blocks are self-contained (codec.py), so a term's
merged posting list is just its segment rows in (segment, salt) order.  The
merge is one DataFrame job over the rows' (term, salt, df, cf, blocks) —
union → renumber salts densely by (seg, salt) per term → replace each
block's ``tf_norm_max`` with the bound from its (max_tf, min_dl) under the
merged avgdl (a JVM ``transform`` + ``withField``; every other block field
passes through).  Zero Python in the plan, zero decode.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.functions.bm25 import tf_norm_column
from localsearchengine_spark.operators import codec
from localsearchengine_spark.utils import atomic_write_json, read_json


def docs_files(index_dir: str) -> list[tuple[int, int, int, str]]:
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


def next_doc_id(index_dir: str) -> int:
    """One above every doc_id the index has held: 1 + the docs footers'
    largest id, or the meta's ``doc_id_high_water`` (left by
    ``delete.compact``, which may drop the largest ids) when larger."""
    meta = read_json(os.path.join(index_dir, "meta.json"))
    top = 1 + max(f[1] for f in docs_files(index_dir))
    return max(top, int(meta.get("doc_id_high_water", 0)))


def merge_indexes(spark: SparkSession, index_dirs: list[str], out_dir: str) -> dict:
    """Merge complete indexes at ``index_dirs`` into a new index at
    ``out_dir``.  Returns the merged meta dict.  Raises ``ValueError``,
    before ``out_dir`` is created, when two inputs' doc_id ranges overlap.

    ``out_dir/docs`` links every input docs file (P more per append);
    ``delete.compact(spark, out_dir, new_dir)`` rewrites it into P files.

    The meta records the merge's own stage walls under ``elapsed_s``
    (docs, postings, dictionary, total).  It has no ``hot_salts`` /
    ``salt_buckets``: the inputs' rows keep their own salts, so a merged
    index follows no single salt rule, and it is never resumed."""
    t_all = t0 = time.time()
    elapsed: dict[str, float] = {}
    metas = [read_json(os.path.join(d, "meta.json")) for d in index_dirs]
    for m, d in zip(metas, index_dirs):
        if m.get("status") != "complete":
            raise RuntimeError(f"cannot merge incomplete index at {d}")
    confs = {m["config"] for m in metas}
    if len(confs) != 1:
        raise RuntimeError("cannot merge indexes built with different configs")
    cfg = BuildConfig.from_json(metas[0]["config"]).bm25

    # ---- merged corpus stats ------------------------------------------------
    n_docs = sum(int(m["n_docs"]) for m in metas)
    total_tokens = sum(int(m["total_tokens"]) for m in metas)
    avgdl = total_tokens / n_docs if n_docs else 0.0

    # ---- doc-range layout: disjoint ranges, merged in range order ---------
    files = [docs_files(d) for d in index_dirs]
    ranges = sorted(
        (min(f[0] for f in fs), max(f[1] for f in fs), sum(f[2] for f in fs), d)
        for d, fs in zip(index_dirs, files)
    )
    if sum(r[2] for r in ranges) != n_docs:
        raise RuntimeError("docs tables inconsistent with metas")
    for lo, hi in zip(ranges, ranges[1:]):
        if lo[1] >= hi[0]:
            raise ValueError(
                f"doc_id ranges overlap: {lo[3]} [{lo[0]}, {lo[1]}] and "
                f"{hi[3]} [{hi[0]}, {hi[1]}]"
            )
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
    elapsed["docs"] = round(time.time() - t0, 3)

    # ---- postings -----------------------------------------------------------
    t0 = time.time()
    posts = None
    for d in index_dirs:
        part = (
            spark.read.schema(codec.postings_spark_schema())
            .parquet(os.path.join(d, "postings"))
            .withColumn("seg", F.lit(seg_order[d]))
        )
        posts = part if posts is None else posts.unionByName(part)
    merged = _merge_ordered(posts, cfg.k1, cfg.b, avgdl)
    merged.write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))
    elapsed["postings"] = round(time.time() - t0, 3)

    # ---- dictionary (same shape + adaptive path as build.py) ----------------
    from localsearchengine_spark.operators.postings import write_dictionary

    t0 = time.time()
    write_dictionary(spark, os.path.join(out_dir, "postings"), os.path.join(out_dir, "dictionary"))
    elapsed["dictionary"] = round(time.time() - t0, 3)
    elapsed["total"] = round(time.time() - t_all, 3)

    meta = {
        "build_id": uuid.uuid4().hex[:12],
        "config": metas[0]["config"],
        "snapshot": "+".join(m["snapshot"] for m in metas),
        "status": "complete",
        "source": "merge:" + ",".join(index_dirs),
        "n_docs": n_docs,
        "total_tokens": total_tokens,
        "avgdl": avgdl,
        "num_partitions": int(metas[0]["num_partitions"]),
        "doc_id_high_water": max(next_doc_id(d) for d in index_dirs),
        "merged_from": len(index_dirs),
        "elapsed_s": elapsed,
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
    stays collision-free under repeated merges; each block's score bound is
    recomputed JVM-side from its (max_tf, min_dl) for the new avgdl."""
    from pyspark.sql import Window

    w = Window.partitionBy("term").orderBy("seg", "salt")
    return posts.select(
        "term",
        (F.row_number().over(w) - 1).cast("int").alias("salt"),
        "df",
        "cf",
        F.transform(
            "blocks",
            lambda blk: blk.withField(
                "tf_norm_max",
                tf_norm_column(blk["max_tf"], blk["min_dl"], F.lit(avgdl), k1, b),
            ),
        ).alias("blocks"),
    )
