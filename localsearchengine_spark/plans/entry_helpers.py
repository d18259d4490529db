"""Helpers for the driver contract (__spark_entry__.py).

The driver's tables (TESTDATA.md) have a ``documents`` corpus; the engine's
native input shape is the transcripts table (BASELINE.json:15).  The adapter
below maps documents → single-turn transcripts so the flagship query runs the
*real* engine (build → compressed postings → BM25 top-k) end-to-end on
driver-provided data.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localsearchengine_spark.build import build_index
from localsearchengine_spark.config import BuildConfig

# All fixture corpora / indexes built for the driver contract live under ONE
# per-process work root, removed at interpreter exit (round-2 verdict #7:
# repeated driver runs must not accumulate /tmp/lse_* dirs).  Overridable so
# a long-lived service can point it at a wipeable scratch volume.
_WORK_ROOT: str | None = None


def _workdir(prefix: str) -> str:
    global _WORK_ROOT
    if _WORK_ROOT is None:
        _WORK_ROOT = tempfile.mkdtemp(
            prefix="lse_work_", dir=os.environ.get("LSE_WORK_DIR")
        )
        atexit.register(shutil.rmtree, _WORK_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_WORK_ROOT)


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return docs.select(
        F.format_string("doc%012d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("ts"),
    )


_INDEX_CACHE: dict[tuple[str, bool], str] = {}


def ensure_documents_index(
    spark: SparkSession, sf_dir: str, positions: bool = False
) -> str:
    """Build (once per process) an index over the sf_dir documents corpus.

    With documents mapped to conv_id "doc%012d" and turn_idx 0, the engine's
    dense deterministic doc_id equals the source ``doc_id`` — asserted here.
    ``positions=True`` builds a separate positional index (phrase queries).
    """
    key = (os.path.abspath(sf_dir), positions)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    src = _workdir("lse_corpus_")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    rng = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if not (rng["lo"] == 0 and rng["hi"] == rng["n"] - 1):
        raise ValueError(
            "documents.doc_id must be dense 0..N-1 for engine docIDs to "
            f"equal source doc_ids (got min={rng['lo']}, max={rng['hi']}, n={rng['n']})"
        )
    documents_as_transcripts(spark, sf_dir).write.mode("overwrite").parquet(src)
    idx_dir = _workdir("lse_index_")
    conf = BuildConfig(
        num_partitions=8, hot_df_threshold=2000, block_size=128,
        store_positions=positions,
    )
    build_index(spark, src, idx_dir, conf)
    _INDEX_CACHE[key] = idx_dir
    return idx_dir


_SPELL_CACHE: set[str] = set()


def ensure_spell_index(spark: SparkSession, sf_dir: str) -> str:
    """Documents index + its optional symmetric-delete ``spellings``
    component (A33), built once per process."""
    from localsearchengine_spark.operators.spell import build_spell_index

    idx_dir = ensure_documents_index(spark, sf_dir)
    if idx_dir not in _SPELL_CACHE:
        build_spell_index(spark, idx_dir)
        _SPELL_CACHE.add(idx_dir)
    return idx_dir


_MERGED_CACHE: dict[str, str] = {}


def ensure_merged_documents_index(spark: SparkSession, sf_dir: str) -> str:
    """Half-corpus builds + distributed segment merge (A10), driver-checked.

    The corpus is split at doc_id = N/2; each half is built as its own
    complete index with ``doc_id_base`` pinning its global doc_id range
    (disjoint ranges, exactly the incremental-append layout A10 merges),
    then ``merge_indexes`` combines them.  Queries over the merged index
    must therefore match the same whole-corpus oracle as a single build —
    merge ∘ build ≡ build."""
    from localsearchengine_spark.operators.merge import merge_indexes

    key = os.path.abspath(sf_dir)
    if key in _MERGED_CACHE:
        return _MERGED_CACHE[key]
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = docs.count()
    half = n // 2
    conf = BuildConfig(num_partitions=8, hot_df_threshold=2000, block_size=128)
    part_dirs = []
    for lo, hi, base in ((0, half, 0), (half, n, half)):
        src = _workdir(f"lse_half_{base}_")
        documents_as_transcripts(spark, sf_dir).filter(
            (F.col("conv_id") >= F.format_string("doc%012d", F.lit(lo)))
            & (F.col("conv_id") < F.format_string("doc%012d", F.lit(hi)))
        ).write.mode("overwrite").parquet(src)
        idx = _workdir(f"lse_halfidx_{base}_")
        build_index(spark, src, idx, conf, doc_id_base=base)
        part_dirs.append(idx)
    out = _workdir("lse_merged_")
    merge_indexes(spark, part_dirs, out)
    _MERGED_CACHE[key] = out
    return out


_STREAMED_CACHE: dict[str, str] = {}


def ensure_streamed_documents_index(spark: SparkSession, sf_dir: str) -> str:
    """Structured-Streaming incremental build (streaming/incremental.py),
    driver-checked: the corpus arrives as 3 conv-ordered micro-batches on a
    file stream; each is built as an append segment (doc_id_base = corpus
    size so far) and folded in with the ordered merge.  The live index must
    answer queries identically to a batch build over the whole corpus —
    i.e. match the same SQL oracle."""
    from localsearchengine_spark.streaming.incremental import IncrementalIndexer

    key = os.path.abspath(sf_dir)
    if key in _STREAMED_CACHE:
        return _STREAMED_CACHE[key]
    from localsearchengine_spark.sources.fixtures import write_transcripts_parquet

    work = _workdir("lse_stream_")
    stream_dir = os.path.join(work, "drops")
    os.makedirs(stream_dir)
    # single parquet FILE per micro-batch (b0 < b1 < b2 in both mtime and
    # path order — the stream's (timestamp, path) pickup order is the
    # conv-append contract)
    pdf = documents_as_transcripts(spark, sf_dir).orderBy("conv_id").toPandas()
    n = len(pdf)
    cuts = [0, n // 3, 2 * n // 3, n]
    import time as _time

    now = _time.time()
    for i in range(3):
        path = os.path.join(stream_dir, f"b{i}.parquet")
        write_transcripts_parquet(
            pdf.iloc[cuts[i]:cuts[i + 1]].reset_index(drop=True), path
        )
        # FileStreamSource orders pending files by timestamp with ms
        # granularity; back-to-back writes can tie, so pin strictly
        # increasing mtimes to make the batch order deterministic
        os.utime(path, (now + i, now + i))
    live = os.path.join(work, "live_index")
    ix = IncrementalIndexer(
        spark, live, os.path.join(work, "work"),
        BuildConfig(num_partitions=8, hot_df_threshold=2000, block_size=128),
    )
    q = ix.start(stream_dir, os.path.join(work, "ckpt"))
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("incremental stream did not finish within 600s")
    _STREAMED_CACHE[key] = live
    return live


_RESUMED_CACHE: dict[str, str] = {}


def ensure_resumed_documents_index(spark: SparkSession, sf_dir: str) -> str:
    """Kill/resume lineage checkpoints (A11), driver-checked: build, delete
    a subset of posting partition files + their manifest markers (simulating
    task loss mid-build), ``resume`` against the same pinned input, and hand
    the repaired index to the caller.  Queries over it must match the same
    whole-corpus oracle as an uninterrupted build."""
    import glob

    from localsearchengine_spark.build import resume

    key = os.path.abspath(sf_dir)
    if key in _RESUMED_CACHE:
        return _RESUMED_CACHE[key]
    src = _workdir("lse_corpus_r_")
    documents_as_transcripts(spark, sf_dir).write.mode("overwrite").parquet(src)
    idx = _workdir("lse_residx_")
    conf = BuildConfig(num_partitions=8, hot_df_threshold=2000, block_size=128)
    build_index(spark, src, idx, conf)
    # simulate losing 3 of the 8 posting partitions (files + lineage markers)
    victims = [0, 3, 7]
    killed = 0
    for pid in victims:
        for path in (
            os.path.join(idx, "postings", f"part-{pid:05d}.parquet"),
            os.path.join(idx, "manifest", f"postings-{pid:05d}.json"),
        ):
            if os.path.exists(path):
                os.remove(path)
                killed += 1
    if not killed:
        raise RuntimeError("resume fixture: no partition files found to delete")
    # meta says complete; flip it back to building as a mid-build kill would
    import json

    meta_p = os.path.join(idx, "meta.json")
    with open(meta_p) as f:
        meta = json.load(f)
    meta["status"] = "building"
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    report = resume(spark, src, idx)
    if report.partitions_built != len(victims):
        raise RuntimeError(
            f"resume rebuilt {report.partitions_built} partitions, expected {len(victims)}"
        )
    if glob.glob(os.path.join(idx, "postings", "part-*.parquet.tmp*")):
        raise RuntimeError("resume left temp files behind")
    _RESUMED_CACHE[key] = idx
    return idx


_COMPACT_CACHE: dict[str, str] = {}


def ensure_compacted_documents_index(
    spark: SparkSession, sf_dir: str, pred_mod: int = 7, pred_rem: int = 3
) -> str:
    """fts12 fixture: a PRIVATE copy of the documents index (tombstones on
    the shared cached index would leak deletions into every other fts row),
    with doc_id % pred_mod == pred_rem tombstoned and then compacted.  The
    compacted index keeps the surviving source doc_ids, so the driver's SQL
    oracle is the plain BM25 oracle over the predicate-filtered corpus."""
    from localsearchengine_spark.operators.delete import compact, delete_docs

    key = os.path.abspath(sf_dir)
    if key in _COMPACT_CACHE:
        return _COMPACT_CACHE[key]
    base = ensure_documents_index(spark, sf_dir)
    work = _workdir("lse_delidx_")
    shutil.rmtree(work)
    shutil.copytree(base, work)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    victims = [
        int(r["doc_id"])
        for r in docs.filter(F.col("doc_id") % pred_mod == pred_rem)
        .select("doc_id")
        .collect()
    ]
    delete_docs(work, victims)
    out = _workdir("lse_compacted_")
    compact(spark, work, out)
    _COMPACT_CACHE[key] = out
    return out
