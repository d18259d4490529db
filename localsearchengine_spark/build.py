"""Build orchestration: ``build_index`` / ``resume`` (SURVEY.md §3.1, §3.3).

Index layout on disk (Parquet locally; Iceberg tables in prod — io.py):

    index_dir/
      meta.json        build_id, BuildConfig, snapshot, N, avgdl, P, status,
                       hot_salts + salt_buckets (the salt rule), skew,
                       elapsed_s (the last run's stage walls)
      docs/            doc_id, conv_id, turn_idx, role, tool, ts, text
      postings/        part-{pid}.parquet — term, salt, df, cf, blocks
                       array<struct<n,max_doc_id,tf_norm_max,max_tf,min_dl,
                       doc_bytes,tf_bytes,dl_bytes,pos_bytes>>  (task-
                       written, A9; block layout declared once in
                       operators/codec.py; {pid} is the shuffle partition;
                       readers find a term's rows by term alone)
      dictionary/      term, df, cf
      manifest/        postings-{pid}.json lineage markers + stage markers

Resumability (A11, BASELINE.json:6 "per-partition lineage checkpoints for
resumable builds"): every posting shuffle partition commits its own segment
file + manifest marker atomically; ``resume`` re-runs only pending partitions
against the *same pinned input snapshot* and is a no-op on a finished build.

A build is a straight line: the docs stage writes the numbered doc store; N
is the docs files' footer row count; one analyzer pass emits packed postings
that are persisted and feed both the corpus stats / hot-term scan (a JVM
aggregate) and the salted encode (postings.py has the dataflow).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import SparkSession

from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators import postings as P_mod
from localsearchengine_spark.operators.docids import number_turns, range_turns
from localsearchengine_spark.operators.merge import docs_files
from localsearchengine_spark.sources.io import input_snapshot_id, scan_transcripts
from localsearchengine_spark.utils import atomic_write_json, read_json


@dataclass
class BuildReport:
    build_id: str
    n_docs: int = 0
    avgdl: float = 0.0
    total_tokens: int = 0
    num_partitions: int = 0
    partitions_built: int = 0
    partitions_skipped: int = 0
    hot_terms: int = 0
    elapsed_s: dict = field(default_factory=dict)
    skew: dict = field(default_factory=dict)


def _meta_path(d: str) -> str:
    return os.path.join(d, "meta.json")


def _docs_complete_marker(d: str) -> str:
    return os.path.join(d, "manifest", "docs-complete.json")


def _completed_pids(index_dir: str) -> set[int]:
    """Partitions whose manifest is backed by its postings file: the file
    exists with the manifest's byte size (an empty partition's manifest
    records 0 bytes and has no file).  Any other partition is rebuilt."""
    mdir = os.path.join(index_dir, "manifest")
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for f in os.listdir(mdir):
        if f.startswith("postings-") and f.endswith(".json"):
            pid = int(f[len("postings-"):-len(".json")])
            path = os.path.join(index_dir, "postings", f"part-{pid:05d}.parquet")
            size = os.path.getsize(path) if os.path.exists(path) else 0
            if size == int(read_json(os.path.join(mdir, f))["bytes"]):
                out.add(pid)
    return out


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def _tune_split_conf(spark: SparkSession, source: str) -> dict[str, str]:
    """Size parquet splits so the docs stage and the tokenize pass use every
    core.

    On a real cluster reading a 100 TB table the natural 128 MB splits give
    thousands of tasks and this is a no-op (the computed target caps at the
    default).  Locally the whole corpus can be a single small file — one
    split ⇒ the Arrow-UDF stages run at parallelism 1 regardless of cores.
    Returns the saved conf values so the caller can restore them.
    """
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = {k: spark.conf.get(k) for k in keys}
    par = spark.sparkContext.defaultParallelism
    total = _dir_bytes(source)
    if total == 0:  # non-filesystem source (e.g. iceberg:) — leave defaults
        return saved
    target = min(128 * 1024 * 1024, max(1024 * 1024, total // (par * 2)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    spark.conf.set("spark.sql.files.openCostInBytes", str(max(65536, target // 8)))
    return saved


def _restore_conf(spark: SparkSession, saved: dict[str, str]) -> None:
    for k, v in saved.items():
        spark.conf.set(k, v)


def _write_docstore(
    spark: SparkSession, source: str, index_dir: str, conf: BuildConfig,
    doc_id_base: int = 0, num_partitions: int = 0,
) -> None:
    """Docs stage: stable docIDs (A2) + column-pruned write — pure JVM, one
    range shuffle, no Python pass (corpus stats come from the emit).

    The numbered frame is written as it is: P files of disjoint, sorted
    doc_id ranges, so Index.fetch_docs prunes files by their min/max stats
    and even a one-file corpus gives the Arrow passes P splits.  The
    persisted turns are released even when the contiguity check raises."""
    cols = ("conv_id", "turn_idx", "role", "tool", "ts", "text")
    ranged = range_turns(scan_transcripts(spark, source).select(*cols),
                         num_partitions or conf.num_partitions)
    try:
        docs = number_turns(ranged, doc_id_base).select("doc_id", *cols)
        docs.write.mode("overwrite").parquet(os.path.join(index_dir, "docs"))
    finally:
        ranged.unpersist()


def build_index(
    spark: SparkSession,
    source: str,
    index_dir: str,
    conf: BuildConfig | None = None,
    build_id: str | None = None,
    doc_id_base: int = 0,
) -> BuildReport:
    """Full build; safe to call on a partially-built index (acts as resume
    when meta.json exists and the input snapshot is unchanged).

    ``doc_id_base`` offsets this index's doc_id space (incremental appends)."""
    conf = conf or BuildConfig()
    os.makedirs(os.path.join(index_dir, "manifest"), exist_ok=True)
    snapshot = input_snapshot_id(source)
    meta_p = _meta_path(index_dir)
    t_all = time.time()

    if os.path.exists(meta_p):
        meta = read_json(meta_p)
        if meta["snapshot"] != snapshot:
            raise RuntimeError(
                f"resume against changed input: snapshot {snapshot} != "
                f"pinned {meta['snapshot']} (A11: input must be identical)"
            )
        conf = BuildConfig.from_json(meta["config"])
        build_id = meta["build_id"]
    else:
        build_id = build_id or uuid.uuid4().hex[:12]
        meta = {
            "build_id": build_id,
            "config": conf.to_json(),
            "snapshot": snapshot,
            "status": "building",
            "source": source,
            "doc_id_base": int(doc_id_base),
        }
        atomic_write_json(meta_p, meta)
    doc_id_base = int(meta.get("doc_id_base", 0))

    done = _completed_pids(index_dir)
    if "hot_salts" in meta and "salt_buckets" not in meta and done:
        raise RuntimeError(
            f"cannot resume {index_dir}: its finished postings partitions "
            "were salted by an older rule (meta.json has hot_salts but no "
            "salt_buckets); delete the index directory and rebuild it"
        )

    report = BuildReport(build_id=build_id)
    P = conf.num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if "num_partitions" in meta:
        P = int(meta["num_partitions"])  # resume must reuse the pinned P
    report.num_partitions = P

    saved_split_conf = _tune_split_conf(spark, source)
    try:
        # ---- stage: docs write (A2, JVM) -----------------------------------
        t0 = time.time()
        if not os.path.exists(_docs_complete_marker(index_dir)):
            _write_docstore(spark, source, index_dir, conf, doc_id_base, num_partitions=P)
            meta["num_partitions"] = P
            atomic_write_json(meta_p, meta)
            atomic_write_json(_docs_complete_marker(index_dir), {"build_id": build_id})
        report.elapsed_s["docs"] = round(time.time() - t0, 3)

        # ---- one tokenize pass: emit, persisted for stats and encode (A4) --
        t0 = time.time()
        pending = sorted(set(range(P)) - done)
        report.partitions_skipped = len(done)
        # stats and the salt rule are recorded together; a meta from before
        # the rule was recorded gets both again (no partition is finished)
        do_stats = "salt_buckets" not in meta
        emitted = None
        if pending or do_stats:
            n_docs = sum(f[2] for f in docs_files(index_dir))
            docs = spark.read.parquet(os.path.join(index_dir, "docs"))
            emitted = P_mod.emit_postings(docs, conf, n_docs, doc_id_base).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        try:
            # ---- corpus stats + hot-term scan (A5, A7) ---------------------
            if do_stats:
                tok, hot = P_mod.stats_hot_scan(emitted, conf)
                meta.update(
                    {
                        "n_docs": n_docs,
                        "avgdl": (tok / n_docs if n_docs else 0.0),
                        "total_tokens": tok,
                        "hot_salts": hot,
                        "salt_buckets": P_mod.salt_buckets(conf, n_docs),
                    }
                )
                atomic_write_json(meta_p, meta)
            hot_salts = {k: int(v) for k, v in meta["hot_salts"].items()}
            report.n_docs = int(meta["n_docs"])
            report.avgdl = float(meta["avgdl"])
            report.total_tokens = int(meta["total_tokens"])
            report.hot_terms = len(hot_salts)
            report.elapsed_s["stats_hot_scan"] = round(time.time() - t0, 3)

            # ---- stage: salted shuffle build of compressed postings (A6-A9)
            t0 = time.time()
            if pending:
                P_mod.build_posting_partitions(
                    P_mod.salt_hot_terms(emitted, hot_salts, int(meta["salt_buckets"])),
                    conf=conf,
                    avgdl=report.avgdl,
                    num_partitions=P,
                    postings_dir=os.path.join(index_dir, "postings"),
                    manifest_dir=os.path.join(index_dir, "manifest"),
                    build_id=build_id,
                    pending=pending if done else None,
                )
                # the job succeeded ⇒ partitions with no data are complete-empty
                still = sorted(set(range(P)) - _completed_pids(index_dir))
                for pid in still:
                    atomic_write_json(
                        os.path.join(index_dir, "manifest", f"postings-{pid:05d}.json"),
                        {"build_id": build_id, "stage": "postings", "pid": pid,
                         "postings": 0, "terms": 0, "bytes": 0, "elapsed_s": 0.0,
                         "top_terms": []},
                    )
            report.partitions_built = len(pending)
            report.elapsed_s["postings"] = round(time.time() - t0, 3)
        finally:
            if emitted is not None:
                emitted.unpersist()
    finally:
        _restore_conf(spark, saved_split_conf)

    # ---- stage: dictionary (A14 support) + finalize ------------------------
    t0 = time.time()
    post_dir = os.path.join(index_dir, "postings")
    if any(f.endswith(".parquet") for f in os.listdir(post_dir)) if os.path.isdir(post_dir) else False:
        P_mod.write_dictionary(spark, post_dir, os.path.join(index_dir, "dictionary"))
    manifest_rows = [
        read_json(os.path.join(index_dir, "manifest", f))
        for f in sorted(os.listdir(os.path.join(index_dir, "manifest")))
        if f.startswith("postings-")
    ]
    report.skew = P_mod.skew_report(manifest_rows)
    report.elapsed_s["dictionary"] = round(time.time() - t0, 3)
    report.elapsed_s["total"] = round(time.time() - t_all, 3)
    meta["status"] = "complete"
    meta["skew"] = report.skew
    meta["elapsed_s"] = report.elapsed_s
    atomic_write_json(meta_p, meta)
    return report


def resume(spark: SparkSession, source: str, index_dir: str) -> BuildReport:
    """A11 — re-run only pending partitions; no-op on a finished build."""
    if not os.path.exists(_meta_path(index_dir)):
        raise RuntimeError(f"no build to resume at {index_dir}")
    return build_index(spark, source, index_dir)
