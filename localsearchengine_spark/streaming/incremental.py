"""Incremental indexing via Structured Streaming ``foreachBatch``.

The north rule (BASELINE.json:14) is a batch build + query engine, so this
is an *extension*: new transcript conversations arriving on a stream are
indexed as append segments and folded into the main index with the
declarative segment merge (A10).  Each micro-batch must contain whole
conversations (the deployment contract for the stream producer); its doc_ids
start one above every doc_id the live index has held (``merge.next_doc_id``:
the docs files' parquet footers, or the high-water mark ``delete.compact``
records), so segments stay disjoint and range-ordered, and a deleted doc's
id is never handed out again.

Exactly-once despite foreachBatch's at-least-once replay semantics:

* an **epoch ledger** (``applied_epochs`` in the live index's meta.json,
  written as part of the merged index *before* it is swapped in) records
  which epochs are already folded in — a replayed epoch that is present in
  the ledger is a no-op;
* the live-index swap is two renames with a **recovery step**: if a crash
  lands between them (live dir missing, ``.old`` present) the previous
  index is restored before any batch is processed, so no state is lost
  and the replay then applies cleanly.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from localsearchengine_spark.build import build_index
from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators.merge import merge_indexes, next_doc_id
from localsearchengine_spark.sources.io import TRANSCRIPTS_SCHEMA
from localsearchengine_spark.utils import atomic_write_json, read_json


def _mark_applied(index_dir: str, epochs: list[int]) -> None:
    meta_p = os.path.join(index_dir, "meta.json")
    meta = read_json(meta_p)
    meta["applied_epochs"] = [int(e) for e in epochs]
    atomic_write_json(meta_p, meta)


class IncrementalIndexer:
    """foreachBatch sink that appends micro-batches to a live index."""

    def __init__(self, spark: SparkSession, index_dir: str, work_dir: str,
                 conf: BuildConfig | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self.work_dir = work_dir
        self.conf = conf or BuildConfig()
        os.makedirs(work_dir, exist_ok=True)

    def _recover(self) -> None:
        """Restore the live index if a crash interrupted a previous swap
        between its two renames."""
        old = self.index_dir + ".old"
        if not os.path.exists(os.path.join(self.index_dir, "meta.json")) and \
                os.path.exists(os.path.join(old, "meta.json")):
            if os.path.exists(self.index_dir):
                shutil.rmtree(self.index_dir)
            os.rename(old, self.index_dir)

    def _applied_epochs(self) -> set[int]:
        meta_p = os.path.join(self.index_dir, "meta.json")
        if not os.path.exists(meta_p):
            return set()
        return {int(e) for e in read_json(meta_p).get("applied_epochs", [])}

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._recover()
        if int(epoch_id) in self._applied_epochs():
            return  # at-least-once replay of an epoch already folded in
        if batch_df.isEmpty():
            return
        staged = os.path.join(self.work_dir, f"batch-{epoch_id}")
        batch_df.write.mode("overwrite").parquet(staged)

        have_main = os.path.exists(os.path.join(self.index_dir, "meta.json"))
        base = next_doc_id(self.index_dir) if have_main else 0
        seg_dir = os.path.join(self.work_dir, f"seg-{epoch_id}")
        if os.path.exists(seg_dir):
            shutil.rmtree(seg_dir)  # epoch replay: rebuild deterministically
        build_index(self.spark, staged, seg_dir, self.conf, doc_id_base=base)

        if not have_main:
            _mark_applied(seg_dir, [epoch_id])
            shutil.move(seg_dir, self.index_dir)
            return
        merged = os.path.join(self.work_dir, f"merged-{epoch_id}")
        if os.path.exists(merged):
            shutil.rmtree(merged)
        merge_indexes(self.spark, [self.index_dir, seg_dir], merged)
        # ledger rides the merged index so the swap and the applied-marker
        # are one atomic unit: whichever dir is live knows its epochs
        _mark_applied(
            merged, sorted(self._applied_epochs() | {int(epoch_id)})
        )
        old = self.index_dir + ".old"
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(self.index_dir, old)
        os.rename(merged, self.index_dir)
        shutil.rmtree(old)
        shutil.rmtree(seg_dir)

    def start(self, stream_dir: str, checkpoint_dir: str):
        """readStream over a parquet drop directory → foreachBatch."""
        stream = (
            self.spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
