"""Structured-Streaming incremental indexing (streaming/incremental.py)."""

from __future__ import annotations

import os

import pytest

from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import (
    golden_queries,
    make_transcripts,
    write_transcripts_parquet,
)
from localsearchengine_spark.streaming.incremental import IncrementalIndexer
from localsearchengine_spark.config import BuildConfig


def test_incremental_stream_equals_full_build(spark, built_index, tmp_path):
    full_idx, _, pdf = built_index
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    convs = sorted(pdf["conv_id"].unique())
    # 3 micro-batches of whole conversations, in conv order (append contract)
    cuts = [0, len(convs) // 3, 2 * len(convs) // 3, len(convs)]
    for i in range(3):
        part = pdf[pdf["conv_id"].isin(set(convs[cuts[i]:cuts[i + 1]]))]
        write_transcripts_parquet(
            part.reset_index(drop=True), os.path.join(stream_dir, f"b{i}.parquet")
        )
    live = str(tmp_path / "live_index")
    ix = IncrementalIndexer(
        spark, live, str(tmp_path / "work"),
        BuildConfig(num_partitions=6, hot_df_threshold=300, block_size=64),
    )
    q = ix.start(stream_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    queries = golden_queries()[::5]
    got = {
        qd["query_id"]: Index(spark, live).search(qd["terms"], k=qd["k"], mode="wand")
        for qd in queries
    }
    exp = {
        qd["query_id"]: Index(spark, full_idx).search(qd["terms"], k=qd["k"], mode="wand")
        for qd in queries
    }
    assert got == exp


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running an epoch already folded
    into the live index must be a no-op (epoch ledger in meta.json)."""
    import numpy as np
    import pandas as pd

    from localsearchengine_spark.config import BuildConfig
    from localsearchengine_spark.operators.search import Index
    from localsearchengine_spark.streaming.incremental import IncrementalIndexer
    from localsearchengine_spark.utils import read_json

    def batch_df(seed, n):
        from localsearchengine_spark.sources.fixtures import make_transcripts
        return spark.createDataFrame(make_transcripts(n, seed=seed))

    ix = IncrementalIndexer(
        spark, str(tmp_path / "live"), str(tmp_path / "work"),
        BuildConfig(num_partitions=4, hot_df_threshold=10**9),
    )
    ix.process_batch(batch_df(1, 300), epoch_id=0)
    ix.process_batch(batch_df(2, 200), epoch_id=1)
    meta1 = read_json(str(tmp_path / "live" / "meta.json"))
    hits1 = Index(spark, str(tmp_path / "live")).search("spark join", 10, "or")
    # replay epoch 1 (same data): must change nothing
    ix.process_batch(batch_df(2, 200), epoch_id=1)
    meta2 = read_json(str(tmp_path / "live" / "meta.json"))
    assert meta2["n_docs"] == meta1["n_docs"] == 500
    assert meta2["applied_epochs"] == meta1["applied_epochs"]
    assert Index(spark, str(tmp_path / "live")).search("spark join", 10, "or") == hits1


def test_interrupted_swap_recovers(spark, tmp_path):
    """Crash between the two swap renames: live dir gone, .old present —
    the next batch must restore the previous index, not install the new
    micro-batch as the whole corpus."""
    import os
    import shutil

    from localsearchengine_spark.config import BuildConfig
    from localsearchengine_spark.sources.fixtures import make_transcripts
    from localsearchengine_spark.streaming.incremental import IncrementalIndexer
    from localsearchengine_spark.utils import read_json

    live = str(tmp_path / "live")
    ix = IncrementalIndexer(
        spark, live, str(tmp_path / "work"),
        BuildConfig(num_partitions=4, hot_df_threshold=10**9),
    )
    ix.process_batch(spark.createDataFrame(make_transcripts(300, seed=1)), epoch_id=0)
    # simulate the crash window: live renamed away, replacement not yet in
    os.rename(live, live + ".old")
    ix.process_batch(spark.createDataFrame(make_transcripts(100, seed=3)), epoch_id=1)
    meta = read_json(os.path.join(live, "meta.json"))
    assert meta["n_docs"] == 400  # 300 recovered + 100 appended, not 100


def test_builds_and_appends_leave_no_cached_frames(spark, tmp_path):
    """The docs stage persists the range-partitioned turns (text included)
    to number them; every build — each micro-batch's segment build too —
    must release them, also when the contiguity check rejects the input.
    A leak would pin one cached frame per batch for the session's life."""
    from localsearchengine_spark.build import build_index

    def persistent_rdds_empty():
        return spark.sparkContext._jsc.getPersistentRDDs().isEmpty()

    spark.catalog.clearCache()  # direct assign_doc_ids callers own their caches
    conf = BuildConfig(num_partitions=4, hot_df_threshold=10**9)
    for seed in (1, 2):
        src = str(tmp_path / f"t{seed}.parquet")
        write_transcripts_parquet(make_transcripts(200, seed=seed), src)
        build_index(spark, src, str(tmp_path / f"idx{seed}"), conf)
    assert persistent_rdds_empty()
    ix = IncrementalIndexer(spark, str(tmp_path / "idx1"), str(tmp_path / "work"), conf)
    ix.process_batch(spark.createDataFrame(make_transcripts(100, seed=3)), epoch_id=0)
    assert persistent_rdds_empty()

    bad = make_transcripts(100, seed=4)
    bad.loc[0, "turn_idx"] += 1000  # a gap (or a non-zero start) in one conversation
    src = str(tmp_path / "bad.parquet")
    write_transcripts_parquet(bad, src)
    with pytest.raises(ValueError, match="contiguous"):
        build_index(spark, src, str(tmp_path / "idx_bad"), conf)
    assert persistent_rdds_empty()


@pytest.mark.parametrize("deleted", [
    pytest.param(lambda n: range(10, 40), id="ids_10_39"),
    pytest.param(lambda n: range(n - 10, n), id="top_10_ids"),
])
def test_append_after_compaction(spark, tmp_path, deleted):
    """`delete.compact` keeps doc_ids, so the live ids are sparse afterwards
    (n_docs < 1 + the largest id).  The next append must still number its
    batch above every id the index held: numbering from n_docs overlaps the
    survivors' range and the merge cannot take the batch, and numbering
    from the survivors' largest id hands the deleted top ids to new docs."""
    import numpy as np
    import pyarrow.dataset as ds

    from localsearchengine_spark.build import build_index
    from localsearchengine_spark.operators.delete import compact, delete_docs
    from localsearchengine_spark.utils import read_json

    pdf = make_transcripts(600)
    convs = sorted(pdf["conv_id"].unique())
    first = pdf["conv_id"].isin(set(convs[: len(convs) // 2]))
    a, b = pdf[first].reset_index(drop=True), pdf[~first].reset_index(drop=True)
    src = str(tmp_path / "a.parquet")
    write_transcripts_parquet(a, src)
    conf = BuildConfig(num_partitions=4, hot_df_threshold=10**9)
    built, live = str(tmp_path / "built"), str(tmp_path / "live")
    build_index(spark, src, built, conf)
    gone = list(deleted(len(a)))
    delete_docs(built, gone)
    compact(spark, built, live)

    ix = IncrementalIndexer(spark, live, str(tmp_path / "work"), conf)
    ix.process_batch(spark.createDataFrame(b), epoch_id=0)
    ids = ds.dataset(os.path.join(live, "docs")).to_table(columns=["doc_id"])
    ids = ids["doc_id"].to_numpy()
    assert len(np.unique(ids)) == len(ids)
    assert not np.isin(gone, ids).any()
    assert len(ids) == len(a) - len(gone) + len(b)
    assert ids.max() == len(a) + len(b) - 1
    assert read_json(os.path.join(live, "meta.json"))["doc_id_high_water"] == len(a) + len(b)
