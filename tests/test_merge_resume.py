"""A10 merge, A11 resume, and build determinism across parallelism."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from localsearchengine_spark.build import build_index, resume
from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators.merge import merge_indexes
from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import (
    golden_queries,
    make_transcripts,
    write_transcripts_parquet,
)

CONF = BuildConfig(num_partitions=6, hot_df_threshold=300, block_size=64)


def _split_and_write(pdf, tmp):
    """Prefix split by conversation → two inputs with contiguous doc ranges."""
    convs = sorted(pdf["conv_id"].unique())
    a_set = set(convs[: len(convs) * 3 // 5])
    a = pdf[pdf["conv_id"].isin(a_set)].reset_index(drop=True)
    b = pdf[~pdf["conv_id"].isin(a_set)].reset_index(drop=True)
    pa_, pb_ = os.path.join(tmp, "a.parquet"), os.path.join(tmp, "b.parquet")
    write_transcripts_parquet(a, pa_)
    write_transcripts_parquet(b, pb_)
    return pa_, pb_, len(a), len(b)


def _query_all(index, queries):
    return {
        q["query_id"]: index.search(q["terms"], k=q["k"], mode="wand") for q in queries
    }


def test_merge_ordered_fast_path(spark, built_index, transcripts_small, tmp_path):
    """Prefix split ⇒ contiguous doc ranges ⇒ declarative merge; merged index
    must answer every golden query identically (bit-equal scores) to the
    single full build, because doc_ids line up with global conv order."""
    full_idx, _, pdf = built_index
    pa_, pb_, n_a, _ = _split_and_write(pdf, str(tmp_path))
    ia, ib = str(tmp_path / "ia"), str(tmp_path / "ib")
    build_index(spark, pa_, ia, CONF)
    build_index(spark, pb_, ib, CONF, doc_id_base=n_a)
    out = str(tmp_path / "merged")
    merge_indexes(spark, [ia, ib], out)
    queries = golden_queries()[::4]
    got = _query_all(Index(spark, out), queries)
    exp = _query_all(Index(spark, full_idx), queries)
    assert got == exp

    # merged docs/ holds exactly the inputs' rows ...
    def docs(d):
        return ds.dataset(os.path.join(d, "docs")).to_table().sort_by("doc_id")

    assert docs(out).equals(pa.concat_tables([docs(ia), docs(ib)]).sort_by("doc_id"))
    # ... in files of disjoint, sorted doc_id ranges (Index.fetch_docs prunes
    # files by their min/max, so overlapping files would read more)
    spans = []
    for name in sorted(os.listdir(os.path.join(out, "docs"))):
        ids = pq.read_table(os.path.join(out, "docs", name), columns=["doc_id"])
        ids = ids["doc_id"].to_numpy()
        assert len(ids) and (np.diff(ids) > 0).all(), name
        spans.append((int(ids[0]), int(ids[-1])))
    spans.sort()
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    # ... and owns its files: the merged index outlives its inputs
    shutil.rmtree(ia)
    shutil.rmtree(ib)
    merged = Index(spark, out)
    assert _query_all(merged, queries) == exp
    fetched = merged.fetch_docs([0, n_a - 1, n_a, len(pdf) - 1])
    assert [fetched[d]["text"] for d in sorted(fetched)] == [
        pdf.sort_values(["conv_id", "turn_idx"])["text"].iloc[i]
        for i in (0, n_a - 1, n_a, len(pdf) - 1)
    ]
    assert spark.read.parquet(os.path.join(out, "docs")).count() == len(pdf)


def test_merge_and_compact_record_their_own_stage_walls(spark, tmp_path):
    """A merged and a compacted meta each record their own stage walls under
    ``elapsed_s``, total included, rather than a source build's; the merged
    meta carries no salt rule (a merged index is never resumed)."""
    from localsearchengine_spark.operators.delete import compact, delete_docs
    from localsearchengine_spark.utils import read_json

    pa_, pb_, n_a, _ = _split_and_write(make_transcripts(300), str(tmp_path))
    ia, ib = str(tmp_path / "ia"), str(tmp_path / "ib")
    build_index(spark, pa_, ia, CONF)
    build_index(spark, pb_, ib, CONF, doc_id_base=n_a)
    merged, compacted = str(tmp_path / "merged"), str(tmp_path / "compacted")
    merge_indexes(spark, [ia, ib], merged)
    delete_docs(ia, range(0, n_a, 7))
    compact(spark, ia, compacted)
    metas = {d: read_json(os.path.join(d, "meta.json")) for d in (ia, merged, compacted)}
    stages = {
        merged: {"docs", "postings", "dictionary", "total"},
        compacted: {"stats", "docs", "postings", "dictionary", "total"},
    }
    for d, keys in stages.items():
        walls = metas[d]["elapsed_s"]
        assert set(walls) == keys, d
        assert max(walls.values()) == walls["total"], d
    assert "stats_hot_scan" in metas[ia]["elapsed_s"]
    assert not {"hot_salts", "salt_buckets", "merge_elapsed_s"} & set(metas[merged])


def test_merge_rejects_overlapping_ranges(spark, built_index, tmp_path):
    """Inputs whose doc_id ranges overlap are refused up front, before the
    output directory exists (no half-linked docs/ left behind)."""
    idx = built_index[0]
    out = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="overlap"):
        merge_indexes(spark, [idx, idx], out)
    assert not os.path.exists(out)


def _batch(spark, index, queries, mode):
    from localsearchengine_spark.operators.batch_query import run_queries

    got = {q["query_id"]: [] for q in queries}
    for r in run_queries(spark, index, queries, mode=mode).collect():
        got[r["query_id"]].append((r["doc_id"], r["score"]))
    return got


def test_old_postings_columns_open_merge_and_compact(spark, built_index, tmp_path):
    """Indexes whose postings rows still carry the dropped ``max_tf_norm``,
    ``n_blocks`` and ``pid`` columns answer ``run_queries`` like
    ``Index.search``, and merge (with a new segment) and compact into
    indexes that do too."""
    import pyarrow.compute as pc

    from localsearchengine_spark.operators.delete import compact, delete_docs

    full_idx, _, pdf = built_index
    pa_, pb_, n_a, _ = _split_and_write(pdf, str(tmp_path))
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    build_index(spark, pa_, old, CONF)
    build_index(spark, pb_, new, CONF, doc_id_base=n_a)
    pdir = os.path.join(old, "postings")
    for pid, name in enumerate(sorted(f for f in os.listdir(pdir) if f.endswith(".parquet"))):
        t = pq.read_table(os.path.join(pdir, name))
        max_norm = [max(b["tf_norm_max"] for b in blocks)
                    for blocks in t["blocks"].to_pylist()]
        t = (t.add_column(1, "pid", pa.array([pid] * t.num_rows, pa.int32()))
             .append_column("max_tf_norm", pa.array(max_norm, pa.float64()))
             .append_column("n_blocks", pc.list_value_length(t["blocks"]).cast(pa.int32())))
        pq.write_table(t, os.path.join(pdir, name), row_group_size=512)
    assert {"pid", "max_tf_norm", "n_blocks"} <= set(ds.dataset(pdir).schema.names)

    queries = golden_queries()[::4]

    def check(index_dir):
        index = Index(spark, index_dir)
        for mode in ("and", "or"):
            exp = {q["query_id"]: index.search(q["terms"], k=q["k"], mode=mode)
                   for q in queries}
            assert _batch(spark, index, queries, mode) == exp, (index_dir, mode)
        return exp

    check(old)
    merged = str(tmp_path / "merged")
    merge_indexes(spark, [old, new], merged)
    assert check(merged) == {q["query_id"]: Index(spark, full_idx).search(
        q["terms"], k=q["k"], mode="or") for q in queries}
    delete_docs(old, range(0, n_a, 5))
    compacted = str(tmp_path / "compacted")
    compact(spark, old, compacted)
    check(compacted)


@pytest.mark.parametrize("lost", ["file_and_manifest", "file_only"])
def test_resume_after_partial_failure(spark, transcripts_small, tmp_path, lost):
    """A partition whose postings file is gone is rebuilt, whether its
    manifest went with it or was left behind (a manifest alone must not
    count as a finished partition)."""
    path, _ = transcripts_small
    clean = str(tmp_path / "clean")
    build_index(spark, path, clean, CONF)
    hurt = str(tmp_path / "hurt")
    shutil.copytree(clean, hurt)
    for pid in (1, 4):
        os.remove(os.path.join(hurt, "postings", f"part-{pid:05d}.parquet"))
        if lost == "file_and_manifest":
            os.remove(os.path.join(hurt, "manifest", f"postings-{pid:05d}.json"))
    rep = resume(spark, path, hurt)
    assert rep.partitions_built == 2 and rep.partitions_skipped == 4
    queries = golden_queries()[::6]
    assert _query_all(Index(spark, hurt), queries) == _query_all(
        Index(spark, clean), queries
    )
    # idempotence: resuming a finished build is a no-op
    rep2 = resume(spark, path, hurt)
    assert rep2.partitions_built == 0


def test_resume_refuses_to_mix_salt_rules(spark, transcripts_small, tmp_path):
    """An index whose meta.json predates the recorded salt rule (hot_salts
    but no salt_buckets) and that has finished postings partitions is not
    resumed: its pending partitions would be salted by another rule.  With
    no finished partition, the resume builds them all under today's rule."""
    import json

    path, _ = transcripts_small
    clean = str(tmp_path / "clean")
    build_index(spark, path, clean, CONF)
    old = str(tmp_path / "old")
    shutil.copytree(clean, old)
    meta_p = os.path.join(old, "meta.json")
    with open(meta_p) as f:
        meta = json.load(f)
    del meta["salt_buckets"]
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    os.remove(os.path.join(old, "postings", "part-00001.parquet"))
    with pytest.raises(RuntimeError, match="delete the index directory and rebuild"):
        resume(spark, path, old)

    shutil.rmtree(os.path.join(old, "postings"))
    for name in os.listdir(os.path.join(old, "manifest")):
        if name.startswith("postings-"):
            os.remove(os.path.join(old, "manifest", name))
    rep = resume(spark, path, old)
    assert rep.partitions_built == CONF.num_partitions
    with open(meta_p) as f:
        assert json.load(f)["salt_buckets"] == 7  # ⌈2,000 / 300⌉ < 16 salts
    queries = golden_queries()[::6]
    assert _query_all(Index(spark, old), queries) == _query_all(
        Index(spark, clean), queries
    )


def test_build_determinism_across_parallelism(spark, transcripts_small, tmp_path):
    """SURVEY.md §5 determinism row: different shuffle parallelism ⇒ same
    dictionary and bit-identical query results (the design-carried guarantee
    Spark itself does not give)."""
    path, _ = transcripts_small
    i4 = str(tmp_path / "p4")
    i13 = str(tmp_path / "p13")
    build_index(spark, path, i4, BuildConfig(num_partitions=4, hot_df_threshold=300, block_size=64))
    build_index(spark, path, i13, BuildConfig(num_partitions=13, hot_df_threshold=300, block_size=64))
    d4 = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(i4, "dictionary")).collect()
    }
    d13 = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(os.path.join(i13, "dictionary")).collect()
    }
    assert d4 == d13
    queries = golden_queries()[::4]
    assert _query_all(Index(spark, i4), queries) == _query_all(Index(spark, i13), queries)


def test_postings_independent_of_arrow_batch_size(spark, transcripts_small, tmp_path):
    """Arrow batches of 7 rows split (term, salt) groups across the encode
    kernel's batches (the group is carried over) and repack the emitted
    rows: the postings must still equal a default-batch build's."""
    path, _ = transcripts_small
    pconf = BuildConfig(num_partitions=4, hot_df_threshold=300, block_size=16,
                        store_positions=True)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    build_index(spark, path, str(tmp_path / "default"), pconf)
    try:
        spark.conf.set(key, "7")
        build_index(spark, path, str(tmp_path / "small"), pconf)
    finally:
        spark.conf.set(key, saved)

    def postings(d):
        return pq.read_table(os.path.join(str(tmp_path / d), "postings"))

    got, exp = postings("small"), postings("default")
    assert got.num_rows > 0 and got.equals(exp)


def test_merge_positional(spark, transcripts_small, tmp_path):
    """Merge of POSITIONAL segments: the merged index must answer phrase
    queries identically to a single full positional build."""
    path, pdf = transcripts_small
    pconf = BuildConfig(num_partitions=4, hot_df_threshold=300, block_size=64,
                        store_positions=True)
    full = str(tmp_path / "pfull")
    build_index(spark, path, full, pconf)
    pa_, pb_, n_a, _ = _split_and_write(pdf, str(tmp_path))
    ia, ib = str(tmp_path / "pia"), str(tmp_path / "pib")
    build_index(spark, pa_, ia, pconf)
    build_index(spark, pb_, ib, pconf, doc_id_base=n_a)
    out = str(tmp_path / "pmerged")
    merge_indexes(spark, [ia, ib], out)
    mi, fi = Index(spark, out), Index(spark, full)
    for q in ('"the small batch"', '"fast scan"', '"join order" -dup', "spark"):
        assert mi.search(q, k=15, mode="wand") == fi.search(q, k=15, mode="wand"), q


def test_reorder_positions_scrambled():
    """The position gather must be correct under a genuinely out-of-order
    permutation (packed chunks reach the build's encoder in any order)."""
    from localsearchengine_spark.operators.codec import reorder_positions

    rng = np.random.default_rng(7)
    tfs = rng.integers(1, 5, size=50).astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(tfs)))[:-1]
    flat = np.arange(int(tfs.sum()), dtype=np.int64)
    order = rng.permutation(50)
    got = reorder_positions(flat, starts, tfs, order)
    exp = np.concatenate([flat[starts[i]: starts[i] + tfs[i]] for i in order])
    assert (got == exp).all()
