"""A22 — tombstone deletes + compaction vs the independent oracle.

Two-phase semantics under test:
  * tombstones only: deleted docs vanish from results, scores of surviving
    docs are UNCHANGED (stats stay as-built — the Lucene analogy);
  * after compact: the index scores exactly like one built over the
    surviving corpus with the same docIDs (stats recomputed), per the
    brute-force oracle.
"""

from __future__ import annotations

import shutil

import numpy as np
import pytest

from localsearchengine_spark.operators.batch_query import run_queries
from localsearchengine_spark.operators.delete import compact, delete_docs, load_tombstones
from localsearchengine_spark.operators.search import Index
from tests.oracle import oracle_search

TERMS = ["merge", "small"]


@pytest.fixture()
def deletable_index(built_index, tmp_path):
    """A private copy of the shared index — tombstones must not leak into
    other tests' fixture."""
    idx_dir, _, pdf = built_index
    dst = str(tmp_path / "idx_copy")
    shutil.copytree(idx_dir, dst)
    return dst, pdf


def test_tombstones_mask_results_not_scores(spark, deletable_index):
    idx_dir, _ = deletable_index
    base = Index(spark, idx_dir)
    before = {m: base.search(TERMS, k=30, mode=m) for m in ("and", "or", "wand")}
    victims = [d for d, _ in before["or"][:5]]
    assert delete_docs(idx_dir, victims) == len(victims)
    assert load_tombstones(idx_dir).tolist() == sorted(victims)

    after = Index(spark, idx_dir)  # fresh handle sees the tombstones
    dead = set(victims)
    for m in ("and", "or", "wand"):
        got = after.search(TERMS, k=10, mode=m)
        exp = [(d, s) for d, s in before[m] if d not in dead][:10]
        assert [d for d, _ in got] == [d for d, _ in exp], m
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in exp], atol=0, rtol=0
        )


def test_reload_tombstones_on_live_handle(spark, deletable_index):
    idx_dir, _ = deletable_index
    index = Index(spark, idx_dir)
    top = index.search(TERMS, k=3, mode="wand")
    delete_docs(idx_dir, [top[0][0]])
    # the live handle cached postings before the delete — reload required
    assert index.reload_tombstones() == 1
    assert top[0][0] not in [d for d, _ in index.search(TERMS, k=10, mode="wand")]


@pytest.mark.parametrize("mode", ["and", "or"], ids=["and-None", "or-False"])
def test_batch_paths_exclude_deleted(spark, deletable_index, mode):
    idx_dir, _ = deletable_index
    base = Index(spark, idx_dir)
    q = [{"query_id": 0, "terms": TERMS, "k": 8}]
    wide = run_queries(spark, base, [{**q[0], "k": 20}], mode=mode).collect()
    ranked = [(int(r["doc_id"]), float(r["score"])) for r in sorted(wide, key=lambda r: r["rank"])]
    victims = [d for d, _ in ranked[:3]]
    delete_docs(idx_dir, victims)

    index = Index(spark, idx_dir)
    got = run_queries(spark, index, q, mode=mode).collect()
    got = [(int(r["doc_id"]), float(r["score"])) for r in sorted(got, key=lambda r: r["rank"])]
    exp = [(d, s) for d, s in ranked if d not in set(victims)][:8]
    assert got == exp


def test_compact_recomputes_stats_and_matches_oracle(spark, deletable_index, tmp_path):
    idx_dir, pdf = deletable_index
    texts = pdf["text"].tolist()
    victims = [i for i in range(len(texts)) if i % 7 == 3]
    delete_docs(idx_dir, victims)
    out = str(tmp_path / "compacted")
    rep = compact(spark, idx_dir, out)
    assert rep["deleted_docs"] == len(victims)
    assert rep["n_docs"] == len(texts) - len(victims)

    cidx = Index(spark, out)
    assert cidx.n_docs == rep["n_docs"]
    assert len(cidx.tombstones) == 0
    surviving = [(i, t) for i, t in enumerate(texts) if i % 7 != 3]
    for mode in ("and", "or", "wand"):
        got = cidx.search(TERMS, k=12, mode=mode)
        exp = oracle_search(surviving, TERMS, k=12, mode="and" if mode == "and" else "or")
        assert [d for d, _ in got] == [d for d, _ in exp], mode
        np.testing.assert_allclose(
            [s for _, s in got], [s for _, s in exp], atol=1e-9, rtol=0
        )
    # distributed path over the compacted index agrees too
    out_rows = run_queries(
        spark, cidx, [{"query_id": 0, "terms": TERMS, "k": 12}], mode="or"
    ).collect()
    got = [(int(r["doc_id"]), float(r["score"])) for r in sorted(out_rows, key=lambda r: r["rank"])]
    exp = oracle_search(surviving, TERMS, k=12, mode="or")
    assert [d for d, _ in got] == [d for d, _ in exp]
    np.testing.assert_allclose([s for _, s in got], [s for _, s in exp], atol=1e-9, rtol=0)


def test_compact_guards(spark, deletable_index, tmp_path):
    idx_dir, pdf = deletable_index
    delete_docs(idx_dir, range(len(pdf)))
    with pytest.raises(ValueError, match="every document"):
        compact(spark, idx_dir, str(tmp_path / "nope"))


def test_merge_carries_tombstones(spark, built_index, transcripts_small, tmp_path):
    """Merging segments must never resurrect a deleted doc: input tombstones
    union into the merged index, whose searches keep excluding them."""
    from localsearchengine_spark.build import build_index
    from localsearchengine_spark.config import BuildConfig
    from localsearchengine_spark.operators.merge import merge_indexes
    from tests.test_merge_resume import _split_and_write

    _, _, pdf = built_index
    pa_, pb_, n_a, _ = _split_and_write(pdf, str(tmp_path))
    ia, ib = str(tmp_path / "ia"), str(tmp_path / "ib")
    conf = BuildConfig(num_partitions=8, hot_df_threshold=300, block_size=64)
    build_index(spark, pa_, ia, conf)
    build_index(spark, pb_, ib, conf, doc_id_base=n_a)
    top = Index(spark, ia).search(TERMS, k=3, mode="or")
    victims = [d for d, _ in top[:2]]
    delete_docs(ia, victims)
    out = str(tmp_path / "merged")
    merge_indexes(spark, [ia, ib], out)
    assert load_tombstones(out).tolist() == sorted(victims)
    merged = Index(spark, out)
    hits = merged.search(TERMS, k=20, mode="or")
    assert not set(victims) & {d for d, _ in hits}


def test_compact_positional_index_keeps_phrases(spark, tmp_path):
    """Compaction of a positional index: surviving postings keep their
    position runs, so phrase queries still work and still exclude the
    compacted-away docs."""
    import os

    import pandas as pd

    from localsearchengine_spark.build import build_index
    from localsearchengine_spark.config import BuildConfig
    from localsearchengine_spark.sources.fixtures import write_transcripts_parquet

    rows = [
        "spark sql engine runs fast",        # 0 (deleted)
        "sql spark engine is slow",          # 1
        "the spark sql optimizer",           # 2
        "spark and sql and spark sql",       # 3
        "engine fast slow",                  # 4
        "spark sql spark sql spark sql",     # 5 (deleted)
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:03d}" for i in range(len(rows))],
            "turn_idx": np.zeros(len(rows), dtype=np.int32),
            "role": ["user"] * len(rows),
            "text": rows,
            "tool": [""] * len(rows),
            "ts": pd.Timestamp("2025-01-01"),
        }
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    write_transcripts_parquet(pdf, src + "/t.parquet")
    idx = str(tmp_path / "idx")
    build_index(
        spark, src, idx,
        BuildConfig(num_partitions=4, store_positions=True, block_size=4),
    )
    delete_docs(idx, [0, 5])
    out = str(tmp_path / "compacted")
    rep = compact(spark, idx, out)
    assert rep["n_docs"] == 4

    cidx = Index(spark, out)
    assert {d for d, _ in cidx.search('"spark sql"', k=10)} == {2, 3}
    assert {d for d, _ in cidx.search('"sql spark"', k=10)} == {1}
    assert cidx.search('"spark sql engine"', k=10) == []  # only doc 0 had it
    # position integrity on a survivor: doc 3 "spark and sql and spark sql"
    tp = cidx.fetch_postings(["spark"])["spark"]
    pos = tp.positions_for(np.array([3], dtype=np.int64))
    assert pos[3].tolist() == [0, 4]
