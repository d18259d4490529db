"""A20 — distributed batch query evaluation vs the independent oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from localsearchengine_spark.operators.batch_query import run_queries
from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import golden_queries
from tests.oracle import oracle_search


@pytest.mark.parametrize("mode", ["and", "or"], ids=["and", "or-generic"])
def test_distributed_matches_oracle(spark, built_index, mode):
    idx_dir, _, pdf = built_index
    index = Index(spark, idx_dir)
    docs = list(enumerate(pdf["text"].tolist()))
    queries = golden_queries()[::5]  # every 5th → 10 queries, keeps runtime sane
    out = run_queries(spark, index, queries, mode=mode).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    for q in queries:
        exp = oracle_search(docs, q["terms"], k=q["k"], mode=mode)
        got = sorted(by_q.get(q["query_id"], []))
        assert [g[1] for g in got] == [d for d, _ in exp], (
            f"query {q['query_id']} terms={q['terms']} mode={mode}"
        )
        np.testing.assert_allclose(
            [g[2] for g in got], [s for _, s in exp], atol=1e-9, rtol=0
        )


def test_distributed_matches_driver_local(spark, built_index):
    """The distributed and driver-local paths agree bit for bit in both
    modes: both fold each doc's contributions in sorted term order (§2.4)."""
    idx_dir, _, _ = built_index
    index = Index(spark, idx_dir)
    queries = [q for q in golden_queries() if len(q["terms"]) >= 2][:5]
    for mode in ("and", "or"):
        out = run_queries(spark, index, queries, mode=mode).collect()
        by_q: dict[int, list] = {}
        for r in out:
            by_q.setdefault(int(r["query_id"]), []).append(
                (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            )
        for q in queries:
            local = index.search(q["terms"], k=q["k"], mode=mode)
            got = [(d, s) for _, d, s in sorted(by_q.get(q["query_id"], []))]
            assert got == [(d, s) for d, s in local], f"query {q['query_id']} mode={mode}"


def test_wide_and_mixed_k_batch_matches_driver_local(spark, built_index):
    """One batch whose queries span 1 to 7 fold slots and whose per-query k
    sits below the batch's largest k: each query returns exactly its own
    min(k, matches) rows, bit-equal to the driver-local search."""
    idx_dir, _, _ = built_index
    index = Index(spark, idx_dir)
    queries = [
        {"query_id": 0, "terms": ["term00001"], "k": 3},  # 2 matching docs
        {"query_id": 1, "terms": ["spark", "join", "merge", "small", "query", "index", "data"],
         "k": 10},
        {"query_id": 2, "terms": ["merge", "term"], "k": 25},
    ]
    for mode in ("and", "or"):
        out = run_queries(spark, index, queries, mode=mode).collect()
        for q in queries:
            got = [
                (int(r["doc_id"]), float(r["score"]))
                for r in sorted(out, key=lambda r: r["rank"])
                if r["query_id"] == q["query_id"]
            ]
            local = index.search(q["terms"], k=q["k"], mode=mode)
            matches = len(index.search(q["terms"], k=index.n_docs, mode=mode))
            assert len(got) == min(q["k"], matches), f"query {q['query_id']} mode={mode}"
            assert got == [(d, s) for d, s in local], f"query {q['query_id']} mode={mode}"


def test_batch_scores_bit_identical_across_shuffle_partitions(spark, built_index):
    """The §2.4 determinism contract now extends to the distributed batch
    path: per-(query,doc) contributions fold in sorted term order, so the
    float64 scores must be BIT-identical (not just close) when the same
    query set runs under different shuffle parallelism."""
    from localsearchengine_spark.operators.batch_query import run_queries
    from localsearchengine_spark.operators.search import Index
    from localsearchengine_spark.sources.fixtures import golden_queries

    idx_dir, _, _ = built_index
    index = Index(spark, idx_dir)
    golden = golden_queries()[::5]
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
             for r in run_queries(spark, index, golden, mode="and").collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
             for r in run_queries(spark, index, golden, mode="and").collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert a == b  # exact float equality, including scores


def test_doc_filter_restricts_without_rescoring(spark, built_index):
    """doc_filter semantics: results are exactly the unfiltered ranking with
    non-matching docs removed — same scores (whole-corpus stats), re-ranked
    among survivors."""
    idx_dir, _, _ = built_index
    index = Index(spark, idx_dir)
    q = [{"query_id": 0, "terms": ["merge", "small"], "k": 8}]
    wide = run_queries(spark, index, [{**q[0], "k": 50}], mode="or").collect()
    ranked = [
        (int(r["doc_id"]), float(r["score"]))
        for r in sorted(wide, key=lambda r: r["rank"])
    ]
    keep = spark.range(0, 2000, 3).select(F.col("id").alias("doc_id"))  # doc_id % 3 == 0
    got_rows = run_queries(spark, index, q, mode="or", doc_filter=keep).collect()
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in sorted(got_rows, key=lambda r: r["rank"])
    ]
    exp = [(d, s) for d, s in ranked if d % 3 == 0][:8]
    assert got == exp


def test_batch_exclusions_match_driver_local(spark, built_index):
    """Multi-term exclusion in the batch path ≡ the driver-local query
    language ("a b -x -y"): same docs, bit-equal scores, in both modes."""
    idx_dir, _, _ = built_index
    index = Index(spark, idx_dir)
    q = [{"query_id": 0, "terms": ["merge", "small"], "k": 10,
          "exclude": ["window", "slow"]}]
    for mode in ("and", "or"):
        out = run_queries(spark, index, q, mode=mode).collect()
        got = [
            (int(r["doc_id"]), float(r["score"]))
            for r in sorted(out, key=lambda r: r["rank"])
        ]
        local = index.search("merge small -window -slow", k=10, mode=mode)
        assert got == [(d, s) for d, s in local], mode


def test_rows_come_back_in_query_and_rank_order(spark, built_index):
    """``collect()`` yields rows sorted by (query_id, rank), whatever order
    the batch gives its query_ids in."""
    idx_dir, _, _ = built_index
    index = Index(spark, idx_dir)
    queries = [{"query_id": 7, "terms": ["merge", "small"], "k": 6},
               {"query_id": 2, "terms": ["spark"], "k": 9},
               {"query_id": 5, "terms": ["join", "query"], "k": 4}]
    for mode in ("and", "or"):
        got = [(r["query_id"], r["rank"]) for r in run_queries(spark, index, queries,
                                                               mode=mode).collect()]
        assert got == sorted(got), mode
        assert {q for q, _ in got} == {7, 2, 5}, mode
