"""The correctness gate of the north rule (BASELINE.json:14): engine top-k
docIDs AND scores rank-identical to the independent brute-force oracle on the
golden query set, for the AND path, the exhaustive OR path, and block-max
WAND (SURVEY.md §0.2, §5)."""

from __future__ import annotations

import numpy as np
import pytest

from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import golden_queries
from tests.oracle import oracle_search


@pytest.fixture(scope="module")
def index_and_docs(spark, built_index):
    idx_dir, report, pdf = built_index
    index = Index(spark, idx_dir)
    # doc_id order == (conv_id, turn_idx) order in the fixture frame
    docs = list(enumerate(pdf["text"].tolist()))
    return index, docs


def _assert_match(got, exp, qterms, mode):
    assert [d for d, _ in got] == [d for d, _ in exp], (
        f"docID mismatch mode={mode} terms={qterms}: {got} vs {exp}"
    )
    np.testing.assert_allclose(
        [s for _, s in got], [s for _, s in exp], atol=1e-9, rtol=0,
        err_msg=f"score mismatch mode={mode} terms={qterms}",
    )


def test_golden_queries_and_path(index_and_docs):
    index, docs = index_and_docs
    n_nonempty = 0
    for q in golden_queries():
        got = index.search(q["terms"], k=q["k"], mode="and")
        exp = oracle_search(docs, q["terms"], k=q["k"], mode="and")
        _assert_match(got, exp, q["terms"], "and")
        # the query string takes the same path as the term list
        assert index.search(" ".join(q["terms"]), k=q["k"], mode="and") == got
        n_nonempty += bool(exp)
    assert n_nonempty >= 30  # the query set actually exercises the index


def test_golden_queries_or_and_wand_paths(index_and_docs):
    index, docs = index_and_docs
    for q in golden_queries():
        exp = oracle_search(docs, q["terms"], k=q["k"], mode="or")
        got_or = index.search(q["terms"], k=q["k"], mode="or")
        got_wand = index.search(q["terms"], k=q["k"], mode="wand")
        _assert_match(got_or, exp, q["terms"], "or")
        _assert_match(got_wand, exp, q["terms"], "wand")
        text = " ".join(q["terms"])
        assert index.search(text, k=q["k"], mode="or") == got_or
        assert index.search(text, k=q["k"], mode="wand") == got_wand


@pytest.mark.parametrize("mode,as_text", [
    ("and", False), ("or", False), ("wand", False), ("and", True),
])
@pytest.mark.parametrize("k", [0, -1])
def test_nonpositive_k_returns_nothing(index_and_docs, mode, as_text, k):
    """k ≤ 0 asks for no hits, on every path: the top-k cut must not read
    a negative k as "all but the last |k|"."""
    index, _ = index_and_docs
    terms = next(q["terms"] for q in golden_queries()
                 if len(q["terms"]) > 1 and index.search(q["terms"], k=10, mode="and"))
    query = f"{terms[0]}^2 " + " ".join(terms[1:]) if as_text else terms
    assert index.search(query, k=10, mode=mode)
    assert index.search(query, k=k, mode=mode) == []


def test_wand_equals_exhaustive_randomized(index_and_docs):
    """A17 equivalence on randomized multi-term queries (SURVEY.md §5)."""
    index, docs = index_and_docs
    rng = np.random.default_rng(123)
    from localsearchengine_spark.sources.fixtures import BASE_VOCAB

    for _ in range(25):
        n = int(rng.integers(2, 6))
        terms = sorted(
            str(t) for t in rng.choice(np.asarray(BASE_VOCAB, dtype=object), n, replace=False)
        )
        for k in (1, 5, 10, 50):
            got_or = index.search(terms, k=k, mode="or")
            got_wand = index.search(terms, k=k, mode="wand")
            assert got_or == got_wand, f"terms={terms} k={k}"


def test_per_turn_text_equality(spark, built_index, transcripts_small):
    """BASELINE.json:15 invariant: per-turn text equality under stable turn
    ordering — the doc store round-trips `text` exactly in source order."""
    idx_dir, _, _ = built_index
    path, pdf = transcripts_small
    docs = (
        spark.read.parquet(f"{idx_dir}/docs")
        .select("conv_id", "turn_idx", "text", "doc_id")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    src = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(docs) == len(src)
    assert docs["text"].tolist() == src["text"].tolist()
    assert docs["conv_id"].tolist() == src["conv_id"].tolist()
    # doc_id order equals (conv_id, turn_idx) order ⇒ stable turn ordering
    assert docs["doc_id"].tolist() == sorted(docs["doc_id"].tolist())


def test_salting_engaged(built_index):
    """The fixture's Zipf head must actually exercise A7 (hot threshold 300
    over 2,000 docs ⇒ 'the'/'spark'… are salted)."""
    _, report, _ = built_index
    assert report.hot_terms >= 1
    assert report.skew["partitions"] > 0


def test_hot_salt_rows_are_ordered_doc_ranges(built_index):
    """Each hot term is salted into rows 0…S_t−1, and in salt order each
    row's first doc_id lies above the previous row's last block's
    max_doc_id: fetch_postings concatenates a term's rows in salt order."""
    import json
    import os

    import pyarrow.parquet as pq

    from localsearchengine_spark.operators.codec import decode_block_lists

    idx_dir, report, _ = built_index
    with open(os.path.join(idx_dir, "meta.json")) as f:
        meta = json.load(f)
    hot = meta["hot_salts"]
    assert len(hot) == report.hot_terms and max(hot.values()) > 1
    # 2,000 docs over threshold 300: C = ⌈2000 / 300⌉ = 7 buckets, not 16,
    # and no hot term needs more salts than that
    assert meta["salt_buckets"] == 7 and max(hot.values()) <= 7
    tbl = pq.read_table(os.path.join(idx_dir, "postings"))
    terms, salts = tbl["term"].to_pylist(), tbl["salt"].to_pylist()
    rows: dict[str, list[int]] = {}
    for r, t in enumerate(terms):
        rows.setdefault(t, []).append(r)
    blocks = tbl["blocks"].combine_chunks()
    for term, rs in rows.items():
        rs.sort(key=lambda r: salts[r])
        assert [salts[r] for r in rs] == list(range(hot.get(term, 1))), term
        prev_max = -1
        for r in rs:
            row_blocks = blocks.slice(r, 1)
            doc_ids = decode_block_lists(row_blocks)[1]
            assert doc_ids[0] > prev_max, (term, salts[r])
            prev_max = row_blocks.flatten().field("max_doc_id")[-1].as_py()
            assert prev_max == doc_ids[-1]


def test_build_persists_stage_walls(built_index):
    """meta.json records the build's stage walls next to its skew report."""
    import json
    import os

    idx_dir, report, _ = built_index
    with open(os.path.join(idx_dir, "meta.json")) as f:
        meta = json.load(f)
    assert set(meta["elapsed_s"]) == {
        "docs", "stats_hot_scan", "postings", "dictionary", "total"
    }
    assert meta["elapsed_s"] == report.elapsed_s and "skew" in meta
