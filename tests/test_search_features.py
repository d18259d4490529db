"""A23 prefix expansion / A24 snippets / A25 facets / tx06 BPE counting.

The oracle parity of each is driver-gated (fts16-fts19, tx06 in
test_partb_oracle.py); these tests pin the semantics the oracles can't
see — expansion caps, window edges, mode composition, absent terms.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest

from localsearchengine_spark.build import build_index
from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import write_transcripts_parquet

ROWS = [
    "stream stops streaming after the storm",          # 0
    "store the stream in a stable table",               # 1
    "merge sorts rows into the store",                  # 2
    "plain text with no common prefix terms",           # 3
    "stable storage stops storms streaming",            # 4
    "merge the stream with the table",                  # 5
]


@pytest.fixture(scope="module")
def feat_index(spark, tmp_path_factory):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:03d}" for i in range(len(ROWS))],
            "turn_idx": np.zeros(len(ROWS), dtype=np.int32),
            "role": ["user"] * len(ROWS),
            "text": ROWS,
            "tool": [""] * len(ROWS),
            "ts": pd.Timestamp("2025-01-01"),
        }
    )
    import os

    src = str(tmp_path_factory.mktemp("feat") / "src")
    os.makedirs(src)
    write_transcripts_parquet(pdf, src + "/t.parquet")
    idx = str(tmp_path_factory.mktemp("feat") / "idx")
    build_index(
        spark, src, idx,
        BuildConfig(num_partitions=4, store_positions=True, block_size=4),
    )
    return Index(spark, idx)


# ---------------------------------------------------------------------------
# A23 — prefix expansion
# ---------------------------------------------------------------------------
def _df(index, term):
    r = index.lookup([term]).get(term)
    return int(r["df"]) if r else 0


def test_expand_prefix_order_and_cap(feat_index):
    full = feat_index.expand_prefix("st")
    # every expansion really has the prefix, ordered df desc then term asc
    assert full and all(t.startswith("st") for t in full)
    dfs = [_df(feat_index, t) for t in full]
    assert sorted(zip([-d for d in dfs], full)) == list(
        zip([-d for d in dfs], full)
    )
    capped = feat_index.expand_prefix("st", limit=2)
    assert capped == full[:2]


def test_expand_prefix_max_codepoint(feat_index):
    """A prefix ending in U+10FFFF has no code-point successor — the range
    must fall back to unbounded-above instead of raising."""
    assert feat_index.expand_prefix("\U0010ffff") == []
    assert feat_index.expand_prefix("st\U0010ffff") == []
    assert feat_index.expand_prefix("st\U0010ffff\U0010ffff") == []


def test_expand_prefix_no_match(feat_index):
    assert feat_index.expand_prefix("zzz") == []
    hits = feat_index.search("zzz*", k=5, mode="wand")
    assert hits == []
    # and-mode: an unmatched required group empties the result
    assert feat_index.search("merge zzz*", k=5, mode="and") == []


def test_prefix_and_composition(feat_index):
    # docs containing "merge" AND any st* term -> 2 and 5
    hits = feat_index.search("merge st*", k=10, mode="and")
    assert {d for d, _ in hits} == {2, 5}
    # scores strictly follow (score desc, doc_id asc)
    ss = [s for _, s in hits]
    assert ss == sorted(ss, reverse=True)


def test_prefix_or_matches_manual_expansion(feat_index):
    # wand-mode prefix == explicit OR over the expansions (same limit)
    exp = feat_index.expand_prefix("st", limit=16)
    via_star = feat_index.search("st*", k=10, mode="wand")
    via_terms = feat_index.search(exp, k=10, mode="wand")
    assert via_star == via_terms


# ---------------------------------------------------------------------------
# A24 — snippets
# ---------------------------------------------------------------------------
def test_snippet_window_middle(feat_index):
    snips = feat_index.snippets(["storm"], k=5, mode="and", before=2, after=2)
    by_id = {d: sn for d, _, sn in snips}
    # doc 0: storm at position 5 (0-based) -> window [3..5]
    assert by_id[0] == "after the storm"


def test_snippet_anchor_at_doc_start(feat_index):
    snips = feat_index.snippets(["merge"], k=5, mode="and", before=2, after=2)
    by_id = {d: sn for d, _, sn in snips}
    # "merge" opens both docs: window clamps at token 0
    assert by_id[2] == "merge sorts rows"
    assert by_id[5] == "merge the stream"


def test_snippet_anchor_earliest_of_terms(feat_index):
    # doc 1: "store"@0, "stream"@2 -> anchor 0 regardless of term order
    snips = feat_index.snippets(["store", "stream"], k=5, mode="and",
                                before=1, after=3)
    by_id = {d: sn for d, _, sn in snips}
    assert by_id[1] == "store the stream in"


def test_snippet_requires_positions(spark, tmp_path_factory):
    import os

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0"], "turn_idx": np.zeros(1, dtype=np.int32),
            "role": ["user"], "text": ["hello world"], "tool": [""],
            "ts": pd.Timestamp("2025-01-01"),
        }
    )
    src = str(tmp_path_factory.mktemp("nopos") / "src")
    os.makedirs(src)
    write_transcripts_parquet(pdf, src + "/t.parquet")
    idx = str(tmp_path_factory.mktemp("nopos") / "idx")
    build_index(spark, src, idx, BuildConfig(num_partitions=2))
    with pytest.raises(ValueError, match="positional"):
        Index(spark, idx).snippets(["hello"], k=1)


# ---------------------------------------------------------------------------
# A25 — facet counts
# ---------------------------------------------------------------------------
def test_facet_counts_and_or(spark, feat_index):
    from pyspark.sql import functions as F

    from localsearchengine_spark.operators.batch_query import facet_counts

    meta = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd") for i in range(len(ROWS))],
        "doc_id long, parity string",
    )
    got = {
        r["parity"]: r["n_docs"]
        for r in facet_counts(
            spark, feat_index, ["stream", "table"], meta, "parity", mode="and"
        ).collect()
    }
    # docs with both terms: 1 (odd), 5 (odd)
    assert got == {"odd": 2}
    got_or = {
        r["parity"]: r["n_docs"]
        for r in facet_counts(
            spark, feat_index, ["stream", "table"], meta, "parity", mode="or"
        ).collect()
    }
    # any term ("stream" or "table"; doc 4 has only "streaming"):
    # 0,1,5 -> even {0}, odd {1,5}
    assert got_or == {"even": 1, "odd": 2}


# ---------------------------------------------------------------------------
# tx06 — BPE-ish token counting parity with plain re
# ---------------------------------------------------------------------------
def test_bpe_pattern_matches_python_re(spark):
    from pyspark.sql import functions as F

    from localsearchengine_spark.plans.training_data import BPE_PATTERN

    samples = [
        "The spark's fast-join runs in 2.5s, isn't it?",
        "hello   world  -- 123abc it's we're I'll",
        "", "   ", "a", "don't stop!!! mixed_case And 42",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = (
        df.select(
            F.size(
                F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), F.lit(0))
            ).alias("n")
        )
        .toPandas()["n"]
        .tolist()
    )
    exp = [len(re.findall(BPE_PATTERN, s.lower())) for s in samples]
    assert got == exp


def test_suggest_returns_df_ranked_pairs(feat_index):
    """A31 — (term, df) pairs in (df desc, term asc) order, consistent with
    expand_prefix, with exact integer dfs."""
    pairs = feat_index.suggest("st")
    assert pairs and all(t.startswith("st") for t, _ in pairs)
    assert [t for t, _ in pairs] == feat_index.expand_prefix("st")
    key = [(-d, t) for t, d in pairs]
    assert key == sorted(key)
    for t, d in pairs:
        assert d == _df(feat_index, t) and isinstance(d, int)


def test_more_like_this_excludes_seed_and_ranks_by_triple(feat_index):
    """A32 — seed terms picked by (tf desc, df asc, term asc); the seed doc
    itself never appears when excluded; results equal an explicit OR search
    over the same terms minus the seed."""
    seed_text = ROWS[0]
    hits = feat_index.more_like_this(seed_text, k=3, exclude_doc_id=0)
    assert all(d != 0 for d, _ in hits)
    # reproduce the term selection by hand
    from localsearchengine_spark.operators.search import tokenize_text

    toks = tokenize_text(seed_text, feat_index.cfg)
    tf = {t: toks.count(t) for t in set(toks)}
    dic = feat_index.lookup(sorted(tf))
    ranked = sorted(
        (t for t in tf if t in dic), key=lambda t: (-tf[t], int(dic[t]["df"]), t)
    )[:5]
    manual = [
        (d, s)
        for d, s in feat_index.search(sorted(ranked), k=4, mode="wand")
        if d != 0
    ][:3]
    assert hits == manual


def test_more_like_this_empty_and_unknown_text(feat_index):
    assert feat_index.more_like_this("", k=3) == []
    assert feat_index.more_like_this("zzz qqq unknownwords", k=3) == []


# ---------------------------------------------------------------------------
# A34 — synonym / dis-max search
# ---------------------------------------------------------------------------
def test_dismax_single_groups_equal_or(feat_index):
    """With every group a singleton, dis-max degenerates to plain OR."""
    got = feat_index.search_dismax([["stream"], ["table"]], k=10)
    assert got == feat_index.search(["stream", "table"], k=10, mode="or")


def test_dismax_takes_group_max_not_sum(feat_index):
    """Doc 5 contains both members of the (merge|stream) concept group; its
    dis-max score must be max(c_merge, c_stream), strictly below the OR
    score c_merge + c_stream."""
    or_hits = dict(feat_index.search(["merge", "stream"], k=10, mode="or"))
    dm_hits = dict(feat_index.search_dismax([["merge", "stream"]], k=10))
    assert set(dm_hits) == set(or_hits)
    cfg = feat_index.cfg
    post = feat_index.fetch_postings(["merge", "stream"])

    def contrib(term, doc):
        p = post[term]
        ids = p.doc_ids
        import numpy as np

        i = int(np.searchsorted(ids, doc))
        if i < len(ids) and ids[i] == doc:
            return float(p.idf * (cfg.k1 + 1.0) * p.tf_norm[i])
        return 0.0

    for doc, s in dm_hits.items():
        c = [contrib("merge", doc), contrib("stream", doc)]
        assert s == pytest.approx(max(c), abs=0)
        if min(c) > 0:  # doc 5: both members present
            assert s < or_hits[doc]
    assert min(contrib("merge", 5), contrib("stream", 5)) > 0


def test_dismax_unknown_terms_ignored(feat_index):
    assert feat_index.search_dismax([["zzzmissing"]], k=5) == []
    got = feat_index.search_dismax([["merge", "zzzmissing"]], k=5)
    assert got == feat_index.search(["merge"], k=5, mode="or")


def test_suggest_surrogate_boundary_prefix(feat_index):
    """A prefix ending at U+D7FF must not produce a lone-surrogate upper
    bound (pyarrow rejects it as a filter value): the successor skips the
    surrogate block to U+E000.  No analyzer term contains such code points,
    so the probe just has to not raise and return an empty set."""
    assert feat_index.suggest("퟿") == []
    assert feat_index.suggest("st퟿") == []
    # all-max prefix still handled (unbounded-above range)
    assert feat_index.suggest("\U0010ffff") == []


def test_dismax_overlapping_groups_engine_matches_oracle(spark):
    """A term appearing in TWO synonym groups must score in both (engine
    semantics); the oracle's (gid, term) membership join — not a
    first-WHEN-wins CASE — reproduces that, so engine ≡ oracle holds for
    overlapping groups too, not just the disjoint fts26 registration."""
    import os

    import duckdb

    from localsearchengine_spark.operators.search import Index
    from localsearchengine_spark.plans.entry_helpers import ensure_documents_index
    from localsearchengine_spark.plans.fts import _dismax_sql

    sf = "/root/testdata/sf0.001"
    groups = [["join", "merge"], ["merge", "scan"]]  # 'merge' overlaps
    index = Index(spark, ensure_documents_index(spark, sf))
    hits = [(d, round(float(s), 6)) for d, s in index.search_dismax(groups, k=10)]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf, 'documents.parquet')}'"
    )
    oracle = [(int(d), float(s)) for d, s in con.sql(_dismax_sql(groups, 10)).fetchall()]
    assert hits == oracle
