"""End-to-end edge cases: unicode corpora, empty/degenerate turns, and
salting effectiveness (the skew diagnostic actually improving under A7)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from localsearchengine_spark.build import build_index
from localsearchengine_spark.config import BuildConfig
from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources.fixtures import write_transcripts_parquet


def _corpus(tmp_path, rows):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(len(rows))],
            "turn_idx": np.zeros(len(rows), dtype=np.int32),
            "role": ["user"] * len(rows),
            "text": rows,
            "tool": [""] * len(rows),
            "ts": pd.Timestamp("2025-01-01"),
        }
    )
    src = str(tmp_path / "corpus")
    import os

    os.makedirs(src, exist_ok=True)
    write_transcripts_parquet(pdf, src + "/t.parquet")
    return src


def test_unicode_and_degenerate_turns(spark, tmp_path):
    """Mixed-script text, punctuation-only, empty, and null turns build and
    query correctly; non-[0-9a-z_] runs (incl. CJK) are separators."""
    rows = [
        "Hello WORLD hello",          # 0: case folding
        "café mañana über",           # 1: accented → split at non-ascii
        "中文文本 spark 测试",          # 2: CJK separators around 'spark'
        "...!!!???",                  # 3: no tokens at all
        "",                           # 4: empty
        None,                         # 5: null text
        "spark spark spark",          # 6: tf > 1
    ]
    src = _corpus(tmp_path, rows)
    idx = str(tmp_path / "idx")
    rep = build_index(spark, src, idx, BuildConfig(num_partitions=4))
    assert rep.n_docs == 7
    ix = Index(spark, idx)
    assert [d for d, _ in ix.search("hello", 10)] == [0]
    assert [d for d, _ in ix.search("caf", 10)] == [1]  # 'café' → 'caf' + 'é' sep
    assert [d for d, _ in ix.search("spark", 10, mode="or")] == [6, 2]  # tf ranks 6 first
    assert ix.search("nothing", 10) == []
    # doc store round-trips the original text exactly (per-turn invariant)
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(idx + "/docs").select("doc_id", "text").collect()
    }
    assert texts[3] == "...!!!???" and texts[4] == "" and texts[5] is None


def test_salting_reduces_skew(spark, transcripts_small, tmp_path):
    """A7: with the Zipf head salted, the max/median partition load ratio
    must drop materially vs the unsalted build of the same corpus."""
    path, _ = transcripts_small
    conf_off = BuildConfig(num_partitions=8, hot_df_threshold=10**9)
    conf_on = BuildConfig(num_partitions=8, hot_df_threshold=150)
    rep_off = build_index(spark, path, str(tmp_path / "off"), conf_off)
    rep_on = build_index(spark, path, str(tmp_path / "on"), conf_on)
    assert rep_off.hot_terms == 0 and rep_on.hot_terms > 0
    r_off = rep_off.skew["skew_ratio_max_over_median"]
    r_on = rep_on.skew["skew_ratio_max_over_median"]
    assert r_on < r_off
    # and the salted index still answers queries identically
    ix_off, ix_on = Index(spark, str(tmp_path / "off")), Index(spark, str(tmp_path / "on"))
    for q in ("the", "spark join", "merge small query"):
        assert ix_off.search(q, 10, "wand") == ix_on.search(q, 10, "wand")


def test_fetch_docs_roundtrips_text(spark, built_index):
    """Doc-store fetch: requested ids come back with byte-exact text (the
    B:15 per-turn equality invariant at query time), missing ids are
    absent, empty request is empty."""
    from localsearchengine_spark.operators.search import Index

    idx_dir, _, pdf = built_index
    index = Index(spark, idx_dir)
    want = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    ids = [0, 1, len(want) // 2, len(want) - 1]
    rows = index.fetch_docs(ids + [10**12])  # one id beyond the corpus
    assert set(rows) == set(ids)
    for i in ids:
        assert rows[i]["text"] == want.iloc[i]["text"]
        assert rows[i]["conv_id"] == want.iloc[i]["conv_id"]
    assert index.fetch_docs([]) == {}
    hits = index.search_docs("spark join", k=5, mode="wand")
    assert hits and all(r["text"] for _, _, r in hits)
    assert [d for d, _, _ in hits] == [d for d, _ in index.search("spark join", k=5, mode="wand")]


# The build lowercases with Arrow utf8_lower ('İstanbul' → 'istanbul', one
# token).  Query analysis, snippet windows and compaction's token count must
# use the same rule: Python's str.lower and Spark's lower map 'İ' to 'i' + a
# combining dot, which splits the token in two.
_DOTTED_I_ROWS = ["İstanbul join", "join the spark", "İzmir join join", "spark merge"]


@pytest.fixture(scope="module")
def dotted_i_index(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("dotted_i")
    idx = str(tmp / "idx")
    build_index(spark, _corpus(tmp, _DOTTED_I_ROWS), idx,
                BuildConfig(num_partitions=2, store_positions=True))
    return idx


def test_string_query_lowercases_like_the_build(spark, dotted_i_index):
    ix = Index(spark, dotted_i_index)
    assert [d for d, _ in ix.search("İstanbul", 10)] == [0]


def test_snippet_window_lowercases_like_the_build(spark, dotted_i_index):
    snips = Index(spark, dotted_i_index).snippets("join", k=10, before=0, after=0)
    assert sorted(d for d, _, _ in snips) == [0, 1, 2]
    assert {s for _, _, s in snips} == {"join"}


def test_compaction_counts_tokens_like_the_build(spark, dotted_i_index, tmp_path):
    import json
    import os
    import shutil

    from localsearchengine_spark.functions.analyze import doc_lengths
    from localsearchengine_spark.operators.delete import compact, delete_docs

    idx = str(tmp_path / "idx")
    shutil.copytree(dotted_i_index, idx)
    delete_docs(idx, [2])
    out = str(tmp_path / "compacted")
    compact(spark, idx, out)
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    survivors = pd.Series([_DOTTED_I_ROWS[i] for i in (0, 1, 3)])
    assert meta["total_tokens"] == int(doc_lengths(survivors).sum()) == 7


@pytest.mark.parametrize("num_salts", [0, -1, 4097])
def test_num_salts_out_of_range_is_rejected(num_salts):
    """num_salts caps the emit's doc_id bucket count: it must be in
    [1, 4096], and a config with any other value cannot be made (nor read
    back from a meta.json)."""
    with pytest.raises(ValueError, match="num_salts"):
        BuildConfig(num_salts=num_salts)
    text = BuildConfig(num_salts=4096).to_json().replace("4096", str(num_salts))
    with pytest.raises(ValueError, match="num_salts"):
        BuildConfig.from_json(text)
    assert BuildConfig(num_salts=1).num_salts == 1
