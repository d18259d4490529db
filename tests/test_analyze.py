"""A3/A13 tokenizer unit tests (SURVEY.md §5: edge cases)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from localsearchengine_spark.config import BM25Config
from localsearchengine_spark.functions.analyze import (
    _term_freq_frame_pandas,
    term_freq_arrow,
    tokenize_pandas,
    tokenize_text,
)


def _arrow_frame(texts, cfg=None, with_positions=False) -> pd.DataFrame:
    """term_freq_arrow's output as the reference kernel's long-form
    (row, term, tf, dl[, pos]) frame."""
    res = term_freq_arrow(pa.array(texts, type=pa.string()), cfg, with_positions)
    if res is None:
        return pd.DataFrame({"row": [], "term": [], "tf": [], "dl": []})
    out = pd.DataFrame({
        "row": res["row"],
        "term": res["uniq"].take(pa.array(res["codes"])).to_pylist(),
        "tf": res["tf"],
        "dl": res["dl"],
    })
    if with_positions:
        out["pos"] = np.split(res["pos_flat"], res["pos_off"][1:-1])
    return out


def test_basic():
    assert tokenize_text("Hello, World! foo_bar 42") == ["hello", "world", "foo_bar", "42"]


def test_edges():
    assert tokenize_text("") == []
    assert tokenize_text(None) == []
    assert tokenize_text("...!!!---") == []
    assert tokenize_text("a") == ["a"]
    # unicode: non-ascii letters are delimiters under the default pattern
    assert tokenize_text("café naïve") == ["caf", "na", "ve"]


def test_pandas_matches_pure():
    texts = ["The quick brown fox", "", "x  y\tz", "a-b_c", None]
    ser = tokenize_pandas(pd.Series(texts))
    for i, t in enumerate(texts):
        assert list(ser.iloc[i]) == tokenize_text(t)


def test_term_freq_arrow_counts():
    out = _arrow_frame(["a b a", "", "b b b"])
    got = {(int(r.row), r.term): (int(r.tf), int(r.dl)) for r in out.itertuples()}
    assert got == {(0, "a"): (2, 3), (0, "b"): (1, 3), (2, "b"): (3, 3)}


def test_config_pattern():
    cfg = BM25Config(lowercase=False, token_pattern=r"[A-Za-z]+")
    assert tokenize_text("Ab cD 12", cfg) == ["Ab", "cD"]


def test_arrow_and_pandas_kernels_agree():
    """The Arrow RE2 split path must be row-for-row identical to the findall
    reference on punctuation runs, unicode, empties, and None."""
    from localsearchengine_spark.functions.analyze import doc_lengths

    texts = pd.Series(
        [
            "Hello, World!  hello_world 123",
            "...___...",
            "",
            None,
            "café über ¡hola! 中文 mixed_ascii",
            "  leading and trailing  ",
            "a a a b",
        ]
    )
    cfg = BM25Config()
    fast = _arrow_frame(texts, cfg).sort_values(["row", "term"]).reset_index(drop=True)
    ref = _term_freq_frame_pandas(texts, cfg).sort_values(["row", "term"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(fast[["row", "term", "tf", "dl"]], ref[["row", "term", "tf", "dl"]])
    assert np.array_equal(
        doc_lengths(texts, cfg),
        tokenize_pandas(texts, cfg).str.len().to_numpy(dtype="int64"),
    )


def test_non_class_pattern_falls_back():
    from localsearchengine_spark.functions.analyze import separator_pattern

    cfg = BM25Config(token_pattern=r"[a-z]+(?:'[a-z]+)?")
    assert separator_pattern(cfg) is None
    out = _arrow_frame(["it's a test"], cfg)
    assert set(out["term"]) == {"it's", "a", "test"}


def test_term_freq_arrow_matches_frame():
    """The Arrow-native emit kernel must produce exactly the same
    (row, term, tf, dl[, positions]) content as the pandas reference
    kernel, on both the class-pattern hot path and the findall fallback."""

    texts = pd.Series(
        [
            "Spark SQL engine runs fast",
            "", None, "   ", "a a a b",
            "punct!!! and--dashes__ok 123 mixed42x",
            "the quick the quick the",
        ]
    )
    for cfg in (BM25Config(), BM25Config(token_pattern=r"[a-z]+\d*")):
        for with_pos in (False, True):
            exp = _term_freq_frame_pandas(texts, cfg, with_positions=with_pos)
            got = _arrow_frame(texts, cfg, with_positions=with_pos)
            cols = ["row", "term", "tf", "dl"] + (["pos"] if with_pos else [])
            def canon(frame):
                return sorted(
                    tuple(np.asarray(v).tolist() for v in r)
                    for r in frame[cols].itertuples(index=False)
                )

            assert len(exp) > 0
            assert canon(exp) == canon(got), (cfg.token_pattern, with_pos)
