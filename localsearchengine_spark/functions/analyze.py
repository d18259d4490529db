"""A3/A13 — vectorized tokenization (the reference's ``Split.pm`` role).

BASELINE.json:6: "vectorized Arrow-UDF tokenization"; BASELINE.json:15: "no
per-row Python".  The analyzer is THE #1 rank-identity knob (SURVEY.md §2.4):
the exact rule of the reference's ``Split.pm`` is unrecoverable in this
sandbox, so the rule lives in :class:`BM25Config` (lowercase + keep runs of
``[0-9a-z_]``) and is shared verbatim by the build path, the query path, and
the test oracles' SQL.  Every form lowercases with Arrow ``utf8_lower``,
one code point to one code point ('İ' → 'i'), so a query analyzes text
exactly as the build indexed it; Python's ``str.lower`` (and Spark's
``lower``) give 'i̇', an 'i' plus a combining dot that splits the token.

Three forms of the same analyzer:
  * :func:`tokenize_text` — driver-side pure function (query analysis, A13)
  * :func:`tokenize_pandas` — pd.Series[str] → pd.Series[list[str]]
  * :func:`term_freq_arrow` — a batch of Arrow text → per-(row, term) tf
    and dl arrays, the fused posting-emission kernel (A4), so no
    per-(doc,term) shuffle is ever needed for tf.
:func:`_term_freq_frame_pandas` is the independent findall reference the
Arrow kernel is tested against (and its fallback for non-class patterns).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from localsearchengine_spark.config import BM25Config


def tokenize_text(text: str, cfg: BM25Config | None = None) -> list[str]:
    cfg = cfg or BM25Config()
    if text is None:
        return []
    if cfg.lowercase:
        text = pc.utf8_lower(pa.scalar(text, pa.string())).as_py()
    return re.findall(cfg.token_pattern, text)


def tokenize_pandas(s: pd.Series, cfg: BM25Config | None = None) -> pd.Series:
    cfg = cfg or BM25Config()
    s = s.fillna("")
    if cfg.lowercase:
        low = pc.utf8_lower(pa.array(s, type=pa.string()))
        s = pd.Series(low.to_numpy(zero_copy_only=False), index=s.index, dtype=object)
    return s.str.findall(cfg.token_pattern)


def separator_pattern(cfg: BM25Config) -> str | None:
    """Invert a simple character-class token pattern ``[...]+`` into the
    separator pattern its complement splits on; None when the pattern is
    not of that shape (the Arrow fast path then falls back to findall)."""
    m = re.fullmatch(r"\[([^\]\\^]+)\]\+", cfg.token_pattern)
    return f"[^{m.group(1)}]+" if m else None


def term_freq_arrow(
    texts, cfg: BM25Config | None = None, with_positions: bool = False
) -> dict | None:
    """Batch kernel for ``mapInArrow`` stages: a ``pa.Array`` /
    ``pa.ChunkedArray`` of text → per-(row, term) counts as plain arrays.
    Returns None for a batch with no tokens.

    Keys: ``row`` (int64 index into the batch), ``codes`` (int64 term code
    of each output row), ``uniq`` (``pa.StringArray`` term dictionary the
    codes index), ``tf``, ``dl`` (int64; ``dl`` is the row's token count),
    and with positions ``pos_flat`` / ``pos_off`` (int64 values + int32
    list offsets, ready for ``pa.ListArray.from_arrays``).

    Hot path is pure Arrow C++ (utf8_lower + RE2 split + dictionary-encode)
    plus a run-aware stable sort for the (row, term) counts.  Splitting on
    the complemented class is equivalent to findall of the class except for
    empty boundary artifacts, which are dropped explicitly; any non-class
    token pattern falls back to :func:`_term_freq_frame_pandas` (the same
    content; equivalence-tested).
    """
    cfg = cfg or BM25Config()
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    sep = separator_pattern(cfg)
    if sep is None:
        # arbitrary token patterns: reuse the pandas reference path, then
        # adapt (correctness fallback; the class-pattern hot path below is
        # what production configs hit)
        pdf = _term_freq_frame_pandas(texts.to_pandas(), cfg, with_positions)
        if not len(pdf):
            return None
        codes, uniq = pd.factorize(pdf["term"])
        out = {
            "row": pdf["row"].to_numpy(dtype=np.int64),
            "codes": codes.astype(np.int64),
            "uniq": pa.array(uniq, type=pa.string()),
            "tf": pdf["tf"].to_numpy(dtype=np.int64),
            "dl": pdf["dl"].to_numpy(dtype=np.int64),
        }
        if with_positions:
            out["pos_flat"] = np.concatenate(list(pdf["pos"])) if len(pdf) else np.empty(0, np.int64)
            out["pos_off"] = np.concatenate(
                ([0], np.cumsum(out["tf"]))
            ).astype(np.int32)
        return out

    arr = pc.fill_null(texts, "")
    if cfg.lowercase:
        arr = pc.utf8_lower(arr)
    toks = pc.split_pattern_regex(arr, sep)
    lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False).astype(np.int64)
    if lens.sum() == 0:
        return None
    enc = pc.list_flatten(toks).dictionary_encode()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    rows = np.repeat(np.arange(len(arr), dtype=np.int64), lens)
    empty = pc.index(enc.dictionary, "").as_py()
    if empty >= 0:
        sel = codes != empty
        rows, codes = rows[sel], codes[sel]
    if len(rows) == 0:
        return None
    dl = np.bincount(rows, minlength=len(arr))
    V = len(enc.dictionary)
    key = rows * V + codes
    order = np.argsort(key, kind="stable")
    sk = key[order]
    first = np.empty(len(sk), dtype=bool)
    first[0] = True
    np.not_equal(sk[1:], sk[:-1], out=first[1:])
    starts = np.flatnonzero(first)
    tf = np.diff(np.append(starts, len(sk))).astype(np.int64)
    u = sk[starts]
    out_row = u // V
    out_codes = (u % V).astype(np.int64)
    out = {
        "row": out_row,
        "codes": out_codes,
        "uniq": enc.dictionary,
        "tf": tf,
        "dl": dl[out_row],
    }
    if with_positions:
        row_starts = np.cumsum(dl) - dl
        pos_in_row = np.arange(len(rows), dtype=np.int64) - row_starts[rows]
        out["pos_flat"] = pos_in_row[order]
        out["pos_off"] = np.concatenate(([0], np.cumsum(tf))).astype(np.int32)
    return out


def _term_freq_frame_pandas(
    texts: pd.Series, cfg: BM25Config, with_positions: bool = False
) -> pd.DataFrame:
    """findall reference path (arbitrary token patterns)."""
    toks = tokenize_pandas(texts.reset_index(drop=True), cfg)
    lens = toks.str.len().to_numpy(dtype=np.int64)
    if lens.sum() == 0:
        return pd.DataFrame({"row": [], "term": [], "tf": [], "dl": []})
    flat = np.concatenate([np.asarray(t, dtype=object) for t in toks.to_numpy()])
    rows = np.repeat(np.arange(len(toks), dtype=np.int64), lens)
    counts = (
        pd.DataFrame({"row": rows, "term": flat})
        .groupby(["row", "term"], sort=True)
        .size()
        .reset_index(name="tf")
    )
    counts["dl"] = lens[counts["row"].to_numpy()]
    counts["tf"] = counts["tf"].astype(np.int64)
    if with_positions:
        row_starts = np.cumsum(lens) - lens
        pos_in_row = np.arange(len(rows), dtype=np.int64) - row_starts[rows]
        df = pd.DataFrame({"row": rows, "term": flat, "pos": pos_in_row})
        df = df.sort_values(["row", "term", "pos"], kind="mergesort")
        tf_cum = np.concatenate(([0], np.cumsum(counts["tf"].to_numpy())))
        counts["pos"] = np.split(df["pos"].to_numpy(), tf_cum[1:-1])
    return counts


def doc_lengths(texts: pd.Series, cfg: BM25Config | None = None) -> np.ndarray:
    """Token count per text (dl), vectorized (Arrow RE2 match count when
    available for the pattern, else findall)."""
    cfg = cfg or BM25Config()
    try:
        arr = pa.array(texts.reset_index(drop=True).fillna(""), type=pa.string())
        if cfg.lowercase:
            arr = pc.utf8_lower(arr)
        return (
            pc.count_substring_regex(arr, cfg.token_pattern)
            .to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
    except Exception:
        return tokenize_pandas(texts, cfg).str.len().to_numpy(dtype=np.int64)
