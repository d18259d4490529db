"""Seeded inputs for the benchmark: transcripts corpora, the 50-query
golden set and append micro-batches.

Everything here depends only on the seed and the sizes passed in, never on
the engine's own code, so two commits of the engine see identical inputs.
The corpus has the engine's transcripts schema and the same shape as the
repository's fixtures: a Zipf-skewed 40-word base vocabulary (so hot-term
salting engages) plus a long tail of rare ``termNNNNN`` words, each in 1-3
turns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_VOCAB = [
    "the", "spark", "join", "merge", "small", "query", "index", "data",
    "table", "scan", "filter", "shuffle", "sort", "build", "read", "write",
    "turn", "tool", "user", "agent", "search", "term", "doc", "score",
    "rank", "block", "delta", "varint", "salt", "skew", "plan", "stage",
    "task", "batch", "arrow", "pandas", "column", "row", "hash", "cache",
]
TOOLS = ["bash", "search", "edit", "read"]

SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us")),
])


def zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def rare_term(r: int) -> str:
    return f"term{r:05d}"


def n_rare_terms(n_turns: int) -> int:
    return max(1, n_turns // 20)


def make_corpus(rng: np.random.Generator, n_turns: int, conv_prefix: str = "conv",
                extra_terms: dict[str, int] | None = None) -> pd.DataFrame:
    """Whole conversations totalling ``n_turns`` turns, rows in
    (conv_id, turn_idx) order — the engine's doc_id order.

    ``extra_terms`` maps a word to the number of distinct turns it is
    appended to (the append workload's batch-only words)."""
    lens = []
    total = 0
    while total < n_turns:
        ln = min(int(np.clip(rng.geometric(1.0 / 8.0), 1, 64)), n_turns - total)
        lens.append(ln)
        total += ln
    lens_arr = np.asarray(lens, dtype=np.int64)
    conv_ids = np.repeat(
        np.asarray([f"{conv_prefix}{i:08d}" for i in range(len(lens_arr))], dtype=object),
        lens_arr,
    )
    turn_idx = np.concatenate([np.arange(ln, dtype=np.int32) for ln in lens_arr])

    is_tool = rng.random(n_turns) < 0.10
    tool_kind = rng.integers(0, len(TOOLS), size=n_turns)
    role = np.where(is_tool, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))
    tool = np.where(is_tool, np.asarray(TOOLS, dtype=object)[tool_kind], "")

    n_tokens = rng.integers(8, 97, size=n_turns)
    flat = rng.choice(np.asarray(BASE_VOCAB, dtype=object), size=int(n_tokens.sum()),
                      p=zipf_probs(len(BASE_VOCAB)))
    texts = [" ".join(chunk) for chunk in np.split(flat, np.cumsum(n_tokens)[:-1])]

    tail = [(rare_term(r), 1 + r % 3) for r in range(n_rare_terms(n_turns))]
    tail += sorted((extra_terms or {}).items())
    for word, k in tail:
        for d in rng.choice(n_turns, size=min(k, n_turns), replace=False):
            texts[int(d)] += " " + word

    ts = pd.Timestamp("2025-01-01") + pd.to_timedelta(
        np.arange(n_turns, dtype=np.int64) * 7, unit="s")
    return pd.DataFrame({
        "conv_id": conv_ids, "turn_idx": turn_idx, "role": role.astype(object),
        "text": np.asarray(texts, dtype=object), "tool": tool.astype(object), "ts": ts,
    })


def write_corpus(pdf: pd.DataFrame, path: str) -> None:
    # small row groups keep the file splittable across every core
    pq.write_table(pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False),
                   path, row_group_size=8192)


def golden_set(rng: np.random.Generator, n_turns: int, k: int = 10) -> list[dict]:
    """50 queries: 10 hot and 10 rare single-term, 20 two-term and 10
    three-term over the base vocabulary."""
    n_rare = n_rare_terms(n_turns)
    terms: list[list[str]] = [[w] for w in BASE_VOCAB[:10]]
    terms += [[rare_term(int(r))] for r in rng.choice(n_rare, size=min(10, n_rare), replace=False)]
    for size, count in ((2, 20), (3, 10)):
        for _ in range(count):
            idx = rng.choice(len(BASE_VOCAB), size=size, replace=False)
            terms.append(sorted(BASE_VOCAB[i] for i in idx))
    return [{"query_id": i, "terms": t, "k": k} for i, t in enumerate(terms)]
