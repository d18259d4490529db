"""Property test: block-max WAND == exhaustive scoring on arbitrary
synthetic posting lists (hypothesis-generated, no Spark needed) — including
adversarial shapes the golden corpus never produces: single-posting terms,
all-identical scores (tie-break storms), k larger than the candidate set."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from localsearchengine_spark.config import BM25Config
from localsearchengine_spark.operators import codec
from localsearchengine_spark.operators.search import TermPostings, _or_topk
from localsearchengine_spark.operators.wand import wand_topk

CFG = BM25Config()
RSJ = BM25Config(idf_variant="rsj")  # idf < 0 when df > N/2
AVGDL = 20.0


def _term(name: str, doc_ids: list[int], rng: np.random.Generator, n_docs: int,
          block_size: int, cfg: BM25Config = CFG) -> TermPostings:
    ids = np.asarray(sorted(set(doc_ids)), dtype=np.int64)
    tfs = rng.integers(1, 6, size=len(ids)).astype(np.int64)
    dls = rng.integers(5, 60, size=len(ids)).astype(np.int64)
    la = codec.encode_blocks(
        ids, tfs, dls, [0, len(ids)], block_size=block_size, k1=cfg.k1, b=cfg.b,
        avgdl=AVGDL,
    )
    return TermPostings(
        term=name,
        idf=cfg.idf(len(ids), n_docs),
        df=len(ids),
        avgdl=AVGDL,
        cfg=cfg,
        streams=codec.StreamBlocks.from_rows(la, [0]),
    )


def _fresh(p: TermPostings, cfg: BM25Config) -> TermPostings:
    """A new TermPostings over the same streams — its decode cache is empty,
    so the reference path shares no decoded state with the WAND run."""
    return TermPostings(p.term, p.idf, p.df, AVGDL, cfg, streams=p._streams)


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    n_terms=st.integers(1, 5),
    k=st.integers(1, 25),
    block_size=st.sampled_from([2, 3, 8, 64]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wand_equals_exhaustive(data, n_terms, k, block_size, seed):
    rng = np.random.default_rng(seed)
    n_docs = 500
    plists = []
    for i in range(n_terms):
        ids = data.draw(
            st.lists(st.integers(0, n_docs - 1), min_size=1, max_size=120),
            label=f"term{i}_ids",
        )
        plists.append(_term(f"t{i:02d}", ids, rng, n_docs, block_size))
    plists.sort(key=lambda p: p.term)
    got = wand_topk(plists, k, CFG)
    exp = _or_topk([_fresh(p, CFG) for p in plists], k, CFG)
    assert got == exp



@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    n_terms=st.integers(1, 4),
    k=st.integers(1, 15),
    block_size=st.sampled_from([2, 8, 64]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wand_equals_exhaustive_negative_idf(data, n_terms, k, block_size, seed):
    """RSJ idf goes negative for df > N/2 — WAND must clamp those bounds and
    still return the exact exhaustive top-k (mixes of hot negative-idf and
    rare positive-idf lists are the adversarial shape)."""
    rng = np.random.default_rng(seed)
    n_docs = 60
    plists = []
    for i in range(n_terms):
        ids = data.draw(
            st.lists(st.integers(0, n_docs - 1), min_size=1, max_size=55),
            label=f"term{i}_ids",
        )
        plists.append(_term(f"t{i:02d}", ids, rng, n_docs, block_size, RSJ))
    plists.sort(key=lambda p: p.term)
    got = wand_topk(plists, k, RSJ)
    exp = _or_topk([_fresh(p, RSJ) for p in plists], k, RSJ)
    assert got == exp
