"""A17 — block-max top-k pruning (Broder et al. CIKM 2003 WAND family;
Ding & Suel SIGIR 2011 block-max; Turtle & Flood 1995 MaxScore).
BASELINE.json:6: "top-k retrieval uses posting-list intersection with
block-max WAND pruning".

Exact: returns the identical top-k (docIDs and float64 scores) as the
exhaustive disjunctive scorer (search._or_topk) — verified by the
WAND==exhaustive equivalence tests.  This is *our* query-time optimizer
(SURVEY.md §4): Catalyst cannot prune inside posting lists, so pruning
lives here, below the DataFrame layer, driven by per-block ``tf_norm_max``
bounds persisted at build time (codec.encode_blocks).

The classic document-at-a-time WAND loop is pointer-chasing — O(1) work
per visited posting, which in CPython costs more than it saves.  This
implementation keeps the same bounds math but stays array-at-a-time so
every step is a NumPy kernel over whole blocks:

  1. seed θ with the k-th best score of the highest-impact term, decoding
     its blocks in descending block-bound order and stopping when the next
     bound cannot beat the running k-th score;
  2. MaxScore split: terms whose upper bounds sum below θ are
     non-essential — no document found *only* in them can reach the top-k;
  3. block-max pruning: a block b of essential term t survives only if
     bound(b) + Σ_{t'≠t} term_max(t') can beat θ — skipped blocks are
     never varint-decoded (the lazy TermPostings API);
  4. candidates = union of surviving blocks' docIDs; exact BM25 scores are
     accumulated per term in sorted term order (bit-identical float64
     summation vs the oracle), decoding only the blocks candidates land in.

Safety of every skip: a pruned document's true score is ≤ the pruning
bound ≤ θ − ε < θ ≤ the final k-th score, so it can never displace a
top-k member even under score ties (ties break by doc_id, and only docs
*strictly below* θ are ever pruned).  ε absorbs float summation-order
effects in the bound sums.

The exact-scoring primitives every driver-local path shares live here
too: :func:`_contrib_at`, :func:`_exact_scores` (the one sorted-term-order
sum) and :func:`_topk` (the one top-k cut).

Negative idf (classic RSJ for df > N/2) is handled exactly: such terms'
upper bounds clamp to 0 (their contribution can only subtract), the θ
seed is lowered by the sum of their most-negative contributions, and a
negative-scale seed list disables its own block pruning — so the result
is still identical to exhaustive scoring under every idf variant.
"""

from __future__ import annotations

import numpy as np

from localsearchengine_spark.config import BM25Config

_EPS = 1e-10


def _seed_theta(p, scale: float, k: int) -> float:
    """Exact k-th best score of a single posting list, best-block-first with
    bound-based early stop.  Returns -inf when the list has < k postings.

    A negative ``scale`` (negative idf) inverts the bound direction —
    ``scale·tfn_max`` is then a lower bound — so early stopping is disabled
    and the list is scored exhaustively (still one fused decode)."""
    bounds = scale * p.block_bound_tfn
    can_prune = scale >= 0.0
    order = np.argsort(-bounds, kind="stable")
    top: np.ndarray = np.empty(0, dtype=np.float64)
    kth = float("-inf")
    for bi in order:
        if can_prune and len(top) >= k and bounds[bi] <= kth - _EPS:
            break
        _, tfn = p.decode_block(int(bi))
        merged = np.concatenate([top, scale * tfn])
        if len(merged) >= k:
            top = np.partition(merged, len(merged) - k)[len(merged) - k:]
            kth = float(top.min())
        else:
            top = merged
    return kth


def _lookup(ids: np.ndarray, bids: np.ndarray, btfn: np.ndarray) -> np.ndarray:
    """tf_norm at ``ids`` via binary search into (bids, btfn); 0.0 if absent."""
    pos = np.searchsorted(bids, ids)
    pos_c = np.minimum(pos, len(bids) - 1)
    hit = bids[pos_c] == ids
    return np.where(hit, btfn[pos_c], 0.0)


def _decode_whole_list(p, n_touched: int) -> bool:
    """True when a query touches enough of ``p``'s blocks (hot terms, low
    selectivity) that one full decode plus one vectorized gather beats a
    Python loop over the touched 128-entry blocks."""
    return n_touched > max(8, p.n_blocks // 4)


def _contrib_at(p, ids: np.ndarray) -> np.ndarray:
    """tf_norm of term ``p`` at each docID in ``ids`` (0.0 when absent),
    decoding only the blocks the candidates fall into, or the whole list
    once when they touch most of it."""
    out = np.zeros(len(ids), dtype=np.float64)
    if p.n_blocks == 0 or len(ids) == 0:
        return out
    bi = np.searchsorted(p.block_max_doc, ids, side="left")
    inside = bi < p.n_blocks
    needed = np.unique(bi[inside])
    if _decode_whole_list(p, len(needed)):
        bids, btfn = p.decode_all()
        return _lookup(ids, bids, btfn)
    for b in needed:
        sel = inside & (bi == b)
        bids, btfn = p.decode_block(int(b))
        out[sel] = _lookup(ids[sel], bids, btfn)
    return out


def _exact_scores(plists, ids: np.ndarray, cfg: BM25Config,
                  contribs: dict | None = None,
                  boosts: dict | None = None) -> np.ndarray:
    """Σ_t boost·idf·(k1+1)·tf_norm at ``ids`` over ``plists`` in their
    (sorted term) order.  ``contribs``: tf_norm at ``ids`` per term, where
    the caller has it (the AND intersection); ``boosts``: term weights."""
    contribs = contribs or {}
    boosts = boosts or {}
    scores = np.zeros(len(ids), dtype=np.float64)
    for p in plists:
        c = contribs.get(p.term)
        if c is None:
            c = _contrib_at(p, ids)
        scores += boosts.get(p.term, 1.0) * p.idf * (cfg.k1 + 1.0) * c
    return scores


def _topk(ids: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """A19 — the k best by (score desc, doc_id asc), ``[]`` for k ≤ 0;
    ids are unique."""
    if len(ids) == 0 or k <= 0:
        return []
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[i]), float(scores[i])) for i in order]


def wand_topk(plists, k: int, cfg: BM25Config) -> list[tuple[int, float]]:
    """plists: list[TermPostings] in sorted term order (search.py)."""
    terms = [p for p in plists if p.n_blocks > 0]
    if not terms or k <= 0:  # the θ seed needs k ≥ 1
        return []
    n = len(terms)
    scale = np.asarray([p.idf * (cfg.k1 + 1.0) for p in terms], dtype=np.float64)
    raw_tmax = np.asarray(
        [scale[i] * float(terms[i].block_bound_tfn.max()) for i in range(n)],
        dtype=np.float64,
    )
    # Negative idf (classic RSJ on df > N/2 terms) flips bound directions:
    # clamping that term's upper bounds to 0 keeps them valid (its true
    # contribution is ≤ 0, and 0 for absent docs) while preserving pruning
    # for the non-negative terms.
    tmax = np.maximum(raw_tmax, 0.0)
    # worst case the negative terms can subtract from any document
    neg_floor = float(raw_tmax[raw_tmax < 0.0].sum())

    # 1. θ seed from the highest-impact term; other (possibly negative)
    # terms can only lower a doc's final score by ≥ neg_floor, so the
    # seed stays a valid lower bound of the final k-th score
    t0 = int(np.argmax(tmax))
    theta = _seed_theta(terms[t0], float(scale[t0]), k)
    if theta > float("-inf"):
        theta += neg_floor

    # 2. MaxScore essential split
    non_essential: set[int] = set()
    if theta > float("-inf"):
        order = np.argsort(tmax, kind="stable")
        cum = np.cumsum(tmax[order])
        non_essential = set(int(i) for i in order[cum <= theta - _EPS])

    # 3+4. surviving blocks of essential terms → candidate docIDs
    total = float(tmax.sum())
    cand_parts: list[np.ndarray] = []
    for i, p in enumerate(terms):
        if i in non_essential:
            continue
        others = total - float(tmax[i])
        keep = np.maximum(scale[i] * p.block_bound_tfn, 0.0) + others > theta - _EPS
        kept = np.flatnonzero(keep)
        if _decode_whole_list(p, len(kept)):
            ids_all, _ = p.decode_all()
            cand_parts.append(ids_all[np.repeat(keep, p.block_counts_live)])
        else:
            for b in kept:
                ids, _ = p.decode_block(int(b))
                cand_parts.append(ids)
    if not cand_parts:
        return []
    cands = np.unique(np.concatenate(cand_parts))

    # exact scoring in sorted term order (plists arrive term-sorted)
    return _topk(cands, _exact_scores(terms, cands, cfg), k)
