"""A13–A16, A18, A19 — query analysis, dictionary lookup, posting fetch +
decode, conjunctive intersection, exhaustive BM25 scoring, top-k.

Interactive queries run driver-local over decoded NumPy arrays (SURVEY.md
§3.2): a top-10 over a handful of terms must not pay Spark job-launch
latency.  Posting fetch is a pyarrow scan with predicate pushdown on
``term``; ``codec.StreamBlocks`` turns a term's block rows into lazily
decoded arrays, so nothing here reads the block layout.  The distributed
paths live in ``batch_query.py`` (A20).

Modes: "and" is :func:`_and_topk` (:func:`_intersect`, rarest list first
with block-skipping probes, which also serves the query language's AND
and phrases); "wand" is ``wand.wand_topk``; "or" is :func:`_or_topk`,
exhaustive scoring over fully decoded lists (:func:`_score_at`) that
shares no lookup code with the others — the reference WAND and AND are
tested against.  AND, WAND and the query language score with
``wand._exact_scores``; every path cuts with ``wand._topk``.

Determinism contract (SURVEY.md §2.4): float64 everywhere; per-doc score is
the sum of term contributions in **sorted term order**; ties broken by
doc_id ascending.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession

from localsearchengine_spark.config import BM25Config, BuildConfig
from localsearchengine_spark.functions.analyze import tokenize_text
from localsearchengine_spark.functions.bm25 import tf_norm_np
from localsearchengine_spark.operators import codec
from localsearchengine_spark.operators.delete import _isin_sorted, load_tombstones
from localsearchengine_spark.operators.wand import (
    _contrib_at,
    _exact_scores,
    _lookup,
    _topk,
    wand_topk,
)
from localsearchengine_spark.sources import io as lse_io


class TermPostings:
    """One term's compressed posting list with LAZY per-block decode.

    Query-time pruning (wand.py) decides from the per-block metadata which
    blocks to touch; varint+delta decode happens only for touched blocks —
    on a skip-heavy query most of the list is never decompressed.  The
    AND/OR paths call :meth:`decode_all` (intersection needs every docID).
    """

    __slots__ = (
        "term", "idf", "df", "block_max_doc", "block_bound_tfn",
        "block_counts", "_streams", "_avgdl", "_cfg", "_block_cache", "_full",
        "_ts", "_live_counts",
    )

    def __init__(self, term, idf, df, avgdl, cfg,
                 streams: codec.StreamBlocks,
                 tombstones: np.ndarray | None = None):
        self.term = term
        self.idf = float(idf)
        self.df = int(df)
        self._streams = streams
        self.block_max_doc = streams.max_doc
        self.block_bound_tfn = streams.bound_tfn
        self.block_counts = streams.counts
        self._avgdl = float(avgdl)
        self._cfg = cfg
        self._block_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None
        # A22: tombstoned docIDs are masked at decode, so every consumer
        # (WAND, AND/OR intersection, phrase) excludes deleted docs for
        # free; block metadata stays as-built, which keeps WAND exact —
        # removing entries can only lower a block's true max below its
        # recorded upper bound, never above.
        self._ts = (
            tombstones if tombstones is not None and len(tombstones) else None
        )
        self._live_counts: np.ndarray | None = None

    @property
    def n_blocks(self) -> int:
        return len(self.block_counts)

    def decode_block(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """→ (doc_ids, tf_norm) of block ``i`` (cached)."""
        hit = self._block_cache.get(i)
        if hit is None:
            ids, tfs, dls, _ = self._mask_deleted(*self._streams.decode_block(i))
            hit = (ids, tf_norm_np(tfs, dls, self._avgdl, self._cfg))
            self._block_cache[i] = hit
        return hit

    def _mask_deleted(self, ids, tfs, dls):
        """Drop tombstoned docIDs → (ids, tfs, dls, live); ``live`` is the
        boolean mask applied, None when no docID was dropped."""
        if self._ts is None:
            return ids, tfs, dls, None
        live = ~_isin_sorted(ids, self._ts)
        if live.all():
            return ids, tfs, dls, None
        return ids[live], tfs[live], dls[live], live

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        if self._full is None:
            ids, tfs, dls, live = self._mask_deleted(*self._streams.decode_all())
            # per-block LIVE counts: consumers gathering block membership
            # out of the full decode (wand's fast path) must align with
            # the masked array, not the as-built block sizes
            self._live_counts = self.block_counts
            if live is not None:
                cuts = np.concatenate(([0], np.cumsum(self.block_counts)[:-1]))
                self._live_counts = np.add.reduceat(live.astype(np.int64), cuts)
            self._full = (ids, tf_norm_np(tfs, dls, self._avgdl, self._cfg))
        return self._full

    @property
    def block_counts_live(self) -> np.ndarray:
        """Per-block posting counts AFTER tombstone masking (≡ block_counts
        on an index without deletes)."""
        if self._ts is None:
            return self.block_counts
        if self._live_counts is None:
            self.decode_all()
        return self._live_counts

    # ---- eager views (AND/OR paths, tests) --------------------------------
    @property
    def doc_ids(self) -> np.ndarray:
        return self.decode_all()[0]

    @property
    def tf_norm(self) -> np.ndarray:
        return self.decode_all()[1]

    def positions_for(self, ids: np.ndarray) -> dict[int, np.ndarray]:
        """docID → ascending within-doc positions, decoding only the blocks
        the requested docs fall into.  Requires a positional index."""
        out: dict[int, np.ndarray] = {}
        if len(ids) == 0 or self.n_blocks == 0:
            return out
        bi = np.searchsorted(self.block_max_doc, ids, side="left")
        inside = bi < self.n_blocks
        for b in np.unique(bi[inside]):
            sel_ids = ids[inside & (bi == b)]
            bids, plist = self._streams.decode_positions(int(b))
            pos_idx = np.searchsorted(bids, sel_ids)
            for j, did in zip(pos_idx, sel_ids):
                if j < len(bids) and bids[j] == did:
                    out[int(did)] = plist[j]
        return out


class Index:
    """Read-side handle over a built index directory."""

    def __init__(self, spark: SparkSession | None, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        meta = lse_io.read_json_uri(os.path.join(index_dir, "meta.json"))
        if meta.get("status") != "complete":
            raise RuntimeError(f"index at {index_dir} is not complete")
        self.conf = BuildConfig.from_json(meta["config"])
        self.cfg: BM25Config = self.conf.bm25
        self.n_docs = int(meta["n_docs"])
        self.avgdl = float(meta["avgdl"])
        self.meta = meta
        self._cache: dict[str, TermPostings | None] = {}
        self._datasets: dict[str, object] = {}
        # A22: tombstones present at handle-open time are honored by every
        # read path; deletes issued against a live handle need
        # reload_tombstones() (the posting cache must drop its masked
        # decodes).  Stats (N/avgdl/idf) stay as-built until compact().
        self.tombstones: np.ndarray = load_tombstones(index_dir)

    def reload_tombstones(self) -> int:
        """Re-read the tombstone set and invalidate cached postings; returns
        the tombstone count now in effect."""
        self.tombstones = load_tombstones(self.index_dir)
        self._cache.clear()
        return int(len(self.tombstones))

    def _dataset(self, sub: str):
        """Cached pyarrow dataset handle — opening a dataset re-reads every
        fragment's footer metadata; interactive queries shouldn't pay that
        per fetch."""
        ds_obj = self._datasets.get(sub)
        if ds_obj is None:
            ds_obj = lse_io.open_dataset(os.path.join(self.index_dir, sub))
            self._datasets[sub] = ds_obj
        return ds_obj

    # ---- A14: dictionary lookup -------------------------------------------
    def lookup(self, terms: list[str]) -> dict[str, dict]:
        import pyarrow.dataset as ds

        tbl = self._dataset("dictionary").to_table(
            filter=ds.field("term").isin(list(set(terms)))
        )
        return {r["term"]: r for r in tbl.to_pylist()}

    # ---- A23: prefix expansion (multi-term query rewrite) ------------------
    def expand_prefix(self, prefix: str, limit: int = 16) -> list[str]:
        """Dictionary range scan: terms starting with ``prefix``, keeping the
        ``limit`` highest-df ones (df desc, term asc — a deterministic rewrite
        order, so the same query expands identically on every run and in the
        SQL oracle).  The prefix is expressed as a half-open term range
        ``[prefix, prefix+1)`` so the parquet scan prunes on the dictionary's
        term min/max statistics instead of reading the vocabulary — at
        10^12-turn vocabularies the dictionary is many files and a full scan
        per wildcard would dominate query latency."""
        return [t for t, _df in self.suggest(prefix, limit=limit)]

    # ---- A31: query suggestion / completion --------------------------------
    def suggest(self, prefix: str, limit: int = 10) -> list[tuple[str, int]]:
        """Completion candidates for a query prefix: the ``limit`` highest-df
        dictionary terms starting with it, as (term, df) in (df desc, term
        asc) order — integer-exact ranking.  Same stats-pruned range scan as
        the wildcard rewrite (A23)."""
        import pyarrow.dataset as ds

        if not prefix:
            raise ValueError("empty prefix")
        # Successor string for the half-open upper bound: drop trailing
        # U+10FFFF code points before incrementing (chr(0x10FFFF+1) raises);
        # an all-max prefix leaves the range unbounded above.  Incrementing
        # U+D7FF must skip the surrogate block to U+E000 — lone surrogates
        # are not encodable and pyarrow rejects them as filter bounds — which
        # preserves bound correctness because no VALID term contains a
        # surrogate either (nothing sorts inside the skipped gap).  Code-point
        # order coincides with pyarrow's binary UTF-8 string order, so the
        # bound is correct beyond the analyzer's [0-9a-z_] alphabet too.
        stem = prefix
        while stem and ord(stem[-1]) == 0x10FFFF:
            stem = stem[:-1]
        filt = ds.field("term") >= prefix
        if stem:
            nxt = ord(stem[-1]) + 1
            if nxt == 0xD800:
                nxt = 0xE000
            filt = filt & (ds.field("term") < stem[:-1] + chr(nxt))
        tbl = self._dataset("dictionary").to_table(
            columns=["term", "df"], filter=filt
        )
        rows = sorted(tbl.to_pylist(), key=lambda r: (-int(r["df"]), r["term"]))
        return [(r["term"], int(r["df"])) for r in rows[:limit]]

    # ---- A32: more-like-this (find similar documents) ----------------------
    def more_like_this(self, text: str, k: int = 10, n_terms: int = 5,
                       exclude_doc_id: int | None = None, mode: str = "wand"):
        """Similarity search seeded by a document's TEXT: analyze it, rank
        its distinct terms by (tf desc, corpus df asc, term asc) — the same
        integer-exact triple as TF-IDF keyword extraction (tx11), so no
        float comparison decides the query — take the top ``n_terms`` and
        run a disjunctive BM25 search, dropping the seed doc itself when
        ``exclude_doc_id`` is given.  Fetching k+1 hits before the exclusion
        keeps the returned top-k exact."""
        toks = tokenize_text(text, self.cfg)
        if not toks:
            return []
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        dic = self.lookup(sorted(tf))
        ranked = sorted(
            (t for t in tf if t in dic),
            key=lambda t: (-tf[t], int(dic[t]["df"]), t),
        )[:n_terms]
        if not ranked:
            return []
        kk = k + 1 if exclude_doc_id is not None else k
        hits = self.search(sorted(ranked), k=kk, mode=mode)
        if exclude_doc_id is not None:
            hits = [(d, s) for d, s in hits if d != int(exclude_doc_id)][:k]
        return hits

    # ---- A33: spell correction / did-you-mean ------------------------------
    def spell_correct(self, term: str, k: int = 10) -> list[tuple[str, int]]:
        """Dictionary terms within edit distance ≤ 1 of ``term`` as
        (term, df), ranked (df desc, term asc) — symmetric-delete candidate
        probe + exact verify (operators/spell.py).  Requires the optional
        ``spellings`` component (build_spell_index)."""
        from localsearchengine_spark.operators.spell import spell_candidates

        return spell_candidates(self, term, k=k)

    # ---- A15: posting fetch + decode --------------------------------------
    # Interactive queries deliberately bypass Spark job launch (SURVEY.md
    # §3.2): a pyarrow dataset scan applies the same parquet predicate
    # pushdown + column pruning the JVM scan would, at sub-ms latency.
    # The distributed batch path (A20, batch_query.py) uses the Spark scan.
    def fetch_postings(self, terms: list[str]) -> dict[str, TermPostings]:
        import pyarrow.dataset as ds

        terms = sorted(set(terms))
        need = [t for t in terms if t not in self._cache]
        if need:
            # found by term alone; a term with no rows caches None
            tbl = self._dataset("postings").to_table(
                columns=["term", "salt", "df", "blocks"],
                filter=ds.field("term").isin(need),
            ).combine_chunks()
            la = tbl["blocks"].combine_chunks()
            salt_col = tbl["salt"].to_numpy()
            df_col = tbl["df"].to_numpy()
            rows_by_term: dict[str, list[int]] = {}
            for r, t in enumerate(tbl["term"].to_pylist()):
                rows_by_term.setdefault(t, []).append(r)
            for t in need:
                rows = rows_by_term.get(t)
                if not rows:
                    self._cache[t] = None
                    continue
                rows.sort(key=lambda r: int(salt_col[r]))  # salt = doc_id range order
                df_total = int(df_col[np.asarray(rows)].sum())
                self._cache[t] = TermPostings(
                    term=t,
                    idf=self.cfg.idf(df_total, self.n_docs),
                    df=df_total,
                    avgdl=self.avgdl,
                    cfg=self.cfg,
                    streams=codec.StreamBlocks.from_rows(la, rows),
                    tombstones=self.tombstones,
                )
        return {t: self._cache[t] for t in terms if self._cache.get(t) is not None}

    # ---- doc-store fetch (result materialization) --------------------------
    def fetch_docs(self, doc_ids) -> dict[int, dict]:
        """doc_id → full doc-store row (conv_id, turn_idx, role, tool, ts,
        text) for the given ids.  The docs table is range-partitioned and
        row-group-sorted by doc_id at build time, so the pyarrow scan's
        min/max pruning touches only the files/row groups covering the
        requested ids — O(result) I/O, not O(corpus)."""
        import pyarrow.dataset as ds

        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            return {}
        tbl = self._dataset("docs").to_table(filter=ds.field("doc_id").isin(ids))
        return {int(r["doc_id"]): r for r in tbl.to_pylist()}

    def search_docs(self, query, k: int = 10, mode: str = "and"):
        """search() + doc-store materialization: list of (doc_id, score,
        row) in rank order — what an end user of the reference engine sees
        (matched turns, not bare ids).  Round-trips the B:15 per-turn
        text-equality invariant at query time."""
        hits = self.search(query, k=k, mode=mode)
        rows = self.fetch_docs([d for d, _ in hits])
        return [(d, s, rows[d]) for d, s in hits]

    # ---- A24: snippet generation (hit highlighting) ------------------------
    def snippets(self, query, k: int = 10, mode: str = "and",
                 before: int = 2, after: int = 4, prefix_limit: int = 16):
        """search() + contextual snippets: for each hit, the window of
        ``before`` + 1 + ``after`` analyzed tokens around the EARLIEST
        occurrence of any positive query term, joined with single spaces →
        list of (doc_id, score, snippet) in rank order.

        The anchor position comes from the positional index
        (TermPostings.positions_for), not from re-scanning the document —
        at scale the doc text is fetched only for the k result docs
        (O(result) I/O via the range-partitioned doc store) and only those
        k texts are re-analyzed to materialize the window."""
        if not self.conf.store_positions:
            raise ValueError(
                "snippets need a positional index (BuildConfig.store_positions)"
            )
        if isinstance(query, str):
            bare, phrases, excluded, prefixes, _ = parse_query(query, self.cfg)
            anchor_terms = sorted(
                set(bare)
                | {t for ph, _slop in phrases for t in ph}
                | {t for p in prefixes
                   for t in self.expand_prefix(p, limit=prefix_limit)}
            )
        else:
            anchor_terms = sorted(set(query))
        hits = self.search(query, k=k, mode=mode, prefix_limit=prefix_limit)
        if not hits:
            return []
        ids = np.array([d for d, _ in hits], dtype=np.int64)
        ids_sorted = np.sort(ids)
        post = self.fetch_postings(anchor_terms)
        first_pos: dict[int, int] = {}
        for t in anchor_terms:  # sorted term order — deterministic ties
            p = post.get(t)
            if p is None:
                continue
            for did, positions in p.positions_for(ids_sorted).items():
                if len(positions):
                    cur = first_pos.get(did)
                    a = int(positions[0])
                    if cur is None or a < cur:
                        first_pos[did] = a
        rows = self.fetch_docs(ids)
        out = []
        for did, score in hits:
            toks = tokenize_text(rows[did]["text"], self.cfg)
            a = first_pos.get(int(did), 0)
            window = toks[max(0, a - before): a + after + 1]
            out.append((int(did), float(score), " ".join(window)))
        return out

    # ---- A13 + A16/A17/A18 + A19: search ----------------------------------
    # ---- A34: synonym / dis-max search -------------------------------------
    def search_dismax(
        self, groups: list[list[str]], k: int = 10
    ) -> list[tuple[int, float]]:
        """Concept search over synonym groups: per doc, each group scores
        the MAX of its members' BM25 contributions (a doc is not rewarded
        twice for two spellings of one concept) and the doc score sums the
        groups — Lucene's DisjunctionMaxQuery semantics.  Members are
        analyzed with the standard tokenizer; unknown terms contribute
        nothing; groups are summed in argument order."""
        norm = [sorted({t for m in g for t in tokenize_text(m, self.cfg)}) for g in groups]
        post = self.fetch_postings([t for g in norm for t in g])
        plists = [[post[t] for t in g if t in post] for g in norm]
        return _dismax_topk([g for g in plists if g], k, self.cfg)

    # ---- A35: fuzzy search --------------------------------------------------
    def search_fuzzy(
        self, terms: list[str], k: int = 10, max_expansions: int = 16
    ) -> list[tuple[int, float]]:
        """Fuzzy disjunctive search (Lucene FuzzyQuery shape): each query
        term expands to the dictionary terms within Levenshtein distance
        ≤ 1 (the symmetric-delete probe + exact verify of A33), capped at
        the ``max_expansions`` highest-df variants under the integer-exact
        (df desc, term asc) order — Lucene's own expansion cap, but decided
        by exact integer df instead of a float weight.  Each expansion set
        is then ONE dis-max group (A34): a doc matching both "part" and
        "sort" for the misspelling "sart" scores the better variant once,
        never the sum — and the doc score sums the per-query-term groups.
        Unknown / unexpandable terms contribute nothing.  Requires the
        optional ``spellings`` component (build_spell_index)."""
        groups = [
            [c for c, _ in self.spell_correct(t, k=max_expansions)]
            for raw in terms for t in tokenize_text(raw, self.cfg)
        ]
        return self.search_dismax(groups, k)

    def search(self, query: str | list[str], k: int = 10, mode: str = "and",
               prefix_limit: int = 16):
        """→ list[(doc_id, score)] — score desc, doc_id asc tie-break.

        mode="and"  — conjunctive posting intersection (A16), reference
                      default per BASELINE.json:6 "posting-list intersection"
        mode="or"   — exhaustive disjunctive BM25 (A18)
        mode="wand" — block-max WAND (A17); exact same top-k as "or"

        String queries support a minimal query language:
        ``"an exact phrase"`` / ``"a proximity phrase"~2`` (requires a
        positional index, BuildConfig.store_positions=True), ``-excluded``
        terms, ``prefix*`` wildcards (A23 dictionary-rewrite) and
        ``term^2.5`` boosts (A29); all compose with bare terms, which keep
        the mode's semantics.
        """
        if isinstance(query, str):
            bare, phrases, excluded, prefixes, boosts = parse_query(query, self.cfg)
            groups = [self.expand_prefix(p, limit=prefix_limit) for p in prefixes]
            if phrases or excluded or groups or boosts:
                return self._structured_search(
                    bare, phrases, excluded, k, mode, groups=groups, boosts=boosts
                )
            terms = bare
        else:
            terms = list(query)
        terms = sorted(set(terms))
        post = self.fetch_postings(terms)
        plists = [post[t] for t in terms if t in post]
        if not plists or (mode == "and" and len(plists) < len(terms)):
            return []
        if mode == "and":
            return _and_topk(plists, k, self.cfg)
        if mode == "or":
            return _or_topk(plists, k, self.cfg)
        if mode == "wand":
            return wand_topk(plists, k, self.cfg)
        raise ValueError(f"unknown mode: {mode}")

    def _structured_search(self, bare, phrases, excluded, k, mode, groups, boosts):
        """Query-language semantics per mode, minus exclusions; scored by
        BM25 over the positive terms (sorted term order), ties by doc_id.

        mode="and": every bare term AND every phrase AND at least one term
        of every prefix ``group`` must match.
        mode="or"/"wand": a doc matches if it contains ANY bare term, ANY
        complete phrase (each phrase itself is still a positional match)
        or ANY group term.  A bare term absent from the corpus just
        contributes nothing in or-mode but empties the result in and-mode.

        A phrase is ``(tokens, slop)``: matched positions must be strictly
        increasing with each gap in [1, slop+1] — slop 0 is exact
        adjacency (A30 proximity semantics, gap-bounded ordered match).

        Every matched term — bare, phrase member or group expansion —
        contributes its own idf·tf_norm where present (the standard
        multi-term rewrite: a wildcard scores as the disjunction of its
        expansions), summed in sorted term order; a ``boosts`` entry
        multiplies that term's contribution (A29 — boosts weight scores,
        never match semantics).
        """
        if phrases and not self.conf.store_positions:
            raise ValueError(
                "phrase query on an index built without positions "
                "(BuildConfig.store_positions=True)"
            )
        required = sorted({t for ph, _ in phrases for t in ph} | set(bare))
        positive = sorted(set(required) | {t for g in groups for t in g})
        if not positive:
            return []
        post = self.fetch_postings(positive)

        def phrase_ids(ph, slop=0, cand=None):
            """doc_ids matching phrase ``ph`` within ``slop`` (in ``cand``)."""
            gap = slop + 1
            if any(t not in post for t in ph):
                return np.empty(0, dtype=np.int64)
            ids, _ = _intersect([post[t] for t in sorted(set(ph))], cand)
            if len(ids) == 0:
                return ids
            maps = [post[t].positions_for(ids) for t in ph]
            keep = np.zeros(len(ids), dtype=bool)
            for i, did in enumerate(ids):
                # fold over possible END positions of the matched sequence:
                # a position q of term j extends the match iff some end e of
                # the j-1 prefix satisfies 1 <= q - e <= gap
                ends = maps[0].get(int(did))
                if ends is None:
                    continue
                ok = True
                for j in range(1, len(ph)):
                    nxt = maps[j].get(int(did))
                    if nxt is None:
                        ok = False
                        break
                    lo = np.searchsorted(ends, nxt - gap, side="left")
                    hi = np.searchsorted(ends, nxt - 1, side="right")
                    ends = nxt[hi > lo]
                    if len(ends) == 0:
                        ok = False
                        break
                keep[i] = ok
            return ids[keep]

        def group_ids(g):
            """union of the group's matching doc_ids (a prefix clause)."""
            sets = [post[t].doc_ids for t in g if t in post]
            if not sets:
                return np.empty(0, dtype=np.int64)
            return np.unique(np.concatenate(sets))

        hit_ids, contribs = None, {}
        if mode == "and":
            if any(t not in post for t in required):
                return []  # a required term is absent from the corpus
            if required:
                ids, contribs = _intersect([post[t] for t in required])
                hit_ids = ids
            else:
                ids = group_ids(min(groups, key=lambda g: sum(
                    post[t].df for t in g if t in post)))
            for g in groups:
                if len(ids) == 0:
                    return []
                gi = group_ids(g)
                ids = ids[np.isin(ids, gi)]
            for ph, slop in phrases:
                ids = phrase_ids(ph, slop=slop, cand=ids)
                if len(ids) == 0:
                    return []
        else:  # "or" / "wand": union of matching clauses
            cand_sets = [post[t].doc_ids for t in bare if t in post]
            cand_sets += [phrase_ids(ph, slop=slop) for ph, slop in phrases]
            cand_sets += [group_ids(g) for g in groups]
            cand_sets = [c for c in cand_sets if len(c)]
            if not cand_sets:
                return []
            ids = np.unique(np.concatenate(cand_sets))
        # exclusions
        if excluded and len(ids):
            ex_post = self.fetch_postings(sorted(set(excluded)))
            for p in ex_post.values():
                ids = ids[~np.isin(ids, p.doc_ids)]
        if len(ids) == 0:
            return []
        if contribs:  # the filters above kept a subset of the intersection
            at = np.searchsorted(hit_ids, ids)
            contribs = {t: c[at] for t, c in contribs.items()}
        plists = [post[t] for t in positive if t in post]
        return _topk(ids, _exact_scores(plists, ids, self.cfg, contribs, boosts), k)


def parse_query(q: str, cfg: BM25Config):
    """Minimal query language: quoted phrases with optional proximity slop
    (``"a b"~2`` — A30), ``-term`` exclusions, trailing-``*`` prefix
    wildcards, ``term^2.5`` boosts (A29) and bare terms.  All text goes
    through the index analyzer (A13); a prefix wildcard keeps only the
    analyzed stem.

    Returns ``(bare, phrases, excluded, prefixes, boosts)`` where each
    phrase is ``(tokens, slop)`` — slop 0 is exact adjacency — and boosts
    maps an analyzed bare term to its multiplicative weight.  Marker
    composition: the optional ``^w`` suffix is stripped FIRST, then the
    leading ``-`` / trailing ``*`` markers are classified, so ``-slow^2``
    stays an exclusion and ``stem*^2`` stays a prefix wildcard (a boost on
    either is meaningless and is dropped).  The LAST spelling of a bare
    term wins: ``fast^2 fast`` is unboosted, ``fast fast^2`` is boosted."""
    import re as _re

    phrases: list[tuple[list[str], int]] = []

    def grab(m):
        toks = tokenize_text(m.group(1), cfg)
        if toks:
            phrases.append((toks, int(m.group(2) or 0)))
        return " "

    rest = _re.sub(r'"([^"]*)"(?:~(\d+))?', grab, q)
    bare: list[str] = []
    excluded: list[str] = []
    prefixes: list[str] = []
    boosts: dict[str, float] = {}
    for w in rest.split():
        bm = _re.fullmatch(r"(.+?)\^(\d+(?:\.\d+)?)", w)
        core, weight = (bm.group(1), float(bm.group(2))) if bm else (w, None)
        if core.startswith("-") and len(core) > 1:
            excluded.extend(tokenize_text(core[1:], cfg))
        elif core.endswith("*") and len(core) > 1:
            stem = tokenize_text(core[:-1], cfg)
            if stem:
                prefixes.append(stem[-1])
        else:
            toks = tokenize_text(core, cfg)
            bare.extend(toks)
            for t in toks:
                boosts[t] = 1.0 if weight is None else weight
    boosts = {t: wgt for t, wgt in boosts.items() if wgt != 1.0}
    return (
        sorted(set(bare)), phrases, sorted(set(excluded)),
        sorted(set(prefixes)), boosts,
    )


def _score_at(plists, ids: np.ndarray, cfg: BM25Config) -> np.ndarray:
    """Σ_t idf·(k1+1)·tf_norm for docs `ids`, summed in sorted term order.
    plists must already be in sorted term order."""
    scores = np.zeros(len(ids), dtype=np.float64)
    for p in plists:  # sorted term order — fixed summation order
        if len(p.doc_ids) == 0:
            continue
        pos = np.searchsorted(p.doc_ids, ids)
        pos_c = np.minimum(pos, len(p.doc_ids) - 1)
        hit = p.doc_ids[pos_c] == ids
        scores += np.where(hit, p.idf * (cfg.k1 + 1.0) * p.tf_norm[pos_c], 0.0)
    return scores


def _intersect(plists, ids: np.ndarray | None = None):
    """A16 — rarest-first conjunctive intersection with block skipping →
    ``(ids, contribs)``.

    Without ``ids`` the rarest list is fully decoded and seeds the
    candidates; with ``ids`` every list filters those candidates.  Each
    other list is probed through the lazy per-block lookup
    (wand._contrib_at), so blocks of hot terms that hold no candidate are
    never varint-decoded.  tf ≥ 1 ⇒ tf_norm > 0, so a zero contribution is
    exactly "doc absent".  ``contribs`` maps each probed term to its
    tf_norm at the returned ids, for :func:`wand._exact_scores` to reuse."""
    order = sorted(plists, key=lambda p: p.df)
    if ids is None:
        ids, order = order[0].doc_ids, order[1:]
    contribs: dict[str, np.ndarray] = {}
    for p in order:
        if len(ids) == 0:
            break
        c = _contrib_at(p, ids)
        keep = c > 0.0
        ids = ids[keep]
        contribs = {t: v[keep] for t, v in contribs.items()}
        contribs[p.term] = c[keep]
    return ids, contribs


def _and_topk(plists, k: int, cfg: BM25Config) -> list[tuple[int, float]]:
    """A16 — conjunctive top-k: :func:`_intersect`, then the exact sum in
    sorted term order from the same lookups, giving float64 results
    bit-identical to the exhaustive path."""
    ids, contribs = _intersect(plists)
    return _topk(ids, _exact_scores(plists, ids, cfg, contribs), k)


def _or_topk(plists, k: int, cfg: BM25Config) -> list[tuple[int, float]]:
    """A18 — exhaustive disjunctive scoring (the oracle path WAND must match)."""
    ids = np.unique(np.concatenate([p.doc_ids for p in plists]))
    return _topk(ids, _score_at(plists, ids, cfg), k)


def _dismax_topk(groups, k: int, cfg: BM25Config) -> list[tuple[int, float]]:
    """A34 — disjunction-max scoring (Lucene's DisjunctionMaxQuery shape):
    per doc, each synonym GROUP contributes the MAX of its members'
    contributions and the doc score is the sum over groups — so a doc
    saying both "join" and "merge" is not double-counted for one concept.
    Determinism: contributions are the same idf·(k1+1)·tf_norm doubles as
    every other path, the per-group max is exact, and groups are summed in
    caller order (callers pass ≤2 groups or accept summation order as part
    of the query contract)."""
    if not groups:
        return []
    ids = np.unique(np.concatenate([p.doc_ids for g in groups for p in g]))
    scores = np.zeros(len(ids), dtype=np.float64)
    for g in groups:  # fixed group order — determinism contract
        gmax = np.zeros(len(ids), dtype=np.float64)
        for p in sorted(g, key=lambda p: p.term):
            if len(p.doc_ids) == 0:
                continue
            c = p.idf * (cfg.k1 + 1.0) * _lookup(ids, p.doc_ids, p.tf_norm)
            np.maximum(gmax, c, out=gmax)
        scores += gmax
    return _topk(ids, scores, k)
