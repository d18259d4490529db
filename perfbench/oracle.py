"""Independent expected answers: BM25 top-k over the raw corpus.

It shares no code with the engine.  DuckDB SQL tokenizes with a regex,
numbers documents by (conv_id, turn_idx) the way the engine's doc-id
contract says, and computes each (term, document) contribution; NumPy folds
each document's contributions in sorted term order and ranks, so its
float64 scores match the engine's to the last bit in the common case.
``cross_check`` compares it with the repository's brute-force test oracle
(``tests/oracle.py``) on a sample, so the two oracles vouch for each other.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import numpy as np

K1, B = 1.2, 0.75  # the engine's frozen BM25Config defaults


class Oracle:
    """Expected top-k for term sets over one or more corpus files.

    ``files`` is a list of ``(parquet_path, doc_id_base)``; each file's doc
    ids start at its base.  ``deleted`` doc ids are dropped from results
    only, never from the corpus statistics (tombstone semantics)."""

    def __init__(self, files: list[tuple[str, int]], deleted=(), limit: int | None = None):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("SET memory_limit = '1GB'")
        union = " UNION ALL ".join(
            f"SELECT CAST({int(base)} + row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS BIGINT)"
            f" AS doc_id, text FROM read_parquet('{path}')"
            for path, base in files
        )
        cap = f" WHERE doc_id < {int(limit)}" if limit is not None else ""
        self.con.execute(f"CREATE TEMP TABLE docs AS SELECT * FROM ({union}){cap}")
        self.con.execute(
            "CREATE TEMP TABLE toks AS SELECT doc_id, "
            "unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term FROM docs")
        self.con.execute(
            "CREATE TEMP TABLE dl AS SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl "
            "FROM toks GROUP BY doc_id")
        self.con.execute(
            "CREATE TEMP TABLE stats AS SELECT "
            "(SELECT CAST(count(*) AS DOUBLE) FROM docs) AS n, "
            "(SELECT CAST(count(*) AS DOUBLE) FROM toks) / (SELECT count(*) FROM docs) AS avgdl")
        self.deleted = np.asarray(sorted({int(d) for d in deleted}), dtype=np.int64)

    def close(self) -> None:
        self.con.close()

    def contributions(self, terms) -> dict[str, tuple]:
        """term → (doc ids ascending, BM25 contributions) for ``terms``."""
        con = self.con
        con.execute("CREATE OR REPLACE TEMP TABLE qt (term VARCHAR)")
        con.executemany("INSERT INTO qt VALUES (?)", [(t,) for t in sorted(set(terms))])
        d = lambda x: f"CAST({float(x)!r} AS DOUBLE)"  # noqa: E731
        cols = con.execute(f"""
WITH tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
            WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
SELECT tf.term, tf.doc_id,
       (ln({d(1.0)} + (stats.n - df.df + {d(0.5)}) / (df.df + {d(0.5)})) * {d(K1 + 1.0)})
       * (tf.tf / (tf.tf + {d(K1)} * ({d(1.0)} - {d(B)} + {d(B)} * dl.dl / stats.avgdl)))
       AS contrib
FROM tf JOIN df ON df.term = tf.term JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN stats
ORDER BY tf.term, tf.doc_id
""").fetchnumpy()
        term = np.asarray(cols["term"], dtype=object)
        ids = np.asarray(cols["doc_id"], dtype=np.int64)
        contrib = np.asarray(cols["contrib"], dtype=np.float64)
        out = {}
        cuts = np.flatnonzero(term[1:] != term[:-1]) + 1 if len(term) else np.empty(0, int)
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(term)]):
            if hi > lo:
                out[term[lo]] = (ids[lo:hi], contrib[lo:hi])
        return out

    def topk(self, term_sets: list[list[str]], k: int = 10) -> list[dict[str, list]]:
        """For each term set → {"or": [(doc_id, score)], "and": [...]},
        score desc then doc_id asc.  A document's score is the left fold of
        its term contributions in sorted term order."""
        post = self.contributions({t for ts in term_sets for t in ts})
        out = []
        for ts in term_sets:
            terms = sorted(set(ts))
            lists = [post[t] for t in terms if t in post]
            res = {"or": [], "and": []}
            if lists:
                ids = np.unique(np.concatenate([p[0] for p in lists]))
                score = np.zeros(len(ids))
                hits = np.zeros(len(ids), dtype=np.int64)
                for pid, pc in lists:  # sorted term order
                    pos = np.searchsorted(ids, pid)
                    score[pos] += pc
                    hits[pos] += 1
                keep = ~np.isin(ids, self.deleted)
                for mode, sel in (("or", keep), ("and", keep & (hits == len(terms)))):
                    i_ids, i_sc = ids[sel], score[sel]
                    order = np.lexsort((i_ids, -i_sc))[:k]
                    res[mode] = [(int(i_ids[i]), float(i_sc[i])) for i in order]
            out.append(res)
        return out

    def documents(self) -> list[tuple[int, str]]:
        return [(int(a), b) for a, b in
                self.con.execute("SELECT doc_id, text FROM docs ORDER BY doc_id").fetchall()]


def _test_oracle(repo_root: str):
    path = os.path.join(repo_root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("lse_test_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.oracle_search


def cross_check(oracle: Oracle, repo_root: str, term_sets: list[list[str]], k: int = 10) -> list[str]:
    """Mismatches between this oracle and the repository's brute-force test
    oracle on ``term_sets`` (both modes); empty when they agree."""
    search = _test_oracle(repo_root)
    docs = oracle.documents()
    mine = oracle.topk(term_sets, k)
    errors = []
    for terms, expected in zip(term_sets, mine):
        for mode in ("or", "and"):
            theirs = search(docs, terms, k, k1=K1, b=B, mode=mode)
            if not same_ranking(expected[mode], theirs):
                errors.append(f"oracles disagree on {terms} {mode}")
    return errors


def same_ranking(expected, got, rel: float = 1e-9) -> bool:
    """Doc ids and ranks exactly; scores to ``rel`` relative."""
    if len(expected) != len(got):
        return False
    for (d1, s1), (d2, s2) in zip(expected, got):
        if int(d1) != int(d2) or abs(s1 - s2) > rel * max(abs(s1), abs(s2), 1e-300):
            return False
    return True
