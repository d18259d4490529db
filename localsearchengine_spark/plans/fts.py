"""The full-text engine rows of the driver surface, as (Spark DataFrame
query, DuckDB oracle SQL) pairs: b20 scores BM25 as pure Catalyst
expressions, and every fts row runs the real engine (build, driver-local
search, distributed batch, merge, resume, delete) against an independent
SQL BM25 oracle.  The oracle strings are the reference implementations:
each keeps its own SQL even where two look alike.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from localsearchengine_spark.config import BM25Config
from localsearchengine_spark.functions.bm25 import score_column
from localsearchengine_spark.operators.batch_query import (
    facet_counts,
    run_phrase_queries,
    run_queries,
)
from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.plans.entry_helpers import (
    ensure_compacted_documents_index,
    ensure_documents_index,
    ensure_merged_documents_index,
    ensure_resumed_documents_index,
    ensure_spell_index,
    ensure_streamed_documents_index,
)
from localsearchengine_spark.plans.registry import _t, q


def _hits_frame(spark: SparkSession, hits) -> DataFrame:
    """Driver-local (doc_id, score) hits → the rows' common result frame."""
    return spark.createDataFrame(
        [(int(d), round(float(s), 6)) for d, s in hits], "doc_id long, score double"
    )


# ---------------------------------------------------------------------------
# B14 — BM25 as a pure DataFrame expression (A18), oracle in pure SQL.
# Disjunctive (OR) scoring for the fixed query {"spark","join"}; top-20.
# ---------------------------------------------------------------------------
_BM25_TERMS = ["join", "spark"]  # sorted


def _bm25_sql(
    terms: list[str], k: int, mode: str, qid: int | None = None,
    excl: str | None = None, where: str | None = None,
    doc_pred: str | None = None, boosts: dict[str, float] | None = None,
) -> str:
    """Independent DuckDB BM25 oracle.  With ``qid`` set, emits
    (query_id, rank, doc_id, score) — rank over the same unrounded
    (s DESC, doc_id) order the LIMIT uses, for batch-path oracles.
    ``excl`` drops docs containing that term AFTER scoring/df computation
    (engine semantics: an exclusion never changes the positive terms' idf).
    ``where`` restricts the CORPUS itself before any stat (N, avgdl, df) is
    computed — the oracle for an index whose docs were deleted + compacted
    (fts12): compaction must be indistinguishable from building over the
    filtered corpus.
    ``doc_pred`` restricts RESULTS to docs matching a documents-table
    predicate AFTER scoring (fts13 filtered search: a metadata filter never
    changes stats or surviving docs' scores — unlike ``where``).
    ``boosts`` multiplies a term's contribution by its weight (A29
    semantics: boosts scale scores, never match sets or idf)."""
    cfg = BM25Config()
    docs_rel = (
        f"(SELECT * FROM documents WHERE {where})" if where else "documents"
    )
    weight = "1.0"
    if boosts:
        cases = " ".join(
            f"WHEN '{t}' THEN {float(b)!r}" for t, b in sorted(boosts.items())
        )
        weight = f"(CASE tf.term {cases} ELSE 1.0 END)"
    tlist = ", ".join(f"'{t}'" for t in terms)
    idf = cfg.idf_sql("df.df", "stats.n")
    and_filter = f"WHERE nt = {len(terms)}" if mode == "and" else ""
    if excl is not None:
        neg = f"doc_id NOT IN (SELECT DISTINCT doc_id FROM toks WHERE term = '{excl}')"
        and_filter = f"{and_filter} AND {neg}" if and_filter else f"WHERE {neg}"
    if doc_pred is not None:
        keep = f"doc_id IN (SELECT doc_id FROM documents WHERE {doc_pred})"
        and_filter = f"{and_filter} AND {keep}" if and_filter else f"WHERE {keep}"
    select = "doc_id, round(s, 6) AS score"
    if qid is not None:
        select = (
            f"CAST({qid} AS BIGINT) AS query_id, "
            "CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank, "
            "doc_id, round(s, 6) AS score"
        )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM {docs_rel}
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
-- N and avgdl are over ALL documents (engine semantics: a token-less doc
-- still counts toward N and pulls avgdl down)
stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM {docs_rel}) AS n,
                 (SELECT CAST(count(*) AS DOUBLE) FROM toks)
                 / (SELECT count(*) FROM {docs_rel}) AS avgdl),
tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
       WHERE term IN ({tlist}) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         sum({weight} * {idf} * ({cfg.k1} + 1.0) * tf.tf
             / (tf.tf + {cfg.k1} * (1.0 - {cfg.b} + {cfg.b} * dl.dl / stats.avgdl))) AS s,
         CAST(count(*) AS BIGINT) AS nt
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT {select} FROM scores {and_filter}
ORDER BY s DESC, doc_id LIMIT {k}
"""


@q("b20_bm25_sql_dataframe", _bm25_sql(_BM25_TERMS, 20, "or"))
def b20(spark, sf_dir):
    """Exhaustive BM25 scoring purely in Catalyst Column expressions —
    whole-stage-codegen'd joins + log/arithmetic, zero Python in the plan."""
    cfg = BM25Config()
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.expr(r"regexp_extract_all(lower(text), '[0-9a-z_]+', 0)")
        ).alias("term"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    # N and avgdl over ALL documents (engine semantics: a token-less doc
    # still counts toward N and pulls avgdl down) — mirrors the oracle CTE;
    # aggregating the dl table instead would diverge on empty texts
    stats = (
        docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
        .crossJoin(dl.agg(F.sum("dl").alias("total_tokens")))
        .select("n", (F.col("total_tokens") / F.col("n")).alias("avgdl"))
    )
    tf = (
        toks.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            score_column(F.col("tf"), F.col("dl"), F.col("df"), F.col("n"), F.col("avgdl"), cfg),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("s"))
    )
    return (
        scored.orderBy(F.desc("s"), "doc_id")
        .limit(20)
        .select("doc_id", F.round("s", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# FTS1 — the REAL engine end-to-end vs an independent SQL BM25 oracle:
# build (stable docIDs → salted shuffle → delta+varint blocks) happens on
# first call; query runs conjunctive block-max WAND over the compressed index.
# ---------------------------------------------------------------------------
_FTS_TERMS = ["merge", "small"]  # sorted


def _engine_search(spark, sf_dir, terms: list[str], k: int, mode: str):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    hits = index.search(terms, k=k, mode=mode)
    return _hits_frame(spark, hits)


@q("fts01_engine_bm25_topk", _bm25_sql(_FTS_TERMS, 10, "and"))
def fts01(spark, sf_dir):
    return _engine_search(spark, sf_dir, _FTS_TERMS, 10, "and")


# OR-mode top-k through the block-max WAND path vs the same SQL oracle in
# disjunctive mode — pins WAND pruning correctness into the driver gate.
_FTS2_TERMS = ["filter", "scan", "stream"]  # sorted


@q("fts02_engine_wand_or", _bm25_sql(_FTS2_TERMS, 15, "or"))
def fts02(spark, sf_dir):
    return _engine_search(spark, sf_dir, _FTS2_TERMS, 15, "wand")


# three-term conjunctive intersection (block-skipping AND path), deeper k
_FTS3_TERMS = ["group", "sort", "window"]  # sorted


@q("fts03_engine_and3", _bm25_sql(_FTS3_TERMS, 20, "and"))
def fts03(spark, sf_dir):
    return _engine_search(spark, sf_dir, _FTS3_TERMS, 20, "and")


# phrase query through the positional index: adjacency-verified candidates,
# BM25-scored over the member terms.  Oracle = same semantics in pure SQL
# (token list adjacency via list_filter over ordinals).
_FTS4_PHRASE = ["spark", "join"]


def _phrase_sql(
    phrase: list[str], k: int, qid: int | None = None, slop: int = 0
) -> str:
    """With ``slop`` > 0, the candidate test becomes the A30 proximity
    semantics — strictly increasing matched positions with every gap in
    [1, slop+1] — expressed as nested list_filter EXISTS closures (each
    inner range spans the allowed gap from the previous matched position).
    slop=0 keeps the flat fixed-offset adjacency form."""
    cfg = BM25Config()
    idf = cfg.idf_sql("df.df", "stats.n")
    tlist = ", ".join(f"'{t}'" for t in sorted(set(phrase)))
    if slop == 0:
        adj = " AND ".join(
            f"tk[i+{j}] = '{t}'" for j, t in enumerate(phrase)
        )
        cand_range = f"range(1, len(tk) - {len(phrase) - 2})"
    else:
        gap = slop + 1
        adj = None
        for j in range(len(phrase) - 1, 0, -1):
            prev = "i" if j == 1 else f"v{j - 1}"
            inner = f"tk[v{j}] = '{phrase[j]}'"
            if adj is not None:
                inner += f" AND {adj}"
            adj = (
                f"len(list_filter(range({prev}+1, {prev}+{gap + 1}), "
                f"v{j} -> v{j} <= len(tk) AND {inner})) > 0"
            )
        adj = f"tk[i] = '{phrase[0]}' AND {adj}"
        cand_range = "range(1, len(tk)+1)"
    select = "doc_id, round(s, 6) AS score"
    if qid is not None:
        select = (
            f"CAST({qid} AS BIGINT) AS query_id, "
            "CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank, "
            "doc_id, round(s, 6) AS score"
        )
    return f"""
WITH toklist AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[0-9a-z_]+') AS tk
  FROM documents
),
cand AS (
  SELECT doc_id FROM toklist
  WHERE len(list_filter({cand_range}, i -> {adj})) > 0
),
toks AS (SELECT doc_id, unnest(tk) AS term FROM toklist),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
-- N and avgdl are over ALL documents (engine semantics: a token-less doc
-- still counts toward N and pulls avgdl down)
stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
                 (SELECT CAST(count(*) AS DOUBLE) FROM toks)
                 / (SELECT count(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
       WHERE term IN ({tlist}) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         sum({idf} * ({cfg.k1} + 1.0) * tf.tf
             / (tf.tf + {cfg.k1} * (1.0 - {cfg.b} + {cfg.b} * dl.dl / stats.avgdl))) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  WHERE tf.doc_id IN (SELECT doc_id FROM cand)
  GROUP BY tf.doc_id)
SELECT {select} FROM scores
ORDER BY s DESC, doc_id LIMIT {k}
"""


# exclusion through the minimal query language ("merge scan -window"):
# conjunctive candidates minus docs containing the excluded term, scored
# over the positive terms in sorted order (idf unchanged by the exclusion).
# Puts the query-language negative path into the driver gate.
_FTS11_TERMS = ["merge", "scan"]  # sorted
_FTS11_EXCL = "window"


@q("fts11_engine_exclusion", _bm25_sql(_FTS11_TERMS, 10, "and", excl=_FTS11_EXCL))
def fts11(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    hits = index.search(
        " ".join(_FTS11_TERMS) + " -" + _FTS11_EXCL, k=10, mode="and"
    )
    return _hits_frame(spark, hits)


# A29 query-term boosts through the query language ("merge^2.5 scan"):
# conjunctive match semantics unchanged, the boosted term's contribution
# multiplied by its weight — gated against the same SQL BM25 with the
# CASE-weighted contribution.  Ranks genuinely differ from fts01-style
# unboosted AND, so the gate is load-bearing.
_FTS21_TERMS = ["merge", "scan"]  # sorted
_FTS21_BOOSTS = {"merge": 2.5}


@q("fts21_engine_boost", _bm25_sql(_FTS21_TERMS, 10, "and", boosts=_FTS21_BOOSTS))
def fts21(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    hits = index.search("merge^2.5 scan", k=10, mode="and")
    return _hits_frame(spark, hits)


# A30 proximity phrase ('"spark join"~1'): gap-bounded ordered positional
# match — wider than fts04's exact adjacency (56 vs 37 matching docs at
# sf0.01), so the slop path is observably different from the exact path.
_FTS22_PHRASE = ["spark", "join"]
_FTS22_SLOP = 1


@q("fts22_engine_proximity", _phrase_sql(_FTS22_PHRASE, 10, slop=_FTS22_SLOP))
def fts22(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir, positions=True))
    hits = index.search(
        f'"{" ".join(_FTS22_PHRASE)}"~{_FTS22_SLOP}', k=10, mode="or"
    )
    return _hits_frame(spark, hits)


# A22 delete + compact driver gate: a seventh of the corpus is tombstoned
# and the index compacted; the compacted index must be indistinguishable
# from one built over the filtered corpus — same docIDs, stats (N, avgdl,
# df/idf, block bounds) fully recomputed.  The oracle is the same BM25 SQL
# with the corpus predicate applied BEFORE any stat, and the query runs
# through block-max WAND so the recomputed bounds are load-bearing.
_FTS12_TERMS = ["hash", "join"]  # sorted
_FTS12_MOD, _FTS12_REM = 7, 3


@q(
    "fts12_delete_compact",
    _bm25_sql(
        _FTS12_TERMS, 10, "or",
        where=f"doc_id % {_FTS12_MOD} <> {_FTS12_REM}",
    ),
)
def fts12(spark, sf_dir):
    index = Index(
        spark, ensure_compacted_documents_index(spark, sf_dir, _FTS12_MOD, _FTS12_REM)
    )
    hits = index.search(_FTS12_TERMS, k=10, mode="wand")
    return _hits_frame(spark, hits)


# distributed PHRASE batch (the positional path at A20 scale): adjacency is
# a Catalyst higher-order fold over per-posting position runs — zero Python
# after the Arrow decode.  Oracle: per-query positional SQL, unioned.
_FTS14_QUERIES = [
    {"query_id": 1, "phrase": ["spark", "join"], "k": 10},
    {"query_id": 2, "phrase": ["data", "table"], "k": 10},
    # 3-token phrase chosen to MATCH at both test scales ("the query plan"
    # never occurs in the fixtures — a 0-row phrase gate proves nothing)
    {"query_id": 3, "phrase": ["the", "big", "data"], "k": 10},
]


@q(
    "fts14_phrase_batch",
    "\nUNION ALL\n".join(
        "SELECT * FROM ({})".format(_phrase_sql(q["phrase"], q["k"], qid=q["query_id"]))
        for q in _FTS14_QUERIES
    ),
)
def fts14(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir, positions=True))
    res = run_phrase_queries(spark, index, _FTS14_QUERIES)
    return res.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    )


@q("fts04_engine_phrase", _phrase_sql(_FTS4_PHRASE, 10))
def fts04(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir, positions=True))
    hits = index.search('"' + " ".join(_FTS4_PHRASE) + '"', k=10)
    return _hits_frame(spark, hits)


# ---------------------------------------------------------------------------
# FTS5/FTS8 — the distributed batch-query path (A20, batch_query.py): the
# whole query set evaluated as ONE Spark job (decode scan → broadcast query
# join → fixed-order partial-agg → per-query window top-k) vs an
# independent per-query SQL oracle UNION ALL'd with query_id + rank.
# Query shapes: hot∧hot, rare∧hot, 3-term, single-term, and a term absent
# from the corpus (empty result).
# ---------------------------------------------------------------------------
_FTS5_QUERIES = [
    {"query_id": 1, "terms": ["scan", "small"], "k": 10},
    {"query_id": 2, "terms": ["dup", "join"], "k": 10},
    {"query_id": 3, "terms": ["column", "table", "value"], "k": 15},
    {"query_id": 4, "terms": ["window"], "k": 10},
    {"query_id": 5, "terms": ["spark", "zzzmissing"], "k": 10},
]
_FTS8_QUERIES = [
    {"query_id": 1, "terms": ["fast", "key"], "k": 10},
    {"query_id": 2, "terms": ["line", "vector"], "k": 12},
    {"query_id": 3, "terms": ["dup", "the"], "k": 10},
]


def _batch_oracle_sql(queries: list[dict], mode: str, doc_pred: str | None = None) -> str:
    return "\nUNION ALL\n".join(
        "SELECT * FROM ({})".format(
            _bm25_sql(
                sorted(q["terms"]), q["k"], mode, qid=q["query_id"],
                excl=(q.get("exclude") or [None])[0], doc_pred=doc_pred,
            )
        )
        for q in queries
    )


def _engine_batch(spark, sf_dir, queries: list[dict], mode: str, doc_filter=None):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    res = run_queries(spark, index, queries, mode=mode, doc_filter=doc_filter)
    return res.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    )


@q("fts05_batch_queries", _batch_oracle_sql(_FTS5_QUERIES, "and"))
def fts05(spark, sf_dir):
    return _engine_batch(spark, sf_dir, _FTS5_QUERIES, "and")


# disjunctive batch: the same single-job run_queries path as fts05, with
# no conjunctive filter — every doc holding any query term is scored.
@q("fts08_batch_queries_or", _batch_oracle_sql(_FTS8_QUERIES, "or"))
def fts08(spark, sf_dir):
    return _engine_batch(spark, sf_dir, _FTS8_QUERIES, "or")


# metadata-FILTERED batch search: results restricted to docs whose source
# lang = 'en', expressed as a doc_id DataFrame semi-joined into the decode
# (engine doc_id ≡ source doc_id).  Scoring stats stay whole-corpus — the
# oracle applies the same predicate AFTER scoring, so a score change OR a
# leaked non-en doc would both hash-mismatch.
_FTS13_QUERIES = [
    {"query_id": 1, "terms": ["join", "merge"], "k": 12},
    {"query_id": 2, "terms": ["column", "spark"], "k": 10},
    {"query_id": 3, "terms": ["dup", "scan"], "k": 10},
]
_FTS13_PRED = "lang = 'en'"


@q(
    "fts13_filtered_batch",
    _batch_oracle_sql(_FTS13_QUERIES, "or", doc_pred=_FTS13_PRED),
)
def fts13(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return _engine_batch(
        spark, sf_dir, _FTS13_QUERIES, "or",
        doc_filter=docs.filter(F.expr(_FTS13_PRED)).select("doc_id"),
    )


# distributed EXCLUSION batch (the query language's negative path at A20
# scale — fts11's semantics through run_queries): per-query excluded terms
# decode in the same scan as the positive ones and drop every (query, doc)
# row they reach in the fold; positive idf/scores unchanged.
_FTS15_QUERIES = [
    {"query_id": 1, "terms": ["merge", "scan"], "k": 10, "exclude": ["window"]},
    {"query_id": 2, "terms": ["fast", "key"], "k": 10, "exclude": ["slow"]},
    {"query_id": 3, "terms": ["spark"], "k": 10, "exclude": ["zzzmissing"]},
]


@q("fts15_batch_exclusions", _batch_oracle_sql(_FTS15_QUERIES, "and"))
def fts15(spark, sf_dir):
    return _engine_batch(spark, sf_dir, _FTS15_QUERIES, "and")


# ---------------------------------------------------------------------------
# FTS6 — distributed segment merge (A10): two half-corpus indexes built with
# disjoint doc_id ranges (doc_id_base) are merged; block-max WAND over the
# merged index (block score bounds recomputed declaratively for the merged
# avgdl) must match the whole-corpus oracle — merge ∘ build ≡ build.
# ---------------------------------------------------------------------------
_FTS6_TERMS = ["order", "value"]  # sorted


@q("fts06_merged_index", _bm25_sql(_FTS6_TERMS, 12, "or"))
def fts06(spark, sf_dir):
    index = Index(spark, ensure_merged_documents_index(spark, sf_dir))
    hits = index.search(_FTS6_TERMS, k=12, mode="wand")
    return _hits_frame(spark, hits)


# ---------------------------------------------------------------------------
# FTS7 — lineage checkpoints / resume (A11): an index that lost 3 of its 8
# posting partitions (files + manifest markers) mid-build and was repaired
# by resume() against the same pinned input must answer queries identically
# to an uninterrupted build — i.e. match the same whole-corpus oracle.
# ---------------------------------------------------------------------------
_FTS7_TERMS = ["big", "row"]  # sorted


@q("fts07_resumed_index", _bm25_sql(_FTS7_TERMS, 10, "and"))
def fts07(spark, sf_dir):
    index = Index(spark, ensure_resumed_documents_index(spark, sf_dir))
    hits = index.search(_FTS7_TERMS, k=10, mode="and")
    return _hits_frame(spark, hits)


# ---------------------------------------------------------------------------
# FTS10 — result materialization: top-k search + doc-store fetch (what an
# end user sees — matched turns, not bare ids).  The docs table is range-
# partitioned by doc_id at build time so the fetch prunes to the files
# covering the hit ids.  Returning the text itself makes this row a
# query-time driver gate on the B:15 per-turn text-equality invariant.
# ---------------------------------------------------------------------------
_FTS10_TERMS = ["customer", "line"]  # sorted


def _fts10_sql() -> str:
    return f"""
SELECT t.doc_id, t.score, d.text
FROM ({_bm25_sql(_FTS10_TERMS, 10, "and")}) t JOIN documents d USING (doc_id)
"""


@q("fts10_search_with_docs", _fts10_sql())
def fts10(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    hits = index.search_docs(_FTS10_TERMS, k=10, mode="and")
    return spark.createDataFrame(
        [(int(d), round(float(s), 6), str(row["text"])) for d, s, row in hits],
        "doc_id long, score double, text string",
    )


# ---------------------------------------------------------------------------
# FTS9 — Structured-Streaming incremental indexing (streaming/incremental.py
# extension): the corpus arrives as 3 micro-batches on a file stream, each
# folded into the live index as an append segment via the ordered merge;
# the live index must match the whole-corpus SQL oracle (incremental ≡
# batch build ≡ oracle) — with exactly-once epoch-ledger semantics.
# ---------------------------------------------------------------------------
_FTS9_TERMS = ["query", "vector"]  # sorted


@q("fts09_incremental_index", _bm25_sql(_FTS9_TERMS, 12, "or"))
def fts09(spark, sf_dir):
    index = Index(spark, ensure_streamed_documents_index(spark, sf_dir))
    hits = index.search(_FTS9_TERMS, k=12, mode="wand")
    return _hits_frame(spark, hits)


# ---------------------------------------------------------------------------
# FTS16 — prefix wildcard query (A23): the dictionary range scan expands
# "s*" to the `limit` highest-df matching terms (df desc, term asc — a
# deterministic rewrite), which then score as a disjunction through the
# block-max WAND path.  The oracle performs the SAME expansion in SQL.
# ---------------------------------------------------------------------------
_FTS16_PREFIX, _FTS16_LIMIT, _FTS16_K = "s", 4, 15


def _prefix_sql(prefix: str, limit: int, k: int) -> str:
    cfg = BM25Config()
    idf = cfg.idf_sql("df.df", "stats.n")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
                 (SELECT CAST(count(*) AS DOUBLE) FROM toks)
                 / (SELECT count(*) FROM documents) AS avgdl),
alltf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
          WHERE term LIKE '{prefix}%' GROUP BY doc_id, term),
dfall AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM alltf GROUP BY term),
-- the engine's rewrite: `limit` highest-df prefix matches, ties by term
df AS (SELECT term, df FROM dfall ORDER BY df DESC, term LIMIT {limit}),
scores AS (
  SELECT tf.doc_id,
         sum({idf} * ({cfg.k1} + 1.0) * tf.tf
             / (tf.tf + {cfg.k1} * (1.0 - {cfg.b} + {cfg.b} * dl.dl / stats.avgdl))) AS s
  FROM alltf tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 6) AS score FROM scores
ORDER BY s DESC, doc_id LIMIT {k}
"""


@q("fts16_engine_prefix", _prefix_sql(_FTS16_PREFIX, _FTS16_LIMIT, _FTS16_K))
def fts16(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    hits = index.search(
        _FTS16_PREFIX + "*", k=_FTS16_K, mode="wand", prefix_limit=_FTS16_LIMIT
    )
    return _hits_frame(spark, hits)


# ---------------------------------------------------------------------------
# FTS23 — query suggestion / completion (A31): the limit highest-df
# dictionary terms under a prefix, (df desc, term asc) — integer-exact.
# The engine side is the same parquet-stats-pruned dictionary range scan
# the wildcard rewrite uses; the oracle recomputes df from the corpus.
# ---------------------------------------------------------------------------
_FTS23_PREFIX, _FTS23_K = "s", 10


@q(
    "fts23_suggest_prefix",
    f"""WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
)
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM toks WHERE term LIKE '{_FTS23_PREFIX}%'
GROUP BY term ORDER BY df DESC, term LIMIT {_FTS23_K}""",
)
def fts23(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    return spark.createDataFrame(
        [(t, int(d)) for t, d in index.suggest(_FTS23_PREFIX, limit=_FTS23_K)],
        "term string, df long",
    )


# ---------------------------------------------------------------------------
# FTS24 — more-like-this (A32): seed doc → its top-5 terms by the
# integer-exact (tf desc, corpus df asc, term asc) triple → disjunctive
# BM25 top-k excluding the seed.  The oracle derives the SAME seed terms
# from the corpus in SQL, then scores with the standard BM25 CTE chain.
# ---------------------------------------------------------------------------
_FTS24_SEED, _FTS24_K, _FTS24_NTERMS = 42, 10, 5


def _mlt_sql(seed: int, k: int, n_terms: int) -> str:
    cfg = BM25Config()
    idf = cfg.idf_sql("df.df", "stats.n")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
),
seed AS (SELECT term, CAST(count(*) AS BIGINT) AS stf FROM toks
         WHERE doc_id = {seed} GROUP BY term),
dfall AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfa FROM toks
          WHERE term IN (SELECT term FROM seed) GROUP BY term),
qterms AS (SELECT term FROM (
    SELECT seed.term,
           row_number() OVER (ORDER BY seed.stf DESC, dfall.dfa ASC, seed.term)
             AS rn
    FROM seed JOIN dfall USING (term)) WHERE rn <= {n_terms}),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
                 (SELECT CAST(count(*) AS DOUBLE) FROM toks)
                 / (SELECT count(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
       WHERE term IN (SELECT term FROM qterms) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
scores AS (
  SELECT tf.doc_id,
         sum({idf} * ({cfg.k1} + 1.0) * tf.tf
             / (tf.tf + {cfg.k1} * (1.0 - {cfg.b} + {cfg.b} * dl.dl / stats.avgdl))) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 6) AS score FROM scores WHERE doc_id <> {seed}
ORDER BY s DESC, doc_id LIMIT {k}
"""


@q("fts24_more_like_this", _mlt_sql(_FTS24_SEED, _FTS24_K, _FTS24_NTERMS))
def fts24(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    seed_text = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") == _FTS24_SEED)
        .select("text")
        .collect()[0][0]
    )
    hits = index.more_like_this(
        seed_text, k=_FTS24_K, n_terms=_FTS24_NTERMS,
        exclude_doc_id=_FTS24_SEED, mode="wand",
    )
    return _hits_frame(spark, hits)


# ---------------------------------------------------------------------------
# FTS25 — spell correction / did-you-mean (A33): dictionary terms within
# edit distance ≤ 1 of a misspelled query term, (df desc, term asc).
# Engine side: symmetric-delete probe over the distributed-built
# ``spellings`` component + exact verify (operators/spell.py); oracle:
# brute-force levenshtein over the recomputed corpus df — equality proves
# the delete-probe is lossless.
# ---------------------------------------------------------------------------
_FTS25_Q, _FTS25_K = "aig", 10


@q(
    "fts25_spell_correct",
    f"""WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
)
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM toks GROUP BY term HAVING levenshtein(term, '{_FTS25_Q}') <= 1
ORDER BY df DESC, term LIMIT {_FTS25_K}""",
)
def fts25(spark, sf_dir):
    index = Index(spark, ensure_spell_index(spark, sf_dir))
    return spark.createDataFrame(
        [(t, int(d)) for t, d in index.spell_correct(_FTS25_Q, k=_FTS25_K)],
        "term string, df long",
    )


# ---------------------------------------------------------------------------
# FTS26 — synonym / dis-max search (A34): two concept groups
# (join|merge, scan); per doc each group contributes the MAX of its
# members' BM25 contributions, the doc score sums the groups.  Two groups
# keep the float sum order-proof (a+b is commutative exactly in IEEE).
# ---------------------------------------------------------------------------
_FTS26_GROUPS = [["join", "merge"], ["scan"]]
_FTS26_K = 10


def _dismax_sql(groups: list[list[str]], k: int) -> str:
    cfg = BM25Config()
    idf = cfg.idf_sql("df.df", "stats.n")
    terms = sorted({t for g in groups for t in g})
    in_list = ", ".join(f"'{t}'" for t in terms)
    # (gid, term) membership JOIN rather than a first-WHEN-wins CASE: the
    # engine's search_dismax scores a term in EVERY group that contains it,
    # so overlapping synonym groups must fan the term out per group here too
    # (the same gterms shape _fuzzy_sql uses).
    gterms = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS gid, '{t}' AS term"
        for i, g in enumerate(groups) for t in g
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
),
gterms AS (
{gterms}
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
                 (SELECT CAST(count(*) AS DOUBLE) FROM toks)
                 / (SELECT count(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
       WHERE term IN ({in_list}) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, g.gid,
         {idf} * ({cfg.k1} + 1.0) * tf.tf
             / (tf.tf + {cfg.k1} * (1.0 - {cfg.b} + {cfg.b} * dl.dl / stats.avgdl)) AS c
  FROM tf JOIN gterms g USING (term) JOIN df USING (term)
       JOIN dl USING (doc_id) CROSS JOIN stats),
g AS (SELECT doc_id, gid, max(c) AS c FROM contrib GROUP BY doc_id, gid),
s AS (SELECT doc_id, sum(c) AS s FROM g GROUP BY doc_id)
SELECT doc_id, round(s, 6) AS score FROM s ORDER BY s DESC, doc_id LIMIT {k}
"""


@q("fts26_synonym_dismax", _dismax_sql(_FTS26_GROUPS, _FTS26_K))
def fts26(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    hits = index.search_dismax(_FTS26_GROUPS, k=_FTS26_K)
    return _hits_frame(spark, hits)


# ---------------------------------------------------------------------------
# FTS27 — fuzzy search (A35): each query term expands to the dictionary
# terms within Levenshtein distance ≤ 1, capped at the max_expansions
# highest-df variants (df desc, term asc — integer-exact), and each
# expansion set scores as ONE dis-max group (A34).  "sart" expands to
# {part, sort} on this corpus, so the dis-max-not-sum semantics is
# actually exercised.  The oracle brute-forces levenshtein over the
# recomputed vocabulary (proving the symmetric-delete probe lossless end
# to end) and applies the same cap + the fts26 max-then-sum CTE chain;
# a term landing in two groups is handled by the gterms JOIN (it would
# contribute to both, exactly as the engine scores per-group).
# ---------------------------------------------------------------------------
_FTS27_TERMS = ["sart", "merg"]  # 2 groups: IEEE sum of 2 is order-proof
_FTS27_K, _FTS27_MAXEXP = 10, 16


def _fuzzy_sql(terms: list[str], k: int, max_expansions: int) -> str:
    cfg = BM25Config()
    idf = cfg.idf_sql("df.df", "stats.n")
    group_sel = "\n  UNION ALL\n".join(
        f"""  SELECT {gid} AS gid, term FROM (
    SELECT term, row_number() OVER (ORDER BY dfa DESC, term) AS rn
    FROM dfall WHERE levenshtein(term, '{t}') <= 1) WHERE rn <= {max_expansions}"""
        for gid, t in enumerate(terms)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
),
dfall AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS dfa
          FROM toks GROUP BY term),
gterms AS (
{group_sel}
),
dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM documents) AS n,
                 (SELECT CAST(count(*) AS DOUBLE) FROM toks)
                 / (SELECT count(*) FROM documents) AS avgdl),
tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks
       WHERE term IN (SELECT term FROM gterms) GROUP BY doc_id, term),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, g.gid,
         {idf} * ({cfg.k1} + 1.0) * tf.tf
             / (tf.tf + {cfg.k1} * (1.0 - {cfg.b} + {cfg.b} * dl.dl / stats.avgdl)) AS c
  FROM tf JOIN gterms g USING (term) JOIN df USING (term)
       JOIN dl USING (doc_id) CROSS JOIN stats),
g AS (SELECT doc_id, gid, max(c) AS c FROM contrib GROUP BY doc_id, gid),
s AS (SELECT doc_id, sum(c) AS s FROM g GROUP BY doc_id)
SELECT doc_id, round(s, 6) AS score FROM s ORDER BY s DESC, doc_id LIMIT {k}
"""


@q("fts27_fuzzy_search", _fuzzy_sql(_FTS27_TERMS, _FTS27_K, _FTS27_MAXEXP))
def fts27(spark, sf_dir):
    index = Index(spark, ensure_spell_index(spark, sf_dir))
    hits = index.search_fuzzy(
        _FTS27_TERMS, k=_FTS27_K, max_expansions=_FTS27_MAXEXP
    )
    return _hits_frame(spark, hits)


# ---------------------------------------------------------------------------
# FTS17 — distributed faceted search (A25): per facet value, the count of
# ALL docs matching the conjunctive query — full recall over the decoded
# postings (term-filtered scan → map-side-combined match test → metadata
# join), not a top-k.  Facet field comes from the documents metadata table.
# ---------------------------------------------------------------------------
_FTS17_TERMS = ["join", "spark"]  # sorted


@q(
    "fts17_facet_counts",
    f"""WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term FROM toks
       WHERE term IN ({", ".join(f"'{t}'" for t in _FTS17_TERMS)})
       GROUP BY doc_id, term),
m AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING count(*) = {len(_FTS17_TERMS)})
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
FROM m JOIN documents USING (doc_id) GROUP BY lang""",
)
def fts17(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    docs = _t(spark, sf_dir, "documents")
    return facet_counts(spark, index, _FTS17_TERMS, docs, "lang", mode="and")


# ---------------------------------------------------------------------------
# FTS18 — snippet generation (A24): top-k conjunctive hits materialized as
# a window of analyzed tokens around the earliest query-term occurrence.
# Anchors come from the positional index; only the k result docs' texts are
# fetched (range-pruned doc store) and re-analyzed.  Oracle: same window
# arithmetic over DuckDB list ops (list_position is 1-based, the engine's
# positions are 0-based — the slice bounds below encode that shift).
# ---------------------------------------------------------------------------
_FTS18_TERMS = ["query", "window"]  # sorted; both in-vocabulary (non-empty gate)
_FTS18_K, _FTS18_BEFORE, _FTS18_AFTER = 10, 2, 4


def _snippet_sql(terms: list[str], k: int, before: int, after: int) -> str:
    inner = _bm25_sql(terms, k, "and")
    anchor = "least(" + ", ".join(f"list_position(tk, '{t}')" for t in terms) + ")"
    return f"""
WITH top AS ({inner}),
toklist AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[0-9a-z_]+') AS tk
  FROM documents
)
SELECT top.doc_id, top.score,
       array_to_string(
         list_slice(tk, greatest(1, {anchor} - {before}), {anchor} + {after}),
         ' ') AS snippet
FROM top JOIN toklist USING (doc_id)
"""


@q(
    "fts18_engine_snippets",
    _snippet_sql(_FTS18_TERMS, _FTS18_K, _FTS18_BEFORE, _FTS18_AFTER),
)
def fts18(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir, positions=True))
    snips = index.snippets(
        _FTS18_TERMS, k=_FTS18_K, mode="and",
        before=_FTS18_BEFORE, after=_FTS18_AFTER,
    )
    return spark.createDataFrame(
        [(int(d), round(float(s), 6), sn) for d, s, sn in snips],
        "doc_id long, score double, snippet string",
    )


# ---------------------------------------------------------------------------
# FTS19 — corpus term statistics from the engine dictionary (A5/A6/A14
# gate): the as-built per-term df (docs containing) and cf (total
# occurrences) must equal a from-scratch SQL recount.  Top-20 by (df desc,
# term asc) — a deterministic boundary, so the LIMIT binds identically.
# ---------------------------------------------------------------------------
@q(
    "fts19_top_terms",
    """WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS term
  FROM documents
)
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       CAST(count(*) AS BIGINT) AS cf
FROM toks GROUP BY term ORDER BY df DESC, term LIMIT 20""",
)
def fts19(spark, sf_dir):
    dic = spark.read.parquet(
        os.path.join(ensure_documents_index(spark, sf_dir), "dictionary")
    )
    return (
        dic.select("term", F.col("df").cast("long").alias("df"),
                   F.col("cf").cast("long").alias("cf"))
        .orderBy(F.desc("df"), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# FTS20 — hybrid search: reciprocal-rank fusion of the lexical (engine
# BM25/WAND top-K) and vector (embedding similarity top-K) legs —
# score(d) = Σ_legs 1/(60 + rank_leg(d)), the standard RRF.  The vector
# leg ranks by the INTEGER dot product over sim02's ×1000-quantized
# embeddings, so every rank that feeds the fusion is integer-exact (no
# float-summation-order risk at a rank boundary); the fused score itself
# is two IEEE divisions + one add, bit-identical across engines.  At
# scale each leg is an independent top-K (WAND / TakeOrdered) and the
# fusion joins two K-row sets — cost lives in the legs, not the fusion.
# ---------------------------------------------------------------------------
_FTS20_TERMS = ["data", "table"]  # sorted
_FTS20_QVEC = 0        # query embedding = vec_id 0 (vec_id ≡ doc_id)
_FTS20_LEG_K = 20
_FTS20_K = 10
_FTS20_RRF = 60


def _rrf_sql() -> str:
    lex_inner = _bm25_sql(_FTS20_TERMS, _FTS20_LEG_K, "or", qid=0)
    return f"""
WITH lex AS (SELECT doc_id, rank AS r FROM ({lex_inner})),
e AS (SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> CAST(round(x*1000) AS BIGINT)) AS qv
      FROM embeddings),
q AS (SELECT qv FROM e WHERE vec_id = {_FTS20_QVEC}),
dots AS (SELECT e.vec_id,
                CAST(list_sum(list_transform(range(1, len(e.qv) + 1),
                     i -> e.qv[i] * q.qv[i])) AS BIGINT) AS dot
         FROM e, q),
vec AS (SELECT vec_id AS doc_id,
               CAST(row_number() OVER (ORDER BY dot DESC, vec_id) AS BIGINT) AS r
        FROM dots ORDER BY dot DESC, vec_id LIMIT {_FTS20_LEG_K}),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         coalesce(1.0::DOUBLE / CAST({_FTS20_RRF} + l.r AS DOUBLE), 0.0)
         + coalesce(1.0::DOUBLE / CAST({_FTS20_RRF} + v.r AS DOUBLE), 0.0) AS rrf
  FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
SELECT doc_id, round(rrf, 6) AS rrf FROM fused
ORDER BY rrf DESC, doc_id LIMIT {_FTS20_K}
"""


@q("fts20_hybrid_rrf", _rrf_sql())
def fts20(spark, sf_dir):
    index = Index(spark, ensure_documents_index(spark, sf_dir))
    hits = index.search(_FTS20_TERMS, k=_FTS20_LEG_K, mode="wand")
    lex = spark.createDataFrame(
        [(int(d), r + 1) for r, (d, _) in enumerate(hits)], "doc_id long, lr long"
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
        ).alias("qv"),
    )
    qv = emb.filter(F.col("vec_id") == _FTS20_QVEC).select("qv").collect()[0]["qv"]
    qlit = F.array(*[F.lit(int(x)) for x in qv])
    dot = F.aggregate(
        F.zip_with(F.col("qv"), qlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    vec = (
        emb.select(F.col("vec_id").alias("doc_id"), dot.alias("dot"))
        .orderBy(F.desc("dot"), "doc_id")
        .limit(_FTS20_LEG_K)
        .withColumn(
            "vr",
            F.row_number().over(Window.orderBy(F.desc("dot"), "doc_id")).cast("long"),
        )
        .select("doc_id", "vr")
    )
    one = F.lit(1.0)
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(one / (F.lit(_FTS20_RRF) + F.col("lr")).cast("double"), F.lit(0.0))
                + F.coalesce(one / (F.lit(_FTS20_RRF) + F.col("vr")).cast("double"), F.lit(0.0))
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(_FTS20_K)
        .select("doc_id", F.round("rrf", 6).alias("rrf"))
    )
    return fused
