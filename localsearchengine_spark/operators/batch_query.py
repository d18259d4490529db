"""A20 — distributed evaluation of a whole query set.

BASELINE.json:2's metric is a *match rate over a query set*; at 10^12-turn
scale the postings for a large query batch don't fit one driver, so this path
keeps everything in DataFrames:

    postings (term-filtered parquet scan, pushdown, declared schema)
      → mapInArrow decode, once (contiguous varint streams → long form)
      → repartition(spark.sql.shuffle.partitions, doc_id)  [the only big
        shuffle: one row per decoded posting, before the query fan-out]
      → broadcast-join the exploded query set + per-term idf and fold slot
      → JVM Column-expression BM25 contribution  (whole-stage codegen)
      → groupBy(query_id, doc_id) per-slot sums, added in slot order
        (codegen'd HashAggregate, in the doc_id exchange's reduce tasks:
        hash partitioning on doc_id already clusters (query_id, doc_id))
      → AND filter (nt == n_terms) → per-query top-k window, cut per
        partition (WindowGroupLimit) before the query_id exchange

The per-term idf/df comes from the dictionary (driver-side lookup — the
query set's term list is small by definition), so no second big join.
Driver-side frames are built from Arrow tables, so each plans as a
LocalTableScan whose broadcast stays in the JVM.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from localsearchengine_spark.operators import codec
from localsearchengine_spark.operators.search import Index

DECODED_SCHEMA = "term string, doc_id long, tf long, dl long"
RESULT_SCHEMA = pa.schema(
    [("query_id", pa.int64()), ("rank", pa.int64()), ("doc_id", pa.int64()),
     ("score", pa.float64())]
)


def _local_frame(spark: SparkSession, rows: list[tuple], schema: pa.Schema) -> DataFrame:
    """Driver-side rows → a DataFrame over an Arrow table.  It plans as a
    LocalTableScan: collecting it runs no job, and broadcasting it runs a
    JVM-only one.  A DataFrame made from Python tuples is an RDD scan whose
    broadcast runs every row through a Python worker."""
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
    )


def _postings_scan(spark: SparkSession, index_dir: str, terms: list[str]) -> DataFrame:
    """Term-filtered postings scan (compressed blocks, not yet decoded); a
    term's rows are found by ``term`` alone, the filter pushed down."""
    rows = spark.read.schema(codec.postings_spark_schema()).parquet(
        os.path.join(index_dir, "postings")
    )
    return rows.filter(F.col("term").isin(sorted(set(terms))))


DECODED_POS_SCHEMA = DECODED_SCHEMA + ", pos array<long>"


def _decode_arrow(rows: DataFrame, with_pos: bool = False) -> DataFrame:
    """(term, blocks) → decoded long form via an Arrow-NATIVE kernel.
    With ``with_pos``, each posting's within-doc position run rides along
    as an array column (posting i owns tf[i] flat positions).

    mapInArrow keeps the compressed block structs as Arrow buffers and
    `codec.decode_block_lists` decodes each varint stream of a RecordBatch
    in one vectorized pass.  The earlier mapInPandas kernel converted every
    block struct to a Python dict first — measured as the dominant cost of
    the decode stage, dwarfing the actual varint work."""

    def decode(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {n: rb.column(i) for i, n in enumerate(rb.schema.names)}
            dec = codec.decode_block_lists(cols["blocks"], with_pos)
            if dec is None:
                continue
            row_off, doc_ids, tfs, dls, pos = dec
            term_idx = np.repeat(np.arange(rb.num_rows, dtype=np.int64), np.diff(row_off))
            arrays = [
                cols["term"].take(pa.array(term_idx)),
                pa.array(doc_ids, type=pa.int64()),
                pa.array(tfs, type=pa.int64()),
                pa.array(dls, type=pa.int64()),
            ]
            names = ["term", "doc_id", "tf", "dl"]
            if with_pos:
                tf_cum = np.concatenate(([0], np.cumsum(tfs))).astype(np.int32)
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(tf_cum), pa.array(pos, type=pa.int64())
                    )
                )
                names.append("pos")
            yield pa.RecordBatch.from_arrays(arrays, names)

    return rows.select("term", "blocks").mapInArrow(
        decode, schema=DECODED_POS_SCHEMA if with_pos else DECODED_SCHEMA
    )


def _drop_deleted(df: DataFrame, spark: SparkSession, index_dir: str) -> DataFrame:
    """A22: exclude tombstoned docs from a decoded postings DataFrame.  The
    tombstone files are read as a distributed scan (never collected); the
    anti-join broadcasts because a live tombstone set is small relative to
    the corpus by design — compaction is the pressure valve."""
    from localsearchengine_spark.sources import io as lse_io

    tdir = os.path.join(index_dir, "tombstones")
    if not lse_io.path_exists(tdir):
        return df
    ts = spark.read.schema("doc_id long").parquet(tdir).distinct()
    return df.join(F.broadcast(ts), "doc_id", "left_anti")


def decode_postings_df(spark: SparkSession, index_dir: str, terms: list[str]) -> DataFrame:
    """Term-filtered postings scan → decoded long form, distributed;
    tombstoned docs excluded."""
    return _drop_deleted(
        _decode_arrow(_postings_scan(spark, index_dir, terms)), spark, index_dir
    )


def facet_counts(
    spark: SparkSession,
    index,
    terms: list[str],
    facet_df: DataFrame,
    facet_col: str,
    mode: str = "and",
) -> DataFrame:
    """A25: distributed faceted search — per facet value, the count of ALL
    docs matching the query (full recall, not top-k: facets summarize the
    whole result set, so the driver-local heap path doesn't apply).

    Shape for scale: the decode touches only the query terms' postings
    (term-filtered scan); the match test is one hash aggregate on
    doc_id whose partial (map-side) combine collapses each doc's ≤|terms|
    rows before the shuffle; the facet join is doc_id-keyed against the
    metadata table (matched ids ≪ corpus, AQE picks the strategy) and the
    final groupBy emits one row per facet value.  No collect anywhere.
    """
    terms = sorted(set(terms))
    decoded = decode_postings_df(spark, index.index_dir, terms)
    # one row per (term, doc) by index construction → count(*) == distinct terms
    per_doc = decoded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    if mode == "and":
        per_doc = per_doc.filter(F.col("nt") == len(terms))
    elif mode != "or":
        raise ValueError(f"unknown mode: {mode}")
    return (
        per_doc.select("doc_id")
        .join(facet_df.select("doc_id", facet_col), "doc_id")
        .groupBy(facet_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _contrib_col(index: Index):
    from localsearchengine_spark.functions.bm25 import tf_norm_column

    cfg = index.cfg
    return (
        F.col("idf")
        * F.lit(cfg.k1 + 1.0)
        * tf_norm_column(F.col("tf"), F.col("dl"), F.lit(index.avgdl), cfg.k1, cfg.b)
    )


def _rank_topk(scored: DataFrame, k_max: int) -> DataFrame:
    """(query_id, doc_id, score, k) → per-query (rank ≤ k) rows, rank over
    (score desc, doc_id asc).

    The window's partitionBy(query_id) funnels every scored doc of a query
    onto one reducer.  The constant bound ``row_number() <= k_max`` (the
    batch's largest k) lets Spark's InferWindowGroupLimit put a Partial
    WindowGroupLimit before the query_id exchange: each input partition
    keeps only its per-query top k_max, a superset of what the global
    window keeps, and no surviving row's score is recomputed.

    The result is at most Σk rows, so it is ordered by (query_id, rank) in
    one partition: ``coalesce(1).sortWithinPartitions`` needs neither the
    sampling job nor the exchange of a global ``orderBy``.  The coalesce
    also runs the final window in that one task, over at most k_max rows
    per query from each fold partition while the Partial WindowGroupLimit
    applies."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    rn = F.col("rank")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((rn <= F.lit(k_max)) & (rn <= F.col("k")))
        .select("query_id", rn.cast("long").alias("rank"), "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )


def _fold(contribs: DataFrame, n_slots: int, *extra_aggs) -> DataFrame:
    """(query_id, doc_id, slot, k, contrib) → one (query_id, doc_id, score,
    *extra_aggs, k) row per (query, doc).  ``slot`` is the term's position
    among its query's present terms in sorted order, below ``n_slots``.

    Fixed-order summation (the §2.4 determinism contract): the score is
    ``((0.0 + c_0) + c_1) + …`` over the slots in order, with an absent
    term's c_j = 0.0, so the float64 score is bit-identical across
    parallelism levels and to the driver-local paths, which fold the
    present terms in sorted order from 0.0.  Each slot holds at most one
    contribution per (query, doc) (one posting per term and doc), so its
    sum is that contribution exactly, whatever the partial-aggregation
    order; and adding 0.0 for an absent term leaves the running score
    unchanged (x + 0.0 == x).  Plain sums keep the fold a codegen'd
    HashAggregate."""
    slots = [f"c{j}" for j in range(n_slots)]
    score = F.lit(0.0)
    for c in slots:
        score = score + F.coalesce(F.col(c), F.lit(0.0))
    return (
        contribs.groupBy("query_id", "doc_id")
        .agg(
            *[F.sum(F.when(F.col("slot") == j, F.col("contrib"))).alias(c)
              for j, c in enumerate(slots)],
            *extra_aggs,
            F.first("k").alias("k"),
        )
        .withColumn("score", score)
        .drop(*slots)
    )


def run_queries(
    spark: SparkSession,
    index: Index,
    queries: list[dict],
    mode: str = "and",
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """queries: [{"query_id": int, "terms": [str], "k": int}] →
    DataFrame(query_id long, rank long, doc_id long, score double), in
    (query_id, rank) order.

    ``doc_filter`` — optional one-column (doc_id) DataFrame restricting
    RESULTS to those docs (metadata-filtered search, e.g. "only docs where
    lang='en'"): a semi-join on the decoded scan, so the filter set never
    leaves the executors and can be arbitrarily large (any Catalyst
    predicate over any table that yields docIDs).  Scoring stats (N, avgdl,
    idf) stay whole-corpus — a result filter is not a corpus deletion (A22
    is).

    A query dict may carry ``"exclude": [terms...]`` — the query language's
    negative path (fts11) distributed: the query's results drop docs
    containing any excluded term.  An excluded term joins the query set
    with slot −1, so its postings decode in the same scan, contribute to no
    slot, and mark the (query, doc) rows they reach: the fold keeps a row
    only when its smallest slot is ≥ 0.  Like the driver-local path,
    exclusion never changes the positive terms' idf or scores.

    AND and OR run as one job: every block of every query term decodes
    once, then one (query, doc) fold ranks.  Skipping blocks by their score
    bound (a two-phase block-max/MaxScore plan), and pre-filtering AND by
    its rarest term's postings, each lost to this: the second decode costs
    more than it saves (BENCH.md round 3; "One postings decode per batch").

    The decoded postings cross one exchange, hash-partitioned on doc_id
    into ``spark.sql.shuffle.partitions`` parts, before the join fans each
    posting out to its queries: a term's postings sit in one scan task, so
    exchanging the fanned-out (query, doc) rows instead moved every joined
    row and combined none.  The count is fixed, not left to AQE: a
    prototype whose doc_id partitions AQE coalesced left cores idle in the
    fold (BENCH.md, "One narrow shuffle per batch").

    The per-query top-k cut runs per partition before the query_id
    exchange only while the batch's largest k is at most Spark's
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000).
    Above it Spark plans no WindowGroupLimit: every scored (query, doc)
    pair crosses the exchange and reaches the rank window, which then runs
    in the one task that orders the result (``_rank_topk``); results stay
    the same."""
    cfg = index.cfg
    excluded = {int(q["query_id"]): sorted(set(q.get("exclude", []))) for q in queries}
    dic = index.lookup(
        sorted({t for q in queries for t in q["terms"]}
               | {t for ts in excluded.values() for t in ts})
    )

    qrows, excl_rows = [], []
    for qd in queries:
        qid, k = int(qd["query_id"]), int(qd.get("k", 10))
        terms = sorted(set(qd["terms"]))
        present = [t for t in terms if t in dic]
        for slot, t in enumerate(present):
            qrows.append(
                (qid, t, slot, float(cfg.idf(dic[t]["df"], index.n_docs)),
                 len(terms), len(present), k)
            )
        # an absent excluded term excludes nothing
        excl_rows += [(qid, t, -1, 0.0, len(terms), len(present), k)
                      for t in excluded[qid] if t in dic]
    if not qrows:
        return _local_frame(spark, [], RESULT_SCHEMA)
    qdf = _local_frame(
        spark,
        qrows + excl_rows,
        pa.schema(
            [("query_id", pa.int64()), ("term", pa.string()), ("slot", pa.int32()),
             ("idf", pa.float64()), ("n_terms", pa.int64()), ("n_present", pa.int64()),
             ("k", pa.int64())]
        ),
    )

    decoded = decode_postings_df(
        spark, index.index_dir, sorted({r[1] for r in qrows + excl_rows})
    ).repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "doc_id")
    if doc_filter is not None:
        decoded = decoded.join(
            doc_filter.select("doc_id").distinct(), "doc_id", "left_semi"
        )

    joined = decoded.join(F.broadcast(qdf), "term").select(
        "query_id", "doc_id", "slot", "n_terms", "n_present", "k",
        _contrib_col(index).alias("contrib"),
    )
    scored = _fold(
        joined,
        max(r[2] for r in qrows) + 1,
        F.count(F.lit(1)).alias("nt"),
        F.first("n_terms").alias("n_terms"),
        F.first("n_present").alias("n_present"),
        F.min("slot").alias("min_slot"),
    ).filter(F.col("min_slot") >= 0)
    if mode == "and":
        # conjunctive: doc must contain every query term, and every query
        # term must exist in the corpus (matches the driver-local AND path)
        scored = scored.filter(
            (F.col("nt") == F.col("n_terms")) & (F.col("n_present") == F.col("n_terms"))
        )
    return _rank_topk(scored, max(r[-1] for r in qrows))


def run_phrase_queries(
    spark: SparkSession, index: Index, queries: list[dict]
) -> DataFrame:
    """Distributed PHRASE batch (the query language's positional path at
    A20 scale): queries = [{"query_id": int, "phrase": [term, ...], "k"}]
    → DataFrame(query_id long, rank long, doc_id long, score double).

    Fully declarative after the positional decode — phrase adjacency is a
    Catalyst higher-order fold, never Python: ``run`` starts as the first
    term's position array and each later term t_j keeps only start
    positions p with p+j ∈ pos(t_j) (`F.filter` + `F.exists`, whole-stage
    codegen; position runs are tf-sized, so the nested scan is tiny).
    Matching docs then score through the standard pipeline — BM25 over the
    phrase's member terms (same semantics as the driver-local
    `_structured_search` and the fts04 oracle), fixed-order fold, per-query
    top-k.  Each adjacency step is an equi-join on doc_id between two
    term-filtered slices of the same pushdown scan, so per-step input is
    bounded by the rarer term's postings."""
    if not index.conf.store_positions:
        raise ValueError(
            "phrase batch on an index built without positions "
            "(BuildConfig.store_positions=True)"
        )
    all_terms = sorted({t for q in queries for t in q["phrase"]})
    dic = index.lookup(all_terms)
    decoded = _drop_deleted(
        _decode_arrow(
            _postings_scan(spark, index.index_dir, all_terms), with_pos=True
        ),
        spark,
        index.index_dir,
    )

    parts = []
    qrows = []
    for qd in queries:
        ph = list(qd["phrase"])
        if not ph or any(t not in dic for t in ph):
            continue  # a missing member term can never match an exact phrase
        qid, k = int(qd["query_id"]), int(qd.get("k", 10))
        cur = decoded.filter(F.col("term") == ph[0]).select(
            "doc_id", F.col("pos").alias("run")
        )
        for j, t in enumerate(ph[1:], start=1):
            nxt = decoded.filter(F.col("term") == t).select(
                "doc_id", F.col("pos").alias(f"p{j}")
            )
            pj = F.col(f"p{j}")
            step = F.lit(j).cast("long")
            cur = (
                cur.join(nxt, "doc_id")
                .select(
                    "doc_id",
                    F.filter(
                        "run", lambda p: F.exists(pj, lambda x: x == p + step)
                    ).alias("run"),
                )
                .filter(F.size("run") > 0)
            )
        parts.append(
            cur.select(F.lit(qid).cast("long").alias("query_id"), "doc_id")
        )
        for slot, t in enumerate(sorted(set(ph))):
            qrows.append(
                (qid, t, slot, float(index.cfg.idf(dic[t]["df"], index.n_docs)), k)
            )
    if not parts:
        return _local_frame(spark, [], RESULT_SCHEMA)
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p)
    qdf = _local_frame(
        spark,
        qrows,
        pa.schema(
            [("query_id", pa.int64()), ("term", pa.string()), ("slot", pa.int32()),
             ("idf", pa.float64()), ("k", pa.int64())]
        ),
    )
    contribs = (
        decoded.select("term", "doc_id", "tf", "dl")
        .join(F.broadcast(qdf), "term")
        .join(cand, ["query_id", "doc_id"], "left_semi")
        .select("query_id", "doc_id", "slot", "k", _contrib_col(index).alias("contrib"))
    )
    return _rank_topk(
        _fold(contribs, max(r[2] for r in qrows) + 1), max(r[-1] for r in qrows)
    )
