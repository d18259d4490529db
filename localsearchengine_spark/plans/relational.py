"""SURVEY.md §2 Part B — the relational operator surface, as (Spark
DataFrame query, DuckDB oracle SQL) pairs checked by the driver harness
(__spark_entry__.py): scans, joins, aggregates, windows, set operations,
string/date/JSON functions, pandas UDFs, the dedup/quality starter rows
(dd01/dd02/tx01/sim01) and the rows-only approx01.  The engine rows (b20
and fts*) live in plans/fts.py; every row registers through
plans/registry.py.

Conventions that make the order-insensitive value-hash comparison exact:
  * every computed/aggregate column is aliased identically on both sides
  * double outputs are round()ed (2 for money sums, 4 for averages/z-scores,
    6 for scores/ratios) — float64 summation-order effects are ~1e-9
    relative, far inside the rounding margin
  * integer aggregates are cast to 64-bit on both sides (DuckDB sum(BIGINT)
    is HUGEINT; Spark size() is int32)
  * timestamps are emitted as formatted strings (Spark session TZ is pinned
    UTC; DuckDB timestamps are naive UTC)
  * every LIMIT carries a full deterministic ORDER BY tie-break
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from localsearchengine_spark.config import BM25Config
from localsearchengine_spark.plans.registry import _t, q


# ---------------------------------------------------------------------------
# B1 — parquet scan + projection + filter pushdown
# ---------------------------------------------------------------------------
@q(
    "b01_scan_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05""",
)
def b01(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= "1995-01-01") & (F.col("l_discount") > 0.05))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# B2 — broadcast equi inner join + aggregate
# ---------------------------------------------------------------------------
@q(
    "b02_join_broadcast_agg",
    """SELECT c_mktsegment,
              CAST(count(*) AS BIGINT) AS n_orders,
              round(sum(o_totalprice), 2) AS total_price
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment""",
)
def b02(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# B3 — large×large equi join (sort-merge under AQE) + aggregate
# ---------------------------------------------------------------------------
@q(
    "b03_join_large_agg",
    """SELECT o_orderpriority,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
              CAST(count(*) AS BIGINT) AS n_items
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
)
def b03(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select("o_orderpriority", "revenue", "n_items")
    )


# ---------------------------------------------------------------------------
# B4 — left semi join (EXISTS)
# ---------------------------------------------------------------------------
@q(
    "b04_join_semi",
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers
       FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       GROUP BY c_nationkey""",
)
def b04(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# B4b — left anti join (NOT EXISTS) — A11 resume uses this shape
# ---------------------------------------------------------------------------
@q(
    "b05_join_anti",
    """SELECT c_custkey, c_name
       FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 250000)""",
)
def b05(spark, sf_dir):
    # right side filtered so the anti join is non-empty at test scales —
    # "no customer lacks an order" would make this a 0-row (hollow) gate
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# B5 — hash aggregate battery (TPC-H Q1 shape)
# ---------------------------------------------------------------------------
@q(
    "b06_agg_tpch_q1",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_extendedprice), 4) AS avg_price,
              round(min(l_extendedprice), 2) AS min_price,
              round(max(l_extendedprice), 2) AS max_price,
              CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus""",
)
def b06(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# B6 — exact count distinct (approx variant is rows-only: approx01)
# ---------------------------------------------------------------------------
@q(
    "b07_count_distinct",
    """SELECT event_type,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 4) AS total_value
       FROM events GROUP BY event_type""",
)
def b07(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# B7 — rollup (grouping sets)
# ---------------------------------------------------------------------------
@q(
    "b08_rollup",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              CAST(count(*) AS BIGINT) AS n
       FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
)
def b08(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# B8 — ranking window (top-N per group); A2/A20 building block
# ---------------------------------------------------------------------------
@q(
    "b09_window_rank_topn",
    """SELECT o_custkey, o_orderkey, rn FROM (
         SELECT o_custkey, o_orderkey,
                CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
         FROM orders)
       WHERE rn <= 3""",
)
def b09(spark, sf_dir):
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


# ---------------------------------------------------------------------------
# B9 — analytic window: lag + running frame; A2 cumulative-offset shape
# ---------------------------------------------------------------------------
@q(
    "b10_window_running_lag",
    """SELECT event_id, user_id,
              round(coalesce(lag(value) OVER w, 0.0), 4) AS prev_value,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def b10(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.round(F.coalesce(F.lag("value").over(w), F.lit(0.0)), 4).alias("prev_value"),
            F.round(
                F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
            ).alias("running_value"),
        )
    )


# ---------------------------------------------------------------------------
# B10 — global sort + limit → TakeOrderedAndProject (A19 distributed shape)
# ---------------------------------------------------------------------------
@q(
    "b11_orderby_topk",
    """SELECT l_orderkey, l_linenumber, l_extendedprice
       FROM lineitem
       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""",
)
def b11(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# B11 — set ops (A10 merge / A11 diff building blocks)
# ---------------------------------------------------------------------------
@q(
    "b12_set_intersect",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def b12(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@q(
    "b13_set_except",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
       EXCEPT
       SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
)
def b13(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.subtract(b)  # EXCEPT (set semantics), not exceptAll


@q(
    "b21_set_union",
    """SELECT o_custkey,
              CAST(count(*) AS BIGINT) AS n_all,
              CAST(count(DISTINCT src) AS BIGINT) AS n_src
       FROM (
         SELECT o_custkey, 'o' AS src FROM orders WHERE o_orderstatus = 'O'
         UNION ALL
         SELECT o_custkey, 'f' AS src FROM orders WHERE o_orderstatus = 'F'
         UNION ALL
         SELECT c_custkey AS o_custkey, 'c' AS src FROM customer WHERE c_nationkey < 5
       ) GROUP BY o_custkey""",
)
def b21(spark, sf_dir):
    """Union as a driver-checked set op (the A10 merge shape): a 3-way
    unionByName re-aggregated per key, so the value hash pins multiset
    union cardinalities (n_all) and per-key source coverage (n_src)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey", F.lit("o").alias("src"))
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey", F.lit("f").alias("src"))
    d = c.filter(F.col("c_nationkey") < 5).select(
        F.col("c_custkey").alias("o_custkey"), F.lit("c").alias("src")
    )
    return (
        a.unionByName(b)
        .unionByName(d)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.countDistinct("src").alias("n_src"),
        )
    )


# ---------------------------------------------------------------------------
# B12 — string functions (A3's SQL-expressible subset)
# ---------------------------------------------------------------------------
@q(
    "b14_string_funcs",
    """SELECT doc_id,
              upper(lang) AS lang_u,
              CAST(length(text) AS BIGINT) AS n_len,
              regexp_extract(text, '([a-z]+)', 1) AS first_word,
              concat(lang, '_', source) AS lang_source,
              substring(text, 1, 8) AS prefix8
       FROM documents""",
)
def b14(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.upper("lang").alias("lang_u"),
        F.length("text").cast("long").alias("n_len"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.concat(F.col("lang"), F.lit("_"), F.col("source")).alias("lang_source"),
        F.substring("text", 1, 8).alias("prefix8"),
    )


# ---------------------------------------------------------------------------
# B13 — explode (A4's posting-emission shape as pure SQL)
# ---------------------------------------------------------------------------
@q(
    "b15_explode_tokens",
    """SELECT term, CAST(count(*) AS BIGINT) AS n
       FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       GROUP BY term ORDER BY n DESC, term LIMIT 25""",
)
def b15(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# B15 — date/time functions
# ---------------------------------------------------------------------------
@q(
    "b16_datetime_agg",
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 4) AS day_value,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM events GROUP BY 1""",
)
def b16(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("day_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# B16 — JSON extraction
# ---------------------------------------------------------------------------
@q(
    "b17_json_extract",
    """SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS BIGINT) AS k_bucket,
              CAST(count(*) AS BIGINT) AS n,
              CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_max
       FROM events GROUP BY 1""",
)
def b17(spark, sf_dir):
    kv = F.get_json_object("props", "$.k").cast("int")
    return (
        _t(spark, sf_dir, "events")
        .groupBy((kv % 10).cast("long").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(kv).cast("long").alias("k_max"),
        )
    )


# ---------------------------------------------------------------------------
# B17 — grouped-map Pandas UDF (applyInPandas) with a SQL window oracle
# ---------------------------------------------------------------------------
@q(
    "b18_grouped_map_zscore",
    """SELECT doc_id, source,
              round((n_chars - avg(n_chars) OVER (PARTITION BY source))
                    / stddev_samp(n_chars) OVER (PARTITION BY source), 4) AS z
       FROM documents""",
)
def b18(spark, sf_dir):
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["n_chars"].mean()
        s = pdf["n_chars"].std(ddof=1)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "source": pdf["source"],
                "z": ((pdf["n_chars"] - m) / s).round(4),
            }
        )

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .groupBy("source")
        .applyInPandas(zscore, schema="doc_id long, source string, z double")
    )


# ---------------------------------------------------------------------------
# B18 — scalar Arrow (pandas) UDF: the A3 tokenizer's token count
# ---------------------------------------------------------------------------
@q(
    "b19_pandas_udf_token_count",
    """SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text), '[0-9a-z_]+')) AS BIGINT) AS n_tokens
       FROM documents""",
)
def b19(spark, sf_dir):
    from localsearchengine_spark.functions.analyze import doc_lengths

    @F.pandas_udf("long")
    def tok_count(s: pd.Series) -> pd.Series:
        return pd.Series(doc_lengths(s, BM25Config()))

    return _t(spark, sf_dir, "documents").select(
        "doc_id", tok_count("text").alias("n_tokens")
    )


# ---------------------------------------------------------------------------
# DD1 — exact dedup stats (hash-groupBy dedup, documents)
# ---------------------------------------------------------------------------
@q(
    "dd01_exact_dedup_stats",
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
              CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups
       FROM documents""",
)
def dd01(spark, sf_dir):
    return _t(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias("n_dups"),
    )


# ---------------------------------------------------------------------------
# DD2 — content fingerprint (normalized md5; document identity at scale)
# ---------------------------------------------------------------------------
@q(
    "dd02_fingerprint",
    """SELECT doc_id, md5(lower(text)) AS fp FROM documents""",
)
def dd02(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.lower("text")).alias("fp")
    )


# ---------------------------------------------------------------------------
# TX1 — text-quality metrics (training-data pipeline surface)
# ---------------------------------------------------------------------------
_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


@q(
    "tx01_quality_metrics",
    f"""SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               round(CAST(len(list_filter(string_split(text, ' '),
                     x -> x IN ({", ".join(f"'{w}'" for w in _STOPWORDS)}))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS stopword_ratio,
               round(CAST(length(text) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS avg_token_len
        FROM documents""",
)
def tx01(spark, sf_dir):
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(
            F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast("double")
            / F.size(toks),
            6,
        ).alias("stopword_ratio"),
        F.round(F.length("text").cast("double") / F.size(toks), 6).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# SIM1 — brute-force cosine top-k over embeddings (ANN baseline)
# ---------------------------------------------------------------------------
@q(
    "sim01_cosine_topk",
    """WITH qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0)
       SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv.q), 6) AS cos
       FROM embeddings, qv
       WHERE vec_id <> 0
       ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv.q) DESC, vec_id
       LIMIT 10""",
)
def sim01(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    qvec = [float(x) for x in qrow["embedding"]]
    qlit = F.array(*[F.lit(x) for x in qvec])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    qn = float(sum(x * x for x in qvec)) ** 0.5
    cos = dot / (nrm * F.lit(qn))
    return (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("_cos"))
        .orderBy(F.desc("_cos"), "vec_id")
        .limit(10)
        .select("vec_id", F.round("_cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# APPROX1 — approx_count_distinct (no exact oracle → rows-only check)
# ---------------------------------------------------------------------------
@q("approx01_count_distinct")
def approx01(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
    )


# ---------------------------------------------------------------------------
# B19 — exact distributed percentiles (continuous interpolation).  Spark's
# `percentile` (exact, sort-based per group) vs DuckDB `percentile_cont`:
# both compute linear interpolation at rank p·(n−1) over float64, so the
# round(4) comparison is stable.
# ---------------------------------------------------------------------------
@q(
    "b22_percentiles",
    """SELECT l_returnflag,
              round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50,
              round(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p95,
              CAST(count(*) AS BIGINT) AS n
       FROM lineitem GROUP BY l_returnflag""",
)
def b22(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# B20 — as-of join (each 'click' event matched to the user's most recent
# 'view' at-or-before it).  Spark has no ASOF JOIN operator; the scalable
# formulation is the union + carry-forward window: tag both sides, sort
# within user by (ts, side) — views before clicks at equal ts, matching the
# oracle's `l.ts >= r.ts` — and carry the last view forward with
# last(..., ignorenulls).  ONE shuffle on user_id, no join explosion, no
# per-row Python; survives arbitrarily many events per user.  The oracle is
# DuckDB's native ASOF JOIN.  The right side is pre-aggregated per
# (user_id, ts) so the at-equal-ts match is unique and deterministic on
# both sides.
# ---------------------------------------------------------------------------
@q(
    "b23_asof_join",
    """WITH l AS (SELECT user_id, ts, event_id
                  FROM events WHERE event_type = 'click'),
            r AS (SELECT user_id, ts AS r_ts, round(max(value), 2) AS r_value
                  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
       SELECT l.event_id, l.user_id,
              epoch_us(l.ts) AS ts_us,
              epoch_us(r.r_ts) AS view_ts_us,
              r.r_value AS view_value
       FROM l ASOF JOIN r
         ON l.user_id = r.user_id AND l.ts >= r.r_ts""",
)
def b23(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.lit(1).alias("side"), F.lit(None).cast("long").alias("v_ts_us"),
        F.lit(None).cast("double").alias("v_val"),
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("v_val"))
        .select(
            "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
            F.lit(0).alias("side"),
            # parquet ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the
            # cast to (local-tz) timestamp is shift-free
            F.unix_micros(F.col("ts").cast("timestamp")).alias("v_ts_us"),
            "v_val",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = clicks.unionByName(views).select(
        "event_id", "user_id", "ts", "side",
        F.last("v_ts_us", ignorenulls=True).over(w).alias("view_ts_us"),
        F.last("v_val", ignorenulls=True).over(w).alias("view_value"),
    )
    return (
        carried.filter((F.col("side") == 1) & F.col("view_ts_us").isNotNull())
        .select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "view_ts_us", "view_value",
        )
    )


# ---------------------------------------------------------------------------
# B21 — sessionization (gaps-and-islands): a new session starts when a
# user's inter-event gap exceeds 6 hours.  ONE shuffle on user_id (both
# windows and the final groupBy share the partitioning); gap arithmetic in
# integer epoch microseconds so both engines compare identically.
# (user_id, ts) is unique in the fixture, so (ts, event_id) ordering is
# deterministic.
# ---------------------------------------------------------------------------
_SESSION_GAP_US = 6 * 3600 * 1_000_000


@q(
    "b24_sessionize",
    f"""WITH e AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {_SESSION_GAP_US} THEN 1
                  WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL THEN 1
                  ELSE 0 END AS new_sess
      FROM events),
    s AS (
      SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id) AS BIGINT) AS session_id
      FROM e)
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts_us) AS start_us, max(ts_us) AS end_us,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_id""",
)
def b24(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_id", "value", "ts",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
        .withColumn(
            "new_sess",
            F.when(
                F.col("ts_us") - F.lag("ts_us").over(w) > _SESSION_GAP_US, 1
            ).when(F.lag("ts_us").over(w).isNull(), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                Window.partitionBy("user_id").orderBy("ts_us", "event_id")
            ).cast("long"),
        )
    )
    return e.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# B22 — pivot: event_type × 4-hour-of-day bucket counts.  Spark's pivot
# with an EXPLICIT value list (no extra distinct-values job at scale);
# oracle is the equivalent conditional aggregation.
# ---------------------------------------------------------------------------
@q(
    "b25_pivot",
    """SELECT event_type,
              {cols}
       FROM events GROUP BY event_type""".format(
        cols=", ".join(
            f"CAST(count(CASE WHEN hour(ts) // 4 = {b} THEN 1 END) AS BIGINT) AS h{b}"
            for b in range(6)
        )
    ),
)
def b25(spark, sf_dir):
    piv = (
        _t(spark, sf_dir, "events")
        .withColumn("hb", (F.hour("ts") / 4).cast("int"))
        .groupBy("event_type")
        .pivot("hb", list(range(6)))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "event_type",
        *[F.coalesce(F.col(str(b)), F.lit(0)).cast("long").alias(f"h{b}")
          for b in range(6)],
    )


# ---------------------------------------------------------------------------
# B23 — time-range join, banded for scale: for each click, the number of
# views by the same user in the preceding hour.  The naive formulation is a
# join on user_id with an inequality — at 100 TB the per-user fan-out is
# quadratic in events-per-user.  The banded plan quantizes time into
# window-sized buckets: each click probes exactly 2 buckets (its own and
# the previous), making the join an EQUI join on (user_id, bucket) — 2×
# fan-out, sort-merge/AQE-eligible, never quadratic.  The oracle is the
# naive inequality join (exact same semantics).
# ---------------------------------------------------------------------------
_RANGE_WIN_US = 3600 * 1_000_000


@q(
    "b26_range_join_banded",
    f"""SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
               CAST(count(v.ts) AS BIGINT) AS n_prior_views
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON c.user_id = v.user_id
         AND epoch_us(v.ts) >= epoch_us(c.ts) - {_RANGE_WIN_US}
         AND epoch_us(v.ts) < epoch_us(c.ts)
        GROUP BY c.event_id, c.user_id, c.ts""",
)
def b26(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts_us",
                F.floor(F.col("ts_us") / _RANGE_WIN_US).alias("bkt"))
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts_us").alias("vts_us"),
                F.floor(F.col("ts_us") / _RANGE_WIN_US).alias("vbkt"))
    )
    probes = clicks.withColumn(
        "vbkt", F.explode(F.array(F.col("bkt") - 1, F.col("bkt")))
    )
    hits = (
        probes.join(views, ["user_id", "vbkt"])
        .filter(
            (F.col("vts_us") >= F.col("ts_us") - _RANGE_WIN_US)
            & (F.col("vts_us") < F.col("ts_us"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("nv"))
    )
    return (
        clicks.join(hits, "event_id", "left")
        .select(
            "event_id", "user_id", "ts_us",
            F.coalesce(F.col("nv"), F.lit(0)).cast("long").alias("n_prior_views"),
        )
    )


# ---------------------------------------------------------------------------
# B27 — latest-record upsert (CDC merge / SCD type-1 collapse): the newest
# event per (user_id, event_type), newest = (ts desc, event_id desc) —
# deterministic because event_id is unique.  ONE hash aggregate via
# max(struct(ts, event_id, value)): struct comparison is lexicographic and
# (ts, event_id) is unique, so `value` rides along without deciding order —
# no window (whose per-key sort funnels full partitions), no self-join,
# map-side partial agg does the heavy lifting at 100 TB.
# ---------------------------------------------------------------------------
@q(
    "b27_latest_event_upsert",
    """SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value
       FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC) AS rn FROM events)
       WHERE rn = 1""",
)
def b27(spark, sf_dir):
    m = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
    )
    return m.select(
        "user_id",
        "event_type",
        F.col("m.event_id").alias("event_id"),
        F.unix_micros(F.col("m.ts").cast("timestamp")).alias("ts_us"),
        F.col("m.value").alias("value"),
    )


# ---------------------------------------------------------------------------
# B28 — bucketed co-located join: the 100-TB strategy SURVEY §2 names for
# repeated large×large joins.  Both fact tables are written ONCE as
# bucketed+sorted parquet tables (8 buckets on the join key); every later
# join on that key then reads bucket-aligned splits and sort-merges with
# ZERO shuffle on either side (the test pins the Exchange-free join plan).
# At 10^12 rows this turns an every-query double exchange into a one-time
# write-side cost — the parquet-native equivalent of co-partitioned Iceberg
# bucket transforms.  The merge hint keeps the demonstration honest (AQE
# would otherwise broadcast the small side at test scale).
# ---------------------------------------------------------------------------
_BUCKETED_CACHE: dict[str, tuple[str, str]] = {}


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """lineitem/orders as bucketed+sorted session-catalog tables (cached)."""
    key = os.path.abspath(sf_dir)
    if key in _BUCKETED_CACHE:
        return _BUCKETED_CACHE[key]
    from localsearchengine_spark.plans.entry_helpers import _workdir

    n = len(_BUCKETED_CACHE)
    li_name, od_name = f"lse_li_bkt_{n}", f"lse_od_bkt_{n}"
    (
        _t(spark, sf_dir, "lineitem")
        .write.format("parquet")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", _workdir("lse_bkt_li_"))
        .mode("overwrite")
        .saveAsTable(li_name)
    )
    (
        _t(spark, sf_dir, "orders")
        .write.format("parquet")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", _workdir("lse_bkt_od_"))
        .mode("overwrite")
        .saveAsTable(od_name)
    )
    _BUCKETED_CACHE[key] = (li_name, od_name)
    return li_name, od_name


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shuffle-free join itself (shared by the b28 row and its plan
    test): bucket-aligned sort-merge, no Exchange on either input."""
    li_name, od_name = ensure_bucketed_tables(spark, sf_dir)
    li = spark.table(li_name)
    od = spark.table(od_name)
    return li.hint("merge").join(
        od, li["l_orderkey"] == od["o_orderkey"]
    )


@q(
    "b28_bucketed_join_colocated",
    """SELECT o.o_orderpriority AS priority,
              CAST(count(*) AS BIGINT) AS n_items,
              round(sum(l.l_extendedprice), 2) AS sum_price
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY 1""",
)
def b28(spark, sf_dir):
    return (
        bucketed_join(spark, sf_dir)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


# ---------------------------------------------------------------------------
# B26 — salted skew join (b29): the standard fix when one join key carries
# a disproportionate share of a large×large shuffle join (A7 applies the
# same idea inside the posting build).  The BIG side gets a deterministic
# salt ∈ [0, S) from md5(event_id) — so one hot user_id spreads over S
# shuffle partitions — and the other side replicates each key row S times;
# joining on (key, salt) is value-identical to the plain key join, which is
# exactly what the oracle checks.  shuffle_hash hint pins a shuffled
# strategy so the salt actually governs the exchange (AQE would otherwise
# broadcast the small demo dim; at 10^11×10^9 rows neither side
# broadcasts and this shape is the one that runs).
# ---------------------------------------------------------------------------
_B29_SALTS = 8


@q(
    "b29_salted_skew_join",
    """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS u_events
                  FROM events GROUP BY user_id)
       SELECT e.event_type,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(e.value * u.u_events), 2) AS weighted
       FROM events e JOIN u ON e.user_id = u.user_id
       GROUP BY e.event_type""",
)
def b29(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("u_events"))
    salt = F.pmod(
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(_B29_SALTS),
    ).cast("int")
    big = ev.withColumn("salt", salt)
    rep = u.select(
        "user_id",
        "u_events",
        F.explode(F.sequence(F.lit(0), F.lit(_B29_SALTS - 1))).alias("salt"),
    )
    return (
        big.hint("shuffle_hash")
        .join(rep, ["user_id", "salt"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value") * F.col("u_events")), 2).alias("weighted"),
        )
    )


# ---------------------------------------------------------------------------
# B27 — cube / grouping sets (b30): multi-dimensional rollup in ONE pass —
# Spark expands the grouping sets map-side and a single hash aggregate
# (partial + final) produces all 4 granularities; no per-granularity
# re-scan of the fact table.  Group labels are coalesced to 'ALL' and the
# grouping id is computed explicitly (grouping(a)*2 + grouping(b)) so both
# engines emit byte-identical rows.
# ---------------------------------------------------------------------------
@q(
    "b30_cube_grouping_sets",
    """WITH e AS (SELECT event_type,
                         CAST(CAST(ts AS DATE) AS VARCHAR) AS day, value
                  FROM events)
       SELECT coalesce(event_type, 'ALL') AS event_type,
              coalesce(day, 'ALL') AS day,
              CAST(grouping(event_type) * 2 + grouping(day) AS BIGINT) AS gid,
              CAST(count(*) AS BIGINT) AS n,
              round(sum(value), 2) AS sum_value
       FROM e GROUP BY CUBE (event_type, day)""",
)
def b30(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        "value",
    )
    return (
        e.cube("event_type", "day")
        .agg(
            (F.grouping("event_type") * 2 + F.grouping("day"))
            .cast("long")
            .alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "gid",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# B28b — distribution window functions (b31): ntile / percent_rank /
# cume_dist per event_type partition.  The (value desc, event_id) ordering
# is UNIQUE, so rank ≡ row_number and the rational rank fractions are the
# same exact integer divisions on both engines.  Partitioned windows scale
# (no single-partition global sort); completes the ranking-window family
# (b09 rank, b10 lag/running).
# ---------------------------------------------------------------------------
@q(
    "b31_window_distribution",
    """SELECT event_id, event_type,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile,
              round(percent_rank() OVER w, 6) AS pct_rank,
              round(cume_dist() OVER w, 6) AS cdist
       FROM events
       WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)""",
)
def b31(spark, sf_dir):
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


# ---------------------------------------------------------------------------
# B29 — correlated scalar subquery / decorrelation (b32): TPC-H Q17's
# shape — "lineitems of a brand whose quantity is below 20% of that part's
# average" — written in the ORACLE as two literal correlated scalar
# subqueries and on the Spark side as the DECORRELATED plan every engine
# rewrites it to: ONE map-side-combined per-partkey aggregate joined back
# to the fact (both sides hash-partitioned on l_partkey, so the agg side
# reuses its exchange; AQE broadcasts it when small), never one
# subquery execution per outer row.  The quantity predicate avoids the
# float average: l_quantity < 0.2·(sq/cq) ⟺ 5·l_quantity·cq < sq with
# all-BIGINT factors (quantities are integral doubles ≤ 50, so the casts
# are exact) — no float decides membership; the float sum rides out as
# the usual round(·, 6) value column with an integer row count beside it.
# ---------------------------------------------------------------------------
_B32_BRAND = "Brand#4"


@q(
    "b32_correlated_subquery",
    f"""SELECT round(sum(l.l_extendedprice) / 7.0, 6) AS avg_yearly,
              CAST(count(*) AS BIGINT) AS n_matched
       FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       WHERE p.p_brand = '{_B32_BRAND}'
         AND 5 * CAST(l.l_quantity AS BIGINT)
             * (SELECT CAST(count(*) AS BIGINT) FROM lineitem i
                WHERE i.l_partkey = l.l_partkey)
             < (SELECT CAST(sum(i.l_quantity) AS BIGINT) FROM lineitem i
                WHERE i.l_partkey = l.l_partkey)""",
)
def b32(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("cq"),
    )
    pt = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _B32_BRAND)
        .select(F.col("p_partkey").alias("l_partkey"))
    )
    return (
        li.join(F.broadcast(pt), "l_partkey")
        .join(agg, "l_partkey")
        .filter(
            F.lit(5) * F.col("l_quantity").cast("long") * F.col("cq")
            < F.col("sq")
        )
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_matched"),
        )
    )


# ---------------------------------------------------------------------------
# B30 — time-RANGE sliding window (b33): per-user trailing-1-hour event
# count and value sum at every event — the "activity in the last hour"
# frame ROWS windows cannot express (the frame is defined by the ORDER
# value, not a row count, so ties and irregular spacing are handled by
# value, deterministically).  Ordering key is integer epoch-MICROseconds
# (`unix_micros` / `epoch_us`) — identical int64 on both engines, no
# seconds truncation, no float time — and RANGE frames depend only on
# that value, so the result is insensitive to tie order.  One shuffle on
# user_id; frame evaluation is the streaming two-pointer pass over each
# partition (O(n) per key), the same shape at any scale.
# ---------------------------------------------------------------------------
_B33_RANGE_US = 3_600_000_000  # 1 hour in microseconds


@q(
    "b33_window_time_range",
    f"""SELECT event_id, user_id,
              CAST(count(*) OVER w AS BIGINT) AS n_1h,
              round(sum(value) OVER w, 6) AS sum_1h
       FROM events
       WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                    RANGE BETWEEN {_B33_RANGE_US} PRECEDING AND CURRENT ROW)""",
)
def b33(spark, sf_dir):
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-_B33_RANGE_US, 0)
    )
    return _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.round(F.sum("value").over(w), 6).alias("sum_1h"),
    )


# ---------------------------------------------------------------------------
# B34 — GROUPED_AGG pandas UDAF (the series→scalar Arrow aggregation form,
# completing B18's three pandas-UDF legs: scalar b19, grouped-map b18,
# grouped-agg here): per event_type, a user-weighted average of the event
# value.  Cross-engine exactness: the value is quantized to integer cents
# with floor(value·100 + 0.5) — IEEE double mul/add/floor, bit-identical in
# NumPy and DuckDB — so both UDAF sums are exact int64 arithmetic (order-
# free) and the single float division of two identical integers rounds
# identically; a group whose sums could leave the int64 range raises
# OverflowError instead of wrapping.  Built-in aggregates cannot mix with
# GROUPED_AGG UDAFs in one agg(), so the row count is a third one-liner
# UDAF.  Shape for 100 TB:
# grouped-agg pandas UDFs get Arrow-batched partial aggregation per
# partition only for the final exchange of ≤|event_type| groups — but the
# full rows DO shuffle to the group (no map-side combine, unlike built-in
# aggs); acceptable here because the group count is tiny and the point of
# the row is the UDAF surface — for a plain weighted mean the b06-style
# built-in form is the production pick.
# ---------------------------------------------------------------------------
@q(
    "b34_grouped_agg_udaf",
    """SELECT event_type,
              CAST(count(*) AS BIGINT) AS n,
              round(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT) * user_id)
                         AS DOUBLE)
                    / CAST(sum(user_id) AS DOUBLE), 6) AS wavg_cents
       FROM events GROUP BY event_type""",
)
def b34(spark, sf_dir):
    import numpy as np

    def int64_sum(*factors: np.ndarray) -> int:
        """Σ of the factors' elementwise product in int64 — which would wrap
        silently — so first check, exactly in Python ints, that
        n · Π max|factor| stays below 2^63; OverflowError otherwise."""
        bound = len(factors[0])
        for f in factors:
            bound *= max(int(f.max()), -int(f.min()))
        if bound >= 2**63:
            raise OverflowError(f"int64 sum of {len(factors[0])} products may wrap")
        return int(np.prod(factors, axis=0).sum())

    @F.pandas_udf("long")
    def wsum_cents(v: pd.Series, u: pd.Series) -> int:
        cents = np.floor(v.to_numpy(dtype="float64") * 100.0 + 0.5).astype("int64")
        return int64_sum(cents, u.to_numpy(dtype="int64"))

    @F.pandas_udf("long")
    def lsum(u: pd.Series) -> int:
        return int64_sum(u.to_numpy(dtype="int64"))

    @F.pandas_udf("long")
    def lcount(u: pd.Series) -> int:
        return len(u)

    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            lcount("user_id").alias("n"),
            wsum_cents("value", "user_id").alias("ws"),
            lsum("user_id").alias("us"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("ws").cast("double") / F.col("us").cast("double"), 6)
            .alias("wavg_cents"),
        )
    )
