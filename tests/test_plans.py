"""Physical-plan audits (SURVEY.md §4): the properties that make these
queries survive a 100 TB scale-up — filter pushdown to the parquet scan,
column pruning, broadcast joins for small dimensions, and no Python in
plans that are meant to be whole-stage-codegen'd — asserted against
`.explain("formatted")` so a regression in plan shape fails CI, not a
cluster run."""

from __future__ import annotations

import contextlib
import io
import os
import re

from pyspark.sql import functions as F

from localsearchengine_spark.plans.registry import queries

SPARK_QUERIES = queries()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    plan = plan_of(SPARK_QUERIES["b01_scan_filter_project"](spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    # projection reaches the scan: untouched wide columns are not read
    assert "l_comment" not in read_schema and "l_shipdate" in read_schema


def test_broadcast_join_for_small_dimension(spark):
    plan = plan_of(SPARK_QUERIES["b02_join_broadcast_agg"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_bm25_sql_plan_is_pure_jvm(spark):
    """b20 is the all-Catalyst BM25: no Python evaluation node anywhere."""
    plan = plan_of(SPARK_QUERIES["b20_bm25_sql_dataframe"](spark, SF_DIR))
    # no Python evaluation of any kind: the whole plan stays JVM-side
    # (under AQE the formatted plan hides codegen ids, so assert the
    # absence of Python nodes rather than the codegen label)
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_simhash_plan_is_pure_jvm(spark):
    plan = plan_of(SPARK_QUERIES["dd04_simhash"](spark, SF_DIR))
    assert "EvalPython" not in plan


def test_posting_fetch_pushes_term_filter(spark, built_index):
    """The distributed batch path's postings scan must push the term filter
    into parquet (row-group pruning on the term-sorted segments)."""
    from localsearchengine_spark.operators.batch_query import decode_postings_df

    idx_dir, _, _ = built_index
    df = decode_postings_df(spark, idx_dir, ["spark", "merge"])
    plan = plan_of(df)
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "term" in pushed and "In" in pushed
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "df" not in read_schema.replace("dl_bytes", "").split(",")  # blocks+term only


def test_emit_pipeline_prunes_docs_scan(spark, built_index):
    """emit_postings reads only (doc_id, text) from the doc store."""
    from localsearchengine_spark.config import BuildConfig
    from localsearchengine_spark.operators.postings import emit_postings

    idx_dir, _, _ = built_index
    docs = spark.read.parquet(os.path.join(idx_dir, "docs"))
    plan = plan_of(emit_postings(docs, BuildConfig(), n_docs=1000))
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema and "conv_id" not in read_schema


def test_batch_query_broadcasts_queryset(spark, built_index):
    from localsearchengine_spark.operators.batch_query import run_queries
    from localsearchengine_spark.operators.search import Index

    idx_dir, _, _ = built_index
    index = Index(spark, idx_dir)
    df = run_queries(spark, index, [{"query_id": 0, "terms": ["spark", "join"], "k": 5}])
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_batch_fold_and_topk_stay_in_the_jvm(spark, built_index):
    """The (query, doc) fold is a plain HashAggregate (no ObjectHashAggregate
    from a collected list) and the per-query top-k is cut per partition by a
    Partial WindowGroupLimit below the query_id exchange, so the decode is
    the plan's only Python pass, and it runs once in both modes (AND has no
    second decode of a rare term's postings; term00071 has df 3), excluded
    terms included.  The decoded postings cross the plan's one doc_id
    exchange below the broadcast term join, so no exchange is keyed on
    (query_id, doc_id); the query frame is a local table (no RDD scan
    through Python workers), and the result is not range-sorted."""
    from localsearchengine_spark.operators.batch_query import run_queries
    from localsearchengine_spark.operators.search import Index

    idx_dir, _, _ = built_index
    index = Index(spark, idx_dir)
    queries = [{"query_id": 0, "terms": ["spark", "join"], "k": 5},
               {"query_id": 1, "terms": ["merge"], "k": 10, "exclude": ["spark"]},
               {"query_id": 2, "terms": ["spark", "term00071"], "k": 5}]
    for mode in ("or", "and"):
        plan = plan_of(run_queries(spark, index, queries, mode=mode))
        tree, _, details = plan.partition("\n\n\n")
        nodes = {int(b[1:b.index(")")]): b for b in details.split("\n\n") if b.startswith("(")}
        line_of = {int(line[line.rindex("(") + 1:-1]): i
                   for i, line in enumerate(tree.splitlines()) if line.endswith(")")}
        (partial,) = [i for i, b in nodes.items()
                      if "WindowGroupLimit" in b.splitlines()[0] and b.rstrip().endswith("Partial")]
        (exchange,) = [i for i, b in nodes.items()
                       if re.search(r"hashpartitioning\(query_id#\d+L, \d+\)", b)]
        (doc_exchange,) = [i for i, b in nodes.items() if "hashpartitioning(doc_id#" in b]
        (join,) = [i for i, b in nodes.items() if "BroadcastHashJoin" in b.splitlines()[0]]
        keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert "ObjectHashAggregate" not in plan, mode
        assert tree.count("MapInArrow") == 1, mode  # the decode
        assert line_of[exchange] < line_of[partial], mode  # the tree prints parents first
        assert line_of[join] < line_of[doc_exchange], mode
        assert not [k for k in keys if "query_id#" in k and "doc_id#" in k], (mode, keys)
        assert "Scan ExistingRDD" not in plan and "rangepartitioning" not in plan, mode


def test_b28_bucketed_join_is_shuffle_free(spark):
    """The bucketed co-located join must sort-merge with ZERO Exchange on
    either input (bucket-aligned scan supplies the distribution) — the
    one-time write-side bucketing buys every later join its shuffle."""
    import os

    from localsearchengine_spark.plans.relational import bucketed_join

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    plan = bucketed_join(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_b29_salted_join_partitions_on_salt(spark):
    """The salted skew join must shuffle on (user_id, salt) — the salt in
    the partitioning keys is the whole point: a hot user_id's rows spread
    over _B29_SALTS shuffle partitions instead of one."""
    plan = plan_of(SPARK_QUERIES["b29_salted_skew_join"](spark, SF_DIR))
    assert "salt" in plan
    import re

    assert re.search(r"hashpartitioning\([^)]*salt", plan), plan


def test_tx14_pii_redaction_zero_shuffle(spark):
    """PII redaction is pure per-row string work: the physical plan must
    contain no Exchange and no Python evaluation at all."""
    plan = plan_of(SPARK_QUERIES["tx14_pii_redaction"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_b32_correlated_subquery_decorrelated(spark):
    """The Q17-shape row must run as the decorrelated plan: per-partkey
    aggregate joined back (broadcast under AQE at this scale), never a
    per-outer-row subquery node."""
    plan = plan_of(SPARK_QUERIES["b32_correlated_subquery"](spark, SF_DIR))
    assert "Subquery" not in plan
    assert "HashAggregate" in plan


def test_sk04_bloom_words_broadcast(spark):
    """The bloom bitset (≤529 words) must reach the probe side as a
    broadcast — the probe never shuffles against the build side."""
    plan = plan_of(SPARK_QUERIES["sk04_bloom_semijoin"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_b33_range_frame_in_plan(spark):
    """The trailing-1h window must be a RANGE frame over the int64
    epoch-microsecond ordering key, partitioned by user_id (one shuffle)."""
    plan = plan_of(SPARK_QUERIES["b33_window_time_range"](spark, SF_DIR))
    assert "RangeFrame" in plan, plan
    assert plan.count("Exchange") <= 2  # one hash partitioning (+AQE read)


def test_b34_grouped_agg_is_arrow_udaf(spark):
    """The B18 GROUPED_AGG leg must execute as the Arrow-batched pandas
    aggregate (one exchange on the ≤5 event_type keys), not fall back to
    row-at-a-time Python evaluation."""
    plan = plan_of(SPARK_QUERIES["b34_grouped_agg_udaf"](spark, SF_DIR))
    # Spark 4 names the Arrow grouped-agg node ArrowAggregatePython
    # (AggregateInPandas in 3.x)
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_b34_raises_instead_of_wrapping_int64(spark, tmp_path):
    """Three user_ids near 2^62 sum past the int64 range: the UDAF must
    fail loudly, not return an average of wrapped sums."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    big = 2**62 + 7
    pq.write_table(
        pa.table({"event_type": ["click"] * 3, "user_id": [big, big - 1, big - 2],
                  "value": [1.25, 2.5, 3.75]}),
        str(tmp_path / "events.parquet"),
    )
    with pytest.raises(Exception, match="OverflowError"):
        SPARK_QUERIES["b34_grouped_agg_udaf"](spark, str(tmp_path)).collect()
