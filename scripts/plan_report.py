#!/usr/bin/env python
"""Generate PLANS.md — the physical-plan evidence for the headline
operators (SURVEY.md §4): for each, the property that makes it survive a
100 TB scale-up (pushdown reaching the scan, broadcast vs sort-merge,
zero-Exchange bucketed joins, salt partitioning, zero-Python plans, RANGE
frames, Arrow aggregation) and the actual ``.explain("formatted")``
output proving it.  The same properties are ASSERTED in
tests/test_plans.py so plan regressions fail CI; this report makes them
readable without running anything.

Usage: python scripts/plan_report.py [> PLANS.md is done internally]
"""
from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# (row, one-line property the plan must show; tests/test_plans.py asserts it)
CASES = [
    ("b01_scan_filter_project",
     "filter + projection reach the parquet scan (PushedFilters / pruned "
     "ReadSchema) — Catalyst pushdown, no full-table read"),
    ("b02_join_broadcast_agg",
     "small dimension broadcasts (BroadcastHashJoin) — the fact side never "
     "shuffles for the join"),
    ("b03_join_large_agg",
     "large×large resolves to a shuffle join under AQE (sort-merge or "
     "shuffled-hash at runtime) — never a broadcast of a big side"),
    ("b20_bm25_sql_dataframe",
     "BM25 scoring is pure JVM Catalyst — zero Python nodes in the plan"),
    ("b28_bucketed_join_colocated",
     "bucketed co-located join: NO Exchange on either input — the shuffle "
     "was paid once at write time"),
    ("b29_salted_skew_join",
     "skew join partitions on (key, salt) — one hot key spreads across "
     "shuffle partitions"),
    ("b33_window_time_range",
     "trailing time window is a RANGE frame over int64 epoch-µs with a "
     "single user_id exchange"),
    ("b34_grouped_agg_udaf",
     "GROUPED_AGG pandas UDAF runs as the Arrow aggregate node — no "
     "row-at-a-time Python"),
    ("tx14_pii_redaction",
     "PII redaction is per-row Catalyst string work: zero Exchange, zero "
     "Python"),
    ("sim03_ann_ivf",
     "IVF cell assignment is a per-row argmin over centroid literals — "
     "zero shuffle before the cell semi-join"),
    ("pp01_pretrain_pipeline",
     "the end-to-end pipeline is three shuffles total (dedup hash window, "
     "line aggregate, per-doc count) — gates and normalization stay in "
     "whole-stage codegen"),
]


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from localsearchengine_spark.plans.registry import queries

    rows = queries()

    out = [
        "# PLANS — physical-plan evidence for the headline operators",
        "",
        f"Generated by `python scripts/plan_report.py` at sf dir `{SF_DIR}`.",
        "Each section states the scale-critical property and shows the",
        "actual `.explain(\"formatted\")` output; the same properties are",
        "asserted in `tests/test_plans.py`, so a plan-shape regression",
        "fails CI rather than a cluster run.",
        "",
    ]
    for name, prop in CASES:
        df = rows[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        # strip the per-run location paths for a stable, readable report
        plan = re.sub(r"file:[^\s,\]]+", "file:<path>", plan)
        out += [f"## {name}", "", f"**Property:** {prop}", "", "```",
                plan.rstrip(), "```", ""]
    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(CASES)} plans)")


if __name__ == "__main__":
    main()
