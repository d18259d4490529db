"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implemented by localsearchengine_spark (SURVEY.md §2).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
# Python workers import the package via PYTHONPATH locally
# (prod: spark-submit --py-files, BASELINE.json:6)
os.environ["PYTHONPATH"] = REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full engine build (tokenize → stable docIDs → salted
    shuffle → delta+varint blocks → dictionary) over the sf0.001 documents
    corpus, then a block-max-WAND BM25 top-10. Driver checks rows>0."""
    from localsearchengine_spark.operators.search import Index
    from localsearchengine_spark.plans.entry_helpers import ensure_documents_index

    idx_dir = ensure_documents_index(spark, "/root/testdata/sf0.001")
    index = Index(spark, idx_dir)
    hits = index.search("spark join merge", k=10, mode="wand")
    return spark.createDataFrame(
        [(int(d), float(s)) for d, s in hits], "doc_id long, score double"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from localsearchengine_spark.plans import registry

    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per queries() key (omitted → rows-only)."""
    from localsearchengine_spark.plans import registry

    return registry.oracle_sql()
