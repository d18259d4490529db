#!/usr/bin/env python
"""Docs file count and fresh-handle read cost as appends accumulate.

Builds a 20k-turn base index, appends 2,000-turn batches through
``IncrementalIndexer.process_batch`` and, after 2 and after 20 batches,
prints the number of files under ``docs/`` and the median over 7 tries of
a fresh ``Index`` open and its first ``fetch_docs`` of 10 random ids.

Usage: python scripts/docs_filecount_probe.py WORK_DIR [ENGINE_ROOT]

ENGINE_ROOT (default: this checkout) is the checkout whose package is
measured, so one copy of the script compares two versions of the engine.
WORK_DIR is deleted and recreated.
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPORT_AFTER = (2, 20)


def main(work: str, root: str) -> dict:
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    import numpy as np
    from pyspark.sql import SparkSession

    from localsearchengine_spark.build import build_index
    from localsearchengine_spark.config import BuildConfig
    from localsearchengine_spark.operators.search import Index
    from localsearchengine_spark.sources.fixtures import (
        make_transcripts,
        write_transcripts_parquet,
    )
    from localsearchengine_spark.streaming.incremental import IncrementalIndexer

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    conf = BuildConfig(num_partitions=8, hot_df_threshold=20000 // 12, num_salts=16)
    src = os.path.join(work, "base.parquet")
    write_transcripts_parquet(make_transcripts(20000, seed=5), src)
    live = os.path.join(work, "live")
    build_index(spark, src, live, conf)
    ix = IncrementalIndexer(spark, live, os.path.join(work, "w"), conf)
    rng = np.random.default_rng(0)
    out = {}
    for b in range(1, max(REPORT_AFTER) + 1):
        pdf = make_transcripts(2000, seed=1000 + b)
        pdf["conv_id"] = f"b{b:03d}-" + pdf["conv_id"]
        t0 = time.time()
        ix.process_batch(spark.createDataFrame(pdf), epoch_id=b)
        append_s = time.time() - t0
        if b not in REPORT_AFTER:
            continue
        n = Index(spark, live).n_docs
        files = [f for f in os.listdir(os.path.join(live, "docs")) if f.endswith(".parquet")]
        opens, fetches = [], []
        for _ in range(7):
            ids = rng.integers(0, n, 10)
            t0 = time.perf_counter()
            idx = Index(spark, live)
            t1 = time.perf_counter()
            rows = idx.fetch_docs(ids)
            t2 = time.perf_counter()
            if len(rows) != len(set(ids.tolist())):
                raise RuntimeError(f"fetch_docs returned {len(rows)} rows for {len(set(ids.tolist()))} ids")
            opens.append((t1 - t0) * 1e3)
            fetches.append((t2 - t1) * 1e3)
        out[b] = {
            "docs_files": len(files),
            "n_docs": n,
            "open_ms": round(statistics.median(opens), 2),
            "first_fetch_docs_ms": round(statistics.median(fetches), 2),
            "last_append_s": round(append_s, 2),
        }
    spark.stop()
    return out


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(json.dumps(main(sys.argv[1], sys.argv[2] if len(sys.argv) == 3 else here)))
