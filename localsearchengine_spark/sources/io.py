"""A1 — corpus scan + segment IO. The ONLY module that knows the table format.

Prod target is Iceberg ("over an Iceberg table of multi-turn transcripts",
BASELINE.json:6); this sandbox has no Iceberg jar and no network (SURVEY.md
§0, §7.4-4), so the local implementation is Parquet with identical schemas
behind the same call signatures.  Everything above this module sees plain
DataFrames.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

_ICEBERG_AVAILABLE = False  # no Iceberg runtime jar in this sandbox


def scan_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """Read the transcripts corpus.

    ``source`` is a path (Parquet, local) or ``iceberg:<catalog.table>`` in a
    prod environment with the Iceberg runtime on the classpath.  Column
    pruning and predicate pushdown are Catalyst's job — callers `.select()`
    only what they need and the scan prunes (SURVEY.md §4).
    """
    if source.startswith("iceberg:"):
        if not _ICEBERG_AVAILABLE:
            raise RuntimeError(
                "Iceberg runtime not on classpath in this sandbox; "
                "use a parquet path (prod: spark.read.format('iceberg'))"
            )
        return spark.read.format("iceberg").load(source[len("iceberg:"):])
    return spark.read.parquet(source)


# ---------------------------------------------------------------------------
# Driver-local read path (round-2 verdict #3): the interactive query side
# (Index.lookup / fetch_postings / fetch_docs, SURVEY.md §3.2) reads index
# files directly via pyarrow for sub-ms latency.  Those reads go through the
# helpers below so a prod index on HDFS/S3 ("hdfs://...", "s3://...") works
# unchanged — pyarrow resolves the FileSystem from the URI; bare paths take
# the LocalFileSystem fast path.  Spark-side scans need none of this (the
# JVM handles URIs natively).
# ---------------------------------------------------------------------------


def filesystem_for(path: str):
    """→ (pyarrow FileSystem, path normalized for that filesystem)."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


def open_dataset(path_or_paths):
    """pyarrow parquet dataset over a path/URI or an explicit file list
    (all files must live on one filesystem)."""
    import pyarrow.dataset as ds

    if isinstance(path_or_paths, (list, tuple)):
        pairs = [filesystem_for(p) for p in path_or_paths]
        return ds.dataset(
            [p for _, p in pairs], format="parquet", filesystem=pairs[0][0]
        )
    fs, p = filesystem_for(path_or_paths)
    return ds.dataset(p, format="parquet", filesystem=fs)


def read_json_uri(path: str) -> dict:
    import json

    fs, p = filesystem_for(path)
    with fs.open_input_stream(p) as f:
        return json.loads(f.read().decode("utf-8"))


def path_exists(path: str) -> bool:
    from pyarrow import fs as pafs

    fs, p = filesystem_for(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def input_snapshot_id(source: str) -> str:
    """Pin the input for resumable builds (A11).

    Prod: the Iceberg snapshot-id.  Local parquet: a digest of the sorted
    (path, size, mtime) listing — a resume against changed input aborts.
    """
    import hashlib

    h = hashlib.sha256()
    if source.startswith("iceberg:"):
        raise RuntimeError("Iceberg snapshot pinning unavailable in sandbox")
    if os.path.isdir(source):
        names = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(source)
            for f in fs
            if not f.startswith(("_", "."))
        )
    else:
        names = [source]
    for p in names:
        st = os.stat(p)
        h.update(f"{p}|{st.st_size}|{int(st.st_mtime)}".encode())
    return h.hexdigest()[:16]
