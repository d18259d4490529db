"""Round-3 verdict #3/#4 — the driver-local read path (Index.lookup /
fetch_postings / fetch_docs) goes through sources/io.py's pyarrow-filesystem
abstraction, so a prod index on a URI filesystem works unchanged; and a
corrupt dictionary RAISES when a batch query reads it for idf instead of
silently scoring without it."""

from __future__ import annotations

import os
import shutil

import pytest

from localsearchengine_spark.operators.batch_query import run_queries
from localsearchengine_spark.operators.search import Index
from localsearchengine_spark.sources import io as lse_io
from localsearchengine_spark.sources.fixtures import golden_queries


def test_filesystem_for_uri_and_local(tmp_path):
    from pyarrow import fs as pafs

    f_local, p_local = lse_io.filesystem_for(str(tmp_path))
    assert isinstance(f_local, pafs.LocalFileSystem) and p_local == str(tmp_path)
    f_uri, p_uri = lse_io.filesystem_for("file://" + str(tmp_path))
    assert isinstance(f_uri, pafs.LocalFileSystem) and p_uri == str(tmp_path)
    assert lse_io.path_exists(str(tmp_path)) and lse_io.path_exists(
        "file://" + str(tmp_path)
    )
    assert not lse_io.path_exists(str(tmp_path / "nope"))


def test_index_over_file_uri(spark, built_index):
    """Every interactive path — lookup, postings fetch, WAND/AND search,
    doc-store fetch — over file:// equals the bare-path index bit-for-bit."""
    idx_dir, _, _ = built_index
    via_uri = Index(spark, "file://" + idx_dir)
    via_path = Index(spark, idx_dir)
    for q in golden_queries()[::10]:
        for mode in ("and", "wand"):
            assert via_uri.search(q["terms"], k=q["k"], mode=mode) == via_path.search(
                q["terms"], k=q["k"], mode=mode
            )
    hits = via_uri.search_docs(golden_queries()[0]["terms"], k=3)
    assert hits and all(r["text"] for _, _, r in hits)


def test_batch_query_over_file_uri(spark, built_index):
    idx_dir, _, _ = built_index
    queries = golden_queries()[:3]
    a = run_queries(spark, Index(spark, "file://" + idx_dir), queries).collect()
    b = run_queries(spark, Index(spark, idx_dir), queries).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.fixture()
def index_copy(built_index, tmp_path):
    idx_dir, _, _ = built_index
    dst = str(tmp_path / "idx_copy")
    shutil.copytree(idx_dir, dst)
    return dst


def test_corrupt_dictionary_raises(spark, index_copy):
    """A garbage dictionary file must surface as an error when a batch query
    reads the dictionary (``Index.lookup``, for idf), not degrade silently
    (round-2 verdict #4)."""
    dic_dir = os.path.join(index_copy, "dictionary")
    for f in os.listdir(dic_dir):
        with open(os.path.join(dic_dir, f), "wb") as fh:
            fh.write(b"not a parquet file")
    queries = [{"query_id": 0, "terms": ["the", "spark"], "k": 5}]
    with pytest.raises(Exception, match="[Pp]arquet"):
        run_queries(spark, Index(spark, index_copy), queries)


def test_entry_helpers_workdirs_under_one_root():
    """Fixture dirs nest under a single atexit-cleaned work root (verdict #7)."""
    from localsearchengine_spark.plans import entry_helpers as eh

    d1, d2 = eh._workdir("lse_t1_"), eh._workdir("lse_t2_")
    assert eh._WORK_ROOT is not None
    assert os.path.dirname(d1) == eh._WORK_ROOT == os.path.dirname(d2)
