"""A2 — docID determinism and parallelism-invariance (SURVEY.md §7.4-1)."""

from __future__ import annotations

import pandas as pd
import pytest

from localsearchengine_spark.operators.docids import assign_doc_ids, partition_offsets


def _expected_doc_ids(pdf: pd.DataFrame) -> dict[tuple[str, int], int]:
    """Independent reference: sort convs lexicographically, dense offsets."""
    sizes = pdf.groupby("conv_id")["turn_idx"].max() + 1
    offsets = {}
    acc = 0
    for cid in sorted(sizes.index):
        offsets[cid] = acc
        acc += int(sizes[cid])
    return {
        (r.conv_id, int(r.turn_idx)): offsets[r.conv_id] + int(r.turn_idx)
        for r in pdf.itertuples()
    }


def test_doc_ids_dense_and_deterministic(spark, transcripts_small):
    path, pdf = transcripts_small
    df = spark.read.parquet(path)
    expected = _expected_doc_ids(pdf)
    got = {
        (r["conv_id"], int(r["turn_idx"])): int(r["doc_id"])
        for r in assign_doc_ids(df, 4).select("conv_id", "turn_idx", "doc_id").collect()
    }
    assert got == expected


def test_partition_count_invariance(spark, transcripts_small):
    """Same doc_ids at any parallelism — the determinism the reference gets
    for free single-node and we must design-carry (SURVEY.md §4)."""
    path, _ = transcripts_small
    df = spark.read.parquet(path)
    a = dict(
        (r["conv_id"] + ":" + str(r["turn_idx"]), r["doc_id"])
        for r in assign_doc_ids(df.repartition(3), 2).collect()
    )
    b = dict(
        (r["conv_id"] + ":" + str(r["turn_idx"]), r["doc_id"])
        for r in assign_doc_ids(df.repartition(17), 11).collect()
    )
    assert a == b


@pytest.mark.parametrize("turns", [(0, 2), (0, 0, 1), (1, 2)], ids=["gap", "dup", "start1"])
def test_contiguity_validation(spark, turns):
    bad = spark.createDataFrame(
        [("c0", 0, "a")] + [("c1", t, "x") for t in turns],
        "conv_id string, turn_idx int, text string",
    )
    with pytest.raises(ValueError, match="contiguous"):
        assign_doc_ids(bad, 2)


def test_partition_offsets_prefix_and_row_field_limit():
    """Offsets are the exclusive prefix of the per-partition counts (empty
    partitions count 0); a partition past the 33-bit row field of
    monotonically_increasing_id must fail loudly, not wrap."""
    assert partition_offsets({0: 3, 2: 5, 3: 1}) == [0, 3, 3, 8]
    assert partition_offsets({}) == []
    assert partition_offsets({0: 2**33 - 1, 1: 4}) == [0, 2**33 - 1]
    with pytest.raises(ValueError, match="2\\^33"):
        partition_offsets({0: 5, 1: 2**33})
