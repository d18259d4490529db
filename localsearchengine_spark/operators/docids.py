"""A2 — stable turn ordering + deterministic dense docID assignment.

BASELINE.json:6: "documents keyed by conv_id+turn_idx under stable turn
ordering".  ``doc_id = conv_offset(conv_id) + turn_idx`` where conv_offset is
the number of turns in all conversations with a lexicographically smaller
conv_id.  This is invariant to partition layout and parallelism level.

Scale path (10^12 turns — no single-partition global window): ONE range
shuffle of the turns and a prefix sum over partitions.

  1. ``range_turns``: range-partition by conv_id, sort by (conv_id,
     turn_idx), persist.  Range partitions are contiguous conv_id ranges in
     partition-id order, so (partition, row) order IS the global order and
     no conversation straddles partitions.  A contiguity flag (window
     ``row_number() - 1 != turn_idx``) rides on that layout, no exchange.
  2. ``number_turns``: one action → per-partition turn counts + the first
     flagged conversation; then ``doc_id = base + (exclusive prefix of the
     counts) + (row's position in its partition)``, the position being the
     low 33 bits of ``monotonically_increasing_id()``.  Given contiguity a
     row's global rank equals ``conv_offset + turn_idx``.

The result depends only on the sorted order, never on where the range
boundaries land.  The frame is persisted so the counting action and the
numbering read the same partitions (RangePartitioner samples with a per-job
seed); the caller unpersists it once the numbered frame is written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

# monotonically_increasing_id() = partition index << 33 | row in partition
_ROW_BITS = 33


def partition_offsets(counts: dict[int, int]) -> list[int]:
    """{pid: turn count} → ``offsets[pid]``, the exclusive prefix in pid
    order.  Raises at 2^33 rows in a partition, where the row position would
    wrap into monotonically_increasing_id's partition bits."""
    big = sorted(p for p, n in counts.items() if n >= 1 << _ROW_BITS)
    if big:
        raise ValueError(
            f"partition {big[0]} holds {counts[big[0]]} turns, past the "
            f"2^{_ROW_BITS} rows per partition that doc_id numbering supports; "
            "build with more partitions"
        )
    offsets, acc = [], 0
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(acc)
        acc += int(counts.get(pid, 0))
    return offsets


def range_turns(transcripts: DataFrame, num_partitions: int = 0) -> DataFrame:
    """Turns range-partitioned by conv_id, sorted by (conv_id, turn_idx),
    flagged ``_bad`` where not contiguous, persisted MEMORY_AND_DISK — the
    caller must ``unpersist()`` it.  The window is planned here, on the
    range exchange, because over a not yet materialized cache Spark cannot
    see the layout and would add a hash exchange."""
    spark = transcripts.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.repartitionByRange(P, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .withColumn("_bad", F.row_number().over(w) - 1 != F.col("turn_idx"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def number_turns(ranged: DataFrame, doc_id_base: int = 0) -> DataFrame:
    """``range_turns`` output → its turns + ``doc_id``, sorted within each
    partition.  Asserts the per-conversation ``turn_idx`` contiguity that
    makes doc_ids dense (FIXTURES.md §2)."""
    stats = ranged.groupBy(F.spark_partition_id().alias("pid")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.when(F.col("_bad"), F.col("conv_id"))).alias("bad_conv"),
    ).collect()
    bad = sorted(r["bad_conv"] for r in stats if r["bad_conv"] is not None)
    if bad:
        raise ValueError(f"turn_idx not contiguous/unique for conv_id={bad[0]}; "
                         "dense docID scheme requires 0..n-1 per conversation")
    offsets = partition_offsets({int(r["pid"]): int(r["n"]) for r in stats}) or [0]
    lits = [F.lit(o).cast("long") for o in offsets]
    offset = F.element_at(F.array(*lits), F.spark_partition_id() + 1)
    pos = F.monotonically_increasing_id().bitwiseAND((1 << _ROW_BITS) - 1)
    return ranged.drop("_bad").withColumn("doc_id", F.lit(int(doc_id_base)) + offset + pos)


def assign_doc_ids(
    transcripts: DataFrame, num_partitions: int = 0, doc_id_base: int = 0
) -> DataFrame:
    """transcripts → transcripts + ``doc_id`` (dense, deterministic).
    ``doc_id_base`` offsets the id space (incremental appends pass the
    current corpus size).  The persisted turns stay cached under the result;
    the build's docs stage calls the two steps itself to release them."""
    ranged = range_turns(transcripts, num_partitions)
    try:
        return number_turns(ranged, doc_id_base)
    except BaseException:
        ranged.unpersist()
        raise
