"""Driver rows st01/st02/st03 — Structured Streaming analytics (SURVEY.md §2
A27/A28, streaming/analytics.py).

st01/st02 stage the driver's events table into a drop directory as ONE
parquet file, so the ``availableNow`` run is exactly one micro-batch and
update-mode emits exactly one row per key — making the streaming result
directly comparable to the batch SQL oracle (full value-hash).

st03 puts CROSS-BATCH STATE ACCUMULATION behind the same oracle: the events
table is staged as THREE mtime-ordered drops consumed one file per trigger
(three micro-batches), the stateful per-key operator re-emits each key's
running totals every batch the key receives data, and the row reduces the
memory sink to each key's FINAL emission (max n_events — state n is
strictly increasing, an integer-exact decision).  The final state must
equal the batch ``groupBy(user_id)`` aggregate over all three drops.
Watermark late-row DROP semantics remain pytest-only
(``tests/test_streaming_analytics.py``): a dropped row is invisible to any
batch SQL over the same input by construction.

Timestamps cross the comparison as integer epoch microseconds
(``unix_micros`` / DuckDB ``epoch_us``; session TZ pinned UTC, parquet
timestamps naive UTC) — integer-exact, no format-string quirks.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from localsearchengine_spark.plans.registry import q
from localsearchengine_spark.streaming.analytics import (
    run_available_now,
    stateful_user_sessions,
    stream_events,
    windowed_event_aggregate,
)


def _stage_events(sf_dir: str) -> str:
    from localsearchengine_spark.plans.entry_helpers import _workdir

    drop = _workdir("lse_evdrop_")
    shutil.copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(drop, "b0.parquet")
    )
    return drop


def _stage_events_multibatch(sf_dir: str, n_batches: int = 3) -> str:
    """Split the events table into ``n_batches`` event_id-ordered parquet
    files with strictly increasing mtimes (the FileStreamSource pickup-order
    contract, same as the fts09 staging) so ``maxFilesPerTrigger=1`` yields a
    deterministic micro-batch sequence.  event_id order is uncorrelated with
    user_id, so most keys receive data in several batches — the state
    actually accumulates across micro-batches."""
    import pyarrow.parquet as pq

    from localsearchengine_spark.plans.entry_helpers import _workdir

    drop = _workdir("lse_evdrop3_")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("event_id")
    n = tbl.num_rows
    cuts = [n * i // n_batches for i in range(n_batches + 1)]
    now = time.time()
    for i in range(n_batches):
        path = os.path.join(drop, f"b{i}.parquet")
        pq.write_table(tbl.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (now + i, now + i))
    return drop


@q(
    "st01_stream_windowed_agg",
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
              event_type,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2""",
)
def st01(spark, sf_dir):
    agg = windowed_event_aggregate(
        stream_events(spark, _stage_events(sf_dir)), window="1 hour",
        watermark="1 hour",
    )
    tbl = run_available_now(agg, output_mode="update")
    # 1-hour tumbling windows are calendar-aligned, so window.start ≡
    # date_trunc('hour', ts) on the oracle side
    return spark.table(tbl).select(
        F.unix_micros(F.col("w.start")).alias("window_start_us"),
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 2).alias("sum_value"),
    )


@q(
    "st02_stream_stateful_sessions",
    """SELECT user_id,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value,
              epoch_us(max(ts)) AS last_ts_us
       FROM events GROUP BY user_id""",
)
def st02(spark, sf_dir):
    sess = stateful_user_sessions(stream_events(spark, _stage_events(sf_dir)))
    tbl = run_available_now(sess, output_mode="update")
    return spark.table(tbl).select(
        "user_id",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "last_ts_us",
    )


@q(
    "st03_stream_multibatch_state",
    """SELECT user_id,
              CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS sum_value,
              epoch_us(max(ts)) AS last_ts_us
       FROM events GROUP BY user_id""",
)
def st03(spark, sf_dir):
    sess = stateful_user_sessions(
        stream_events(spark, _stage_events_multibatch(sf_dir), max_files_per_trigger=1)
    )
    tbl = run_available_now(sess, output_mode="update")
    # one emission per (key, batch-with-data); final state = max n_events
    # per key (n strictly increases on every emission — integer decision)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(tbl)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
            "last_ts_us",
        )
    )


def _stage_events_overlapping(sf_dir: str, n_batches: int = 3) -> str:
    """Three event_id-ordered drops whose ranges OVERLAP ~33% with the next
    batch, so thousands of event_ids arrive twice in different micro-batches
    — the input shape streaming dedup exists for (at-least-once upstream
    delivery).  Union of the drops ≡ the events table plus duplicates."""
    import pyarrow.parquet as pq

    from localsearchengine_spark.plans.entry_helpers import _workdir

    drop = _workdir("lse_evdropdup_")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("event_id")
    n = tbl.num_rows
    cuts = [n * i // n_batches for i in range(n_batches + 1)]
    overlap = max(1, n // (3 * n_batches))
    now = time.time()
    for i in range(n_batches):
        start = cuts[i]
        end = min(n, cuts[i + 1] + (overlap if i + 1 < n_batches else 0))
        path = os.path.join(drop, f"b{i}.parquet")
        pq.write_table(tbl.slice(start, end - start), path)
        os.utime(path, (now + i, now + i))
    return drop


@q(
    "st04_stream_dedup",
    """SELECT DISTINCT event_id, user_id, event_type,
              round(value, 2) AS value, epoch_us(ts) AS ts_us
       FROM events""",
)
def st04(spark, sf_dir):
    """A28c — streaming exact deduplication: ``dropDuplicates(event_id)``
    across micro-batches.  The overlapping staging re-delivers ~a third of
    the rows in a later batch; cross-batch key state must suppress every
    re-delivery, so the append-mode output equals DISTINCT over the events
    table (full hash).  State here is O(distinct keys); production bounds it
    with ``withWatermark + dropDuplicatesWithinWatermark`` (eviction past
    the lateness horizon), which trades the exact-forever guarantee for
    bounded state — semantics pinned in tests, not behind the oracle,
    because a watermark can drop a legitimately late first delivery that
    batch DISTINCT would keep."""
    ev = stream_events(
        spark, _stage_events_overlapping(sf_dir), max_files_per_trigger=1
    )
    deduped = ev.dropDuplicates(["event_id"])
    tbl = run_available_now(deduped, output_mode="append")
    return spark.table(tbl).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.unix_micros("ts").alias("ts_us"),
    )


_ST06_BAND_MIN = 30  # join band: |ts_a - ts_b| ≤ 30 minutes
_ST06_A_TYPES = ("click", "view")
_ST06_B_TYPES = ("purchase", "signup", "error")


def _stage_events_two_streams(sf_dir: str, n_batches: int = 3) -> tuple[str, str]:
    """Split the events table into TWO drop directories (side A = click/view,
    side B = purchase/signup/error), each staged as ``n_batches`` ts-ordered
    parquet files cut at the SAME timestamp boundaries with strictly
    increasing mtimes.  With ``maxFilesPerTrigger=1`` on both sources each
    micro-batch advances both streams through the same time range, so
    (a) matches straddle batch boundaries (a side-A row near a cut joins a
    side-B row delivered one batch later — the cross-batch join state the
    operator exists for), and (b) a watermark delay ≥ the join band
    guarantees no state needed for a future match is evicted."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from localsearchengine_spark.plans.entry_helpers import _workdir

    drop_a = _workdir("lse_evjoina_")
    drop_b = _workdir("lse_evjoinb_")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    n = tbl.num_rows
    cuts = [n * i // n_batches for i in range(n_batches + 1)]
    now = time.time()
    for i in range(n_batches):
        part = tbl.slice(cuts[i], cuts[i + 1] - cuts[i])
        for drop, types in ((drop_a, _ST06_A_TYPES), (drop_b, _ST06_B_TYPES)):
            path = os.path.join(drop, f"b{i}.parquet")
            pq.write_table(
                part.filter(pc.is_in(part["event_type"], _pa_values(types))), path
            )
            os.utime(path, (now + i, now + i))
    return drop_a, drop_b


def _pa_values(vals):
    import pyarrow as pa

    return pa.array(list(vals), pa.string())


def _append_advancer_batches(
    drop_a: str, drop_b: str, sf_dir: str, start_batch: int, n_pairs: int = 2
) -> None:
    """Append ``n_pairs`` extra single-row batches to BOTH drop directories:
    pair j is one A-side and one B-side row at max(real ts) + (j+1) days,
    user_id = -1, matching each other exactly (Δts = 0).  Purpose: OUTER
    stream-stream join results for unmatched rows are emitted only when the
    watermark passes their state-eviction point — a stream that simply ends
    never flushes them.  The first advancer batch carries the watermark past
    every real event; the second batch triggers the eviction pass that uses
    it (watermark updates lag one batch).  The advancers themselves join
    each other (never a real row: user_id -1), so they add no outer-null
    rows and are filtered from the result by user_id >= 0."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    max_ts = pc.max(tbl["ts"]).as_py()
    now = time.time()
    for j in range(n_pairs):
        ts = max_ts + datetime.timedelta(days=j + 1)
        for drop, etype, eid in (
            (drop_a, "click", 1_000_000_000 + j),
            (drop_b, "purchase", 2_000_000_000 + j),
        ):
            row = pa.table(
                {
                    "event_id": pa.array([eid], pa.int64()),
                    "ts": pa.array([ts], tbl.schema.field("ts").type),
                    "user_id": pa.array([-1], pa.int64()),
                    "event_type": pa.array([etype], pa.string()),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array(["{}"], pa.string()),
                }
            ).select([f.name for f in tbl.schema])
            path = os.path.join(drop, f"b{start_batch + j}.parquet")
            pq.write_table(row.cast(tbl.schema), path)
            os.utime(path, (now + start_batch + j, now + start_batch + j))


def interval_join_streams(
    a, b, *, band_minutes: int, watermark: str, join_type: str = "inner"
):
    """A28e — watermarked stream-stream interval INNER join, the canonical
    stateful two-stream operator: both sides buffer rows in the state store;
    the time-band join condition plus the two watermarks bound that state
    (a buffered row is evicted once the watermark passes its timestamp + the
    band — without the band the state would grow with the stream).  Side A
    columns arrive prefixed a_, side B b_, sharing ``user_id``."""
    a = a.select(
        F.col("event_id").alias("a_event_id"),
        "user_id",
        F.col("event_type").alias("a_type"),
        F.col("value").alias("a_value"),
        F.col("ts").alias("a_ts"),
    ).withWatermark("a_ts", watermark)
    b = b.select(
        F.col("event_id").alias("b_event_id"),
        F.col("user_id").alias("b_user_id"),
        F.col("event_type").alias("b_type"),
        F.col("value").alias("b_value"),
        F.col("ts").alias("b_ts"),
    ).withWatermark("b_ts", watermark)
    cond = F.expr(
        f"user_id = b_user_id AND b_ts BETWEEN "
        f"a_ts - INTERVAL {band_minutes} MINUTES AND "
        f"a_ts + INTERVAL {band_minutes} MINUTES"
    )
    return a.join(b, cond, join_type)


@q(
    "st06_stream_stream_interval_join",
    f"""WITH a AS (SELECT * FROM events
                   WHERE event_type IN ('click', 'view')),
            b AS (SELECT * FROM events
                   WHERE event_type IN ('purchase', 'signup', 'error'))
       SELECT a.user_id, a.event_id AS a_event_id, b.event_id AS b_event_id,
              a.event_type AS a_type, b.event_type AS b_type,
              round(a.value, 2) AS a_value, round(b.value, 2) AS b_value,
              epoch_us(a.ts) AS a_ts_us, epoch_us(b.ts) AS b_ts_us
       FROM a JOIN b ON a.user_id = b.user_id
        AND b.ts BETWEEN a.ts - INTERVAL {_ST06_BAND_MIN} MINUTE
                     AND a.ts + INTERVAL {_ST06_BAND_MIN} MINUTE""",
)
def st06(spark, sf_dir):
    """A28e behind the batch oracle: click/view events stream-stream-join
    purchase/signup/error events of the same user within ±30 minutes.  The
    ts-aligned three-batch staging makes matches span micro-batch
    boundaries, so the append-mode output equals the batch interval join
    over the whole table ONLY if cross-batch join state works; the 2-hour
    watermark (≥ band + one slice of cross-source skew) guarantees no
    state needed for a pending match is evicted, so the equality is exact.
    Watermark EVICTION semantics (a too-late match is dropped) are pinned
    deterministically in tests/test_streaming_analytics.py, not behind the
    oracle — a dropped row is invisible to batch SQL by construction."""
    drop_a, drop_b = _stage_events_two_streams(sf_dir)
    joined = interval_join_streams(
        stream_events(spark, drop_a, max_files_per_trigger=1),
        stream_events(spark, drop_b, max_files_per_trigger=1),
        band_minutes=_ST06_BAND_MIN,
        watermark="2 hours",
    )
    tbl = run_available_now(joined, output_mode="append")
    return spark.table(tbl).select(
        "user_id",
        "a_event_id",
        "b_event_id",
        "a_type",
        "b_type",
        F.round("a_value", 2).alias("a_value"),
        F.round("b_value", 2).alias("b_value"),
        F.unix_micros("a_ts").alias("a_ts_us"),
        F.unix_micros("b_ts").alias("b_ts_us"),
    )


def _stage_events_multibatch_ts(sf_dir: str, n_batches: int = 3) -> str:
    """Like :func:`_stage_events_multibatch` but TS-ordered: three drops cut
    at timestamp boundaries, so sessions span the cuts (per-user state must
    accumulate across micro-batches) and every key's events arrive in event-
    time order."""
    import pyarrow.parquet as pq

    from localsearchengine_spark.plans.entry_helpers import _workdir

    drop = _workdir("lse_evdropts_")
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    n = tbl.num_rows
    cuts = [n * i // n_batches for i in range(n_batches + 1)]
    now = time.time()
    for i in range(n_batches):
        path = os.path.join(drop, f"b{i}.parquet")
        pq.write_table(tbl.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (now + i, now + i))
    return drop


def _append_watermark_advancers(
    drop: str, sf_dir: str, start_batch: int, n_pairs: int = 2
) -> None:
    """Single-stream variant of the st07 advancer trick: append ``n_pairs``
    one-row batches at max(real ts) + 40/80 days (user_id −1, filtered from
    results) — the first carries the watermark past every real session's
    close point, the second runs the eviction/emission pass that uses the
    one-batch-lagged watermark.  Required because session windows stream in
    APPEND mode only: a session is emitted when the watermark passes its
    end + gap, never at end-of-input."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    max_ts = pc.max(tbl["ts"]).as_py()
    now = time.time()
    for j in range(n_pairs):
        ts = max_ts + datetime.timedelta(days=40 * (j + 1))
        row = pa.table(
            {
                "event_id": pa.array([3_000_000_000 + j], pa.int64()),
                "ts": pa.array([ts], tbl.schema.field("ts").type),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["click"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        ).select([f.name for f in tbl.schema])
        path = os.path.join(drop, f"b{start_batch + j}.parquet")
        pq.write_table(row.cast(tbl.schema), path)
        os.utime(path, (now + start_batch + j, now + start_batch + j))


_ST08_GAP_US = 6 * 3600 * 1_000_000  # 6-hour inactivity gap (b24's constant)


@q(
    "st08_stream_session_window",
    f"""WITH e AS (SELECT user_id, value, epoch_us(ts) AS t FROM events),
    d AS (SELECT user_id, value, t,
           CASE WHEN lag(t) OVER w IS NULL
                  OR t - lag(t) OVER w > {_ST08_GAP_US} THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
    s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY t
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM d)
    SELECT user_id, min(t) AS start_us, max(t) + {_ST08_GAP_US} AS end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid""",
)
def st08(spark, sf_dir):
    """A27b — native ``session_window`` streaming aggregation (Spark 3.2+):
    per-user sessions closed by a 6-hour inactivity gap, the dynamic-window
    sibling of st01's fixed tumbling windows.  Session state MERGES across
    micro-batches (the ts-ordered three-batch staging makes sessions span
    the cuts) and sessions stream in APPEND mode only: a session emits when
    the watermark passes its end + gap, never at end-of-input — so the st07
    advancer trick closes the books (two far-future user −1 batches,
    filtered from the result).  Append output over the real users then
    equals batch gaps-and-islands sessionization (b24's shape) exactly:
    same session boundaries (Spark's merge bound is INCLUSIVE — an
    inter-event gap exactly equal to 6 h still merges, pinned in tests —
    hence the oracle's strict ``>``, the same operator b24 uses), same
    integer counts, same rounded sums.  Watermark
    delay 1 h: no real event is ever late (in-order staging), and the
    advancer closes every real session."""
    drop = _stage_events_multibatch_ts(sf_dir)
    _append_watermark_advancers(drop, sf_dir, start_batch=3, n_pairs=2)
    ev = stream_events(spark, drop, max_files_per_trigger=1)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "6 hours").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    tbl = run_available_now(agg, output_mode="append")
    return (
        spark.table(tbl)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
            F.round("sum_value", 2).alias("sum_value"),
        )
    )


@q(
    "st07_stream_stream_outer_join",
    f"""WITH a AS (SELECT * FROM events
                   WHERE event_type IN ('click', 'view')),
            b AS (SELECT * FROM events
                   WHERE event_type IN ('purchase', 'signup', 'error'))
       SELECT a.user_id, a.event_id AS a_event_id, b.event_id AS b_event_id,
              a.event_type AS a_type, b.event_type AS b_type,
              round(a.value, 2) AS a_value, round(b.value, 2) AS b_value,
              epoch_us(a.ts) AS a_ts_us, epoch_us(b.ts) AS b_ts_us
       FROM a LEFT JOIN b ON a.user_id = b.user_id
        AND b.ts BETWEEN a.ts - INTERVAL {_ST06_BAND_MIN} MINUTE
                     AND a.ts + INTERVAL {_ST06_BAND_MIN} MINUTE""",
)
def st07(spark, sf_dir):
    """A28f — watermarked stream-stream LEFT OUTER interval join: same two
    event streams and ±30-minute band as st06, but an unmatched left row
    must emit with nulls — which in a stream can only happen when the
    WATERMARK passes the row's eviction point (state watermark = left ts +
    band), never at end-of-input: Structured Streaming has no "stream
    closed" signal, so a finite run that just stops would silently swallow
    every pending outer row.  Two advancer batches at max(ts)+1d/+2d
    (user_id −1, matching only each other — Δts = 0) force that flush: the
    first carries both sides' event time past every real row, the second
    runs the eviction pass with the (one-batch-lagged) updated watermark.
    Advancers are dropped from the result (user_id ≥ 0), so append-mode
    output equals the batch LEFT interval join over the real events — the
    matched pairs exactly as st06 plus every never-matched click/view row
    with null b_* columns (full hash)."""
    drop_a, drop_b = _stage_events_two_streams(sf_dir)
    _append_advancer_batches(drop_a, drop_b, sf_dir, start_batch=3, n_pairs=2)
    joined = interval_join_streams(
        stream_events(spark, drop_a, max_files_per_trigger=1),
        stream_events(spark, drop_b, max_files_per_trigger=1),
        band_minutes=_ST06_BAND_MIN,
        watermark="2 hours",
        join_type="left_outer",
    )
    tbl = run_available_now(joined, output_mode="append")
    return (
        spark.table(tbl)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            "a_event_id",
            "b_event_id",
            "a_type",
            "b_type",
            F.round("a_value", 2).alias("a_value"),
            F.round("b_value", 2).alias("b_value"),
            F.unix_micros("a_ts").alias("a_ts_us"),
            F.unix_micros("b_ts").alias("b_ts_us"),
        )
    )


@q(
    "st05_stream_static_join",
    """SELECT e.event_id, e.user_id, c.c_name, c.c_nationkey, c.c_mktsegment,
              round(e.value, 2) AS value, epoch_us(e.ts) AS ts_us
       FROM events e JOIN customer c ON c.c_custkey = e.user_id""",
)
def st05(spark, sf_dir):
    """A28d — stream-static enrichment join: the streaming events join the
    STATIC customer dimension on user_id = c_custkey, the canonical
    Structured Streaming enrichment pattern (dimension lookup per
    micro-batch).  Stream-static joins are STATELESS — no watermark, no
    join state store; Spark re-plans the static side each micro-batch and
    broadcasts it when small, so state is O(0) regardless of stream
    length (the property that distinguishes this from stream-stream
    joins, whose state grows with the watermark gap).  Three mtime-ordered
    drops (maxFilesPerTrigger=1) prove the join holds per micro-batch:
    append-mode output over all batches must equal the batch SQL join
    (full hash).  At 100 TB the static side is a broadcast if it fits or
    a shuffled join under AQE — either way chosen per micro-batch."""
    ev = stream_events(
        spark, _stage_events_multibatch(sf_dir), max_files_per_trigger=1
    )
    cust = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .withColumnRenamed("c_custkey", "user_id")
        .select("user_id", "c_name", "c_nationkey", "c_mktsegment")
    )
    joined = ev.join(cust, "user_id")
    tbl = run_available_now(joined, output_mode="append")
    return spark.table(tbl).select(
        "event_id",
        "user_id",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round("value", 2).alias("value"),
        F.unix_micros("ts").alias("ts_us"),
    )
