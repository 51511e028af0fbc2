"""Catalog entries: Structured Streaming over the events table.

The stream runs to completion with Trigger.AvailableNow (the reference's
incremental-batch contract, SURVEY.md §2.11) and the finished result is
compared against a plain batch SQL oracle — stream/batch parity is exactly
Structured Streaming's unified-model guarantee, so this is SQL-expressible.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from msgvault_spark.catalog import register
from msgvault_spark.operators.present import present_sorted
from msgvault_spark.streaming.incremental import (
    read_events_stream,
    run_available_now,
    stream_dedup,
    windowed_rollup,
)


def _events_glob(sf_dir: str) -> str:
    """The file stream source requires a directory or glob, not a bare file
    path; a glob matching the single testdata file satisfies it (and matches
    a directory of append shards in production)."""
    return os.path.join(sf_dir, "events.parquet*")


@register(
    "stream_rollup_daily",
    """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day ASC, event_type ASC
""",
)
def stream_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windowed aggregate with event-time watermark, run via
    Trigger.AvailableNow into a memory sink (complete mode)."""
    stream = read_events_stream(spark, _events_glob(sf_dir))
    got = run_available_now(
        windowed_rollup(stream),
        queryName=f"rollup_{uuid.uuid4().hex[:8]}",
        output_mode="complete",
        pool="rollup",
    )
    return got.transform(present_sorted, F.col("day").asc(), F.col("event_type").asc())


@register(
    "stream_dedup_count",
    """
SELECT COUNT(DISTINCT event_id) AS unique_events FROM events
""",
)
def stream_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon; the
    surviving-row count equals batch COUNT(DISTINCT)."""
    stream = read_events_stream(spark, _events_glob(sf_dir))
    deduped = run_available_now(
        stream_dedup(stream), queryName=f"dedup_{uuid.uuid4().hex[:8]}", pool="dedup"
    )
    return deduped.agg(F.countDistinct("event_id").alias("unique_events"))


@register(
    "stream_user_sessions",
    # Batch-replay oracle (r3 verdict ask #7): the per-group state machine
    # is deterministic given per-user ts order — the tracker sorts each
    # Arrow batch by ts and value mass is order-free fixed-point — so the
    # finished one-shot run must equal a lag-window session count over the
    # same input. (The memory-sink checkpoint-recovery limit documented in
    # streaming/incremental.py is about incremental restart, not the
    # result, which is exactly replayable.)
    """
WITH ordered AS (
    SELECT user_id, ts, COALESCE(value, 0) AS value,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS total_value_fp,
       CAST(SUM(CASE WHEN prev_ts IS NULL
                      OR ts - prev_ts > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END) AS BIGINT) AS sessions
FROM ordered
GROUP BY user_id
ORDER BY user_id
""",
)
def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator over the events file stream:
    per-user session counts/volumes via applyInPandasWithState
    (streaming/stateful.py), Trigger.AvailableNow one-shot. Update-mode
    emits one cumulative row per (user, batch); the final state per user
    is the row with the largest event count (cumulative counters are
    monotone), reduced with max/max_by.

    The lag-window oracle additionally assumes each user's events reach
    the tracker in ts order ACROSS batches — the tracker sorts within a
    batch and carries last_ts forward, so a multi-batch run over files
    with interleaved timestamps could count session boundaries
    differently. run_available_now asserts the run consumed a single
    data batch (true for the one-file testdata glob with no
    maxFilesPerTrigger) rather than leaving that as an unchecked
    convention; multi-shard production layouts should sort shards by
    event time or widen the session gap tolerance."""
    from msgvault_spark.streaming.stateful import user_session_stats

    stream = read_events_stream(spark, _events_glob(sf_dir))
    got = run_available_now(
        user_session_stats(stream),
        queryName=f"sessions_{uuid.uuid4().hex[:8]}",
        output_mode="update",
        assert_max_input_batches=1,
        pool="sessions",
    )
    return (
        got.groupBy("user_id")
        .agg(
            F.max("events").alias("events"),
            F.max_by("total_value_fp", "events").alias("total_value_fp"),
            F.max_by("sessions", "events").alias("sessions"),
        )
        .transform(present_sorted, F.col("user_id").asc())
    )


@register(
    "sliding_window_events",
    """
WITH offs AS (SELECT unnest([0, 1]) AS o),
win AS (
    SELECT strftime(date_trunc('day', e.ts) - INTERVAL (f.o) DAY,
                    '%Y-%m-%d') AS win_start,
           e.event_type, e.value
    FROM events e CROSS JOIN offs f
)
SELECT win_start, event_type,
       COUNT(*) AS events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM win
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 2-day windows every 1 day, so each event
    lands in exactly two — Spark's window(slide) surface, which the
    tumbling stream_rollup_daily doesn't touch. Single Expand + hash agg
    (each row fans to its 2 windows map-side, like CUBE); the oracle
    replays the fan-out with an unnested offset join."""
    from msgvault_spark.sources.loader import load_table as _lt

    ev = _lt(spark, sf_dir, "events").select("ts", "event_type", "value")
    return (
        ev.groupBy(
            F.window("ts", "2 days", "1 day").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("win_start"),
            "event_type",
            "events",
            "total_value",
        )
        .transform(present_sorted, "win_start", "event_type")
    )


@register(
    "stream_stream_join_funnel",
    """
SELECT c.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM events c
JOIN events p ON p.user_id = c.user_id
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY 1
ORDER BY 1
""",
)
def stream_stream_join_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (the one streaming join Spark state-stores
    on BOTH sides): click→purchase funnel within 1 hour per user. Both
    sides carry watermarks + the range condition bounds state retention;
    with Trigger.AvailableNow the join drains completely, so the result
    equals the batch interval join the oracle runs."""
    ev = read_events_stream(spark, _events_glob(sf_dir))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "90 days")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "90 days")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 1 hour"
        ),
    )
    got = run_available_now(
        joined, queryName=f"ssj_{uuid.uuid4().hex[:8]}", pool="ssj"
    )
    return (
        got.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .sortWithinPartitions("user_id")
    )


@register(
    "stream_static_enrich",
    """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS events,
       CAST(SUM(CAST(floor(COALESCE(e.value, 0) * 100) AS BIGINT))
            AS BIGINT) AS total_value_fp
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
ORDER BY day ASC, segment ASC
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events file stream inner-joins the
    STATIC customer dimension (no join state — the canonical fact-stream
    × dim pattern, distinct from the stateful stream-stream funnel),
    then rolls up per (day, market segment) under a watermark.
    Trigger.AvailableNow into a complete-mode memory sink; fixed-point
    value mass makes the finished run batch-exact
    (streaming/incremental.py:enriched_segment_rollup)."""
    from msgvault_spark.sources.cache import get_table as _load

    stream = read_events_stream(spark, _events_glob(sf_dir))
    dim = _load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    from msgvault_spark.streaming.incremental import enriched_segment_rollup

    got = run_available_now(
        enriched_segment_rollup(stream, dim),
        queryName=f"enrich_{uuid.uuid4().hex[:8]}",
        output_mode="complete",
        pool="enrich",
    )
    return got.transform(
        present_sorted, F.col("day").asc(), F.col("segment").asc()
    )
