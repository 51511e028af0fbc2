"""Structured Streaming extensions: incremental ingest as a stream job.

The reference is strictly batch + incremental — watermark cursors and
append shards (SURVEY.md §2.11; reference build_cache.go:125-263). Spark's
native expression of exactly that contract is a file-source stream run with
``Trigger.AvailableNow``: the checkpoint directory IS the watermark state,
new files ARE the increment, and one invocation processes everything
outstanding then stops — the reference's `build-cache` semantics with
exactly-once bookkeeping for free. The same pipeline runs 24/7 on a real
cluster by swapping the trigger for a processing-time one.

Pieces:
  - windowed rollup with an event-time watermark (late data beyond the
    horizon is dropped once the watermark advances across micro-batches);
  - streaming dedup (`dropDuplicatesWithinWatermark`) — the streaming twin
    of the batch dedup pipeline (msgvault_spark/dedup/);
  - custom stateful op via ``transformWithStateInPandas``-free composition:
    running per-user counters with `applyInPandasWithState` where built-ins
    can't express the semantics.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# One-shot invocation pooling (r13, guide §5/§1). A memory-sink AvailableNow
# run pays three fixed costs per invocation that have nothing to do with the
# data: (a) a fresh mkdtemp checkpoint on DISK whose WAL/state files are
# written once and never read again (the memory sink cannot recover from a
# checkpoint — Spark raises on reuse), and which is never deleted (the r12
# tree had 60 orphaned msgvault_ckpt_* dirs in /tmp); (b) a batch
# footer-probe read of the events parquet per invocation, though the
# physical type of `ts` cannot change within a session; (c) a memory-sink
# temp view per invocation that is never dropped — an unbounded driver-heap
# leak in a marathon/serving session. The pool below fixes all three:
# one tmpfs-backed checkpoint ROOT per process (subdir per run, deleted
# once the run terminates — state-store providers are deactivated at query
# termination, and the returned rows live in the sink, not the checkpoint),
# a per-(app, path) probe memo, and a per-(app, pool) view registry that
# drops an entry's SUPERSEDED sink views once its next run has finished
# (the new view's plan is force-analyzed before the old one is dropped, so
# an in-flight consumer of the old DataFrame keeps working: a resolved
# memory-sink plan holds the sink object, not the catalog name).
# clear_stream_pools() drops the views and the probe memo;
# catalog.clear_session_caches (memory-recovery level 2) calls it. It
# leaves the checkpoint root alone: the root only ever holds in-flight
# runs' subdirs, which belong to whichever thread is running them.
# ---------------------------------------------------------------------------

_CKPT_ROOT: str | None = None
_PROBE_MEMO: dict[tuple[str, str], str] = {}
_SINK_VIEWS: dict[tuple[str, str], list[str]] = {}
_POOL_LOCK = threading.Lock()


def _checkpoint_root() -> str:
    """Pooled parent for one-shot checkpoint dirs: tmpfs when the host has
    one (the WAL + state files of a memory-sink one-shot are throwaway),
    one mkdtemp per process instead of one per invocation."""
    global _CKPT_ROOT
    with _POOL_LOCK:
        if _CKPT_ROOT is None or not os.path.isdir(_CKPT_ROOT):
            base = "/dev/shm" if os.path.isdir("/dev/shm") else None
            _CKPT_ROOT = tempfile.mkdtemp(prefix="msgvault_ckpt_pool_", dir=base)
        return _CKPT_ROOT


def clear_stream_pools(spark: SparkSession | None = None) -> int:
    """Drop the pooled memory-sink views (and their driver-held rows) and
    the probe memo. Returns entries dropped; both rebuild lazily. The
    checkpoint root stays: a finished run deletes its own subdir, so the
    root holds only runs still in flight on other threads."""
    with _POOL_LOCK:
        names = [n for ns in _SINK_VIEWS.values() for n in ns]
        _SINK_VIEWS.clear()
        dropped = len(names) + len(_PROBE_MEMO)
        _PROBE_MEMO.clear()
    # drop outside the lock: each drop is a Py4J round-trip
    if spark is not None:
        for name in names:
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                pass
    return dropped

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # nanosecond parquet timestamps surface as raw int64 under
        # spark.sql.legacy.parquet.nanosAsLong (see sources/loader.py)
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over events parquet (a directory of append shards
    in production; a single file in the testdata). The ``ts`` physical type
    varies by writer — int64 nanos (surfacing as raw long under
    nanosAsLong) or µs with/without isAdjustedToUTC — so probe the footer
    with a batch read (metadata-only, no scan) and normalize to TIMESTAMP
    exactly like the batch path (sources/loader.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import glob as _glob

    probe_paths = sorted(_glob.glob(path)) or [path]
    from pyspark.errors import AnalysisException

    # probe once per (app, path): the physical type of `ts` cannot change
    # within a session (shards of one directory share a writer), so the
    # per-invocation batch footer read is pooled. An UNRESOLVED probe
    # (empty dir fallback) is deliberately NOT memoized — files may land
    # later and the next invocation should re-probe.
    probe_key = (spark.sparkContext.applicationId, path)
    with _POOL_LOCK:
        probed = _PROBE_MEMO.get(probe_key)
    if probed is None:
        try:
            probed = dict(spark.read.parquet(probe_paths[0]).dtypes).get(
                "ts", "bigint"
            )
            with _POOL_LOCK:
                _PROBE_MEMO[probe_key] = probed
        except AnalysisException:
            # empty / not-yet-populated source dir (PATH_NOT_FOUND /
            # UNABLE_TO_INFER_SCHEMA): start the stream with the legacy
            # explicit schema and let it wait for files, exactly like the
            # pre-probe behavior — do not fail stream DEFINITION on an empty
            # directory. Real read errors (corrupt shard) still propagate.
            # (A directory mixing ns and µs shards is not supported by a
            # single stream schema; normalize at write time.)
            probed = "bigint"
    if probed == "bigint":
        raw = spark.readStream.schema(EVENTS_SCHEMA).parquet(path)
        # ns → µs via integer division (never through double: ns-since-epoch
        # exceeds 2^53)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    schema = T.StructType(
        [
            f if f.name != "ts"
            else T.StructField(
                "ts",
                T.TimestampNTZType()
                if probed == "timestamp_ntz"
                else T.TimestampType(),
            )
            for f in EVENTS_SCHEMA.fields
        ]
    )
    raw = spark.readStream.schema(schema).parquet(path)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_rollup(
    events: DataFrame, *, window: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """Tumbling-window per-type rollup with an event-time watermark. State
    for windows older than the watermark is evicted — bounded memory on an
    unbounded stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    )


def stream_dedup(events: DataFrame, *, watermark: str = "2 days") -> DataFrame:
    """Streaming exact dedup on event_id: duplicates arriving within the
    watermark horizon are dropped, state self-expires beyond it (the
    streaming twin of dedup/exact.py)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_available_now(
    stream_df: DataFrame,
    *,
    checkpoint_dir: str | None = None,
    queryName: str = "msgvault_stream",
    output_mode: str = "append",
    timeout_s: int = 300,
    assert_max_input_batches: int | None = None,
    pool: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion with Trigger.AvailableNow
    into an in-memory sink and return the result as a batch DataFrame.

    NOTE: the memory sink does NOT support checkpoint recovery (Spark
    raises "This query does not support recovering from checkpoint
    location" on reuse), so each memory-sink run must use a fresh
    checkpoint subdir (queryName keys it below) and reprocesses all
    files. The incremental only-new-files contract — the reference's
    watermark-cursor build — lives on the foreachBatch path
    (``stream_to_lake``), which does recover; pinned by
    tests/test_streaming.py::{test_stream_to_lake_exactly_once,
    test_watermark_drops_data_beyond_horizon}.

    Pooling (r13): when ``checkpoint_dir`` is None the per-run checkpoint
    subdir lives under the process-wide tmpfs root and is DELETED once the
    run terminates (its WAL/state files are unreadable-by-design for a
    memory sink; the result rows live in the sink, not the checkpoint).
    ``pool`` names the invocation family (one per catalog entry): after
    this run's view is registered and force-analyzed, the family's
    superseded sink views are dropped so repeated invocations hold at most
    one result in driver memory instead of accumulating one per run."""
    pooled = checkpoint_dir is None
    checkpoint = checkpoint_dir or os.path.join(
        _checkpoint_root(), f"run_{_uuid.uuid4().hex[:12]}"
    )
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(queryName)
        .outputMode(output_mode)
        .option("checkpointLocation", os.path.join(checkpoint, queryName))
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"streaming query {queryName} did not finish in {timeout_s}s"
            )
    finally:
        if pooled:
            shutil.rmtree(checkpoint, ignore_errors=True)
    if assert_max_input_batches is not None:
        # callers whose batch-replay oracle depends on per-key event-time
        # order being preserved across micro-batches (e.g. a session state
        # machine) pin the number of data-carrying batches instead of
        # trusting that the file source happened to pack everything into
        # one trigger (maxFilesPerTrigger / multi-shard layouts would
        # silently break the assumption otherwise)
        data_batches = sum(
            1 for p in q.recentProgress if (p.get("numInputRows") or 0) > 0
        )
        if data_batches > assert_max_input_batches:
            raise AssertionError(
                f"streaming query {queryName} processed {data_batches} "
                f"data batches (> {assert_max_input_batches}); the "
                "batch-replay oracle assumes per-key ts order, which only "
                "holds within a single micro-batch"
            )
    result = spark.table(queryName)
    result.schema  # force analysis: the plan now holds the sink object,
    # so dropping a temp view NAME cannot break this DataFrame
    if pool is not None:
        app = spark.sparkContext.applicationId
        with _POOL_LOCK:
            stale = _SINK_VIEWS.get((app, pool), [])
            _SINK_VIEWS[(app, pool)] = [queryName]
        for name in stale:
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                pass
    return result


def stream_to_lake(
    stream_df: DataFrame,
    lake_dir: str,
    checkpoint_dir: str,
    *,
    timeout_s: int = 300,
) -> None:
    """Incremental lake maintenance as a stream: foreachBatch lands each
    micro-batch in the lake, the checkpoint records which source files are
    done. Re-running with the same checkpoint is a no-op until new files
    land — the reference's build-cache incremental contract
    (build_cache.go staleness decision).

    Effectively-once, not just at-least-once: foreachBatch alone is
    at-least-once (a crash between a blind append and the checkpoint commit
    would re-append the batch on retry), so the sink is made idempotent per
    ``batch_id`` — each batch writes to a staging dir (overwrite =
    idempotent), then moves files into the lake under deterministic
    ``batch-<id>-<n>.parquet`` names, then commits a
    ``_batches/<id>.done`` marker. A retry of a committed batch is a no-op;
    a retry of a half-moved batch first clears that batch's lake files and
    re-moves, converging to exactly one copy. ``_``-prefixed subdirs are
    invisible to parquet readers, so ``spark.read.parquet(lake_dir)`` works
    unchanged. At 100 TB this IS the ETL driver: AvailableNow on a cron
    gets source-file tracking and retries from the checkpoint, and batch
    idempotency from this sink."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker_dir = os.path.join(lake_dir, "_batches")
        marker = os.path.join(marker_dir, f"{batch_id}.done")
        if os.path.exists(marker):  # batch fully committed earlier: no-op
            return
        staging = os.path.join(lake_dir, "_staging", f"batch-{batch_id}")
        (
            batch_df.write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(staging)
        )
        # clear any half-moved files from a previous attempt (the retry may
        # split rows across a different file count), then move the fresh set
        os.makedirs(lake_dir, exist_ok=True)
        for f in os.listdir(lake_dir):
            if f.startswith(f"batch-{batch_id}-") and f.endswith(".parquet"):
                os.remove(os.path.join(lake_dir, f))
        moved = sorted(
            f for f in os.listdir(staging)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        for i, f in enumerate(moved):
            os.replace(
                os.path.join(staging, f),
                os.path.join(lake_dir, f"batch-{batch_id}-{i:05d}.parquet"),
            )
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w") as fh:
            fh.write(str(len(moved)))
        import shutil

        shutil.rmtree(staging, ignore_errors=True)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream_to_lake did not finish in {timeout_s}s")


def enriched_segment_rollup(
    events: DataFrame,
    dim: DataFrame,
    *,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """STREAM-STATIC enrichment join + windowed rollup: each event picks
    up its user's market segment from a static dimension (inner join —
    no streaming state for the join at all; Spark re-reads/broadcasts
    the static side per micro-batch), then a tumbling-window per-segment
    aggregate with event-time watermark.  The enrichment pattern every
    production pipeline runs (fact stream × slowly-refreshed dim) —
    distinct from the stream-stream funnel join, which must hold
    both-side state.  ``dim`` = (user_id, segment).  Value mass is
    order-free fixed-point (Σ floor(value·100)) so the one-shot replay
    is batch-exact."""
    enriched = events.join(dim, "user_id")
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("events"),
            F.sum(
                F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("total_value_fp"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "segment",
            "events",
            "total_value_fp",
        )
    )
