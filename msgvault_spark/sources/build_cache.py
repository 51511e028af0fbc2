"""Analytics-cache builder: the Spark-native equivalent of `msgvault
build-cache` (reference: cmd/msgvault/cmd/build_cache.go).

The reference exports SQLite → Parquet with:
  * messages hive-partitioned by year, zstd, derived year/month columns,
    excluding unsent/soft-deleted rows (build_cache.go:289-315);
  * junction tables written as append-only incremental shards named
    ``incr_<watermark>.parquet`` because Parquet can't be appended
    (build_cache.go:256-263,326-383);
  * small dims rewritten whole each build (build_cache.go:385-457);
  * a watermark state file (`cacheSchemaVersion`, LastMessageID, LastSyncAt)
    deciding full vs incremental rebuild (build_cache.go:31-43,125-143);
  * post-export row-count verification before committing the state file
    (build_cache.go:461-492).

Spark-first mapping: `df.write.partitionBy("year")` with zstd; append-mode
writes give incremental shards natively (Spark names part files uniquely, so
no incr_ naming is needed); the state file is JSON next to the lake. At
100 TB the same code runs unchanged on a cluster — the messages write
shuffles by year only if we ask it to (we repartition by partition column so
each task writes one hive partition, avoiding the many-small-files problem).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# v2: attachments gained id/mime_type/content_hash (GetAttachment surface).
# A version mismatch forces a FULL rebuild — an incremental append onto a
# v1 lake would mix id-less old shards with new ones, and canonicalize's
# NULL id would make every pre-upgrade attachment invisible to the
# primary-key lookup (absent row == "does not exist" to callers).
CACHE_SCHEMA_VERSION = 2

STATE_FILE = "_cache_state.json"

# Tables rewritten whole every build (small dims, build_cache.go:385-457).
DIM_TABLES = ("participants", "labels", "conversations")
# Tables appended incrementally, keyed by message_id watermark.
JUNCTION_TABLES = ("message_recipients", "message_labels", "attachments")


@dataclass
class CacheState:
    """Watermark state (reference: buildState struct, build_cache.go:31-43)."""

    schema_version: int = CACHE_SCHEMA_VERSION
    last_message_id: int = 0
    last_build_at: float = 0.0
    row_counts: dict = field(default_factory=dict)

    @classmethod
    def load(cls, base_dir: str) -> "CacheState | None":
        path = os.path.join(base_dir, STATE_FILE)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return cls(**json.load(f))

    def save(self, base_dir: str) -> None:
        os.makedirs(base_dir, exist_ok=True)
        with open(os.path.join(base_dir, STATE_FILE), "w") as f:
            json.dump(asdict(self), f)


def decide_staleness(
    state: CacheState | None,
    max_message_id: int,
    live_message_count: int,
) -> str:
    """Full/incremental/fresh decision (reference: cacheNeedsBuild,
    cmd/msgvault/cmd/tui.go:183-290 — new rows → incremental; deleted or
    updated rows, or schema change → full rebuild)."""
    if state is None or state.schema_version != CACHE_SCHEMA_VERSION:
        return "full"
    cached = state.row_counts.get("messages", 0)
    new_rows = max_message_id > state.last_message_id
    # rows disappeared (deletion) or count drifted without the watermark
    # moving → something changed under us → full rebuild
    if live_message_count < cached or (live_message_count != cached and not new_rows):
        return "full"
    if new_rows:
        return "incremental"
    return "fresh"


def _live_messages(messages: DataFrame) -> DataFrame:
    """Always-on export predicate (build_cache.go:308): sent and not
    soft-deleted."""
    df = messages.filter(F.col("sent_at").isNotNull())
    for c in ("deleted_at", "deleted_from_source_at"):
        if c in messages.columns:
            df = df.filter(F.col(c).isNull())
    return df


def build_cache(
    spark: SparkSession,
    archive: dict[str, DataFrame],
    base_dir: str,
    *,
    mode: str | None = None,
) -> CacheState:
    """Build or incrementally refresh the Parquet analytics cache.

    `archive` is the live store (messages + junctions + dims as DataFrames);
    `base_dir` the lake root. Returns the committed state. Raises if the
    post-write verification count mismatches (build_cache.go:461-492).
    """
    state = CacheState.load(base_dir)
    live = _live_messages(archive["messages"])

    # one pass over the live fact to get watermark + count (A9-style agg)
    agg = live.agg(
        F.coalesce(F.max("id"), F.lit(0)).alias("max_id"),
        F.count(F.lit(1)).alias("cnt"),
    ).collect()[0]
    max_id, live_count = int(agg["max_id"]), int(agg["cnt"])

    if mode is None:
        mode = decide_staleness(state, max_id, live_count)
    if mode == "fresh":
        return state  # type: ignore[return-value]

    watermark = state.last_message_id if (mode == "incremental" and state) else 0
    write_mode = "append" if watermark else "overwrite"

    msgs = live
    if watermark:
        msgs = msgs.filter(F.col("id") > watermark)
    msgs = msgs.withColumn("year", F.year("sent_at").cast("int")).withColumn(
        "month", F.month("sent_at").cast("int")
    )
    # One writer task per hive partition dir: repartition by the partition
    # column so a 1000-executor run doesn't emit executors×years small files.
    (
        msgs.repartition("year")
        .write.mode(write_mode)
        .option("compression", "zstd")
        .partitionBy("year")
        .parquet(os.path.join(base_dir, "messages"))
    )

    new_ids = msgs.select("id").withColumnRenamed("id", "message_id")
    for name in JUNCTION_TABLES:
        df = archive[name]
        if watermark:
            # junction rows for new messages only — broadcast the id set when
            # small; at scale this is a shuffle-free semi join on the
            # already-partitioned junction
            df = df.join(F.broadcast(new_ids), "message_id", "left_semi")
        (
            df.write.mode(write_mode)
            .option("compression", "zstd")
            .parquet(os.path.join(base_dir, name))
        )

    for name in DIM_TABLES:
        if name not in archive:
            continue
        (
            archive[name]
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(os.path.join(base_dir, name))
        )

    # verification: re-read the committed lake and compare counts before
    # persisting the state file (build_cache.go:461-492)
    written = spark.read.parquet(os.path.join(base_dir, "messages")).count()
    if written != live_count:
        raise RuntimeError(
            f"cache verification failed: wrote {written} rows, live store has "
            f"{live_count}"
        )

    counts = {"messages": live_count}
    for name in JUNCTION_TABLES:
        counts[name] = spark.read.parquet(os.path.join(base_dir, name)).count()

    new_state = CacheState(
        schema_version=CACHE_SCHEMA_VERSION,
        last_message_id=max_id,
        last_build_at=time.time(),
        row_counts=counts,
    )
    new_state.save(base_dir)
    return new_state
