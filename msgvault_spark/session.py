"""SparkSession factory.

The reference pins DuckDB to ``SET threads = GOMAXPROCS`` on one pooled
connection (reference: internal/query/duckdb.go:91-99). The Spark analogue is
a single long-lived session with AQE enabled so Catalyst re-plans at runtime
(skew joins, partition coalescing) — the knobs that matter at 100 TB are set
here once and inherited by every operator.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "msgvault_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Scale notes (100 TB design, local[N] testing):
      - AQE on: runtime partition coalescing + skew-join splitting replace any
        hand-tuned static shuffle count on a real cluster.
      - shuffle.partitions defaults to 2×cores locally; on a 1000-executor
        cluster AQE's coalescing makes the initial number non-critical.
      - Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
      - session timezone pinned to UTC: the reference stores UTC timestamps
        (FIXTURES.md), and oracle comparisons must not depend on host tz.
      - maxPartitionBytes 128m: keeps scan partitions executor-memory-sized.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(32, cpus))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE defaults ON (skew-join splitting + partition coalescing are
        # what keep 100 TB shuffles healthy). SPARK_GRAFT_AQE=false lets a
        # small-scale single-node run drop AQE's per-stage replanning
        # barrier, which costs ~100ms/stage and buys nothing on tiny data.
        .config(
            "spark.sql.adaptive.enabled",
            os.environ.get("SPARK_GRAFT_AQE", "true"),
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # single-node: never trade task-start latency for data locality
        .config("spark.locality.wait", "0")
        # constraint propagation spends optimizer time inferring filter
        # constraints across wide plans; SPARK_GRAFT_CONSTRAINTS=false lets
        # a plan-construction-bound local run skip it (cluster default: on,
        # where the inferred pruning pays for itself)
        .config(
            "spark.sql.constraintPropagation.enabled",
            os.environ.get("SPARK_GRAFT_CONSTRAINTS", "true"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # openCostInBytes is the per-file padding Spark adds when packing
        # files into scan splits. The default 4 MB packs the artifact
        # lake's deliberately-sharded twins (sources/cache.py: ~100k-row
        # files) several-to-a-split, collapsing their scan parallelism;
        # 1 MB keeps roughly one shard per split while still discouraging
        # truly tiny splits. On a real cluster shard files are ~128 MB+
        # and the default is fine either way.
        .config("spark.sql.files.openCostInBytes", "1048576")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # 16 MB, judged against FILE size for lake scans: parquet+zstd
        # under-reports decoded width 3-10×, so a 64 MB threshold let the
        # static planner auto-broadcast whole bucketed FACT tables at sf1
        # (22 MB files → ~200 MB pinned hash relations; a 221-plan sweep
        # session OOM'd an 8 GB driver on exactly this). Facts must
        # prefer their write-time bucket layout; the deliberate dimension
        # broadcasts all use explicit broadcast hints, which ignore
        # this threshold, and AQE's runtime re-plan uses ACCURATE decoded
        # sizes where it is enabled.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get(
                "SPARK_GRAFT_BROADCAST_THRESHOLD", str(16 * 1024 * 1024)
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # extra driver-JVM flags (cold-start experiments: JIT tiering, CDS)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JVM_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        # stage-progress bars corrupt machine-read stdout (the driver's
        # bench capture); default on for humans, off for harnesses
        .config(
            "spark.ui.showConsoleProgress",
            os.environ.get("SPARK_GRAFT_CONSOLE_PROGRESS", "true"),
        )
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    # Driver status-store retention: AppStatusListener (jobs/stages/tasks)
    # and SQLAppStatusListener (spark.sql.ui.retainedExecutions, each entry
    # holding the full physicalPlanDescription + plan graph) are strongly-
    # referenced driver heap no cache clear can reclaim. These are
    # listener-construction-time configs, so they must be on the builder;
    # tools/heap_growth.py --retained sets this env var to A/B-attribute
    # marathon-session heap residue. Unset → Spark defaults (1000 for
    # executions, jobs and stages; 100000 for tasks).
    retained = os.environ.get("SPARK_GRAFT_UI_RETAINED")
    if retained is not None:
        builder = (
            builder.config("spark.sql.ui.retainedExecutions", retained)
            .config("spark.ui.retainedJobs", retained)
            .config("spark.ui.retainedStages", retained)
            .config("spark.ui.retainedTasks", retained)
        )
    return builder.getOrCreate()
