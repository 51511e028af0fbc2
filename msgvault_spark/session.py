"""SparkSession factory: the one session every process runs.

The reference pins DuckDB to ``SET threads = GOMAXPROCS`` on one pooled
connection (reference: internal/query/duckdb.go:91-99). The Spark analogue is
a single long-lived session whose settings are fixed here and inherited by
every operator. The server, ``bench.py``, the tools and the serving SLO test
all run this session, so what is benchmarked is what is served.

Only deployment settings come from the environment: ``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_MASTER``, ``SPARK_GRAFT_DRIVER_MEM`` and
``SPARK_GRAFT_JVM_OPTS`` here, plus the data and artifact directories
(``SPARK_GRAFT_SF_DIR``, ``SPARK_GRAFT_ARTIFACT_DIR``) read elsewhere.
Apart from the core count, which sizes the shuffle, none of them changes
how a query is planned.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "msgvault_spark") -> SparkSession:
    """Build (or fetch) the session.

    Scale notes (100 TB design, local[N] testing):
      - AQE on: runtime re-planning (partition coalescing, skew-join
        splitting, join choice from accurate sizes) replaces hand-tuned
        static shuffle counts and join strategies (Shark's partial DAG
        execution).
      - shuffle.partitions is max(32, cores); AQE's coalescing makes the
        initial number non-critical at any scale.
      - constraint propagation on: inferred filters prune wide plans.
      - Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
      - session timezone pinned to UTC: the reference stores UTC timestamps
        (FIXTURES.md), and oracle comparisons must not depend on host tz.
      - maxPartitionBytes 128m: keeps scan partitions executor-memory-sized.
    """
    cpus = default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")

    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(32, cpus)))
        # skew-join splitting + partition coalescing are what keep 100 TB
        # shuffles healthy
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # single-node: never trade task-start latency for data locality
        .config("spark.locality.wait", "0")
        .config("spark.sql.constraintPropagation.enabled", "true")
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
        # sizes.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # extra driver-JVM flags (cold-start experiments: JIT tiering, CDS)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JVM_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        # PySpark launches the JVM as "pyspark-shell", and Spark turns the
        # console progress bar on for shells unless it is set; it would
        # write stage bars into the server's log and every tool's stderr
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .getOrCreate()
    )
