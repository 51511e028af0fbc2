"""One-shot streaming invocation pooling (r13): the shared tmpfs
checkpoint root must never leak state between entries or runs (every run
gets a fresh subdir, deleted at termination), repeated invocations must
RECOMPUTE from the parquet inputs (never return a stale sink), superseded
memory-sink views must be dropped (bounded driver memory in a marathon
session) without breaking an in-flight consumer of the previous result,
and clear_stream_pools must reset the views and probe memo rebuildably
while leaving in-flight runs' checkpoints alone."""

from __future__ import annotations

import os
import shutil

SF_DIR = "/root/testdata/sf0.001"


def _run_entry(spark, name):
    from msgvault_spark.catalog import CATALOG

    return CATALOG[name].fn(spark, SF_DIR).collect()


def _pool_root_runs():
    from msgvault_spark.streaming import incremental as inc

    root = inc._CKPT_ROOT
    if root is None or not os.path.isdir(root):
        return root, []
    return root, [d for d in os.listdir(root) if d.startswith("run_")]


def test_pooled_checkpoints_are_per_run_and_deleted(spark):
    from msgvault_spark.streaming import incremental as inc

    inc.clear_stream_pools(spark)
    first = _run_entry(spark, "stream_rollup_daily")
    second = _run_entry(spark, "stream_dedup_count")
    root, leftovers = _pool_root_runs()
    # the pooled ROOT is shared across entries, but every run's subdir is
    # unique and removed at termination — nothing a later entry could read
    assert root is not None
    assert leftovers == []
    # recomputation, not a stale sink: same entry again, identical rows
    assert _run_entry(spark, "stream_rollup_daily") == first
    assert _run_entry(spark, "stream_dedup_count") == second


def test_superseded_sink_views_are_dropped_not_broken(spark):
    from msgvault_spark.catalog import CATALOG
    from msgvault_spark.streaming import incremental as inc

    inc.clear_stream_pools(spark)

    def rollup_views():
        return [
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("rollup_")
        ]

    df1 = CATALOG["stream_rollup_daily"].fn(spark, SF_DIR)
    assert len(rollup_views()) == 1
    df2 = CATALOG["stream_rollup_daily"].fn(spark, SF_DIR)
    # the second run dropped the first run's view: at most one result per
    # entry family stays registered
    assert len(rollup_views()) == 1
    # ...but the first run's DataFrame was force-analyzed at creation, so
    # its plan holds the sink object and still collects after the drop
    assert df1.collect() == df2.collect()


def test_clear_stream_pools_resets_and_rebuilds(spark):
    from msgvault_spark.streaming import incremental as inc

    before = _run_entry(spark, "stream_rollup_daily")
    assert inc._PROBE_MEMO  # probe memoized per (app, path)
    root = inc._CKPT_ROOT
    dropped = inc.clear_stream_pools(spark)
    assert dropped >= 1
    assert not inc._PROBE_MEMO and not inc._SINK_VIEWS
    # the checkpoint root is not a pool to clear: the same root still exists
    assert inc._CKPT_ROOT == root and os.path.isdir(root)
    # everything rebuilds lazily with identical results
    assert _run_entry(spark, "stream_rollup_daily") == before
    assert inc.clear_stream_pools(spark) >= 1  # the rebuild re-registered


def test_session_cache_clear_keeps_in_flight_checkpoints(spark):
    """A level-2 clear on one server thread must not delete the checkpoint
    of a one-shot another thread is still running."""
    from msgvault_spark.catalog import clear_session_caches
    from msgvault_spark.streaming import incremental as inc

    in_flight = os.path.join(inc._checkpoint_root(), "run_inflighttest")
    os.makedirs(os.path.join(in_flight, "q"))
    try:
        clear_session_caches(spark)
        assert os.path.isdir(in_flight)
    finally:
        shutil.rmtree(in_flight, ignore_errors=True)
