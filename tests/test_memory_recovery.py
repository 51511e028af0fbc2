"""Memory-pressure recovery level 2: clear_session_caches must drop every
long-lived serving cache (so a marathon session can cold-restart without a
process restart — the r12 sf1 sweep diagnosis) and every getter must
rebuild lazily with identical results afterwards. Plus the pagerank
checkpoint discipline: superseded rounds' blocks must be unpersisted, not
accumulated across the iteration."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_clear_session_caches_drops_and_rebuilds(spark):
    from msgvault_spark.catalog import CATALOG, clear_session_caches
    from msgvault_spark.sources import cache as srccache

    entry = CATALOG["agg_senders_wide"]
    before = entry.fn(spark, SF_DIR).collect()
    assert srccache._WIDE_MEMO or srccache._ARCHIVE_MEMO  # memos populated

    dropped = clear_session_caches(spark)
    assert dropped >= 1
    # every DF-holding serving memo is empty — the level-2 contract
    for memo in (
        srccache._ARCHIVE_MEMO,
        srccache._WIDE_MEMO,
        srccache._TABLE_MEMO,
        srccache._TEXT_INDEX_MEMO,
        srccache._TERM_STATS_MEMO,
        srccache._ARTIFACT_MEMO,
        srccache._COMPONENTS_MEMO,
        srccache._MINHASH_MEMO,
    ):
        assert not memo

    # rebuild path: same entry, identical rows from a cold memo state
    after = entry.fn(spark, SF_DIR).collect()
    assert after == before


def test_catalog_entries_retain_no_plan(spark):
    """A catalog entry hands its frame to the caller and keeps nothing:
    once the caller drops an executed frame, it is garbage, and so are
    the broadcast relations its plan pinned."""
    import gc
    import weakref

    from msgvault_spark.catalog import CATALOG

    df = CATALOG["agg_domains"].fn(spark, SF_DIR)
    df.collect()
    ref = weakref.ref(df)
    del df
    gc.collect()
    assert ref() is None


def test_clear_session_caches_is_idempotent(spark):
    from msgvault_spark.catalog import clear_session_caches

    clear_session_caches(spark)
    assert clear_session_caches(spark) == 0


def test_recovery_ladder_escalates_to_no_broadcast_retry(spark):
    """The 3-level ladder (r12 sf1 marathon fix): when a plain retry and
    clearing caches both fail to relieve pressure, the final retry runs
    with auto-broadcast disabled — and the threshold is restored after,
    success or not."""
    from msgvault_spark.catalog import run_with_memory_recovery

    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    calls = []

    def attempt():
        calls.append(spark.conf.get(key))
        if spark.conf.get(key) != "-1":
            raise RuntimeError(
                "Not enough memory to build and broadcast the table"
            )
        return "ok"

    assert run_with_memory_recovery(spark, attempt, label="test") == "ok"
    # first try + level 1 + level 2 all saw the original threshold and
    # raised; level 3 saw -1 and succeeded; the conf is restored
    assert calls == [orig, orig, orig, "-1"]
    assert spark.conf.get(key) == orig


def test_recovery_ladder_propagates_non_memory_errors(spark):
    from msgvault_spark.catalog import run_with_memory_recovery

    calls = []

    def attempt():
        calls.append(1)
        raise ValueError("not a memory problem")

    try:
        run_with_memory_recovery(spark, attempt, label="test")
        raise AssertionError("should have raised")
    except ValueError:
        pass
    assert len(calls) == 1  # no retries for non-pressure errors


def test_recovery_ladder_restores_threshold_on_level3_failure(spark):
    """Even when level 3 itself dies, the threshold must not stay -1 in
    the session."""
    from msgvault_spark.catalog import run_with_memory_recovery

    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)

    def attempt():
        raise RuntimeError(
            "Not enough memory to build and broadcast the table"
        )

    try:
        run_with_memory_recovery(spark, attempt, label="test")
        raise AssertionError("should have raised")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == orig


def test_memory_matcher_catches_both_pinned_shapes():
    """Version pin (Spark 4.1.x): the matcher is a string match over the
    Py4J-propagated exception text; these are the two exact shapes it must
    catch (see is_memory_pressure_error's docstring)."""
    from msgvault_spark.catalog import is_memory_pressure_error

    broadcast_refusal = RuntimeError(
        "org.apache.spark.SparkException: Not enough memory to build and "
        "broadcast the table to all worker nodes. As a workaround, you can "
        "either disable broadcast by setting "
        "spark.sql.autoBroadcastJoinThreshold to -1 or increase the spark "
        "driver memory by setting spark.driver.memory to a higher value."
    )
    heap_exhaustion = RuntimeError(
        "py4j.protocol.Py4JJavaError: An error occurred while calling "
        "o123.collectToPython.\n: java.lang.OutOfMemoryError: Java heap space"
    )
    assert is_memory_pressure_error(broadcast_refusal)
    assert is_memory_pressure_error(heap_exhaustion)
    assert not is_memory_pressure_error(ValueError("AnalysisException: x"))


def test_level3_concurrent_ladders_restore_threshold(spark):
    """Two threads entering level 3 concurrently must not interleave the
    set/attempt/restore window (the unguarded version could restore '-1'
    as the 'original', permanently disabling auto-broadcast)."""
    import threading

    from msgvault_spark.catalog import run_with_memory_recovery

    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    errors = []

    def ladder():
        import time

        calls = [0]

        def attempt():
            calls[0] += 1
            if calls[0] < 4:  # fail first try + levels 1-2 regardless of conf
                raise RuntimeError(
                    "Not enough memory to build and broadcast the table"
                )
            time.sleep(0.3)  # widen the set/attempt/restore window
            return "ok"

        try:
            assert run_with_memory_recovery(spark, attempt, label="t") == "ok"
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=ladder) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert spark.conf.get(key) == orig


def test_nested_ladder_reaches_level3_without_deadlock(spark, monkeypatch):
    """A ladder nested inside a level-3 attempt() (a route whose work
    itself runs under the ladder) reaches its own level 3 on the same
    thread: the level-3 lock is reentrant. Hard timeout: a non-reentrant
    lock hangs the thread forever."""
    import threading

    from msgvault_spark import catalog as catmod

    monkeypatch.setattr(catmod, "_CLEANER_DRAIN_S", 0.0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    pressure = "Not enough memory to build and broadcast the table"
    calls = {"outer": 0, "inner": 0}

    def inner():
        calls["inner"] += 1
        if calls["inner"] < 4:  # fail first try + levels 1-2
            raise RuntimeError(pressure)
        return "ok"

    def outer():
        calls["outer"] += 1
        if calls["outer"] < 4:
            raise RuntimeError(pressure)
        return catmod.run_with_memory_recovery(spark, inner, label="inner")

    out = {}

    def run():
        try:
            out["r"] = catmod.run_with_memory_recovery(
                spark, outer, label="outer"
            )
        except Exception as e:  # noqa: BLE001
            out["e"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=60)
    assert not t.is_alive(), "nested level-3 ladder deadlocked"
    assert out == {"r": "ok"}
    assert calls == {"outer": 4, "inner": 4}
    assert spark.conf.get(key) == orig


def test_pagerank_unpersists_superseded_checkpoints(spark):
    from msgvault_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 40) for i in range(40)] + [(0, j) for j in range(2, 12)],
        "src long, dst long",
    )
    base = _n_persistent_rdds(spark)
    got = pagerank(edges, iters=5).orderBy("node").collect()
    # only the FINAL round's checkpoint may remain cached: 5 iterations
    # must not leave 5 rounds of rank-table blocks behind
    assert _n_persistent_rdds(spark) - base <= 1
    # spot-check the math still holds (hub 0 outranks a chain node)
    ranks = {r["node"]: r["rank_micro"] for r in got}
    assert ranks[0] > ranks[20]


def test_components_unpersists_superseded_rounds(spark):
    from msgvault_spark.dedup.components import connected_components

    # a 60-node path graph forces several pointer-jump rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "src long, dst long"
    )
    base = _n_persistent_rdds(spark)
    got = connected_components(edges, "src", "dst").collect()
    # only the final round's checkpoint may remain (sym + the source
    # label frame + every superseded round must be gone)
    assert _n_persistent_rdds(spark) - base <= 1
    assert {r["component"] for r in got} == {0}
    assert len(got) == 60
