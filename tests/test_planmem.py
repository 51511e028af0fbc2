"""planmem: pinned-broadcast accounting + deterministic release on memo
eviction. The safety-critical contract: broadcasts under a CACHED
relation's subtree are shared across plans and must never be counted or
destroyed; plan-private broadcasts are both counted and destroyed on
eviction, and an evicted entry rebuilds cleanly on the next request."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

import msgvault_spark.catalog as catmod
from msgvault_spark import planmem

SF_DIR = "/root/testdata/sf0.001"


def _clear_app(spark):
    app = spark.sparkContext.applicationId
    with catmod._PLAN_MEMO_LOCK:
        for k in [k for k in catmod._PLAN_MEMO if k[0] == app]:
            del catmod._PLAN_MEMO[k]
            catmod._PLAN_PIN_SIZES.pop(k, None)


def test_live_broadcasts_counts_private_and_skips_cached(spark):
    dim = spark.range(100).withColumn("v", F.col("id") * 2)
    cached_side = (
        spark.range(1000)
        .join(F.broadcast(dim.withColumnRenamed("v", "w")), "id")
        .persist()
    )
    cached_side.count()  # materialize the cache (and its lineage bcast)
    df = cached_side.join(F.broadcast(dim), "id").groupBy().count()
    df.collect()
    bx = planmem.live_broadcasts(df)
    # exactly the one plan-private broadcast; the cached lineage's
    # broadcast is invisible to the live walk
    assert len(bx) == 1, [(bid, s) for bid, _, s in bx]
    assert planmem.pinned_bytes(df) == bx[0][2] >= 0

    # destroying the private broadcast must NOT poison the cached side
    freed = planmem.release_plan(df)
    assert freed == bx[0][2]
    assert cached_side.count() == 100  # inner join on 0..99
    cached_side.unpersist()


def test_release_is_idempotent_and_fake_safe(spark):
    class Fake:
        pass

    assert planmem.live_broadcasts(Fake()) == []
    assert planmem.pinned_bytes(Fake()) == 0
    assert planmem.release_plan(Fake()) == 0

    dim = spark.range(10)
    df = spark.range(100).join(F.broadcast(dim), "id").groupBy().count()
    df.collect()
    planmem.release_plan(df)
    # second release: destroyed broadcasts are skipped without raising
    planmem.release_plan(df)


def test_unexecuted_plan_pins_nothing(spark):
    dim = spark.range(10)
    df = spark.range(100).join(F.broadcast(dim), "id").groupBy().count()
    # planned but never collected: relationFuture not started
    assert planmem.pinned_bytes(df) == 0


def test_byte_budget_evicts_before_count_cap(monkeypatch):
    """With a tiny byte budget, inserting a 'large' plan evicts older
    entries even though the count cap is far away."""

    class _FakeDF:
        def __init__(self, tag):
            self.tag = tag

    class _FakeSC:
        applicationId = "app-planmem-test"

    class _FakeSpark:
        sparkContext = _FakeSC()

    monkeypatch.setattr(catmod, "_PLAN_MEMO_CAP", 100)
    monkeypatch.setattr(catmod, "_PIN_BUDGET", 1000)
    monkeypatch.setattr(planmem, "pinned_bytes", lambda df: 600)
    names = [f"_pin_test_{i}" for i in range(3)]
    spark = _FakeSpark()
    released = []
    monkeypatch.setattr(
        planmem, "release_plan", lambda df: released.append(df.tag)
    )
    try:
        for n in names:
            @catmod.register(n, oracle_sql=None)
            def _fn(sp, sf, _n=n):
                return _FakeDF(_n)
        fns = {n: catmod.CATALOG[n].fn for n in names}
        fns[names[0]](spark, "sf")   # sized 600 on next insert
        fns[names[1]](spark, "sf")   # sizes #0 → 600 ≤ 1000, keeps both
        fns[names[2]](spark, "sf")   # sizes #1 → 1200 > 1000, evict #0
        live = {
            k[2] for k in catmod._PLAN_MEMO if k[0] == "app-planmem-test"
        }
        assert names[0] not in live and names[2] in live
        assert released == [names[0]]
    finally:
        for n in names:
            catmod.CATALOG.pop(n, None)
        for k in [
            k for k in catmod._PLAN_MEMO if k[0] == "app-planmem-test"
        ]:
            del catmod._PLAN_MEMO[k]
            catmod._PLAN_PIN_SIZES.pop(k, None)


def test_evicted_entry_rebuilds_and_collects(spark, monkeypatch):
    """End-to-end at sf0.001: with a 1-byte budget every insert evicts and
    destroys the previous plan's broadcasts; each entry must still build,
    collect, and (after eviction) rebuild correctly — including entries
    riding the cached wide view."""
    _clear_app(spark)
    monkeypatch.setattr(catmod, "_PIN_BUDGET", 1)
    names = ["agg_senders", "pricing_summary", "agg_domains",
             "list_messages_by_domain"]
    counts = {}
    for n in names:
        counts[n] = len(catmod.CATALOG[n].fn(spark, SF_DIR).collect())
    # every entry again, in reverse: earlier plans were evicted (and
    # their private broadcasts destroyed) — rebuilds must match
    for n in reversed(names):
        assert len(catmod.CATALOG[n].fn(spark, SF_DIR).collect()) == counts[n]


def test_racing_builders_share_one_memoized_plan(spark, monkeypatch):
    """Two threads asking for the same entries at once must both get a
    correct DataFrame: the memo's double-check admits one winner, and the
    loser's duplicate build is discarded, not returned half-initialized."""
    # no eviction path may drop an entry before the identity check: the
    # cap and budget are never reached, and the insert valve and the
    # watchdog never see pressure, whatever earlier tests left on the heap
    monkeypatch.setattr(catmod, "_PLAN_MEMO_CAP", 100)
    monkeypatch.setattr(catmod, "_PIN_BUDGET", 10**12)
    monkeypatch.setattr(catmod, "_PIN_PRESSURE_FRAC", 2.0)
    monkeypatch.setattr(catmod, "_WATCHDOG_FRAC", 2.0)
    _clear_app(spark)
    app = spark.sparkContext.applicationId
    names = ["agg_domains", "latest_order_per_customer", "union_distinct_parts"]
    start = threading.Barrier(2)
    got: list[dict] = [{}, {}]
    errs: list[str] = []

    def ask(i: int) -> None:
        try:
            start.wait(timeout=60)
            for n in names:
                df = catmod.CATALOG[n].fn(spark, SF_DIR)
                assert df.count() >= 0
                got[i][n] = df
        except Exception as exc:  # pragma: no cover - failure path
            errs.append(f"{type(exc).__name__}: {exc}")

    threads = [threading.Thread(target=ask, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errs, errs
    with catmod._PLAN_MEMO_LOCK:
        for n in names:
            memoed = catmod._PLAN_MEMO[(app, SF_DIR, n)]
            assert got[0][n] is memoed and got[1][n] is memoed


def test_pressure_valve_sheds_to_quarter_budget(monkeypatch):
    """dataSize undercounts real heap (~2.5x), so when ACTUAL used heap
    crosses the pressure fraction the memo sheds LRU plans down to a
    quarter of the budget even though the static budget is not exceeded."""
    from types import SimpleNamespace

    class _FakeDF:
        def __init__(self, tag):
            self.tag = tag

    class _FakeRT:
        def maxMemory(self):
            return 1000

        def totalMemory(self):
            return 1000

        def freeMemory(self):
            return 10  # used 990 > 0.6 * 1000 — pressured

    rt = _FakeRT()
    fake_jvm = SimpleNamespace(
        java=SimpleNamespace(
            lang=SimpleNamespace(
                Runtime=SimpleNamespace(getRuntime=lambda: rt),
                System=SimpleNamespace(gc=lambda: None),
            )
        )
    )

    class _FakeSC:
        applicationId = "app-pressure-test"
        _jvm = fake_jvm

    class _FakeSpark:
        sparkContext = _FakeSC()

    monkeypatch.setattr(catmod, "_PLAN_MEMO_CAP", 100)
    monkeypatch.setattr(catmod, "_PIN_BUDGET", 10_000)  # never exceeded
    monkeypatch.setattr(planmem, "pinned_bytes", lambda df: 1000)
    released = []
    monkeypatch.setattr(
        planmem, "release_plan", lambda df: released.append(df.tag)
    )
    names = [f"_pressure_test_{i}" for i in range(5)]
    spark = _FakeSpark()
    try:
        for n in names:
            @catmod.register(n, oracle_sql=None)
            def _fn(sp, sf, _n=n):
                return _FakeDF(_n)
        for n in names:
            catmod.CATALOG[n].fn(spark, "sf")
        live = {
            k[2] for k in catmod._PLAN_MEMO if k[0] == "app-pressure-test"
        }
        # sized pinned crosses budget/4 (2500) at the 3rd sized entry;
        # under constant pressure the valve sheds oldest entries while the
        # newest insert is always protected
        assert names[4] in live
        assert len(released) >= 2
        pinned = sum(
            v or 0
            for k, v in catmod._PLAN_PIN_SIZES.items()
            if k[0] == "app-pressure-test"
        )
        assert pinned <= 2500
    finally:
        for n in names:
            catmod.CATALOG.pop(n, None)
        for k in [
            k for k in catmod._PLAN_MEMO if k[0] == "app-pressure-test"
        ]:
            del catmod._PLAN_MEMO[k]
            catmod._PLAN_PIN_SIZES.pop(k, None)


def test_memory_watchdog_sheds_mid_execution(monkeypatch):
    """The watchdog complements the insert-time valve: sustained
    GC-confirmed pressure BETWEEN inserts (a heavy entry executing) sheds
    every plan but the newest."""
    import time
    from types import SimpleNamespace

    class _FakeDF:
        def __init__(self, tag):
            self.tag = tag

    class _FakeRT:
        def maxMemory(self):
            return 1000

        def totalMemory(self):
            return 1000

        def freeMemory(self):
            return 100  # used 900 > 0.75 * 1000

    rt = _FakeRT()
    fake_jvm = SimpleNamespace(
        java=SimpleNamespace(
            lang=SimpleNamespace(
                Runtime=SimpleNamespace(getRuntime=lambda: rt),
                System=SimpleNamespace(gc=lambda: None),
            )
        )
    )

    class _FakeSC:
        applicationId = "app-watchdog-test"
        _jvm = fake_jvm
        _jsc = object()

    class _FakeSpark:
        sparkContext = _FakeSC()

    monkeypatch.setattr(catmod, "_PLAN_MEMO_CAP", 100)
    monkeypatch.setattr(catmod, "_PIN_BUDGET", 10**12)
    # keep the INSERT valve quiet so the watchdog does the shedding
    monkeypatch.setattr(catmod, "_PIN_PRESSURE_FRAC", 2.0)
    monkeypatch.setattr(catmod, "_WATCHDOG_POLL_S", 0.02)
    monkeypatch.setattr(planmem, "pinned_bytes", lambda df: 0)
    released = []
    monkeypatch.setattr(
        planmem, "release_plan", lambda df: released.append(df.tag)
    )
    names = [f"_wd_test_{i}" for i in range(4)]
    spark = _FakeSpark()
    try:
        for n in names:
            @catmod.register(n, oracle_sql=None)
            def _fn(sp, sf, _n=n):
                return _FakeDF(_n)
        for n in names:
            catmod.CATALOG[n].fn(spark, "sf")
        deadline = time.time() + 5
        while time.time() < deadline:
            with catmod._PLAN_MEMO_LOCK:
                live = [
                    k[2] for k in catmod._PLAN_MEMO
                    if k[0] == "app-watchdog-test"
                ]
            if len(live) <= 1:
                break
            time.sleep(0.05)
        assert live == [names[3]], live
        assert set(released) >= set(names[:3])
    finally:
        catmod._WATCHDOGS.discard("app-watchdog-test")
        for n in names:
            catmod.CATALOG.pop(n, None)
        with catmod._PLAN_MEMO_LOCK:
            for k in [
                k for k in catmod._PLAN_MEMO if k[0] == "app-watchdog-test"
            ]:
                del catmod._PLAN_MEMO[k]
                catmod._PLAN_PIN_SIZES.pop(k, None)


def test_orphaned_sizes_are_pruned(monkeypatch):
    """bench.py clears _PLAN_MEMO directly; stale sizes must not keep
    counting toward the budget."""

    class _FakeDF:
        pass

    class _FakeSC:
        applicationId = "app-orphan-test"

    class _FakeSpark:
        sparkContext = _FakeSC()

    monkeypatch.setattr(catmod, "_PIN_BUDGET", 10**12)
    key = ("app-orphan-test", "sf", "gone")
    catmod._PLAN_PIN_SIZES[key] = 10**11
    try:
        @catmod.register("_orphan_probe", oracle_sql=None)
        def _fn(sp, sf):
            return _FakeDF()

        catmod.CATALOG["_orphan_probe"].fn(_FakeSpark(), "sf")
        assert key not in catmod._PLAN_PIN_SIZES
    finally:
        catmod.CATALOG.pop("_orphan_probe", None)
        for k in [
            k for k in catmod._PLAN_MEMO if k[0] == "app-orphan-test"
        ]:
            del catmod._PLAN_MEMO[k]
            catmod._PLAN_PIN_SIZES.pop(k, None)


def test_shed_plan_cache_and_pressure_classifier(monkeypatch):
    class _FakeDF:
        def __init__(self, tag):
            self.tag = tag

    released = []
    monkeypatch.setattr(
        planmem, "release_plan", lambda df: released.append(df.tag)
    )
    with catmod._PLAN_MEMO_LOCK:
        before = dict(catmod._PLAN_MEMO)
        catmod._PLAN_MEMO.clear()
        catmod._PLAN_MEMO[("app-shed", "sf", "a")] = _FakeDF("a")
        catmod._PLAN_MEMO[("app-shed", "sf", "b")] = _FakeDF("b")
    try:
        assert catmod.shed_plan_cache(keep_newest=True) == 1
        assert catmod.shed_plan_cache() == 1
        assert released == ["a", "b"]
        with catmod._PLAN_MEMO_LOCK:
            assert not catmod._PLAN_MEMO
    finally:
        with catmod._PLAN_MEMO_LOCK:
            catmod._PLAN_MEMO.update(before)

    assert catmod.is_memory_pressure_error(
        Exception("x: Not enough memory to build and broadcast the table")
    )
    assert catmod.is_memory_pressure_error(
        Exception("java.lang.OutOfMemoryError: Java heap space")
    )
    assert not catmod.is_memory_pressure_error(Exception("AnalysisException"))
