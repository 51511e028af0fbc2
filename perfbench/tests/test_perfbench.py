"""Tests of the benchmark itself (not of msgvault_spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workload  # noqa: E402


@pytest.fixture(scope="module")
def facts(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf")
    datagen.generate(str(d), sf=0.001)
    return workload.load_facts(str(d))


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- seeded request generator ---------------------------------------------


@pytest.mark.parametrize("mix", ["hot", "distinct"])
def test_log_is_deterministic_per_seed(facts, mix):
    a = workload.build_log(mix, 7, facts, 200)
    assert a == workload.build_log(mix, 7, facts, 200)
    assert a != workload.build_log(mix, 8, facts, 200)


def test_hot_log_cycles_its_tuples_with_fixed_families(facts):
    log = workload.build_log("hot", 3, facts, 500)
    keys = {(r["path"], repr(r.get("body"))) for r in log}
    assert len(keys) == len(workload.HOT_FAMILIES)
    kinds = [r["kind"] for r in log]
    assert kinds == [r["kind"] for r in workload.build_log("hot", 4, facts, 500)]


def test_short_window_shape(facts):
    # the first 8 hot requests reach every hot family, half of them repeats
    hot = workload.build_log("hot", 3, facts, 8)
    assert {r["kind"] for r in hot} == set(workload.HOT_FAMILIES)
    records = [(float(i), i + 1.0, r, None, b"") for i, r in enumerate(hot)]
    assert tracing.load_shape(records)["load.repeat_share"] >= 0.5
    distinct = workload.build_log("distinct", 3, facts, 6)
    assert [r["kind"] for r in distinct] == list(
        workload.DISTINCT_FAMILIES[:6]
    )


def test_distinct_log_never_repeats(facts):
    log = workload.build_log("distinct", 5, facts, 300)
    keys = [(r["path"], repr(r.get("body"))) for r in log]
    assert len(set(keys)) == len(keys)


def test_datagen_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.generate(str(a), sf=0.001)
    datagen.generate(str(b), sf=0.001)
    for name in sorted(os.listdir(a)):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name


# ---- names agree with BENCHMARK.json ---------------------------------------


def test_workload_names_match_spec(spec):
    assert sorted(run.WORKLOADS) == sorted(w["name"] for w in spec["workloads"])


def _records(facts):
    req = workload.setup_request(facts)
    req["rid"] = 0
    body = json.dumps({"columns": [], "rows": [], "row_count": 0}).encode()
    return [(0.0, 1.0, req, None, body), (0.5, 2.0, req, None, body)]


def test_end_to_end_names_and_units_match_spec(spec, facts):
    metrics = run.end_to_end(3.0, _records(facts), 0.0, 8)
    assert {k: u for k, (_, u) in metrics.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]
    }
    # two timed requests, [0, 1] and [0.5, 2]: both answered 2 s after start
    assert metrics["throughput_rps"][0] == pytest.approx(1.0)
    assert metrics["latency_p50_s"][0] == pytest.approx(1.25)


def test_per_layer_names_and_units_match_spec(spec, facts):
    trace = {
        "requests": {"0": {
            "dur": 1.0, "status": 200, "during_prewarm": False,
            "book": {"server.request": 0.1, "plans.build_s": 0.2},
            "spark": {"jobs": 2, "jobs_failed": 0, "stages": 3,
                      "stages_skipped": 1, "tasks": 9},
        }},
        "retries": 0,
        "memo": {"entries": 1, "calls": 2, "hits": 1},
        "prewarm_s": 4.0,
        "verify": {},
    }
    lake = {"bytes": 10, "files": 2}
    metrics, mismatches = tracing.per_layer(trace, _records(facts), lake)
    # added by run.main
    metrics["server.peak_rss_mb"] = (1.0, "MB")
    metrics["trace.latency_p50_s"] = (1.0, "s")
    assert mismatches == []
    assert {k: u for k, (_, u) in metrics.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]
    }


# ---- answer checks can fail ------------------------------------------------


def _doc(columns, rows):
    return json.dumps(
        {"columns": columns, "rows": rows, "row_count": len(rows)}
    ).encode()


def test_corrupted_rows_fail_the_checks(facts):
    rng = random.Random(1)
    ids_req = workload.make_request("ids", 0, rng, facts)
    ids = ids_req["expect"]["ids"]
    good = [[i + 1, mid, "s"] for i, mid in enumerate(ids)]
    assert checks.check(ids_req, 200, _doc(["rank", "id", "subject"], good)) is None
    bad = [row[:] for row in good]
    bad[-1][1] = ids[-1] + 1
    assert checks.check(ids_req, 200, _doc(["rank", "id", "subject"], bad))

    q = workload.make_request("query", 0, rng, facts)
    n = q["expect"]["count"]
    assert checks.check(q, 200, _doc(["n"], [[n]])) is None
    assert checks.check(q, 200, _doc(["n"], [[n + 1]]))

    agg = workload.make_request("agg", 0, rng, facts)
    cols = ["key", "count"]
    rows = [["a", 5], ["b", 3], ["c", 3]]
    assert checks.check(agg, 200, _doc(cols, rows)) is None
    assert checks.check(agg, 200, _doc(cols, [rows[1], rows[0], rows[2]]))

    filt = workload.make_request("filter", 0, rng, facts)
    dom = filt["expect"]["domain"]
    cols = ["id", "from_email"]
    rows = [[1, f"x@{dom}"], [2, f"y@{dom}"]]
    assert checks.check(filt, 200, _doc(cols, rows)) is None
    assert checks.check(filt, 200, _doc(cols, [rows[0], [2, "y@other.com"]]))

    total = workload.setup_request(facts)
    cols = ["message_count", "account_count"]
    assert checks.check(total, 200, _doc(cols, [[facts.n_orders, 3]])) is None
    assert checks.check(total, 200, _doc(cols, [[facts.n_orders - 1, 3]]))
    assert checks.check(total, 500, b'{"error": "x"}')


# ---- tracing wrappers are transparent --------------------------------------


def test_wrapper_returns_result_unchanged():
    tracer = tracing.Tracer()
    sentinel = object()
    wrapped = tracer.wrap(lambda *a, **k: (sentinel, a, k), "plans.build_s")
    assert wrapped(1, x=2) == (sentinel, (1,), {"x": 2})
    assert wrapped(1, x=2)[0] is sentinel

    def boom():
        raise KeyError("k")

    with pytest.raises(KeyError):
        tracer.wrap(boom, "plans.build_s")()


def test_installed_wrappers_are_transparent_and_book_time():
    pytest.importorskip("pyspark")
    from msgvault_spark.search import parser

    query = "from:alice@example.com subject:report larger:5M hello"
    original = parser.parse_query
    expected = original(query)
    tracer = tracing.Tracer()
    tracer.install()
    try:
        assert parser.parse_query is not original
        tracer.requests["r"] = {"book": collections.defaultdict(float)}
        tracer._tls.rid = "r"
        assert parser.parse_query(query) == expected
        tracer._tls.rid = None
        assert tracer.requests["r"]["book"]["search.parse_s"] > 0
    finally:
        tracer.uninstall()
    assert parser.parse_query is original


def test_recovery_ladder_is_transparent():
    # it runs a whole route, so it must book no time of its own
    pytest.importorskip("pyspark")
    from msgvault_spark import catalog

    original = catalog.run_with_memory_recovery
    tracer = tracing.Tracer()
    tracer.install()
    try:
        tracer.requests["r"] = {"book": collections.defaultdict(float)}
        tracer._tls.rid = "r"
        sentinel = object()
        assert catalog.run_with_memory_recovery(None, lambda: sentinel) is sentinel
        tracer._tls.rid = None
        assert dict(tracer.requests["r"]["book"]) == {}
        assert tracer.retries == 0
    finally:
        tracer.uninstall()
    assert catalog.run_with_memory_recovery is original
