"""In-memory spans for the traced benchmark run.

``Tracer.install()`` wraps the public functions of each layer's modules
before ``serve()`` is called; ``Tracer.attach(srv)`` wraps the server's
request handlers once the server exists. A span inside a request records
its metric key, start, end, parent key and request id; spans stay in
memory until ``Tracer.report()`` at shutdown. Every wrapper returns
exactly what the wrapped function returns.

Each span's *self time* (its duration minus the spans nested in it) is
booked to its metric key, so the keys of one request add up to its
request span. The memory-recovery ladder runs a whole route, so it gets
no span, only a count of its extra attempts. ``spark.exec_s`` is the
collect/count span minus the Catalyst optimization and planning phases
that ran inside it (read from ``queryExecution().tracker()``); those
phases go to ``catalyst.*``.
``catalyst.analysis_s`` is the collected plan's own analysis, which ran
when the layer that built it created the DataFrame, so it overlaps that
layer's self time instead of adding to the sum; a ``count()`` plans a
separate query whose phases the tracker does not expose. Every
request runs in its own Spark job group, whose jobs, stages and tasks are
read from ``sc.statusTracker()`` at shutdown.

``per_layer()`` turns a report plus the load generator's records into the
per-layer metrics the benchmark prints with ``--trace 1``.
"""

from __future__ import annotations

import collections
import functools
import json
import statistics
import threading
import time
import types
from urllib.parse import parse_qs, urlparse

# (module, attribute path, metric key) wrapped by install()
TARGETS = (
    ("msgvault_spark.api", "collect_result", "api.self_s"),
    ("msgvault_spark.api", "query_sql", "api.self_s"),
    ("msgvault_spark.api", "aggregate_view", "api.self_s"),
    ("msgvault_spark.api", "sub_aggregate_view", "api.self_s"),
    ("msgvault_spark.api", "search_messages", "api.self_s"),
    ("msgvault_spark.api", "list_view", "api.self_s"),
    ("msgvault_spark.api", "get_total_stats", "api.self_s"),
    ("msgvault_spark.api", "get_message_summaries", "api.self_s"),
    ("msgvault_spark.api", "get_messages", "api.self_s"),
    ("msgvault_spark.api", "list_accounts", "api.self_s"),
    ("msgvault_spark.api", "get_summary_stats", "api.self_s"),
    ("msgvault_spark.plans.aggregate", "aggregate", "plans.build_s"),
    ("msgvault_spark.plans.aggregate", "sub_aggregate", "plans.build_s"),
    ("msgvault_spark.plans.aggregate", "total_stats", "plans.build_s"),
    ("msgvault_spark.plans.listing", "list_messages", "plans.build_s"),
    ("msgvault_spark.plans.lookup", "get_message_summaries_by_ids",
     "plans.build_s"),
    ("msgvault_spark.plans.lookup", "get_messages", "plans.build_s"),
    ("msgvault_spark.plans.lookup", "get_messages_raw", "plans.build_s"),
    ("msgvault_spark.plans.lookup", "list_accounts", "plans.build_s"),
    ("msgvault_spark.plans.lookup", "summary_stats", "plans.build_s"),
    ("msgvault_spark.search.parser", "parse_query", "search.parse_s"),
    ("msgvault_spark.search.fast", "search_fast", "search.build_s"),
    ("msgvault_spark.search.fast", "SearchWithStats.__init__",
     "search.build_s"),
    ("msgvault_spark.search.fast", "SearchWithStats.page", "search.build_s"),
    ("msgvault_spark.search.fast", "SearchWithStats.release",
     "search.build_s"),
    ("msgvault_spark.search.fast", "SearchWithStats.count", "search.count_s"),
    ("msgvault_spark.search.hybrid", "hybrid_search", "search.build_s"),
    ("msgvault_spark.similarity.knn", "knn_bruteforce", "similarity.knn_s"),
    ("msgvault_spark.sources.cache", "get_archive", "sources.archive_s"),
    ("msgvault_spark.sources.cache", "get_table", "sources.archive_s"),
    ("msgvault_spark.sources.cache", "get_wide_messages",
     "sources.archive_s"),
    ("msgvault_spark.sources.artifact_store", "load_group",
     "sources.archive_s"),
    ("msgvault_spark.sources.artifact_store", "save_group",
     "sources.lake_build_s"),
    ("msgvault_spark.api", "QueryResult.to_json", "server.serialize_s"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.exec_s"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count", "spark.exec_s"),
)
PHASES = ("analysis", "optimization", "planning")
# route families answered through api.* (compared in-process)
API_KINDS = (
    "total", "stats", "accounts", "agg", "sub", "filter", "ids", "detail",
    "fast", "query",
)
VERIFY_SAMPLE = 6


class Tracer:
    def __init__(self) -> None:
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.requests: dict[str, dict] = {}
        # (key, start, end, parent key, request id) of every request span
        self.spans: list[tuple] = []
        self.retries = 0  # extra attempts under run_with_memory_recovery
        self.memo_calls = self.memo_hits = 0
        self._memo_last: dict[str, int] = {}
        self.prewarm_s: float | None = None
        self._prewarm_t0: float | None = None
        self._prewarm_alive = False
        self.originals: list[tuple[object, str, object]] = []

    # ---- spans -----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _enter(self, key: str) -> dict:
        stack = self._stack()
        span = {"key": key, "t0": time.perf_counter(), "child_s": 0.0,
                "extra": {}, "parent": stack[-1]["key"] if stack else None}
        stack.append(span)
        return span

    def _exit(self, span: dict) -> None:
        t1 = time.perf_counter()
        dur = t1 - span["t0"]
        stack = self._stack()
        stack.pop()
        if stack:
            stack[-1]["child_s"] += dur
        rid = getattr(self._tls, "rid", None)
        if rid is None:
            return
        own = dur - span["child_s"]
        with self._lock:
            self.spans.append((span["key"], span["t0"], t1, span["parent"], rid))
            rec = self.requests[rid]
            rec["book"][span["key"]] += own
            for k, v in span["extra"].items():
                rec["book"][k] += v
            if span["key"] == "server.request":
                rec["dur"] = dur

    def wrap(self, fn, key: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer._enter(key)
            try:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(span, args, result)
                return result
            finally:
                tracer._exit(span)

        return traced

    def _patch(self, owner, attr: str, wrapper) -> None:
        self.originals.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    # ---- installation ------------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod_name, path, key in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for name in outer:
                owner = getattr(owner, name)
            fn = getattr(owner, attr)
            after = None
            if key == "spark.exec_s":
                after = self._after_action
            elif path == "load_group":
                after = self._after_load_group
            elif path == "save_group":
                after = self._after_save_group
            self._patch_everywhere(owner, attr, self.wrap(fn, key, after))
        # the recovery ladder runs a whole route: no span of its own (its
        # time stays with the request and the layers under it), only a
        # count of the extra attempts
        from msgvault_spark import catalog

        self._patch_everywhere(
            catalog, "run_with_memory_recovery",
            self._counting_recovery(catalog.run_with_memory_recovery),
        )
        # dict answers are serialized with the server module's json.dumps
        import msgvault_spark.server as server_mod

        self._patch(server_mod, "json", types.SimpleNamespace(
            dumps=self.wrap(json.dumps, "server.serialize_s"),
            loads=json.loads,
        ))
        self._wrap_catalog_memo()

    def _patch_everywhere(self, owner, attr: str, wrapped) -> None:
        """Patch ``owner.attr`` and rebind the name in every package module
        that imported it at import time."""
        import sys

        original = owner.__dict__[attr]
        self._patch(owner, attr, wrapped)
        for mod in list(sys.modules.values()):
            if (
                mod is not owner
                and getattr(mod, "__name__", "").startswith("msgvault_spark")
                and mod.__dict__.get(attr) is original
            ):
                self._patch(mod, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self.originals):
            setattr(owner, attr, original)
        self.originals.clear()

    def _counting_recovery(self, fn):
        tracer = self

        @functools.wraps(fn)
        def recovery(spark, attempt, label="query"):
            calls = []

            def counted():
                calls.append(1)
                return attempt()

            try:
                return fn(spark, counted, label=label)
            finally:
                with tracer._lock:
                    tracer.retries += max(0, len(calls) - 1)

        return recovery

    def _wrap_catalog_memo(self) -> None:
        """Count memo hits of the memoized catalog entries: a call that
        returns the very DataFrame object the previous call returned."""
        from msgvault_spark.catalog import CATALOG

        tracer = self
        for name, spec in CATALOG.items():
            fn = spec.fn
            if getattr(fn, "__wrapped__", None) is None:
                continue

            def memo_fn(spark, sf_dir, _fn=fn, _name=name):
                df = _fn(spark, sf_dir)
                with tracer._lock:
                    tracer.memo_calls += 1
                    if tracer._memo_last.get(_name) == id(df):
                        tracer.memo_hits += 1
                    tracer._memo_last[_name] = id(df)
                return df

            memo_fn.__wrapped__ = fn
            self.originals.append((spec, "fn", fn))
            spec.fn = memo_fn

    def _after_action(self, span, args, result) -> None:
        df = args[0]
        try:
            tracker = df._jdf.queryExecution().tracker().phases()
            for phase in PHASES:
                opt = tracker.get(phase)
                if opt.isDefined():
                    span["extra"][f"catalyst.{phase}_s"] = (
                        opt.get().durationMs() / 1000.0
                    )
        except Exception:  # noqa: BLE001 — a plan without a tracker
            pass
        # optimization and planning ran inside this action: not execution
        inside = sum(
            span["extra"].get(f"catalyst.{p}_s", 0.0)
            for p in ("optimization", "planning")
        )
        span["child_s"] += inside
        if isinstance(result, list):  # collect(): the rows handed back
            span["extra"]["api.rows_out"] = float(len(result))

    def _after_load_group(self, span, args, result) -> None:
        key = "sources.store_misses" if result is None else "sources.store_hits"
        span["extra"][key] = 1.0

    def _after_save_group(self, span, args, result) -> None:
        span["extra"]["sources.lake_writes"] = 1.0

    # ---- request handlers ----------------------------------------------------
    def attach(self, srv) -> None:
        """Wrap the live server's handlers (one span + one job group per
        request) and start watching the prewarm threads."""
        handler = srv._httpd.RequestHandlerClass
        sc = srv.spark.sparkContext
        tracer = self

        def per_request(method):
            @functools.wraps(method)
            def handle(h):
                rid = h.headers.get("X-Request-Id") or f"anon-{id(h)}"
                with tracer._lock:
                    tracer.requests[rid] = {
                        "book": collections.defaultdict(float),
                        "group": f"perfbench-{rid}",
                        "during_prewarm": tracer._prewarm_alive,
                    }
                tracer._tls.rid = rid
                sc.setJobGroup(f"perfbench-{rid}", "perfbench request")
                status = {}
                orig_send = h.send_response

                def send_response(code, message=None):
                    status["code"] = code
                    return orig_send(code, message)

                h.send_response = send_response
                span = tracer._enter("server.request")
                try:
                    return method(h)
                finally:
                    tracer._exit(span)
                    tracer.requests[rid]["status"] = status.get("code", 0)
                    tracer._tls.rid = None
                    sc.setLocalProperty("spark.jobGroup.id", None)

            return handle

        for name in ("do_GET", "do_POST"):
            self._patch(handler, name, per_request(handler.__dict__[name]))

        handle = srv.prewarm_handle
        if handle is not None:
            self._prewarm_alive = True
            self._prewarm_t0 = time.perf_counter()

            def watch():
                handle.wait()
                self.prewarm_s = time.perf_counter() - self._prewarm_t0
                self._prewarm_alive = False

            threading.Thread(target=watch, daemon=True).start()

    # ---- report ----------------------------------------------------------
    def report(self, spark, verify: dict) -> dict:
        from msgvault_spark import catalog

        prewarm_s = self.prewarm_s
        if prewarm_s is None and self._prewarm_t0 is not None:
            # still running at shutdown: the time it has had so far
            prewarm_s = time.perf_counter() - self._prewarm_t0
        tracker = spark.sparkContext.statusTracker()
        time.sleep(0.5)  # let the listener bus record the last job ends
        out = {}
        for rid, rec in self.requests.items():
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stages = skipped = tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                failed += info.status == "FAILED"
                for sid in info.stageIds:
                    stages += 1
                    st = tracker.getStageInfo(sid)
                    ran = st is not None and (
                        st.numCompletedTasks + st.numActiveTasks
                        + st.numFailedTasks
                    )
                    if ran:
                        tasks += st.numCompletedTasks
                    else:
                        skipped += 1
            out[rid] = {
                "dur": rec.get("dur", 0.0),
                "status": rec.get("status", 0),
                "during_prewarm": rec["during_prewarm"],
                "book": dict(rec["book"]),
                "spark": {"jobs": len(jobs), "jobs_failed": failed,
                          "stages": stages, "stages_skipped": skipped,
                          "tasks": tasks},
            }
        return {
            "requests": out,
            "spans": self.spans,
            "retries": self.retries,
            "memo": {"entries": len(catalog._PLAN_MEMO),
                     "calls": self.memo_calls, "hits": self.memo_hits},
            "prewarm_s": prewarm_s,
            "verify": verify,
        }


# ---------------------------------------------------------------------------
# in-process answers for the sample of HTTP answers
# ---------------------------------------------------------------------------


def api_answer(spark, sf_dir: str, method: str, path: str, body):
    """The api.* call behind an HTTP request of an API_KINDS family."""
    from msgvault_spark import api

    u = urlparse(path)
    q = {k: v[0] for k, v in parse_qs(u.query).items()}
    p = u.path
    if method == "POST":
        return api.query_sql(spark, body["sql"], limit=body.get("limit"))
    if p == "/api/v1/stats/total":
        return api.get_total_stats(spark, sf_dir)
    if p == "/api/v1/stats":
        return api.get_summary_stats(spark, sf_dir)
    if p == "/api/v1/accounts":
        return api.list_accounts(spark, sf_dir)
    if p == "/api/v1/aggregates":
        return api.aggregate_view(spark, sf_dir, q["view"],
                                  limit=int(q["limit"]))
    if p == "/api/v1/aggregates/sub":
        return api.sub_aggregate_view(spark, sf_dir, q["view"],
                                      limit=int(q["limit"]),
                                      domain=q["domain"])
    if p == "/api/v1/messages/filter":
        return api.list_view(spark, sf_dir, limit=int(q["limit"]),
                             offset=int(q["offset"]), domain=q["domain"])
    if p == "/api/v1/messages":
        return api.get_message_summaries(
            spark, sf_dir, [int(i) for i in q["ids"].split(",")]
        )
    if p.startswith("/api/v1/messages/"):
        return api.get_messages(spark, sf_dir, [int(p.rsplit("/", 1)[1])])
    if p == "/api/v1/search/fast":
        return api.search_messages(spark, sf_dir, q["q"],
                                   limit=int(q["limit"]))
    raise ValueError(f"no api.* call for {path}")


def answer_in_process(spark, sf_dir: str, sample: list[dict]) -> dict:
    return {
        str(item["rid"]): api_answer(
            spark, sf_dir, item["method"], item["path"], item.get("body")
        ).to_json()
        for item in sample
    }


def write_verify_sample(path: str, records) -> None:
    """First correct answer of each api-backed family, up to VERIFY_SAMPLE."""
    sample, kinds = [], set()
    for _, _, req, err, _ in sorted(records, key=lambda r: r[0]):
        if err is None and req["kind"] in API_KINDS and req["kind"] not in kinds:
            kinds.add(req["kind"])
            sample.append({k: req.get(k) for k in
                           ("rid", "kind", "method", "path", "body")})
        if len(sample) == VERIFY_SAMPLE:
            break
    with open(path, "w") as f:
        json.dump(sample, f)


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

TIME_KEYS = (
    "server.self_s", "server.serialize_s", "api.self_s", "plans.build_s", "search.parse_s", "search.build_s", "search.count_s",
    "similarity.knn_s", "sources.archive_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "spark.exec_s",
)


def load_shape(records) -> dict[str, float]:
    """What the window's traffic was: how many route families it reached,
    and the share of its requests whose (route, parameters) tuple had been
    sent before in the run (the setup request counts as sent)."""
    seen = {("GET", "/api/v1/stats/total", "None")}
    repeats = 0
    for _, _, req, *_ in sorted(records, key=lambda r: r[0]):
        key = (req["method"], req["path"], repr(req.get("body")))
        repeats += key in seen
        seen.add(key)
    return {
        "load.families": float(len({r[2]["kind"] for r in records})),
        "load.repeat_share": repeats / max(1, len(records)),
    }


def per_layer(trace: dict, records, lake: dict):
    """Per-layer metrics (name → (value, unit)) and the in-process answer
    mismatches. Layer times and the Spark, plan and lake-store counts are
    means per request over the run's requests; errors, retries, the memo,
    prewarm and the lake's size are figures for the whole run."""
    reqs = {str(r[2]["rid"]): r for r in records}
    traced = [v for k, v in trace["requests"].items() if k in reqs]
    n = max(1, len(traced))
    metrics: dict[str, tuple[float, str]] = {}
    for key in TIME_KEYS:
        src = "server.request" if key == "server.self_s" else key
        metrics[key] = (sum(t["book"].get(src, 0.0) for t in traced) / n, "s")
    shares = [
        t["book"].get("server.request", 0.0) / t["dur"]
        for t in traced if t["dur"] > 0
    ]
    metrics["server.self_share_p50"] = (
        statistics.median(shares) if shares else 0.0, "ratio"
    )
    # what no leaf layer (plans, search, similarity, sources, Catalyst,
    # Spark, serialization) covers: the server's and api's own glue
    glue = [
        (t["book"].get("server.request", 0.0) + t["book"].get("api.self_s", 0.0))
        / t["dur"]
        for t in traced if t["dur"] > 0
    ]
    metrics["trace.glue_share_p50"] = (
        statistics.median(glue) if glue else 0.0, "ratio"
    )
    metrics["server.errors_4xx"] = (
        float(sum(400 <= t["status"] < 500 for t in traced)), "count"
    )
    metrics["server.errors_5xx"] = (
        float(sum(t["status"] >= 500 for t in traced)), "count"
    )
    for key in ("jobs", "jobs_failed", "stages", "stages_skipped", "tasks"):
        metrics[f"spark.{key}"] = (
            sum(t["spark"][key] for t in traced) / n, "count"
        )
    for key in ("sources.store_hits", "sources.store_misses",
                "sources.lake_writes", "api.rows_out"):
        metrics[key] = (sum(t["book"].get(key, 0.0) for t in traced) / n,
                        "count")
    plan_calls = sum(
        1 for t in traced if t["book"].get("plans.build_s", 0.0) > 0
    )
    metrics["plans.calls"] = (plan_calls / n, "count")
    memo = trace["memo"]
    metrics["catalog.retries"] = (float(trace["retries"]), "count")
    metrics["catalog.memo_entries"] = (float(memo["entries"]), "count")
    metrics["catalog.memo_hit_ratio"] = (
        memo["hits"] / memo["calls"] if memo["calls"] else 0.0, "ratio"
    )
    metrics["serving.prewarm_s"] = (trace["prewarm_s"] or 0.0, "s")
    metrics["serving.prewarm_overlap"] = (
        float(sum(t["during_prewarm"] for t in traced)), "count"
    )
    metrics["sources.lake_bytes"] = (float(lake["bytes"]), "bytes")
    metrics["sources.lake_files"] = (float(lake["files"]), "count")
    metrics["trace.requests"] = (float(len(records)), "count")
    for key, value in load_shape(records).items():
        metrics[key] = (value, "count" if key == "load.families" else "ratio")

    mismatches = []
    for rid, answer in trace["verify"].items():
        http_body = reqs[rid][4]
        if json.loads(http_body) != json.loads(answer):
            mismatches.append(reqs[rid][2]["path"])
    return metrics, mismatches
