"""The HTTP API edge (msgvault_spark/server.py) end-to-end over a live
listener: the reference's read-side REST routes (api/server.go:150-190)
served from one SparkSession, exercised with stdlib urllib — auth
middleware, the columnar QueryResult wire shape, and error statuses."""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def server(spark):
    from msgvault_spark.server import serve

    srv = serve(spark, SF_DIR, api_key="sekret")
    yield srv
    srv.shutdown()


def _get(srv, path, key="sekret"):
    req = urllib.request.Request(f"http://127.0.0.1:{srv.port}{path}")
    if key is not None:
        req.add_header("X-API-Key", key)
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, json.loads(resp.read())


def _post(srv, path, body, key="sekret"):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(body).encode(),
        headers={"X-API-Key": key} if key else {},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, json.loads(resp.read())


def test_health_is_open_and_api_requires_key(server):
    status, body = _get(server, "/health", key=None)
    assert (status, body) == (200, {"status": "ok"})
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/v1/stats/total", key=None)
    assert e.value.code == 401
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/v1/stats/total", key="wrong")
    assert e.value.code == 401


def test_stats_aggregates_accounts_roundtrip(server, spark):
    status, stats = _get(server, "/api/v1/stats/total")
    assert status == 200
    assert set(stats) == {"columns", "rows", "row_count"}
    assert stats["row_count"] == 1
    assert "message_count" in stats["columns"]

    status, agg = _get(server, "/api/v1/aggregates?view=senders&limit=5")
    assert status == 200 and agg["row_count"] <= 5 and agg["rows"]

    status, accts = _get(server, "/api/v1/accounts")
    assert status == 200 and accts["row_count"] >= 1


def test_search_filter_and_hydration(server):
    status, hits = _get(
        server, "/api/v1/search/fast?q=order&limit=5"
    )
    assert status == 200 and hits["row_count"] <= 5

    status, page = _get(
        server,
        "/api/v1/messages/filter?domain=nation_3.example.com&limit=3",
    )
    assert status == 200 and 0 < page["row_count"] <= 3

    ids = [r[page["columns"].index("id")] for r in page["rows"]]
    status, summaries = _get(
        server, f"/api/v1/messages?ids={','.join(str(i) for i in ids)}"
    )
    assert status == 200 and summaries["row_count"] == len(ids)


def test_sub_aggregate_and_single_message_routes(server):
    status, sub = _get(
        server,
        "/api/v1/aggregates/sub?view=senders"
        "&domain=nation_3.example.com&limit=5",
    )
    assert status == 200 and 0 < sub["row_count"] <= 5
    # drill-down is a restriction: counts under the filter can't exceed
    # the unfiltered view's for the same keys
    status, full = _get(server, "/api/v1/aggregates?view=senders&limit=100")
    full_counts = {
        r[full["columns"].index("key")]: r[full["columns"].index("count")]
        for r in full["rows"]
    }
    ki, ci = sub["columns"].index("key"), sub["columns"].index("count")
    for r in sub["rows"]:
        if r[ki] in full_counts:
            assert r[ci] <= full_counts[r[ki]]

    status, one = _get(server, "/api/v1/messages/7")
    assert status == 200 and one["row_count"] <= 1
    if one["row_count"] == 1:
        assert one["rows"][0][one["columns"].index("id")] == 7


def test_remote_engine_matches_local_surface(server, spark):
    """RemoteEngine (remote.py, the remote/engine.go analog) returns the
    SAME QueryResult the in-process api functions return, over the wire."""
    from msgvault_spark import api
    from msgvault_spark.remote import RemoteEngine, RemoteError

    eng = RemoteEngine(
        f"http://127.0.0.1:{server.port}", api_key="sekret"
    )
    assert eng.health()
    local = api.get_total_stats(spark, SF_DIR)
    remote = eng.get_total_stats()
    assert remote.columns == local.columns
    assert remote.rows == [list(r) for r in local.rows]

    agg = eng.aggregate("domains", limit=7)
    assert 0 < agg.row_count <= 7
    sql = eng.query_sql("SELECT COUNT(*) AS n FROM v_messages")
    assert sql.columns == ["n"] and sql.row_count == 1

    page = eng.list_messages(domain="nation_3.example.com", limit=2)
    ids = [r[page.columns.index("id")] for r in page.rows]
    assert eng.get_message_summaries(ids).row_count == len(ids)
    assert eng.list_accounts().row_count >= 1

    bad = RemoteEngine(f"http://127.0.0.1:{server.port}", api_key="nope")
    with pytest.raises(RemoteError) as e:
        bad.get_total_stats()
    assert e.value.status == 401


def test_raw_sql_post_and_errors(server):
    status, res = _post(
        server,
        "/api/v1/query",
        {"sql": "SELECT COUNT(*) AS n FROM v_domains", "limit": 10},
    )
    assert status == 200 and res["columns"] == ["n"] and res["row_count"] == 1

    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/v1/query", {"sql": "SELECT FROM nowhere"})
    assert e.value.code == 400
    assert "error" in json.loads(e.value.read())

    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/v1/query", {"nosql": 1})
    assert e.value.code == 400

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/v1/unknown")
    assert e.value.code == 404


def test_malformed_inputs_get_http_errors_not_dropped_connections(server):
    """Non-object JSON bodies, engine errors from bad params, and blank
    id lists must all come back as HTTP 400s — never a dropped
    connection (BadStatusLine) or a KeyError 400 masking the real
    message."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/v1/query", "just a string")
    assert e.value.code == 400

    # engine error from a user-supplied param (negative limit)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/v1/aggregates?view=senders&limit=-1")
    assert e.value.code == 400

    # blank ids: the in-process api raises ValueError('empty id list');
    # the remote surface mirrors it as a 400 with that message
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/v1/messages?ids=")
    assert e.value.code == 400
    assert "empty id list" in json.loads(e.value.read())["error"]


def test_post_non_integer_limit_is_a_user_error(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/v1/query", {"sql": "SELECT 1 AS n", "limit": "x"})
    assert e.value.code == 400
    assert "limit" in json.loads(e.value.read())["error"]


def test_remote_engine_wraps_connection_errors(server):
    from msgvault_spark.remote import RemoteEngine, RemoteError

    dead = RemoteEngine("http://127.0.0.1:9", timeout=2)
    with pytest.raises(RemoteError) as e:
        dead.get_total_stats()
    assert e.value.status == 0


# ---------------------------------------------------------------------------
# round 9: the four reference routes that were still missing —
# /stats, /search, /search/deep, /messages/{id}/inline
# (api/server.go:162,167,170,179)
# ---------------------------------------------------------------------------


def _get_err(srv, path, key="sekret"):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(srv, path, key=key)
    return e.value.code, json.loads(e.value.read())


def test_stats_summary_route(server):
    status, body = _get(server, "/api/v1/stats")
    assert status == 200
    assert body["row_count"] == 1
    assert body["columns"] == [
        "total_messages", "total_threads", "total_accounts",
        "total_labels", "total_attachments", "database_size",
    ]
    row = dict(zip(body["columns"], body["rows"][0]))
    assert row["total_messages"] > 0
    assert row["total_accounts"] >= 1
    assert row["database_size"] > 0


def test_search_fts_paging_and_validation(server):
    status, p1 = _get(server, "/api/v1/search?q=order&page_size=5")
    assert status == 200
    assert p1["page"] == 1 and p1["page_size"] == 5
    assert p1["total"] > 5 and len(p1["messages"]) == 5
    assert {"id", "subject", "sent_at"} <= set(p1["messages"][0])

    _, p2 = _get(server, "/api/v1/search?q=order&page_size=5&page=2")
    ids1 = [m["id"] for m in p1["messages"]]
    ids2 = [m["id"] for m in p2["messages"]]
    assert ids1 and ids2 and not set(ids1) & set(ids2)

    code, err = _get_err(server, "/api/v1/search")
    assert code == 400 and "'q'" in err["error"]
    code, err = _get_err(server, "/api/v1/search?q=x&mode=nope")
    assert code == 400 and "fts|vector|hybrid" in err["error"]


def test_search_vector_and_hybrid_modes(server):
    # vector/hybrid need a free-text term and only serve page 1
    code, err = _get_err(server, "/api/v1/search?q=x&mode=vector&page=2")
    assert code == 400 and "page=1" in err["error"]
    code, err = _get_err(
        server, "/api/v1/search?q=from:a@b.com&mode=hybrid"
    )
    assert code == 400 and "free-text" in err["error"]

    status, v = _get(
        server, "/api/v1/search?q=token7&mode=vector&page_size=4"
    )
    assert status == 200 and v["mode"] == "vector"
    assert v["returned"] == len(v["results"]) == 4
    assert {"id", "score"} <= set(v["results"][0])

    status, h = _get(
        server, "/api/v1/search?q=token7&mode=hybrid&page_size=4"
    )
    assert status == 200 and h["mode"] == "hybrid"
    assert h["returned"] == len(h["results"]) == 4
    assert {"id", "rrf_score"} <= set(h["results"][0])
    assert h["results"][0]["rrf_score"] >= h["results"][-1]["rrf_score"]


def test_vector_search_reads_embedding_width_once(server, spark, monkeypatch):
    """The embedding width is a per-snapshot scalar: once one vector
    request has read it, later vector/hybrid requests run no job for it."""
    _get(server, "/api/v1/search?q=token3&mode=vector&page_size=2&case=dim")
    frame_cls = type(spark.range(1))
    head, heads = frame_cls.head, []

    def spy(self, *a, **kw):
        heads.append(self.columns)
        return head(self, *a, **kw)

    monkeypatch.setattr(frame_cls, "head", spy)
    for mode in ("vector", "hybrid"):
        status, body = _get(
            server, f"/api/v1/search?q=token5&mode={mode}&page_size=2&case=dim"
        )
        assert status == 200 and body["returned"] == 2
    assert ["size(embedding)"] not in heads, heads


def test_deep_search_has_more_and_filters(server):
    status, d = _get(server, "/api/v1/search/deep?q=order&limit=5")
    assert status == 200
    assert d["count"] == 5 and len(d["messages"]) == 5
    assert d["has_more"] is True and d["limit"] == 5 and d["offset"] == 0

    # offset pagination yields the next disjoint slice
    _, d2 = _get(server, "/api/v1/search/deep?q=order&limit=5&offset=5")
    ids1 = {m["id"] for m in d["messages"]}
    ids2 = {m["id"] for m in d2["messages"]}
    assert ids2 and not ids1 & ids2

    # a domain filter scopes the match set (reference MergeFilterIntoQuery)
    _, df = _get(
        server,
        "/api/v1/search/deep?q=order&domain=nation_3.example.com&limit=500",
    )
    assert 0 < df["count"] < d["count"] or df["has_more"] is False

    # filters deep search cannot represent are rejected, not dropped
    code, err = _get_err(
        server, "/api/v1/search/deep?q=order&time_period=1995"
    )
    assert code == 400 and "time_period" in err["error"]
    code, _ = _get_err(server, "/api/v1/search/deep")
    assert code == 400


@pytest.fixture(scope="module")
def inline_server(spark):
    """Server with an injected raw store: one live message carrying a
    multipart/related MIME payload with an inline PNG and an inline SVG."""
    import base64

    from msgvault_spark.server import serve
    from msgvault_spark.sources.cache import get_archive

    mid = (
        get_archive(spark, SF_DIR)["messages"]
        .orderBy("id").select("id").head()[0]
    )
    raw = (
        "MIME-Version: 1.0\r\n"
        "Message-ID: <planted@test>\r\n"
        "Subject: inline fixture\r\n"
        "Content-Type: multipart/related; boundary=BB\r\n\r\n"
        "--BB\r\n"
        "Content-Type: text/html\r\n\r\n"
        '<img src="cid:img1">\r\n'
        "--BB\r\n"
        "Content-Type: image/png\r\n"
        "Content-ID: <img1>\r\n"
        "Content-Disposition: inline; filename=i.png\r\n"
        "Content-Transfer-Encoding: base64\r\n\r\n"
        + base64.b64encode(b"PNG-PAYLOAD-BYTES").decode() + "\r\n"
        "--BB\r\n"
        "Content-Type: image/svg+xml\r\n"
        "Content-ID: <svg1>\r\n"
        "Content-Disposition: inline\r\n\r\n"
        "<svg/>\r\n"
        "--BB--\r\n"
    )
    store = spark.createDataFrame(
        [(int(mid), raw.encode(), "none")],
        "message_id long, raw_data binary, compression string",
    )
    srv = serve(spark, SF_DIR, api_key="sekret", raw_store=store)
    yield srv, int(mid)
    srv.shutdown()


def _get_raw(srv, path):
    req = urllib.request.Request(f"http://127.0.0.1:{srv.port}{path}")
    req.add_header("X-API-Key", "sekret")
    with urllib.request.urlopen(req, timeout=60) as resp:
        return resp.status, dict(resp.headers), resp.read()


def test_inline_part_served_with_image_headers(inline_server):
    srv, mid = inline_server
    status, headers, body = _get_raw(
        srv, f"/api/v1/messages/{mid}/inline?cid=img1"
    )
    assert status == 200
    assert headers["Content-Type"] == "image/png"
    assert headers["Content-Disposition"] == "inline"
    assert headers["X-Content-Type-Options"] == "nosniff"
    assert body == b"PNG-PAYLOAD-BYTES"


def test_inline_part_error_statuses(inline_server):
    srv, mid = inline_server
    # SVG is an image/* type the reference explicitly refuses (XSS vector)
    code, err = _get_err(srv, f"/api/v1/messages/{mid}/inline?cid=svg1")
    assert code == 415 and "not permitted" in err["error"]
    code, err = _get_err(srv, f"/api/v1/messages/{mid}/inline?cid=ghost")
    assert code == 404 and "Inline part" in err["error"]
    code, err = _get_err(srv, f"/api/v1/messages/{mid}/inline")
    assert code == 400 and "cid" in err["error"]
    code, err = _get_err(srv, "/api/v1/messages/999999999/inline?cid=x")
    assert code == 404 and "raw data" in err["error"]
    code, err = _get_err(srv, "/api/v1/messages/abc/inline?cid=x")
    assert code == 400


def test_remote_engine_mirrors_new_routes(server, inline_server):
    from msgvault_spark.remote import RemoteEngine, RemoteError

    eng = RemoteEngine(
        f"http://127.0.0.1:{server.port}", api_key="sekret"
    )
    stats = eng.get_stats()
    assert stats.row_count == 1 and "total_messages" in stats.columns

    s = eng.search("order", page_size=3)
    assert s["total"] > 0 and len(s["messages"]) == 3

    d = eng.search_deep("order", limit=3)
    assert d["count"] == 3 and d["has_more"] is True

    srv, mid = inline_server
    ieng = RemoteEngine(f"http://127.0.0.1:{srv.port}", api_key="sekret")
    ctype, body = ieng.get_inline_part(mid, "img1")
    assert ctype == "image/png" and body == b"PNG-PAYLOAD-BYTES"
    with pytest.raises(RemoteError) as e:
        ieng.get_inline_part(mid, "svg1")
    assert e.value.status == 415


def test_serving_never_memoizes_catalog_plans(server):
    """Routes build their plans through api.py on demand: every GET route
    family answers, and serve() starts no background plan builds."""
    for path in (
        "/api/v1/stats",
        "/api/v1/stats/total",
        "/api/v1/accounts",
        "/api/v1/aggregates?view=senders&limit=3",
        "/api/v1/aggregates/sub?view=senders"
        "&domain=nation_3.example.com&limit=3",
        "/api/v1/search?q=order&page_size=3",
        "/api/v1/search?q=token7&mode=vector&page_size=3",
        "/api/v1/search?q=token7&mode=hybrid&page_size=3",
        "/api/v1/search/deep?q=order&limit=3",
        "/api/v1/search/fast?q=order&limit=3",
        "/api/v1/messages/filter?domain=nation_3.example.com&limit=3",
        "/api/v1/messages?ids=1,2,3",
        "/api/v1/messages/7",
    ):
        # a tuple no other test sends, so the route runs instead of
        # answering from the answer cache
        path += ("&" if "?" in path else "?") + "case=no-plan-memo"
        assert _get(server, path)[0] == 200, path
    # the synthetic raw store carries no inline parts: the route runs its
    # lookup and answers 404
    assert _get_err(server, "/api/v1/messages/7/inline?cid=x")[0] == 404
    assert server.prewarm_handle is None


def test_memory_pressure_request_sheds_and_retries(server, monkeypatch):
    """A route failing with Spark's broadcast-build memory refusal
    retries the SAME request once — the client sees a 200, not a 400/500
    (degrade the caches, not the request)."""
    from msgvault_spark import api as apimod

    real = apimod.get_summary_stats
    calls = {"n": 0}

    def flaky(spark, sf_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError(
                "Not enough memory to build and broadcast the table to all "
                "worker nodes."
            )
        return real(spark, sf_dir)

    monkeypatch.setattr(apimod, "get_summary_stats", flaky)
    # a tuple no other test sends: a stored answer would skip the route
    status, body = _get(server, "/api/v1/stats?case=memory-pressure")
    assert status == 200 and calls["n"] == 2


# ---------------------------------------------------------------------------
# answer cache: repeated GET tuples answer from stored bytes, single-flight
# ---------------------------------------------------------------------------


def _count_calls(monkeypatch, name, fail=None, delay=0.0):
    """Wrap ``api.<name>`` with a call counter; the first call raises
    ``fail`` when given, every call sleeps ``delay`` seconds first."""
    from msgvault_spark import api as apimod

    real = getattr(apimod, name)
    calls = {"n": 0}

    def counted(*a, **kw):
        calls["n"] += 1
        time.sleep(delay)
        if fail is not None and calls["n"] == 1:
            raise fail
        return real(*a, **kw)

    monkeypatch.setattr(apimod, name, counted)
    return calls


def test_repeated_tuple_answers_stored_bytes(server, monkeypatch):
    calls = _count_calls(monkeypatch, "get_total_stats")
    s1, _, b1 = _get_raw(server, "/api/v1/stats/total?case=repeat&x=1")
    # the same query items in another order are the same tuple
    s2, _, b2 = _get_raw(server, "/api/v1/stats/total?x=1&case=repeat")
    assert s1 == s2 == 200
    assert b1 == b2
    assert calls["n"] == 1


def test_identical_requests_in_flight_run_the_route_once(server, monkeypatch):
    calls = _count_calls(monkeypatch, "get_total_stats", delay=1.0)
    barrier = threading.Barrier(2)
    bodies = []

    def client():
        barrier.wait()
        bodies.append(_get_raw(server, "/api/v1/stats/total?case=flight")[2])

    threads = [threading.Thread(target=client) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert len(bodies) == 2 and bodies[0] == bodies[1]
    assert calls["n"] == 1


def test_stored_answer_still_requires_key(server):
    path = "/api/v1/stats/total?case=auth"
    assert _get(server, path)[0] == 200
    assert _get_err(server, path, key=None)[0] == 401
    assert _get_err(server, path, key="wrong")[0] == 401


@pytest.mark.parametrize(
    "fail,code",
    [
        (ValueError("bad parameter"), 400),
        ("route-404", 404),
        (RuntimeError("executor lost"), 500),
    ],
    ids=["400", "404", "500"],
)
def test_error_answers_are_not_stored(server, monkeypatch, fail, code):
    """A failed first call answers its status; the tuple's next request
    runs the route again and only that 200 is stored. An exception that
    is not a user error is an engine failure: 500, not 400."""
    from msgvault_spark.server import _HTTPError

    if fail == "route-404":
        fail = _HTTPError(404, "gone")
    calls = _count_calls(monkeypatch, "get_total_stats", fail=fail)
    path = f"/api/v1/stats/total?case=error-{code}"
    assert _get_err(server, path)[0] == code
    assert _get(server, path)[0] == 200
    assert _get(server, path)[0] == 200
    assert calls["n"] == 2


def test_clear_serving_caches_drops_stored_answers(server, monkeypatch):
    from msgvault_spark.sources.cache import clear_serving_caches

    calls = _count_calls(monkeypatch, "get_total_stats")
    path = "/api/v1/stats/total?case=clear"
    _, _, before = _get_raw(server, path)
    _get_raw(server, path)
    assert calls["n"] == 1
    clear_serving_caches()
    _, _, after = _get_raw(server, path)
    assert calls["n"] == 2 and after == before


def test_answer_computed_across_a_clear_is_returned_not_stored(spark):
    from msgvault_spark.sources.cache import clear_serving_caches, get_answer

    def compute_across_clear():
        clear_serving_caches()
        return b"old"

    key = ("/test/answer", ("case", "generation"))
    assert get_answer(spark, SF_DIR, key, compute_across_clear) == b"old"
    assert get_answer(spark, SF_DIR, key, lambda: b"new") == b"new"
    assert get_answer(spark, SF_DIR, key, lambda: b"newer") == b"new"


def test_answer_store_is_lru_bounded_in_bytes(spark, monkeypatch):
    from msgvault_spark.sources import cache as srccache

    monkeypatch.setattr(srccache, "ANSWER_BUDGET_BYTES", 10)

    def get(name, body):
        return srccache.get_answer(spark, SF_DIR, ("/lru", name), lambda: body)

    get("a", b"aaaa")  # evicts every answer earlier tests stored
    get("b", b"bbbb")
    get("a", b"")  # hit: a becomes most recent
    get("c", b"cccc")  # 12 bytes > 10: evicts b, the least recent
    assert get("a", b"x") == b"aaaa"
    assert get("c", b"x") == b"cccc"
    assert get("b", b"BBBB") == b"BBBB"
    assert get("huge", b"h" * 11) == b"h" * 11  # over budget: not stored
    assert get("huge", b"x") == b"x"


def test_answer_store_under_thread_contention(spark):
    """32 threads over 4 keys with a tiny switch interval: each key is
    computed exactly once and every caller gets that key's bytes."""
    import sys

    from msgvault_spark.sources.cache import get_answer

    computed = {k: 0 for k in range(4)}
    lock = threading.Lock()
    got = []

    def compute(k):
        with lock:
            computed[k] += 1
        time.sleep(0.01)
        return f"answer-{k}".encode()

    def client(i):
        k = i % 4
        key = ("/stress", ("k", str(k)))
        got.append((k, get_answer(spark, SF_DIR, key, lambda: compute(k))))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=client, args=(i,)) for i in range(32)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert computed == {k: 1 for k in range(4)}
    assert sorted(got) == sorted(
        (i % 4, f"answer-{i % 4}".encode()) for i in range(32)
    )


def test_relative_date_search_follows_the_clock(server, monkeypatch):
    """newer_than: resolves against the current time, so its answer is
    never stored: the same tuple asked at a later ``now`` runs the route
    again and answers the later window."""
    from datetime import datetime as real_datetime

    from msgvault_spark.search import parser

    clock = {"now": real_datetime(2001, 1, 1)}

    class FakeDatetime(real_datetime):
        @classmethod
        def now(cls, tz=None):
            return clock["now"].replace(tzinfo=tz)

    monkeypatch.setattr(parser, "datetime", FakeDatetime)
    calls = _count_calls(monkeypatch, "search_messages")
    path = "/api/v1/search/fast?q=newer_than:1y&limit=5"
    status, then = _get(server, path)
    assert status == 200 and then["row_count"] > 0  # data spans 1995-2001
    clock["now"] = real_datetime(2030, 1, 1)
    status, later = _get(server, path)
    assert status == 200 and later["row_count"] == 0
    assert calls["n"] == 2


def test_ansi_runtime_error_in_user_sql_is_a_400(server):
    """Spark 4 runs ANSI mode: 1/0 raises ArithmeticException at run
    time. The SQL is at fault, not the engine."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/v1/query", {"sql": "SELECT 1/0 AS x"})
    assert e.value.code == 400
    assert "DIVIDE_BY_ZERO" in json.loads(e.value.read())["error"]


def test_post_query_is_never_cached(server, monkeypatch):
    from msgvault_spark.sources import cache as srccache

    calls = _count_calls(
        monkeypatch, "query_sql", fail=RuntimeError("executor lost")
    )
    body = {"sql": "SELECT COUNT(*) AS n FROM v_domains"}
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/api/v1/query", body)
    assert e.value.code == 500
    first = _post(server, "/api/v1/query", body)
    assert _post(server, "/api/v1/query", body) == first
    assert first[0] == 200 and calls["n"] == 3
    assert not [k for k in srccache._ANSWER_MEMO if "/api/v1/query" in k]
