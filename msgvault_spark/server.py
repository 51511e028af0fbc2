"""HTTP API server: the reference's read-side REST surface on stdlib.

Mirrors `internal/api/server.go:150-190`'s analytics routes over the
`api.py` QueryResult functions — the network edge the reference exposes
for remote TUIs and integrations. The Spark session is the engine; one
server wraps one (spark, sf_dir) pair the way the reference wraps one
DuckDB engine. Ingest-side routes (POST /accounts, /sync, OAuth token
upload) stay out of scope with the connectors.

Routes (GET unless noted):
    /health                      — no auth, {"status": "ok"}
    /api/v1/stats                — archive summary counts (handleStats)
    /api/v1/stats/total          — global stats row (handleTotalStats)
    /api/v1/aggregates?view=senders&limit=N   (handleAggregates)
    /api/v1/search?q=&mode=fts|vector|hybrid&page=&page_size=
                                 — paged search (handleSearch); fts pages
                                 via one materialized match set, vector/
                                 hybrid rank the document corpus (RRF)
    /api/v1/search/deep?q=&offset=&limit=&domain=&label=&sender=
                                 — body-FTS drill-down with has_more
                                 (handleDeepSearch)
    /api/v1/search/fast?q=<gmail-style query>&limit=N (handleFastSearch)
    /api/v1/messages/filter?domain=&label=&limit=&offset=
                                 — filtered listing page (handleFilteredMessages)
    /api/v1/messages?ids=1,2,3   — summary hydration (handleListMessages)
    /api/v1/messages/{id}/inline?cid=<content-id>
                                 — CID-referenced inline image bytes
                                 (handleMessageInline; image/* only, 415
                                 otherwise, 404 when absent)
    /api/v1/accounts             — account stats (handleListAccounts)
    POST /api/v1/query {"sql": ..., "limit"?: N}   (handleQuery)

Denormalized record: the aggregate, sub-aggregate, fast-search, filtered
listing, fts search and deep search routes (``/api/v1/aggregates``,
``/aggregates/sub``, ``/search/fast``, ``/messages/filter``,
``/search`` with mode=fts, ``/search/deep``) read the wide message record
(``sources.cache.get_wide_messages``: each message with its
message_recipients rows as nested fields, its direct sender, labels and
attachment sums) — one pruned scan, no per-request join, same answers
as the join-path plans. The record loads on the first request that needs
it. Stats, total, accounts, id hydration, detail, inline, vector/hybrid
search and SQL keep their join-path plans.

Auth mirrors the reference's API-key middleware: when the server is
constructed with ``api_key``, every /api/v1 request must carry it in the
``X-API-Key`` header (401 otherwise); /health stays open
(server.go:150-156).

Responses are the columnar QueryResult wire shape
``{"columns": [...], "rows": [...], "row_count": N}`` (views.go:11-16);
errors are ``{"error": msg}``. A user error answers 400: a bad parameter
(``KeyError``/``ValueError``), a query Spark rejects at analysis, parse
or argument checking (``AnalysisException``, ``ParseException``,
``IllegalArgumentException``), or one that fails an ANSI runtime check
(``ArithmeticException`` for ``1/0``, ``ArrayIndexOutOfBoundsException``,
``DateTimeException``, ``NumberFormatException``). Routes answer
401/404/415 themselves. Any other exception is an engine failure: 500,
plus one line on stderr.

Answer cache: the 200 JSON body of every ``/api/v1/*`` GET route is
stored (``sources.cache.get_answer``) under (route path, sorted query
items) and a repeat of that tuple is sent the stored bytes without
running a Spark job. Stored answers live exactly as long as the archive
frames that computed them: ``clear_serving_caches()`` (memory-recovery
level 2) drops both. Until then a serving process answers from one
memoized set of lake frames. The clock is the one other input: a
search whose ``q`` has ``older_than:``/``newer_than:`` resolves its
dates against the current time, so those requests always run their
route and are never stored.
Identical requests in flight together run the route once
(single-flight). Errors are never stored, and neither are ``/health``,
``POST /api/v1/query`` (the SQL may read anything) or the inline-bytes
route (already ``Cache-Control: immutable`` for clients). A repeat of a
vector or hybrid search repeats the ``took_ms`` of the request that
computed it. The auth check runs before the cache, on hits too.

Threading: HTTP handlers run on the serving thread(s) and call into the
shared SparkSession — safe because Spark driver APIs are thread-safe and
every route is read-only over memoized artifacts. This is a serving
edge, not a data-plane component: result sets are page-sized, the heavy
lifting stays in the cluster.
"""

from __future__ import annotations

import json
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.errors import (
    AnalysisException,
    ArithmeticException,
    ArrayIndexOutOfBoundsException,
    DateTimeException,
    IllegalArgumentException,
    NumberFormatException,
)
from pyspark.sql import DataFrame, SparkSession

from msgvault_spark import api
from msgvault_spark.search.parser import uses_relative_date
from msgvault_spark.sources.cache import get_answer


# answered 400: the request is at fault, not the engine
_USER_ERRORS = (
    KeyError,
    ValueError,
    AnalysisException,  # includes ParseException
    IllegalArgumentException,
    # ANSI-mode runtime checks on user SQL (1/0, element_at out of range,
    # bad casts)
    ArithmeticException,
    ArrayIndexOutOfBoundsException,
    DateTimeException,
    NumberFormatException,
)


def _is_inline(path: str) -> bool:
    return path.startswith("/api/v1/messages/") and path.endswith("/inline")


class _HTTPError(Exception):
    """Route-level error with an explicit status code (the reference's
    writeError(status, code, message) spelling)."""

    def __init__(self, code: int, msg: str):
        super().__init__(msg)
        self.code = code


class MsgvaultHTTPServer:
    """One (spark, sf_dir) engine behind a stdlib HTTP listener.

    ``raw_store``: optional (message_id, raw_data, compression) frame
    backing /messages/{id}/inline — defaults to the synthetic raw store
    the testdata lake ships (catalog_lookup._raw_store); inject a real
    one in production."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        *,
        host: str = "127.0.0.1",
        port: int = 0,
        api_key: str | None = None,
        raw_store: DataFrame | None = None,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.api_key = api_key
        self.raw_store = raw_store
        # raw SQL needs the registered views (engine setup, §3.3)
        from msgvault_spark.sources.cache import get_archive
        from msgvault_spark.views import register_archive_views

        register_archive_views(spark, get_archive(spark, sf_dir))
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test runs
                pass

            # ---- plumbing ------------------------------------------------
            def _send(self, code: int, payload: str | bytes) -> None:
                body = payload if isinstance(payload, bytes) else payload.encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _err(self, code: int, msg: str) -> None:
                self._send(code, json.dumps({"error": msg}))

            def _authed(self) -> bool:
                if outer.api_key is None:
                    return True
                return self.headers.get("X-API-Key") == outer.api_key

            # ---- errors and answers --------------------------------------
            def _fail(self, e: Exception) -> None:
                """User errors answer 400 (or the route's own status);
                anything else is an engine failure: 500 plus one stderr
                line."""
                if isinstance(e, _HTTPError):
                    return self._err(e.code, str(e))
                msg = (str(e).splitlines() or [repr(e)])[0][:500]
                if isinstance(e, _USER_ERRORS):
                    return self._err(400, msg)
                print(
                    f"[server] 500 {self.command} {self.path}: "
                    f"{type(e).__name__}: {msg}",
                    file=sys.stderr,
                )
                return self._err(500, msg)

            def _run_get(self, path: str, q: dict):
                # driver memory pressure (broadcast-build refusal / heap
                # exhaustion): the shared 3-level recovery ladder (retry
                # → clear serving caches + cleaner drain → one
                # no-auto-broadcast retry) degrades the caches and the
                # join strategy, never the request
                from msgvault_spark.catalog import run_with_memory_recovery

                r = run_with_memory_recovery(
                    outer.spark,
                    lambda: self._route_get(path, q),
                    label=path,
                )
                if r is None:
                    raise _HTTPError(404, f"no route {path}")
                return r

            def _json_answer(self, path: str, q: dict) -> bytes:
                r = self._run_get(path, q)
                if isinstance(r, dict):
                    return json.dumps(r, default=str).encode()
                return r.to_json().encode()

            # ---- routes --------------------------------------------------
            def do_GET(self):
                u = urlparse(self.path)
                # keep blank values: ?ids= must reach the route and fail
                # with the SAME ValueError the in-process api raises for
                # an empty id list (RemoteEngine symmetry), not a KeyError
                q = {
                    k: v[0]
                    for k, v in parse_qs(
                        u.query, keep_blank_values=True
                    ).items()
                }
                if u.path in ("/health", "/health/"):
                    return self._send(200, json.dumps({"status": "ok"}))
                if not u.path.startswith("/api/v1/"):
                    return self._err(404, f"no route {u.path}")
                if not self._authed():
                    return self._err(401, "missing or invalid X-API-Key")
                if _is_inline(u.path):  # bytes, already immutable for clients
                    try:
                        _, ctype, body = self._run_get(u.path, q)
                    except Exception as e:  # noqa: BLE001 — mapped by _fail
                        return self._fail(e)
                    self.send_response(200)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Disposition", "inline")
                    self.send_header(
                        "Cache-Control", "private, max-age=31536000, immutable"
                    )
                    self.send_header("X-Content-Type-Options", "nosniff")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return None
                try:
                    if uses_relative_date(q.get("q", "")):
                        # resolved against the clock: a stored answer
                        # would keep the first request's date window
                        body = self._json_answer(u.path, q)
                    else:
                        body = get_answer(
                            outer.spark,
                            outer.sf_dir,
                            (u.path, *sorted(q.items())),
                            lambda: self._json_answer(u.path, q),
                        )
                except Exception as e:  # noqa: BLE001 — mapped by _fail
                    return self._fail(e)
                self._send(200, body)

            def _route_get(self, path: str, q: dict):
                spark, sf = outer.spark, outer.sf_dir
                if path == "/api/v1/stats":
                    return api.get_summary_stats(spark, sf)
                if path == "/api/v1/stats/total":
                    return api.get_total_stats(spark, sf)
                if path == "/api/v1/search":
                    return self._search(q)
                if path == "/api/v1/search/deep":
                    return self._deep_search(q)
                if _is_inline(path):
                    mid = path[len("/api/v1/messages/"):-len("/inline")]
                    if not mid.isdigit():
                        raise _HTTPError(400, "Message ID must be a number")
                    return self._inline(int(mid), q)
                if path == "/api/v1/aggregates":
                    return api.aggregate_view(
                        spark, sf, q["view"], limit=int(q.get("limit", 100))
                    )
                if path == "/api/v1/aggregates/sub":
                    opts = {
                        k: q[k] for k in api.FILTER_PARAM_KEYS if k in q
                    }
                    return api.sub_aggregate_view(
                        spark,
                        sf,
                        q["view"],
                        limit=int(q.get("limit", 100)),
                        **opts,
                    )
                if path.startswith("/api/v1/messages/") and path[
                    len("/api/v1/messages/"):
                ].isdigit():
                    mid = int(path.rsplit("/", 1)[1])
                    return api.get_messages(spark, sf, [mid])
                if path == "/api/v1/search/fast":
                    return api.search_messages(
                        spark, sf, q["q"], limit=int(q.get("limit", 50))
                    )
                if path == "/api/v1/messages/filter":
                    opts = {
                        k: q[k] for k in api.FILTER_PARAM_KEYS if k in q
                    }
                    return api.list_view(
                        spark,
                        sf,
                        limit=int(q.get("limit", 50)),
                        offset=int(q.get("offset", 0)),
                        **opts,
                    )
                if path == "/api/v1/messages":
                    ids = [int(i) for i in q["ids"].split(",") if i]
                    return api.get_message_summaries(spark, sf, ids)
                if path == "/api/v1/accounts":
                    return api.list_accounts(spark, sf)
                return None

            # ---- search routes (handleSearch / handleDeepSearch) ---------
            _SUMMARY_COLS = (
                "id", "subject", "snippet", "from_email", "from_name",
                "sent_at", "size_estimate", "has_attachments",
            )

            def _rows_as_dicts(self, df, cols) -> list[dict]:
                return [
                    {c: (str(v) if c == "sent_at" else v)
                     for c, v in zip(cols, row)}
                    for row in (list(r) for r in df.select(*cols).collect())
                ]

            def _search(self, q: dict):
                """GET /api/v1/search (reference handleSearch,
                api/handlers.go:400-489): mode=fts pages one materialized
                match set; mode=vector|hybrid ranks the document corpus
                (BM25 ⊕ KNN via RRF) — page 1 only, like the reference."""
                query = q.get("q", "")
                if not query:
                    raise _HTTPError(400, "Query parameter 'q' is required")
                mode = q.get("mode") or "fts"
                if mode in ("vector", "hybrid"):
                    if int(q.get("page", 1) or 1) > 1:
                        raise _HTTPError(
                            400, "mode=vector|hybrid only supports page=1"
                        )
                    size = int(q.get("page_size", 20) or 20)
                    return self._vector_search(
                        query, mode, size if size >= 1 else 20
                    )
                if mode != "fts":
                    raise _HTTPError(
                        400,
                        f"mode must be one of fts|vector|hybrid, got '{mode}'",
                    )
                page = max(1, int(q.get("page", 1) or 1))
                size = int(q.get("page_size", 20) or 20)
                if size < 1 or size > 100:
                    size = 20
                from msgvault_spark.search.fast import SearchWithStats
                from msgvault_spark.sources.cache import get_wide_messages

                wide = get_wide_messages(outer.spark, outer.sf_dir)
                sws = SearchWithStats(wide, query)
                try:
                    total = sws.count()
                    messages = self._rows_as_dicts(
                        sws.page(size, (page - 1) * size), self._SUMMARY_COLS
                    )
                finally:
                    sws.release()
                return {
                    "query": query,
                    "total": total,
                    "page": page,
                    "page_size": size,
                    "messages": messages,
                }

            def _vector_search(self, query: str, mode: str, limit: int):
                import time as _time

                from msgvault_spark.embeddings_pipeline import fake_embed
                from msgvault_spark.search.hybrid import hybrid_search
                from msgvault_spark.search.parser import parse_query
                from msgvault_spark.similarity.knn import knn_bruteforce
                from msgvault_spark.sources.cache import get_scalar, get_table

                parsed = parse_query(query)
                free = " ".join(parsed.text_terms)
                if not free:
                    raise _HTTPError(
                        400,
                        "mode=vector|hybrid requires at least one free-text "
                        "term; use mode=fts for filter-only queries",
                    )
                t0 = _time.monotonic()
                spark, sf = outer.spark, outer.sf_dir
                docs = get_table(spark, sf, "documents")
                emb = get_table(spark, sf, "embeddings")
                from pyspark.sql import functions as F

                # a per-snapshot catalog statistic (BM25's corpus-stats
                # pattern), not a Spark job per request
                dim = get_scalar(
                    spark,
                    (sf, "embedding_dim"),
                    lambda: emb.select(F.size("embedding")).head()[0],
                )
                qvec = fake_embed([free], dim)[0]
                if mode == "hybrid":
                    hits = hybrid_search(
                        docs, emb, free, qvec, limit=limit
                    )
                    cols = ("id", "rrf_score", "bm25_score", "vector_score")
                else:
                    hits = knn_bruteforce(emb, qvec, k=limit)
                    cols = ("id", "score")
                results = self._rows_as_dicts(hits, cols)
                return {
                    "query": query,
                    "mode": mode,
                    "returned": len(results),
                    "took_ms": int((_time.monotonic() - t0) * 1000),
                    "results": results,
                }

            def _deep_search(self, q: dict):
                """GET /api/v1/search/deep (reference handleDeepSearch,
                api/handlers.go:1545-1614): FTS drill-down scoped by the
                filter params it can represent; filters it cannot merge
                are rejected with 400, never silently dropped."""
                query = q.get("q", "")
                if not query:
                    raise _HTTPError(400, "Query parameter 'q' is required")
                if "time_period" in q or "conversation_id" in q:
                    raise _HTTPError(
                        400,
                        "Deep search does not support time_period or "
                        "conversation_id filters",
                    )
                offset = max(0, int(q.get("offset", 0) or 0))
                limit = int(q.get("limit", 100) or 100)
                if limit <= 0 or limit > 500:
                    limit = 100
                from msgvault_spark.plans.models import MessageFilter
                from msgvault_spark.search.fast import SearchWithStats
                from msgvault_spark.sources.cache import get_wide_messages

                filt = MessageFilter(
                    domain=q.get("domain", ""),
                    label=q.get("label", ""),
                    sender=q.get("sender", ""),
                    source_ids=(
                        [int(q["source_id"])] if q.get("source_id") else None
                    ),
                )
                wide = get_wide_messages(outer.spark, outer.sf_dir)
                sws = SearchWithStats(wide, query, filt)
                try:
                    # fetch one extra row to report has_more exactly
                    rows = self._rows_as_dicts(
                        sws.page(limit + 1, offset), self._SUMMARY_COLS
                    )
                finally:
                    sws.release()
                has_more = len(rows) > limit
                return {
                    "query": query,
                    "messages": rows[:limit],
                    "count": min(len(rows), limit),
                    "has_more": has_more,
                    "offset": offset,
                    "limit": limit,
                }

            def _inline(self, mid: int, q: dict):
                """GET /api/v1/messages/{id}/inline?cid= (reference
                handleMessageInline, api/handlers.go:1625-1688): raw MIME →
                CID-matched inline part, image/* (non-SVG) only."""
                cid = q.get("cid", "")
                if not cid:
                    raise _HTTPError(400, "Missing 'cid' query parameter")
                from msgvault_spark.functions.mime import extract_inline_part
                from msgvault_spark.plans.lookup import get_messages_raw
                from msgvault_spark.sources.cache import get_archive

                raw_store = outer.raw_store
                if raw_store is None:
                    from msgvault_spark.catalog_lookup import _raw_store

                    raw_store = _raw_store(outer.spark, outer.sf_dir)
                arch = get_archive(outer.spark, outer.sf_dir)
                rows = get_messages_raw(
                    raw_store, arch["messages"], [mid]
                ).collect()
                if not rows:
                    raise _HTTPError(404, "Message raw data not found")
                part = extract_inline_part(rows[0]["raw_text"], cid)
                if part is None:
                    raise _HTTPError(404, "Inline part not found")
                ctype, body = part
                ct = ctype.strip().lower()
                if not ct.startswith("image/") or ct.startswith("image/svg"):
                    raise _HTTPError(415, "Inline content type not permitted")
                return ("bytes", ct, body)

            def do_POST(self):
                u = urlparse(self.path)
                if not self._authed():
                    return self._err(401, "missing or invalid X-API-Key")
                if u.path != "/api/v1/query":
                    return self._err(404, f"no route {u.path}")
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    body = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(body, dict):
                        raise TypeError
                    sql = body["sql"]
                except (ValueError, KeyError, TypeError):
                    return self._err(
                        400, "body must be a JSON object with a 'sql' key"
                    )
                limit = body.get("limit")
                if limit is not None and (
                    not isinstance(limit, int) or isinstance(limit, bool)
                ):
                    return self._err(400, "'limit' must be an integer")
                try:
                    r = api.query_sql(outer.spark, sql, limit=limit)
                except Exception as e:  # noqa: BLE001 — mapped by _fail
                    return self._fail(e)
                self._send(200, r.to_json())

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "MsgvaultHTTPServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)


def serve(
    spark: SparkSession,
    sf_dir: str,
    *,
    host: str = "127.0.0.1",
    port: int = 0,
    api_key: str | None = None,
    raw_store: DataFrame | None = None,
) -> MsgvaultHTTPServer:
    """Start the API server on a background thread; returns the handle
    (``.port`` for an OS-assigned port, ``.shutdown()`` to stop).

    Routes build their plans through ``api.py`` on demand; serving never
    builds a catalog plan. ``.prewarm_handle`` is always None
    and stays on the handle for callers that still read it."""
    srv = MsgvaultHTTPServer(
        spark, sf_dir, host=host, port=port, api_key=api_key,
        raw_store=raw_store,
    ).start()
    srv.prewarm_handle = None
    return srv
