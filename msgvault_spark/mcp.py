"""MCP-style tool dispatcher: the reference's MCP server surface
(`internal/mcp/server.go:107-118`) as a JSON-RPC 2.0 request handler plus
a line-delimited stdio loop — the second network edge, after server.py's
REST routes.

All ten reference tools have analogs:

| reference tool (mcp/server.go) | here |
|---|---|
| search_messages        | api.search_messages (Gmail-style operators) |
| get_message            | api.get_messages (batch detail)             |
| get_attachment         | api.get_attachment (metadata; payloads are  |
|                        | out-of-band at 100 TB, SURVEY §1.1)         |
| export_attachment      | same row + content_hash — the content-      |
|                        | addressed key an object store serves        |
| list_messages          | api.list_view (filtered two-phase page)     |
| get_stats              | api.get_total_stats                         |
| aggregate_messages     | api.aggregate_view                          |
| stage_deletion         | plans.lookup.get_gmail_ids_by_filter — the  |
|                        | staging READ; deletion execution stays out  |
|                        | of scope (README)                           |
| search_by_domains      | search.fast.search_by_domains (all roles)   |
| find_similar_messages  | similarity.knn.knn_for_seed (Q9)            |

Protocol: ``handle(spark, sf_dir, request)`` takes one JSON-RPC dict —
``tools/list`` returns the tool table, ``tools/call`` with
``{"name": ..., "arguments": {...}}`` returns the columnar QueryResult —
and ``serve_stdio`` loops it over line-delimited JSON (the shape MCP
hosts speak), errors as JSON-RPC error objects, never exceptions.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import SparkSession

from msgvault_spark import api
from msgvault_spark.server import USER_ERRORS


def _tool_table(
    spark: SparkSession, sf_dir: str
) -> dict[str, tuple[str, Callable]]:
    from msgvault_spark.plans.lookup import get_gmail_ids_by_filter
    from msgvault_spark.plans.models import MessageFilter
    from msgvault_spark.search.fast import search_by_domains
    from msgvault_spark.similarity.knn import knn_for_seed
    from msgvault_spark.sources.cache import get_archive, get_table

    def _stage_deletion(a):
        f = MessageFilter(**{
            k: a[k] for k in api.FILTER_PARAM_KEYS if k in a
        })
        return api.collect_result(
            get_gmail_ids_by_filter(get_archive(spark, sf_dir), f)
        )

    def _by_domains(a):
        return api.collect_result(
            search_by_domains(
                get_archive(spark, sf_dir),
                list(a["domains"]),
                limit=int(a.get("limit", 100)),
            )
        )

    def _find_similar(a):
        emb = get_table(spark, sf_dir, "embeddings")
        return api.collect_result(
            knn_for_seed(
                emb, int(a["seed_id"]), k=int(a.get("k", 10)), round_to=6
            )
        )

    return {
        "search_messages": (
            "Gmail-style operator search over message metadata",
            lambda a: api.search_messages(
                spark, sf_dir, a["query"], limit=int(a.get("limit", 50))
            ),
        ),
        "get_message": (
            "full message detail by id list",
            lambda a: api.get_messages(
                spark, sf_dir, [int(i) for i in a["ids"]]
            ),
        ),
        "get_attachment": (
            "attachment metadata by id list",
            lambda a: api.get_attachment(
                spark, sf_dir, [int(i) for i in a["ids"]]
            ),
        ),
        "export_attachment": (
            "attachment metadata + content-addressed hash (payload bytes "
            "live in the object store keyed by content_hash)",
            lambda a: api.get_attachment(
                spark, sf_dir, [int(i) for i in a["ids"]]
            ),
        ),
        "list_messages": (
            "filtered message listing page",
            lambda a: api.list_view(
                spark,
                sf_dir,
                limit=int(a.get("limit", 50)),
                offset=int(a.get("offset", 0)),
                **{k: a[k] for k in api.FILTER_PARAM_KEYS if k in a},
            ),
        ),
        "get_stats": (
            "global archive statistics",
            lambda a: api.get_total_stats(spark, sf_dir),
        ),
        "aggregate_messages": (
            "named aggregate view (senders/domains/labels/time/...)",
            lambda a: api.aggregate_view(
                spark, sf_dir, a["view"], limit=int(a.get("limit", 100))
            ),
        ),
        "stage_deletion": (
            "Gmail source_message_ids matching a filter — deletion "
            "staging read (GetGmailIDsByFilter)",
            _stage_deletion,
        ),
        "search_by_domains": (
            "messages where any participant is in the given domains",
            _by_domains,
        ),
        "find_similar_messages": (
            "KNN by a stored message's embedding (find-similar)",
            _find_similar,
        ),
    }


def handle(spark: SparkSession, sf_dir: str, request) -> dict:
    """One JSON-RPC 2.0 request → one response dict. Non-object requests
    and params are -32600 invalid-request errors, never exceptions (the
    'errors as RPC objects' contract a stdio host depends on)."""
    if not isinstance(request, dict):
        return {
            "jsonrpc": "2.0",
            "id": None,
            "error": {"code": -32600, "message": "request must be an object"},
        }
    rid = request.get("id")

    def err(code: int, msg: str) -> dict:
        return {
            "jsonrpc": "2.0",
            "id": rid,
            "error": {"code": code, "message": msg},
        }

    method = request.get("method")
    tools = _tool_table(spark, sf_dir)
    if method == "tools/list":
        return {
            "jsonrpc": "2.0",
            "id": rid,
            "result": {
                "tools": [
                    {"name": n, "description": d}
                    for n, (d, _) in sorted(tools.items())
                ]
            },
        }
    if method != "tools/call":
        return err(-32601, f"unknown method {method!r}")
    params = request.get("params") or {}
    if not isinstance(params, dict):
        return err(-32600, "params must be an object")
    name = params.get("name")
    if name not in tools:
        return err(-32602, f"unknown tool {name!r}")
    arguments = params.get("arguments") or {}
    if not isinstance(arguments, dict):
        return err(-32600, "arguments must be an object")
    try:
        result = tools[name][1](arguments)
    except (TypeError, *USER_ERRORS) as e:
        return err(-32602, f"bad arguments for {name}: {e}")
    except Exception as e:  # noqa: BLE001 — engine errors become RPC errors
        return err(-32000, str(e).splitlines()[0][:500])
    return {
        "jsonrpc": "2.0",
        "id": rid,
        "result": json.loads(result.to_json()),
    }


def serve_stdio(spark: SparkSession, sf_dir: str, stdin, stdout) -> None:
    """Line-delimited JSON-RPC loop (one request per line; EOF ends).
    Malformed JSON gets a -32700 parse error instead of a crash."""
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            request = json.loads(line)
        except ValueError:
            response = {
                "jsonrpc": "2.0",
                "id": None,
                "error": {"code": -32700, "message": "parse error"},
            }
        else:
            response = handle(spark, sf_dir, request)
        stdout.write(json.dumps(response, default=str) + "\n")
        stdout.flush()
