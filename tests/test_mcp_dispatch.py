"""MCP-style dispatcher (msgvault_spark/mcp.py): all ten reference tools
(mcp/server.go:107-118) callable through the JSON-RPC handler and the
stdio loop, with the columnar QueryResult result shape and RPC-error
(never exception) failure mode."""

from __future__ import annotations

import io
import json

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def call(spark):
    from msgvault_spark.mcp import handle

    def _call(name, arguments=None, rid=1):
        return handle(
            spark,
            SF_DIR,
            {
                "jsonrpc": "2.0",
                "id": rid,
                "method": "tools/call",
                "params": {"name": name, "arguments": arguments or {}},
            },
        )

    return _call


def test_tools_list_covers_all_reference_tools(spark):
    from msgvault_spark.mcp import handle

    resp = handle(spark, SF_DIR, {"id": 0, "method": "tools/list"})
    names = {t["name"] for t in resp["result"]["tools"]}
    assert names == {
        "search_messages", "get_message", "get_attachment",
        "export_attachment", "list_messages", "get_stats",
        "aggregate_messages", "stage_deletion", "search_by_domains",
        "find_similar_messages",
    }


def test_every_tool_executes(call):
    assert call("get_stats")["result"]["row_count"] == 1
    agg = call("aggregate_messages", {"view": "senders", "limit": 5})
    assert 0 < agg["result"]["row_count"] <= 5

    hits = call("search_messages", {"query": "order", "limit": 5})
    assert hits["result"]["row_count"] <= 5

    page = call("list_messages", {"domain": "nation_3.example.com",
                                  "limit": 3})
    assert 0 < page["result"]["row_count"] <= 3
    ids = [r[page["result"]["columns"].index("id")]
           for r in page["result"]["rows"]]
    detail = call("get_message", {"ids": ids[:2]})
    assert detail["result"]["row_count"] == 2

    att = call("get_attachment", {"ids": [1, 2, 3]})
    exp = call("export_attachment", {"ids": [1, 2, 3]})
    assert "content_hash" in att["result"]["columns"]
    assert exp["result"]["columns"] == att["result"]["columns"]

    staged = call("stage_deletion", {"domain": "nation_3.example.com",
                                     "time_period": "1996"})
    assert staged["result"]["columns"] == ["source_message_id"]
    assert staged["result"]["row_count"] > 0
    assert all(r[0].startswith("ord-") for r in staged["result"]["rows"])

    dom = call("search_by_domains",
               {"domains": ["nation_3.example.com"], "limit": 5})
    assert 0 < dom["result"]["row_count"] <= 5

    sim = call("find_similar_messages", {"seed_id": 0, "k": 5})
    assert sim["result"]["row_count"] == 5
    assert 0 not in [r[0] for r in sim["result"]["rows"]]  # seed excluded


def test_errors_are_rpc_errors_not_exceptions(call, spark):
    from msgvault_spark.mcp import handle

    assert call("no_such_tool")["error"]["code"] == -32602
    assert call("aggregate_messages", {})["error"]["code"] == -32602
    # unknown seed surfaces as an argument error (KeyError from the
    # seed lookup), still an RPC error object — never an exception
    assert call("find_similar_messages", {"seed_id": 10**9})["error"][
        "code"
    ] == -32602
    # a Spark analysis error on user input (a negative LIMIT) is the
    # caller's fault, as it is over HTTP (400), not an engine failure
    assert call("aggregate_messages", {"view": "senders", "limit": -1})[
        "error"
    ]["code"] == -32602
    assert handle(spark, SF_DIR, {"id": 9, "method": "bogus"})["error"][
        "code"
    ] == -32601


def test_stdio_loop_roundtrip(spark):
    from msgvault_spark.mcp import serve_stdio

    requests = [
        {"id": 1, "method": "tools/list"},
        "this is not json",
        {"id": 2, "method": "tools/call",
         "params": {"name": "get_stats", "arguments": {}}},
    ]
    stdin = io.StringIO(
        "\n".join(
            r if isinstance(r, str) else json.dumps(r) for r in requests
        )
        + "\n"
    )
    out = io.StringIO()
    serve_stdio(spark, SF_DIR, stdin, out)
    lines = [json.loads(l) for l in out.getvalue().splitlines()]
    assert len(lines) == 3
    assert lines[0]["id"] == 1 and "tools" in lines[0]["result"]
    assert lines[1]["error"]["code"] == -32700
    assert lines[2]["result"]["row_count"] == 1


def test_non_object_requests_get_rpc_errors(spark):
    """Valid JSON that is not an object (or non-object params/arguments)
    must yield -32600, never an AttributeError that kills the loop."""
    import io

    from msgvault_spark.mcp import handle, serve_stdio

    assert handle(spark, SF_DIR, 42)["error"]["code"] == -32600
    assert handle(spark, SF_DIR, "hi")["error"]["code"] == -32600
    assert handle(
        spark, SF_DIR, {"id": 1, "method": "tools/call", "params": [1]}
    )["error"]["code"] == -32600
    assert handle(
        spark,
        SF_DIR,
        {"id": 1, "method": "tools/call",
         "params": {"name": "get_stats", "arguments": [1]}},
    )["error"]["code"] == -32600
    # the stdio loop survives a non-object line and keeps serving
    stdin = io.StringIO('42\n{"id": 2, "method": "tools/list"}\n')
    out = io.StringIO()
    serve_stdio(spark, SF_DIR, stdin, out)
    lines = [json.loads(l) for l in out.getvalue().splitlines()]
    assert lines[0]["error"]["code"] == -32600
    assert "tools" in lines[1]["result"]
