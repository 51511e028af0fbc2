"""Answer checks: every HTTP answer the load generator receives is checked
against invariants of its route and, where the source data pins it, the
exact expected value. A failed check counts the request as failed.

``check(req, status, body)`` returns None for a correct answer, else a
one-line reason.
"""

from __future__ import annotations

import json


def _columnar(doc: dict) -> list[dict]:
    cols = doc["columns"]
    rows = doc["rows"]
    if doc["row_count"] != len(rows):
        raise AssertionError("row_count disagrees with rows")
    return [dict(zip(cols, r)) for r in rows]


def _sorted_desc(values: list) -> bool:
    return all(a >= b for a, b in zip(values, values[1:]))


def _has_term(row: dict, term: str) -> bool:
    hay = " ".join(
        str(row.get(c) or "")
        for c in ("subject", "snippet", "from_email", "from_name")
    )
    return term.lower() in hay.lower()


def _check_total(doc, exp):
    (row,) = _columnar(doc)
    assert row["message_count"] == exp["n"], "message_count != orders rows"
    assert row["account_count"] == 3, "account_count != 3"


def _check_stats(doc, exp):
    (row,) = _columnar(doc)
    assert row["total_messages"] == exp["n"], "total_messages != orders rows"


def _check_accounts(doc, exp):
    rows = _columnar(doc)
    assert len(rows) == 3, "expected 3 accounts"
    assert sum(r["message_count"] for r in rows) == exp["n"], (
        "account message counts do not sum to orders rows"
    )


def _check_agg(doc, exp):
    rows = _columnar(doc)
    assert 0 < len(rows) <= exp["limit"], "row count outside (0, limit]"
    keys = [(-r["count"], r["key"]) for r in rows]
    assert keys == sorted(keys), "not sorted by count desc, key asc"


def _check_filter(doc, exp):
    rows = _columnar(doc)
    assert 0 < len(rows) <= exp["limit"], "row count outside (0, limit]"
    suffix = "@" + exp["domain"]
    assert all(r["from_email"].endswith(suffix) for r in rows), (
        "row outside the requested domain"
    )
    assert len({r["id"] for r in rows}) == len(rows), "duplicate ids"


def _check_ids(doc, exp):
    rows = _columnar(doc)
    assert [r["id"] for r in rows] == exp["ids"], "ids differ from request"


def _check_fast(doc, exp):
    rows = _columnar(doc)
    assert 0 < len(rows) <= exp["limit"], "row count outside (0, limit]"
    if "from" in exp:
        assert all(r["from_email"] == exp["from"] for r in rows), (
            "hit from another sender"
        )
    else:
        assert all(exp["subject"] in r["subject"].lower() for r in rows), (
            "hit without the subject term"
        )


def _check_fts(doc, exp):
    msgs = doc["messages"]
    assert doc["total"] > 0, "no matches"
    assert len(msgs) <= exp["page_size"], "page larger than page_size"
    assert all(_has_term(m, exp["term"]) for m in msgs), "hit without term"


def _check_deep(doc, exp):
    msgs = doc["messages"]
    assert len(msgs) == doc["count"] <= exp["limit"], "count/limit mismatch"
    assert all(_has_term(m, exp["term"]) for m in msgs), "hit without term"
    suffix = "@" + exp["domain"]
    assert all(m["from_email"].endswith(suffix) for m in msgs), (
        "hit outside the requested domain"
    )


def _check_ranked(doc, exp):
    res = doc["results"]
    assert 0 < doc["returned"] == len(res) <= exp["page_size"], (
        "hit count outside (0, page_size]"
    )
    assert len({r["id"] for r in res}) == len(res), "duplicate ids"
    score = "score" if exp["mode"] == "vector" else "rrf_score"
    assert _sorted_desc([r[score] for r in res]), "not ranked by score"


def _check_query(doc, exp):
    (row,) = _columnar(doc)
    assert row["n"] == exp["count"], "count differs from the source data"


CHECKS = {
    "total": _check_total,
    "stats": _check_stats,
    "accounts": _check_accounts,
    "agg": _check_agg,
    "sub": _check_agg,
    "filter": _check_filter,
    "ids": _check_ids,
    "detail": _check_ids,
    "fast": _check_fast,
    "fts": _check_fts,
    "deep": _check_deep,
    "vector": _check_ranked,
    "hybrid": _check_ranked,
    "query": _check_query,
}


def check(req: dict, status: int, body: bytes) -> str | None:
    if status != 200:
        return f"HTTP {status}: {body[:200]!r}"
    try:
        doc = json.loads(body)
        CHECKS[req["kind"]](doc, req["expect"])
    except (AssertionError, KeyError, TypeError, ValueError) as e:
        return f"{req['kind']}: {type(e).__name__}: {e}"
    return None
