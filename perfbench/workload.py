"""Seeded request logs for the serving workloads.

A request is a plain dict: ``kind`` (the route family), ``method``,
``path``, optional ``body`` (POST JSON) and ``expect`` (what checks.py
verifies). Parameters are drawn from the source data's own values
(``Facts``): sender domains and addresses, order ids, year/month/account
counts, subject words and the document vocabulary.

Two mixes, both replayed by 4 clients; a run times the log's first 8
requests (run.py), so the mixes are laid out for those:

  * ``hot``: 5 parameter tuples, one per family of ``HOT_FAMILIES``,
    requested with Zipf(s=1.1) weights. The weighted sequence is
    interleaved deterministically (smooth weighted round-robin), so every
    seed sends each rank the same share of requests; the seed picks the
    tuples' parameter values. Rank 0 is the archive summary the setup
    request already asked for, so half of the first 8 requests repeat a
    tuple sent before, and they reach every family.
  * ``distinct``: the families of ``DISTINCT_FAMILIES`` in a fixed cycle,
    every (route, parameters) tuple used at most once: the hot families
    other than the summary, then the rest. Every timed request is the
    first of its family on the server; the cycle is long enough that no
    run comes round to a family's second, much cheaper call.

Route families in neither mix (``UNSENT``) are still sent once by the
lake build. In both mixes the route family and its structural parameters
(aggregate view, search mode) depend only on the position in the log; the
seed picks the values (limits, domains, ids, terms, offsets). That keeps
the per-run cost mix the same across seeds while no two seeds send the
same requests.
"""

from __future__ import annotations

import collections
import os
import random
from dataclasses import dataclass
from urllib.parse import urlencode

import pyarrow.compute as pc
import pyarrow.parquet as pq

ZIPF_S = 1.1

# rank order; rank 0 is the setup request's tuple
HOT_FAMILIES = ("total", "ids", "fast", "sub", "detail")
# the hot families first, with fresh parameters; the cycle is long enough
# that no run wraps round to a family's second call
DISTINCT_FAMILIES = ("ids", "fast", "sub", "detail", "vector", "agg", "fts",
                     "filter", "deep", "hybrid", "query")
UNSENT = ("stats", "accounts")
ALL_FAMILIES = HOT_FAMILIES + DISTINCT_FAMILIES + UNSENT
VIEWS = (
    "senders", "domains", "labels", "time", "recipients",
    "sender_names", "recipient_names",
)
SUB_VIEWS = ("labels", "senders", "time", "recipients")
PRIORITY_WORDS = ("urgent", "high", "medium", "low", "specified")
DOC_VOCAB = (
    "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "value", "vector", "window",
)


@dataclass
class Facts:
    """Values of the source data that requests are drawn from and that
    answers are checked against."""

    n_orders: int
    n_customers: int
    cust_domain: list[str]  # index = custkey
    month_counts: dict[tuple[int, int, int], int]  # (year, month, source) → n
    domains: list[str]


def load_facts(sf_dir: str) -> Facts:
    orders = pq.read_table(
        os.path.join(sf_dir, "orders.parquet"),
        columns=["o_orderkey", "o_orderdate"],
    )
    customer = pq.read_table(
        os.path.join(sf_dir, "customer.parquet"),
        columns=["c_custkey", "c_nationkey"],
    )
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    dom_of = {
        k: f"{n.lower().replace(' ', '-')}.example.com"
        for k, n in zip(
            nation["n_nationkey"].to_pylist(), nation["n_name"].to_pylist()
        )
    }
    cust_keys = customer["c_custkey"].to_pylist()
    cust_domain = [""] * (max(cust_keys) + 1)
    for k, nk in zip(cust_keys, customer["c_nationkey"].to_pylist()):
        cust_domain[k] = dom_of[nk]
    keys = orders["o_orderkey"].to_numpy()
    month_counts = collections.Counter(
        zip(
            pc.year(orders["o_orderdate"]).to_pylist(),
            pc.month(orders["o_orderdate"]).to_pylist(),
            (keys % 3 + 1).tolist(),  # the adapter's source_id
        )
    )
    return Facts(
        n_orders=orders.num_rows,
        n_customers=len(cust_keys),
        cust_domain=cust_domain,
        month_counts=dict(month_counts),
        domains=sorted(set(cust_domain) - {""}),
    )


def _get(kind: str, path: str, params: dict | None, expect: dict) -> dict:
    if params:
        path = f"{path}?{urlencode(params)}"
    return {"kind": kind, "method": "GET", "path": path, "expect": expect}


def make_request(kind: str, slot: int, rng: random.Random, facts: Facts) -> dict:
    """One request of route family ``kind``. ``slot`` (the family's
    occurrence index) picks the structural parameters; ``rng`` the values."""
    if kind == "total":
        return _get(kind, "/api/v1/stats/total", None, {"n": facts.n_orders})
    if kind == "stats":
        return _get(kind, "/api/v1/stats", None, {"n": facts.n_orders})
    if kind == "accounts":
        return _get(kind, "/api/v1/accounts", None, {"n": facts.n_orders})
    if kind == "agg":
        limit = rng.randint(5, 200)
        return _get(kind, "/api/v1/aggregates",
                    {"view": VIEWS[slot % len(VIEWS)], "limit": limit},
                    {"limit": limit})
    if kind == "sub":
        limit = rng.randint(5, 200)
        domain = rng.choice(facts.domains)
        return _get(kind, "/api/v1/aggregates/sub",
                    {"view": SUB_VIEWS[slot % len(SUB_VIEWS)], "limit": limit,
                     "domain": domain},
                    {"limit": limit})
    if kind == "filter":
        domain = rng.choice(facts.domains)
        limit = rng.randint(10, 100)
        offset = rng.randint(0, 400)
        return _get(kind, "/api/v1/messages/filter",
                    {"domain": domain, "limit": limit, "offset": offset},
                    {"limit": limit, "domain": domain})
    if kind == "ids":
        ids = rng.sample(range(facts.n_orders), rng.randint(2, 40))
        return _get(kind, "/api/v1/messages",
                    {"ids": ",".join(map(str, ids))}, {"ids": ids})
    if kind == "detail":
        mid = rng.randrange(facts.n_orders)
        return _get(kind, f"/api/v1/messages/{mid}", None, {"ids": [mid]})
    if kind == "fast":
        limit = rng.randint(10, 100)
        if slot % 2 == 0:
            cust = rng.randrange(facts.n_customers)
            addr = f"customer{cust}@{facts.cust_domain[cust]}"
            return _get(kind, "/api/v1/search/fast",
                        {"q": f"from:{addr}", "limit": limit},
                        {"limit": limit, "from": addr})
        word = rng.choice(PRIORITY_WORDS)
        return _get(kind, "/api/v1/search/fast",
                    {"q": f"subject:{word}", "limit": limit},
                    {"limit": limit, "subject": word})
    if kind == "fts":
        word = rng.choice(PRIORITY_WORDS)
        size = rng.randint(5, 100)
        page = rng.randint(1, 20)
        return _get(kind, "/api/v1/search",
                    {"q": word, "page": page, "page_size": size},
                    {"term": word, "page_size": size})
    if kind == "deep":
        word = rng.choice(PRIORITY_WORDS)
        domain = rng.choice(facts.domains)
        limit = rng.randint(10, 100)
        offset = rng.randint(0, 200)
        return _get(kind, "/api/v1/search/deep",
                    {"q": word, "domain": domain, "offset": offset,
                     "limit": limit},
                    {"term": word, "domain": domain, "limit": limit})
    if kind in ("vector", "hybrid"):
        words = rng.sample(DOC_VOCAB, rng.randint(1, 3))
        size = rng.randint(5, 50)
        return _get(kind, "/api/v1/search",
                    {"q": " ".join(words), "mode": kind, "page_size": size},
                    {"page_size": size, "mode": kind})
    if kind == "query":
        (y, m, s), n = rng.choice(sorted(facts.month_counts.items()))
        sql = (
            "SELECT COUNT(*) AS n FROM messages "
            f"WHERE year = {y} AND month = {m} AND source_id = {s}"
        )
        return {"kind": kind, "method": "POST", "path": "/api/v1/query",
                "body": {"sql": sql}, "expect": {"count": n}}
    raise ValueError(f"unknown route family {kind!r}")


def _key(req: dict) -> tuple:
    return (req["method"], req["path"], repr(req.get("body")))


def hot_tuples(seed: int, facts: Facts) -> list[dict]:
    """The hot tuples, rank order. Rank r's family is fixed; its
    parameters come from the seed."""
    rng = random.Random(f"hot-{seed}")
    return [make_request(kind, 0, rng, facts) for kind in HOT_FAMILIES]


def zipf_schedule(n_items: int, length: int, s: float = ZIPF_S) -> list[int]:
    """Smooth weighted round-robin over Zipf(s) weights: rank i appears in
    proportion to 1/(i+1)^s, spread evenly through the sequence."""
    weights = [1.0 / (i + 1) ** s for i in range(n_items)]
    total = sum(weights)
    current = [0.0] * n_items
    out = []
    for _ in range(length):
        for i, w in enumerate(weights):
            current[i] += w
        pick = max(range(n_items), key=current.__getitem__)
        current[pick] -= total
        out.append(pick)
    return out


def build_log(mix: str, seed: int, facts: Facts, length: int) -> list[dict]:
    """The request log a run replays, in send order."""
    if mix == "hot":
        tuples = hot_tuples(seed, facts)
        return [
            dict(tuples[i], rank=i)
            for i in zipf_schedule(len(tuples), length)
        ]
    if mix == "distinct":
        rng = random.Random(f"distinct-{seed}")
        out, seen = [], set()
        slots: dict[str, int] = {}
        misses = 0
        while len(out) < length:
            kind = DISTINCT_FAMILIES[len(out) % len(DISTINCT_FAMILIES)]
            slot = slots.get(kind, 0)
            req = make_request(kind, slot, rng, facts)
            if _key(req) in seen:
                misses += 1
                if misses > 100 * length:
                    raise ValueError(f"{kind}: too few distinct tuples")
                continue
            slots[kind] = slot + 1
            seen.add(_key(req))
            out.append(req)
        return out
    raise ValueError(f"unknown mix {mix!r}")


def one_per_family(facts: Facts) -> list[dict]:
    """One request of every route family, the same on every call (the lake
    build sends these so every route's artifacts are on disk)."""
    rng = random.Random(0)
    return [make_request(k, 0, rng, facts) for k in ALL_FAMILIES]


def setup_request(facts: Facts) -> dict:
    """The first request of every run, answered before load starts: the
    archive summary a client shows on connect."""
    return make_request("total", 0, random.Random(0), facts)
