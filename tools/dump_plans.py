"""Regenerate PLANS.md: the formatted physical plans of the headline
queries at sf0.001, plus one plan per HTTP route family served from the
wide record, so plan-quality claims (pushdown, broadcast strategy,
exchange counts, codegen spans) are reviewable without a Spark session.

    python tools/dump_plans.py [sf_dir]

Plans are FRESH (built after a warm-up run) under the serving session
(msgvault_spark/session.py, AQE on) and printed before they execute: the
initial plan AQE starts from, not the final plan it re-optimizes into.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SHOWCASE = [
    # one per plan family: wide scan, shared-exchange windows, term-pruned
    # postings, salted agg, as-of, TPC-H heavy, ANN, CDC diff rollup
    "search_fast_operators_wide",
    "agg_senders_wide",
    "sessionize_events",
    "hybrid_rrf",
    "salted_priority_rollup",
    "asof_events_orders",
    "nation_profit_q9",
    "waiting_suppliers_q21",
    "knn_cosine_seed0",
    "minhash_lsh_near_dups",
    "sq8_rerank_knn",
    "embedding_near_dups",
    # round-6 curation families: hashed-distribution selection, bounded
    # bottom-k sampling, two-level wrong-label top-k
    "dsir_importance_select",
    "cluster_balanced_sample",
    "hard_negative_mining",
    # round-6 batches 6-10: iterative K-row-literal training, hash-gated
    # telescope, vocab-sized PMI joins
    "kmeans_cells_report",
    "span_corruption_plan",
    "pmi_collocations",
    # round-7: capped hot-bucket propose (star-edge overflow), loss-driven
    # mixture update
    "lsh_capped_hot_bucket",
    "doremi_weight_update",
]


# one plan per HTTP route family served from the wide record: what a
# request to the route runs (api.py / server.py build the same plans)
ROUTES = [
    "GET /api/v1/aggregates?view=senders",
    "GET /api/v1/aggregates/sub?view=labels&domain=nation_3.example.com",
    "GET /api/v1/search/fast?q=from:customer3@",
    "GET /api/v1/messages/filter?domain=nation_3.example.com&offset=20",
    "GET /api/v1/search?q=high&page=2 (mode=fts)",
    "GET /api/v1/search/deep?q=high&domain=nation_3.example.com",
    "GET /api/v1/messages?ids=7,3,1",
    "GET /api/v1/messages/3",
    "GET /api/v1/stats/total",
]


def _route_plan(spark, sf_dir: str, route: str):
    """(DataFrame the route collects, cleanup) for one ROUTES entry."""
    from msgvault_spark.plans import aggregate as agg
    from msgvault_spark.plans.models import (
        AggregateOptions,
        MessageFilter,
        Pagination,
        ViewType,
    )
    from msgvault_spark.plans.lookup import (
        get_message_summaries_by_ids_wide,
        get_messages_wide,
    )
    from msgvault_spark.search.fast import SearchWithStats
    from msgvault_spark.search.fast_wide import (
        list_messages_wide,
        search_fast_wide,
    )
    from msgvault_spark.sources.cache import get_archive, get_wide_messages

    wide = get_wide_messages(spark, sf_dir)
    domain = MessageFilter(domain="nation_3.example.com")
    if "/messages?ids=" in route:
        df = get_message_summaries_by_ids_wide(wide, [7, 3, 1])
    elif "/messages/3" in route:
        df = get_messages_wide(wide, [3])
    elif "/stats/total" in route:
        df = agg.total_stats_wide(wide)
    elif "/aggregates/sub" in route:
        df = agg.sub_aggregate_wide(
            wide, ViewType.LABELS, domain, AggregateOptions(limit=100)
        )
    elif "/aggregates" in route:
        df = agg.aggregate_wide(wide, ViewType.SENDERS, AggregateOptions())
    elif "/search/fast" in route:
        df = search_fast_wide(wide, "from:customer3@", limit=50)
    elif "/messages/filter" in route:
        domain.pagination = Pagination(limit=50, offset=20)
        df = list_messages_wide(
            wide, get_archive(spark, sf_dir)["conversations"], domain
        )
    else:  # fts and deep page one persisted match set
        deep = "/search/deep" in route
        sws = SearchWithStats(wide, "high", domain if deep else None)
        return sws.page(101 if deep else 20, 0 if deep else 20), sws.release
    return df, lambda: None


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    ).rstrip()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from msgvault_spark.catalog import CATALOG
    from msgvault_spark.session import get_spark

    spark = get_spark("msgvault_plans")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — headline physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale factor dir: `{sf_dir}`; the serving session "
        "(`msgvault_spark/session.py`, AQE on). Each plan is fresh and "
        "unexecuted: the initial plan AQE starts from, not its final "
        "re-optimized plan. Regenerate after any plan-affecting change.",
        "",
    ]
    for name in SHOWCASE:
        # warm ETL artifacts first so the printed plan reads from caches
        CATALOG[name].fn(spark, sf_dir).collect()
        df = CATALOG[name].fn(spark, sf_dir)
        out += [f"## {name}", "", "```", _formatted(spark, df), "```", ""]
    out += [
        "# Routes served from the wide record",
        "",
        "One plan per HTTP route family that reads the denormalized wide "
        "record (`server.py`): no participants, message_recipients or "
        "message_labels scan; the by-id and total routes scan no "
        "attachments or messages file either.",
        "",
    ]
    for route in ROUTES:
        df, cleanup = _route_plan(spark, sf_dir, route)
        df.collect()  # warm the record; print a fresh plan, as above
        cleanup()
        df, cleanup = _route_plan(spark, sf_dir, route)
        out += [f"## {route}", "", "```", _formatted(spark, df), "```", ""]
        cleanup()

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE) + len(ROUTES)} plans)")


if __name__ == "__main__":
    main()
