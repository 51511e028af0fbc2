"""The wide-record functions answer exactly what the join-path plans answer.

api.aggregate_view / sub_aggregate_view / search_messages / list_view /
get_message_summaries / get_messages / get_total_stats and the fts/deep
search routes serve from the denormalized wide record
(sources/cache.build_wide_messages). Each case here runs one join-path
plan (aggregate, sub_aggregate, search_fast, list_messages,
SearchWithStats, get_message_summaries_by_ids, get_messages, total_stats
over the archive) and its wide twin over the same archive and compares
the collected rows, in order. Three archives:

  * ``archive``: the conftest fixture (chat sender, empty and phone-only
    senders, soft-deleted rows, fan-out recipients);
  * ``planted``: the sf0.001 archive with a second 'from' row planted on
    every 50th message (catalog_wide._planted_archive) — where a
    first-'from'-only record would split from the join path;
  * ``sf0001``: the sf0.001 testdata archive.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import DataFrame

from msgvault_spark.plans import aggregate as agg
from msgvault_spark.plans.listing import list_messages
from msgvault_spark.plans.lookup import (
    get_message_summaries_by_ids,
    get_message_summaries_by_ids_wide,
    get_messages,
    get_messages_wide,
)
from msgvault_spark.plans.models import (
    AggregateOptions,
    MessageFilter,
    MessageSort,
    MessageSortField,
    Pagination,
    SortDirection,
    SortField,
    TimeGranularity,
    ViewType,
)
from msgvault_spark.search.fast import SearchWithStats, search_fast
from msgvault_spark.search.fast_wide import list_messages_wide, search_fast_wide
from msgvault_spark.sources.cache import build_wide_messages

SF0001 = "/root/testdata/sf0.001"

# per-archive values the cases filter and search on
_FIXTURE_VALUES = {
    "domain": "x.com",
    "label": "inbox",
    "sender": "a@x.com",
    "phone_sender": "+2666",
    "sender_name": "X Corp",
    "recipient": "b@y.com",
    "recipient_name": "+2666",
    "period": "2024-02",
    "year": "2024",
    "from": "a@x",
    "from_name": "corp",
    "to": "y.com",
    "cc": "2666",
    "subject": "hello",
    "label_op": "nbox",
    "term": "plan",
    "larger": "150",
    "smaller": "250",
    "after": "2024-01-20",
    "before": "2024-03-01",
    # no message 99, but a dangling attachment row points at it
    "unknown_id": 99,
}


def _sf_values(arch) -> dict:
    from pyspark.sql import functions as F

    from msgvault_spark.sources.adapter import SUPPLIER_ID_OFFSET

    p = arch["participants"]
    # customer 0 is the planted second 'from' participant of most planted
    # messages (catalog_wide._planted_archive), supplier 1 a recipient
    c0 = p.filter(F.col("id") == 0).first()
    s1 = p.filter(F.col("id") == SUPPLIER_ID_OFFSET + 1).first()
    return {
        "domain": c0["domain"],
        "label": "1-urgent",
        "sender": c0["email_address"],
        "phone_sender": "+0000",
        "sender_name": c0["display_name"],
        "recipient": s1["email_address"],
        "recipient_name": s1["display_name"],
        "period": "1995-03",
        "year": "1996",
        "from": c0["email_address"],
        "from_name": "customer#00000000",
        "to": "supplier1@",
        "cc": "nation_1",
        "subject": "urgent",
        "label_op": "status-f",
        "term": "high",
        "larger": "300K",
        "smaller": "20K",
        "after": "1997-06-01",
        "before": "1998-01-01",
        "unknown_id": -1,
    }


@pytest.fixture(scope="module", params=["archive", "planted", "sf0001"])
def pair(request, spark):
    """(archive, its wide record, the values the cases use, how many cases
    of each test to run). The plain sf0.001 archive runs only each test's
    leading, route-shaped cases: the planted archive is the same data
    plus the multi-'from' rows, and every join-path plan costs seconds."""
    if request.param == "archive":
        # JVM-side copies: the fixture's frames are Python-row RDDs that
        # every join-path query would re-read through Python workers
        arch = {
            name: df.localCheckpoint()
            for name, df in request.getfixturevalue("archive").items()
        }
        values = _FIXTURE_VALUES
    else:
        from msgvault_spark.catalog_wide import _planted_archive
        from msgvault_spark.sources.cache import get_archive

        if request.param == "planted":
            arch = _planted_archive(spark, SF0001)
        else:
            arch = get_archive(spark, SF0001)
        values = _sf_values(arch)
    wide = build_wide_messages(arch).persist()
    yield arch, wide, values, (2 if request.param == "sf0001" else None)
    wide.unpersist()


def _same(join_df, wide_df, case) -> None:
    assert wide_df.columns == join_df.columns, case
    assert [tuple(r) for r in wide_df.collect()] == [
        tuple(r) for r in join_df.collect()
    ], case


def test_aggregate_views_match_join_path(spark, pair):
    arch, wide, v, n = pair
    cases = [(view, AggregateOptions()) for view in ViewType]
    cases += [
        (ViewType.SENDERS, AggregateOptions(search_query=v["from"])),
        (
            ViewType.TIME,
            AggregateOptions(
                time_granularity=TimeGranularity.YEAR,
                sort_field=SortField.NAME,
                sort_direction=SortDirection.ASC,
            ),
        ),
        (ViewType.LABELS, AggregateOptions(source_ids=[1], limit=3)),
        (
            ViewType.RECIPIENT_NAMES,
            AggregateOptions(sort_field=SortField.ATTACHMENT_SIZE, limit=5),
        ),
        (
            ViewType.DOMAINS,
            AggregateOptions(
                sort_field=SortField.SIZE,
                after=dt.datetime.fromisoformat(v["after"]),
                with_attachments_only=True,
                hide_deleted_from_source=True,
            ),
        ),
    ]
    for view, opts in cases[:n]:
        _same(
            agg.aggregate(arch, view, opts),
            agg.aggregate_wide(wide, view, opts),
            (view, opts),
        )


def test_sub_aggregates_match_join_path(spark, pair):
    arch, wide, v, n = pair
    filters = [
        MessageFilter(domain=v["domain"]),
        MessageFilter(label=v["label"]),
        MessageFilter(sender=v["sender"]),
        MessageFilter(time_period=v["period"]),
        MessageFilter(sender=v["phone_sender"]),
        MessageFilter(time_period=v["year"], domain=v["domain"]),
        MessageFilter(sender_name=v["sender_name"]),
        MessageFilter(recipient=v["recipient"]),
        MessageFilter(recipient_name=v["recipient_name"]),
        MessageFilter(source_ids=[2], with_attachments_only=True),
    ]
    filters += [
        MessageFilter(empty_value_targets={view})
        for view in ViewType
        if view != ViewType.TIME
    ]
    views = (
        ViewType.SENDERS, ViewType.LABELS, ViewType.TIME, ViewType.RECIPIENTS,
        ViewType.DOMAINS, ViewType.SENDER_NAMES, ViewType.RECIPIENT_NAMES,
    )
    for i, filt in enumerate(filters[:n]):
        view = views[i % len(views)]
        _same(
            agg.sub_aggregate(arch, view, filt),
            agg.sub_aggregate_wide(wide, view, filt),
            (view, filt),
        )


def test_search_fast_matches_join_path(spark, pair):
    arch, wide, v, n = pair
    queries = [
        f"from:{v['from']}",
        f"subject:{v['subject']}",
        f"from:{v['from_name']}",
        "from:",
        f"to:{v['to']}",
        f"cc:{v['cc']}",
        "to:",
        f"label:{v['label_op']}",
        f"larger:{v['larger']}",
        f"smaller:{v['smaller']} has:attachment",
        f"after:{v['after']} before:{v['before']}",
        v["term"],
    ]
    cases = [(q, None) for q in queries]
    cases += [
        (v["term"], MessageFilter(domain=v["domain"])),
        ("", MessageFilter(label=v["label"])),
        ("", MessageFilter(sender=v["sender"])),
        ("", MessageFilter(sender=v["phone_sender"])),
        (v["term"], MessageFilter(time_period=v["period"])),
        ("", MessageFilter(recipient=v["recipient"])),
    ]
    for q, filt in cases[:n]:
        _same(
            search_fast(arch, q, filt, limit=500),
            search_fast_wide(wide, q, filt, limit=500),
            (q, filt),
        )


def test_listing_matches_join_path(spark, pair):
    arch, wide, v, n = pair
    sorts = [
        MessageSort(field, direction)
        for field in MessageSortField
        for direction in SortDirection
    ]
    cases = [
        (MessageFilter(domain=v["domain"]), 3),
        (MessageFilter(), 0),
        (MessageFilter(label=v["label"]), 40),
        (MessageFilter(sender=v["sender"]), 0),
        (MessageFilter(time_period=v["period"]), 2),
        (MessageFilter(sender=v["phone_sender"]), 0),
    ]
    for i, (base, offset) in enumerate(cases[:n]):
        filt = MessageFilter(
            **{
                k: getattr(base, k)
                for k in ("domain", "label", "sender", "time_period")
            },
            sorting=sorts[i % len(sorts)],
            pagination=Pagination(limit=7, offset=offset),
        )
        _same(
            list_messages(arch, filt),
            list_messages_wide(wide, arch["conversations"], filt),
            filt,
        )


def test_search_with_stats_matches_join_path(spark, pair):
    arch, wide, v, n = pair
    for q, filt in [
        (v["term"], None),
        (v["subject"], MessageFilter(domain=v["domain"])),
        (f"from:{v['from']}", MessageFilter(label=v["label"])),
    ][:n]:
        join, wide_s = SearchWithStats(arch, q, filt), SearchWithStats(wide, q, filt)
        try:
            assert wide_s.matches.columns == join.matches.columns
            assert wide_s.count() == join.count(), (q, filt)
            _same(join.stats(), wide_s.stats(), (q, filt))
            _same(join.page(3, 4), wide_s.page(3, 4), (q, filt))
        finally:
            join.release()
            wide_s.release()


def _id_page(arch, v) -> list[int]:
    """Known ids (soft-deleted ones and a planted multi-'from' message
    among them when the archive has them) plus one unknown id."""
    from pyspark.sql import functions as F

    msg = arch["messages"]
    ids = {r["id"] for r in msg.orderBy("id").limit(6).collect()}
    ids |= {r["id"] for r in msg.filter(F.col("id") % 50 == 0).limit(1).collect()}
    if "deleted_at" in msg.columns:
        ids |= {
            r["id"] for r in msg.filter(F.col("deleted_at").isNotNull()).collect()
        }
    return sorted(ids) + [v["unknown_id"]]


@pytest.fixture(scope="module")
def edge_pair(pair, spark):
    """``pair`` with detail's edge rows added: a recipient row whose
    participant does not exist, a recipient whose participant has a NULL
    email (phone only), a label id with no labels row and an attachment
    with a NULL file name."""
    from msgvault_spark.sources.loader import ARCHIVE_SCHEMAS

    arch, _, v, n = pair
    first, second = _id_page(arch, v)[:2]
    pid = arch["participants"].agg({"id": "max"}).first()[0] + 1000

    def plus(name: str, rows: list[tuple]) -> DataFrame:
        extra = spark.createDataFrame(rows, ARCHIVE_SCHEMAS[name])
        return arch[name].unionByName(extra.select(*arch[name].columns))

    edged = dict(arch)
    edged["participants"] = plus("participants", [(pid, None, None, None, "+3777")])
    edged["message_recipients"] = plus(
        "message_recipients",
        [(first, pid + 1, "bcc", "Nobody"), (second, pid, "to", "")],
    )
    edged["message_labels"] = plus("message_labels", [(first, 7777)])
    edged["attachments"] = plus(
        "attachments", [(second, 3, None, 990001, None, None)]
    )
    edged = {name: df.localCheckpoint() for name, df in edged.items()}
    wide = build_wide_messages(edged).persist()
    yield edged, wide, v, n
    wide.unpersist()


def test_id_hydration_matches_join_path(spark, pair):
    arch, wide, v, _ = pair
    page = _id_page(arch, v)
    for ids in (page[::-1], page[1::2] + page[0::2]):
        join = get_message_summaries_by_ids(arch, ids)
        _same(join, get_message_summaries_by_ids_wide(wide, ids), ids)
        got = [r["id"] for r in join.collect()]
        # soft-deleted ids are fetched, the unknown id dropped
        assert got == [i for i in ids if i != v["unknown_id"]], ids


def test_detail_matches_join_path(spark, edge_pair):
    arch, wide, v, _ = edge_pair
    page = _id_page(arch, v)
    ids = page[1::2] + page[0::2]
    join = get_messages(arch, ids)
    _same(join, get_messages_wide(wide, ids), ids)
    rows = {r["rank"]: r for r in join.collect()}
    first, second = rows[ids.index(page[0]) + 1], rows[ids.index(page[1]) + 1]
    # the unresolved bcc row is dropped, the phone-only 'to' row kept
    assert "bcc" not in first["recipients"].split(",")
    assert "to" in second["recipients"].split(",")
    assert second["attachment_count"] >= 1


def test_total_stats_match_join_path(spark, pair, edge_pair):
    for arch, wide, *_ in (pair, edge_pair):
        _same(agg.total_stats(arch), agg.total_stats_wide(wide), "total")
