"""MessageFilter semi/anti-join semantics + two-phase listing."""

from msgvault_spark.plans.filters import apply_message_filter
from msgvault_spark.plans.listing import list_messages, list_with_labels
from msgvault_spark.plans.models import (
    MessageFilter,
    MessageSort,
    MessageSortField,
    Pagination,
    SortDirection,
    ViewType,
)


def ids(df):
    return sorted(r["id"] for r in df.collect())


def test_sender_filter_dual_path(archive):
    # email path: alice
    assert ids(apply_message_filter(archive, MessageFilter(sender="a@x.com"))) == [1, 2]
    # chat path: carol by phone → message 4 via sender_id
    assert ids(apply_message_filter(archive, MessageFilter(sender="+2666"))) == [4]
    # bob by phone matches his from-row too
    assert ids(apply_message_filter(archive, MessageFilter(sender="+1555"))) == [3]


def test_empty_sender_target(archive):
    f = MessageFilter(empty_value_targets={ViewType.SENDERS})
    assert ids(apply_message_filter(archive, f)) == [5]


def test_recipient_and_names(archive):
    assert ids(apply_message_filter(archive, MessageFilter(recipient="b@y.com"))) == [1, 2]
    f = MessageFilter(recipient_name="+2666")  # carol's name = phone
    assert ids(apply_message_filter(archive, f)) == [2]
    f2 = MessageFilter(empty_value_targets={ViewType.RECIPIENTS})
    assert ids(apply_message_filter(archive, f2)) == [4, 5]


def test_label_filter_case_insensitive(archive):
    assert ids(apply_message_filter(archive, MessageFilter(label="inbox"))) == [1, 2]
    f = MessageFilter(empty_value_targets={ViewType.LABELS})
    assert ids(apply_message_filter(archive, f)) == [4, 5]


def test_time_period_inference(archive):
    assert ids(apply_message_filter(archive, MessageFilter(time_period="2024"))) == [1, 2, 3, 4, 5]
    assert ids(apply_message_filter(archive, MessageFilter(time_period="2024-02"))) == [2, 3]
    assert ids(apply_message_filter(archive, MessageFilter(time_period="2024-01-15"))) == [1]


def test_empty_source_list_matches_nothing(archive):
    assert ids(apply_message_filter(archive, MessageFilter(source_ids=[]))) == []


def test_listing_decoration_and_order(archive):
    out = list_messages(archive, MessageFilter()).collect()
    assert [r["id"] for r in out] == [5, 4, 3, 2, 1]  # date desc, id desc
    by_id = {r["id"]: r for r in out}
    # per-message display override beats participant fields (msg 2)
    assert by_id[2]["from_name"] == "Alice Override"
    assert by_id[1]["from_name"] == "X Corp"
    # chat sender resolved through sender_id (msg 4: carol, phone-only)
    assert by_id[4]["from_phone"] == "+2666"
    assert by_id[4]["from_email"] == ""
    # orphan message: all sender fields empty
    assert by_id[5]["from_email"] == "" and by_id[5]["from_name"] == ""
    # conversation decoration
    assert by_id[4]["conv_title"] == "Fun chat"


def test_listing_pagination_offset(archive):
    f = MessageFilter(
        sorting=MessageSort(MessageSortField.DATE, SortDirection.DESC),
        pagination=Pagination(limit=2, offset=1),
    )
    out = list_messages(archive, f).collect()
    assert [r["id"] for r in out] == [4, 3]


def test_listing_sort_by_size_asc(archive):
    f = MessageFilter(
        sorting=MessageSort(MessageSortField.SIZE, SortDirection.ASC)
    )
    out = list_messages(archive, f).collect()
    assert [r["id"] for r in out] == [4, 5, 1, 2, 3]


def test_list_with_labels(archive):
    out = {r["id"]: r for r in list_with_labels(archive, MessageFilter()).collect()}
    assert out[2]["labels"] == ["INBOX", "Work"]
    assert out[4]["labels"] == []


def test_load_table_normalizes_ntz_timestamps(spark, tmp_path):
    """Parquet written with isAdjustedToUTC=false surfaces as TIMESTAMP_NTZ
    under Spark 4's inferTimestampNTZ default; load_table must hand back
    TIMESTAMP (LTZ) so epoch arithmetic (cast to bigint) keeps working —
    the round-3 testdata regeneration broke exactly this."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from msgvault_spark.sources.loader import load_table

    d = tmp_path / "lake"
    d.mkdir()
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            # timestamp[us] WITHOUT timezone → NTZ under Spark 4
            "ts": pa.array(
                [dt.datetime(2024, 1, 5, 10, 0), dt.datetime(2024, 2, 6, 11, 30)],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(tbl, str(d / "events.parquet"))
    df = load_table(spark, str(d), "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    out = df.select(F.col("ts").cast("bigint").alias("epoch")).orderBy("epoch")
    got = [r["epoch"] for r in out.collect()]
    # session tz is UTC: wall clock == instant
    assert got == [1704448800, 1707219000]


def test_wide_recipient_filters_match_join_path(spark, archive):
    """to:/cc:/bcc: on the wide path (denormalized recipient rows, r4)
    must return the same messages as the join path's junction semi-join —
    including PHONE-ONLY recipients (carol, +2666, no email), matched on
    the rows' phone field."""
    from msgvault_spark.search.fast import search_fast
    from msgvault_spark.search.fast_wide import search_fast_wide
    from msgvault_spark.sources.cache import build_wide_messages

    wide = build_wide_messages(archive)
    # 'to:' (empty operator value) must mean "has at least one recipient"
    # on BOTH paths — the wide path's ILIKE '%%' over a concat would
    # instead match every message, recipients or not
    for q in ("to:@y.com", "to:2666", "cc:2666", "bcc:nobody", "to:a@x.com",
              "to:"):
        join_ids = sorted(r["id"] for r in search_fast(archive, q).collect())
        wide_ids = sorted(r["id"] for r in search_fast_wide(wide, q).collect())
        assert wide_ids == join_ids, (q, wide_ids, join_ids)
    # exact-recipient filter (MessageFilter.recipient) matches phones too
    from msgvault_spark.plans.models import MessageFilter
    from msgvault_spark.search.parser import ParsedQuery
    from msgvault_spark.search.fast_wide import compile_search_wide

    got = sorted(
        r["id"]
        for r in compile_search_wide(
            wide, ParsedQuery(), MessageFilter(recipient="+2666"),
            email_only=False,
        ).select("id").collect()
    )
    assert got == [2]
