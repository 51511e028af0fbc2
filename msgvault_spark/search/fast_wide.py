"""Fast search + listing over the denormalized wide record.

Same answers as search/fast.py (``compile_search``, ``search_fast``) and
plans/listing.py (``list_messages``), clause for clause, compiled against
the wide record of sources/cache.build_wide_messages: every predicate —
including from:/to:/label matches, which the join path answers with
semi-joins against message_recipients/participants/message_labels — is a
column or nested-row filter on ONE scan, and the sender columns are
resolved from the record's own rows. This is the 100 TB shape: the wide
record is the columnar search index, filters push into the scan, and a
query is scan → filter → top-k, with one broadcast of conversations to
decorate a listing page.

Sender resolution (the join path's ``_sender_resolution`` and listing
phase 2): the 'from' row with the lowest participant_id — element 1 of
the sorted ``from_rows`` — else the direct sender (``sender_*``), else
''. Operator matches over nested rows (from:, to:/cc:/bcc:) are EXISTS
over the rows, like the join path's semi-joins (reference denormalized
search columns, internal/query/duckdb.go:719-770, SURVEY §1.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from msgvault_spark.functions.text import (
    email_only_predicate,
    ilike_contains,
    ilike_endswith,
    ilike_equals,
    participant_name,
    recipient_name,
    time_key,
)
from msgvault_spark.operators.present import present_sorted
from msgvault_spark.plans.models import MessageFilter, infer_time_granularity
from msgvault_spark.search.parser import ParsedQuery, parse_query

# lowered-contains compilation of ILIKE '%escaped%' (functions/text.py)
_ilike = ilike_contains


def _any_ilike(values: Column, term: str, blob: Column | None = None) -> Column:
    """EXISTS(values, v -> v ILIKE '%term%') over an array of strings.
    For a term that is non-empty and has no '\\n' it is the lowered
    contains() over the '\\n'-joined array (``blob`` when the record
    stores it pre-lowered): such a term cannot span a join boundary, and
    the flat predicate stays inside whole-stage codegen, where the
    higher-order EXISTS drops to interpreted evaluation (~4× slower per
    scan). '' matches any non-NULL element, which the join would hide."""
    if term == "" or "\n" in term:
        return F.exists(values, lambda v: ilike_contains(v, term))
    if blob is not None:
        return blob.contains(F.lower(F.lit(term)))
    return ilike_contains(F.concat_ws("\n", values), term)


def _first_from() -> Column:
    """The lowest-participant_id 'from' row (NULL when there is none)."""
    return F.try_element_at(F.col("from_rows"), F.lit(1))


def _resolved_sender(name: Column) -> list[Column]:
    """from_email / from_name / from_phone of the join path: the first
    'from' row's, each column falling back to the direct sender, then ''.
    ``name`` is the first row's name chain (search and listing differ)."""
    first = _first_from()
    return [
        F.coalesce(first["email"], F.col("sender_email"), F.lit("")).alias(
            "from_email"
        ),
        F.coalesce(
            F.when(first.isNotNull(), name),
            F.col("sender_display_name"),
            F.lit(""),
        ).alias("from_name"),
        F.coalesce(
            F.when(first.isNotNull(), F.coalesce(first["phone"], F.lit(""))),
            F.col("sender_phone"),
            F.lit(""),
        ).alias("from_phone"),
    ]


def search_sender() -> list[Column]:
    """The join path's ``_sender_resolution`` columns (search, id
    hydration, detail): the first 'from' row's participant name chain."""
    first = _first_from()
    name = F.coalesce(
        participant_name(first["display_name"], first["phone"], first["email"]),
        F.lit(""),
    )
    return _resolved_sender(name)


def compile_search_wide(
    wide: DataFrame,
    q: ParsedQuery,
    filter_: MessageFilter | None = None,
    email_only: bool = True,
) -> DataFrame:
    """``compile_search`` over the wide record: the matching messages'
    columns plus resolved from_email/from_name/from_phone."""
    from msgvault_spark.plans.aggregate import live_messages
    from msgvault_spark.sources.cache import WIDE_EXTRA_COLUMNS

    filter_ = filter_ or MessageFilter()
    df = live_messages(wide, filter_.hide_deleted_from_source)
    if email_only:
        df = df.filter(email_only_predicate())

    source_ids = filter_.source_ids if filter_.source_ids is not None else (
        q.account_ids or None
    )
    if source_ids is not None:
        df = df.filter(
            F.col("source_id").isin(*source_ids) if source_ids else F.lit(False)
        )
    for after in (filter_.after, q.after_date):
        if after is not None:
            df = df.filter(F.col("sent_at") >= F.lit(after))
    for before in (filter_.before, q.before_date):
        if before is not None:
            df = df.filter(F.col("sent_at") < F.lit(before))
    if filter_.with_attachments_only or q.has_attachment:
        df = df.filter(F.col("has_attachments") == F.lit(True))
    if q.larger_than is not None:
        df = df.filter(F.col("size_estimate") > q.larger_than)
    if q.smaller_than is not None:
        df = df.filter(F.col("size_estimate") < q.smaller_than)
    if filter_.time_period:
        g = infer_time_granularity(filter_.time_granularity, filter_.time_period)
        df = df.filter(time_key(g) == filter_.time_period)
    for term in q.subject_terms:
        df = df.filter(_ilike(F.col("subject"), term))

    # --- the join path's semi-joins: EXISTS over the nested rows ----------
    if filter_.sender:
        s = filter_.sender
        df = df.filter(
            F.array_contains(F.col("from_rows.email"), s)
            | F.array_contains(F.col("from_rows.phone"), s)
            | (F.col("sender_email") == s)
            | (F.col("sender_phone") == s)
        )
    if filter_.recipient:
        r = filter_.recipient
        df = df.filter(
            F.array_contains(F.col("recipient_rows.email"), r)
            | F.array_contains(F.col("recipient_rows.phone"), r)
        )
    if filter_.label:
        label = filter_.label
        df = df.filter(F.exists("labels", lambda x: ilike_equals(x, label)))
    for label in q.labels:
        df = df.filter(_any_ilike(F.col("labels"), label))
    for addr in q.from_addrs:
        df = df.filter(
            _any_ilike(F.col("from_rows.email"), addr)
            | _any_ilike(F.col("from_rows.phone"), addr)
            | _any_ilike(F.col("from_rows.display_name"), addr)
            | _ilike(F.col("sender_email"), addr)
            | _ilike(F.col("sender_phone"), addr)
            | _ilike(F.col("sender_display_name"), addr)
        )
    # to:/cc:/bcc: all probe the merged to∪cc∪bcc rows, email or phone
    for addr in q.to_addrs + q.cc_addrs + q.bcc_addrs:
        df = df.filter(
            _any_ilike(
                F.col("recipient_rows.email"), addr, F.col("recipient_emails_lc")
            )
            | _any_ilike(
                F.col("recipient_rows.phone"), addr, F.col("recipient_phones_lc")
            )
        )

    # --- sender resolution + last-stage predicates -------------------------
    decorated = df.select(
        *[c for c in df.columns if c not in WIDE_EXTRA_COLUMNS],
        *search_sender(),
    )
    if filter_.domain:
        decorated = decorated.filter(
            ilike_endswith(F.col("from_email"), "@" + filter_.domain)
        )
    for term in q.text_terms:
        decorated = decorated.filter(
            _ilike(F.col("subject"), term)
            | _ilike(F.coalesce(F.col("snippet"), F.lit("")), term)
            | _ilike(F.col("from_email"), term)
            | _ilike(F.col("from_name"), term)
            | _ilike(F.col("from_phone"), term)
        )
    return decorated


def search_fast_wide(
    wide: DataFrame,
    query: str | ParsedQuery,
    filter_: MessageFilter | None = None,
    limit: int = 100,
) -> DataFrame:
    """``search_fast`` over the wide record: top page by recency."""
    q = parse_query(query) if isinstance(query, str) else query
    return (
        compile_search_wide(wide, q, filter_)
        .select(
            "id",
            F.coalesce(F.col("subject"), F.lit("")).alias("subject"),
            F.coalesce(F.col("snippet"), F.lit("")).alias("snippet"),
            "from_email",
            "from_name",
            "sent_at",
            F.coalesce(F.col("size_estimate"), F.lit(0)).alias("size_estimate"),
            F.coalesce(F.col("has_attachments"), F.lit(False)).alias(
                "has_attachments"
            ),
        )
        .orderBy(F.col("sent_at").desc(), F.col("id").desc())
        .limit(limit)
    )


def list_messages_wide(
    wide: DataFrame,
    conversations: DataFrame,
    filter_: MessageFilter,
) -> DataFrame:
    """``list_messages`` over the wide record: the page of filtered
    messages (apply_message_filter_wide), decorated from the record's own
    rows — the listing's name chain prefers the 'from' row's display
    name — plus one broadcast join against conversations."""
    from msgvault_spark.plans.filters import apply_message_filter_wide
    from msgvault_spark.plans.listing import _sort_cols

    filtered = apply_message_filter_wide(wide, filter_)
    order = _sort_cols(filter_)
    limit = filter_.pagination.limit or 500
    offset = filter_.pagination.offset
    # native OFFSET (O4): distributed TakeOrdered, not a global window
    page = filtered.orderBy(*order)
    if offset:
        page = page.offset(offset)
    page = page.limit(limit)

    conv = conversations.select(
        F.col("id").alias("conv_id"),
        F.col("source_conversation_id").alias("c_source_conversation_id"),
        F.col("title").alias("c_title"),
    )
    return (
        page.join(F.broadcast(conv), F.col("conversation_id") == F.col("conv_id"), "left")
        .select(
            F.col("id"),
            F.coalesce(F.col("source_message_id"), F.lit("")).alias(
                "source_message_id"
            ),
            F.coalesce(F.col("conversation_id"), F.lit(0)).alias("conversation_id"),
            F.coalesce(F.col("c_source_conversation_id"), F.lit("")).alias(
                "source_conversation_id"
            ),
            F.coalesce(F.col("subject"), F.lit("")).alias("subject"),
            F.coalesce(F.col("snippet"), F.lit("")).alias("snippet"),
            *_resolved_sender(recipient_name(_first_from())),
            F.col("sent_at"),
            F.coalesce(F.col("size_estimate"), F.lit(0)).alias("size_estimate"),
            F.coalesce(F.col("has_attachments"), F.lit(False)).alias(
                "has_attachments"
            ),
            F.coalesce(F.col("attachment_count"), F.lit(0)).alias(
                "attachment_count"
            ),
            F.coalesce(F.col("message_type"), F.lit("")).alias("message_type"),
            F.coalesce(F.col("c_title"), F.lit("")).alias("conv_title"),
        )
        .transform(present_sorted, *order)
    )
