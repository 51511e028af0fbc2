"""Metadata fast-search over the parquet archive (Q3) and the
materialize-once search-with-stats pattern (Q4).

Rebuild of SearchFast / SearchFastWithStats (reference
internal/query/duckdb.go:1844-1963,2190-2300,2302-2475). The reference
materializes matching ids+sender into a DuckDB temp table keyed by
(conditions,args) and reuses it for count/stats/pages; the Spark-first
equivalent is a persisted DataFrame reused across those actions.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from msgvault_spark.functions.text import (
    email_only_predicate,
    ilike_contains,
    ilike_endswith,
    ilike_equals,
    time_key,
)
from msgvault_spark.plans.filters import _p_renamed, _recipient_ids
from msgvault_spark.plans.models import MessageFilter, infer_time_granularity
from msgvault_spark.search.parser import ParsedQuery

# lowered-contains compilation of ILIKE '%escaped%' (functions/text.py)
_ilike = ilike_contains


def _sender_resolution(msg: DataFrame, mr: DataFrame, p: DataFrame) -> DataFrame:
    """Per-message from_email/name/phone: min_by-deterministic first 'from'
    recipient, falling back to the direct sender_id path (J6)."""
    p_ren = _p_renamed(p)
    from_rows = (
        mr.filter(F.col("recipient_type") == "from")
        .join(F.broadcast(p_ren), F.col("participant_id") == F.col("p_id"))
        .select(
            F.col("message_id"),
            F.col("p_email").alias("_email"),
            F.coalesce(
                F.when(F.trim(F.col("p_display")) != "", F.trim(F.col("p_display"))),
                F.when(F.col("p_phone") != "", F.col("p_phone")),
                F.col("p_email"),
                F.lit(""),
            ).alias("_name"),
            F.coalesce(F.col("p_phone"), F.lit("")).alias("_phone"),
            F.col("participant_id").alias("_pid"),
        )
        .groupBy("message_id")
        .agg(
            F.min_by("_email", "_pid").alias("ms_email"),
            F.min_by("_name", "_pid").alias("ms_name"),
            F.min_by("_phone", "_pid").alias("ms_phone"),
        )
    )
    direct = (
        msg.filter(F.col("sender_id").isNotNull())
        .join(F.broadcast(p_ren), F.col("sender_id") == F.col("p_id"))
        .select(
            F.col("id").alias("d_message_id"),
            F.coalesce(F.col("p_email"), F.lit("")).alias("ds_email"),
            F.coalesce(F.col("p_display"), F.lit("")).alias("ds_name"),
            F.coalesce(F.col("p_phone"), F.lit("")).alias("ds_phone"),
        )
    )
    return (
        msg.join(from_rows, F.col("id") == F.col("message_id"), "left")
        .join(direct, F.col("id") == F.col("d_message_id"), "left")
        .withColumn("from_email", F.coalesce(F.col("ms_email"), F.col("ds_email"), F.lit("")))
        .withColumn("from_name", F.coalesce(F.col("ms_name"), F.col("ds_name"), F.lit("")))
        .withColumn("from_phone", F.coalesce(F.col("ms_phone"), F.col("ds_phone"), F.lit("")))
        .drop("message_id", "d_message_id", "ms_email", "ms_name", "ms_phone",
              "ds_email", "ds_name", "ds_phone")
    )


def compile_search(
    archive: dict[str, DataFrame],
    q: ParsedQuery,
    filter_: MessageFilter | None = None,
    email_only: bool = True,
) -> DataFrame:
    """Compile (parsed query, drill-down filter) → matching messages with
    resolved sender columns. Cheap column predicates go first (pushed to the
    scan); join-backed predicates become semi-joins; text terms — which need
    the resolved sender — filter last."""
    from msgvault_spark.plans.aggregate import live_messages

    filter_ = filter_ or MessageFilter()
    msg = live_messages(archive["messages"], filter_.hide_deleted_from_source)
    mr = archive["message_recipients"]
    p = archive["participants"]
    ml = archive["message_labels"]
    lbl = archive["labels"]

    if email_only:
        msg = msg.filter(email_only_predicate())

    # --- cheap pushed-down predicates --------------------------------------
    source_ids = filter_.source_ids if filter_.source_ids is not None else (
        q.account_ids or None
    )
    if source_ids is not None:
        msg = msg.filter(
            F.col("source_id").isin(*source_ids) if source_ids else F.lit(False)
        )
    for after in (filter_.after, q.after_date):
        if after is not None:
            msg = msg.filter(F.col("sent_at") >= F.lit(after))
    for before in (filter_.before, q.before_date):
        if before is not None:
            msg = msg.filter(F.col("sent_at") < F.lit(before))
    if filter_.with_attachments_only or q.has_attachment:
        msg = msg.filter(F.col("has_attachments") == F.lit(True))
    if q.larger_than is not None:
        msg = msg.filter(F.col("size_estimate") > q.larger_than)
    if q.smaller_than is not None:
        msg = msg.filter(F.col("size_estimate") < q.smaller_than)
    if filter_.time_period:
        g = infer_time_granularity(filter_.time_granularity, filter_.time_period)
        msg = msg.filter(time_key(g) == filter_.time_period)
    for term in q.subject_terms:
        msg = msg.filter(_ilike(F.col("subject"), term))

    # --- join-backed predicates as semi-joins ------------------------------
    if filter_.sender:
        cond = (F.col("p_email") == filter_.sender) | (
            F.col("p_phone") == filter_.sender
        )
        ids = _recipient_ids(mr, p, ("from",), cond)
        direct = msg.join(
            F.broadcast(_p_renamed(p).filter(cond).select("p_id")),
            F.col("sender_id") == F.col("p_id"),
        ).select("id")
        msg = msg.join(ids.union(direct).distinct(), "id", "left_semi")
    if filter_.recipient:
        cond = (F.col("p_email") == filter_.recipient) | (
            F.col("p_phone") == filter_.recipient
        )
        msg = msg.join(
            _recipient_ids(mr, p, ("to", "cc", "bcc"), cond), "id", "left_semi"
        )
    if filter_.label:
        matched = F.broadcast(
            lbl.filter(ilike_equals(F.col("name"), filter_.label)).select(
                F.col("id").alias("lbl_id")
            )
        )
        msg = msg.join(
            ml.join(matched, F.col("label_id") == F.col("lbl_id")).select(
                F.col("message_id").alias("id")
            ),
            "id",
            "left_semi",
        )
    for label in q.labels:
        matched = F.broadcast(
            lbl.filter(_ilike(F.col("name"), label)).select(
                F.col("id").alias("lbl_id")
            )
        )
        msg = msg.join(
            ml.join(matched, F.col("label_id") == F.col("lbl_id")).select(
                F.col("message_id").alias("id")
            ),
            "id",
            "left_semi",
        )
    for addr in q.from_addrs:
        cond = (
            _ilike(F.col("p_email"), addr)
            | _ilike(F.col("p_phone"), addr)
            | _ilike(F.col("p_display"), addr)
        )
        ids = _recipient_ids(mr, p, ("from",), cond)
        direct = msg.join(
            F.broadcast(_p_renamed(p).filter(cond).select("p_id")),
            F.col("sender_id") == F.col("p_id"),
        ).select("id")
        msg = msg.join(ids.union(direct).distinct(), "id", "left_semi")
    for addr in q.to_addrs + q.cc_addrs + q.bcc_addrs:
        cond = _ilike(F.col("p_email"), addr) | _ilike(F.col("p_phone"), addr)
        msg = msg.join(
            _recipient_ids(mr, p, ("to", "cc", "bcc"), cond), "id", "left_semi"
        )

    # --- sender resolution + last-stage predicates -------------------------
    decorated = _sender_resolution(msg, mr, p)
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


def search_fast(
    archive: dict[str, DataFrame],
    query: str | ParsedQuery,
    filter_: MessageFilter | None = None,
    limit: int = 100,
) -> DataFrame:
    """One-shot search returning the top page by recency (reference
    SearchFast, duckdb.go:1844-1963)."""
    from msgvault_spark.search.parser import parse_query

    q = parse_query(query) if isinstance(query, str) else query
    decorated = compile_search(archive, q, filter_)
    return (
        decorated.select(
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


class SearchWithStats:
    """Materialize-once search (Q4): one persisted match set feeds count,
    stats, and every page — the reference's temp-table cache
    (duckdb.go:2190-2300) as a persisted DataFrame."""

    def __init__(self, source: dict[str, DataFrame] | DataFrame,
                 query: str | ParsedQuery,
                 filter_: MessageFilter | None = None):
        """``source``: the archive (join path, ``compile_search``) or the
        wide record (``fast_wide.compile_search_wide``, same matches)."""
        from msgvault_spark.search.fast_wide import compile_search_wide
        from msgvault_spark.search.parser import parse_query

        q = parse_query(query) if isinstance(query, str) else query
        compile_ = (
            compile_search_wide if isinstance(source, DataFrame) else compile_search
        )
        self.matches = compile_(source, q, filter_).persist(
            StorageLevel.MEMORY_AND_DISK
        )

    def count(self) -> int:
        return self.matches.count()

    def stats(self) -> DataFrame:
        return self.matches.agg(
            F.count(F.lit(1)).alias("message_count"),
            F.coalesce(F.sum(F.col("size_estimate").cast("long")), F.lit(0)).alias(
                "total_size"
            ),
            F.coalesce(
                F.sum(F.col("attachment_count").cast("long")), F.lit(0)
            ).alias("attachment_count"),
        )

    def page(self, limit: int = 100, offset: int = 0) -> DataFrame:
        """O4 pagination: native OFFSET compiles to ONE distributed
        TakeOrderedAndProject(limit=offset+limit, offset) — a per-partition
        k-heap + single reduce, never the single-partition global window
        a row_number() spelling would force."""
        ordered = self.matches.orderBy(F.col("sent_at").desc(), F.col("id").desc())
        if not offset:
            return ordered.limit(limit)
        return ordered.offset(offset).limit(limit)

    def release(self) -> None:
        self.matches.unpersist()


def search_by_domains(
    archive: dict[str, DataFrame],
    domains: list[str],
    limit: int = 100,
) -> DataFrame:
    """Domain search across ALL roles — from/to/cc/bcc (Q6, reference
    SearchByDomains sqlite.go:1149-1193): a single semi-join against
    participants restricted to the domain list, no per-role scans."""
    msg = archive["messages"]
    mr = archive["message_recipients"]
    p = archive["participants"]
    dom_ids = (
        mr.join(
            F.broadcast(
                p.filter(F.col("domain").isin(*domains)).select(
                    F.col("id").alias("p_id")
                )
            ),
            F.col("participant_id") == F.col("p_id"),
        )
        .select(F.col("message_id").alias("id"))
    )
    return (
        msg.join(dom_ids, "id", "left_semi")
        .select(
            "id",
            F.coalesce(F.col("subject"), F.lit("")).alias("subject"),
            "sent_at",
        )
        .orderBy(F.col("sent_at").desc(), F.col("id").desc())
        .limit(limit)
    )
