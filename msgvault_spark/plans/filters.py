"""MessageFilter → DataFrame compilation.

The reference expresses drill-down filters as EXISTS / NOT EXISTS subqueries
so they "become semi-joins and avoid duplicates without needing DISTINCT"
(internal/query/duckdb.go:844-1010). Here each filter is an explicit
left_semi / left_anti join against a message-id key set — the same physical
plan the reference relies on DuckDB to reach, declared directly.

All intermediate frames use rename-projections and string column references
so the same base tables can re-enter downstream plans (sub-aggregates join
message_recipients/participants again) without self-join ambiguity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from msgvault_spark.functions.text import (
    ilike_equals,
    participant_name,
    time_key,
)
from msgvault_spark.plans.models import (
    MessageFilter,
    ViewType,
    infer_time_granularity,
)


def _p_renamed(p: DataFrame) -> DataFrame:
    return p.select(
        F.col("id").alias("p_id"),
        F.col("email_address").alias("p_email"),
        F.col("domain").alias("p_domain"),
        F.col("display_name").alias("p_display"),
        F.col("phone_number").alias("p_phone"),
    )


def _p_name() -> Column:
    """display_name → phone → email fallback on a _p_renamed frame."""
    return F.coalesce(
        F.when(F.trim(F.col("p_display")) != "", F.trim(F.col("p_display"))),
        F.when(F.col("p_phone") != "", F.col("p_phone")),
        F.col("p_email"),
    )


def _recipient_ids(
    mr: DataFrame, p: DataFrame, types: tuple[str, ...], p_cond: Column
) -> DataFrame:
    """message ids having a recipient of ``types`` whose participant matches
    ``p_cond`` (evaluated over the renamed participant columns)."""
    matches = F.broadcast(_p_renamed(p).filter(p_cond).select("p_id"))
    return (
        mr.filter(F.col("recipient_type").isin(*types))
        .join(matches, F.col("participant_id") == F.col("p_id"))
        .select(F.col("message_id").alias("id"))
    )


def _direct_sender_ids(msg: DataFrame, p: DataFrame, p_cond: Column) -> DataFrame:
    matches = F.broadcast(_p_renamed(p).filter(p_cond).select("p_id"))
    return msg.join(matches, F.col("sender_id") == F.col("p_id")).select("id")


def apply_message_filter(
    archive: dict[str, DataFrame], filter_: MessageFilter
) -> DataFrame:
    """Return the messages DataFrame restricted by ``filter_``. All columns of
    ``messages`` are preserved (the result can re-enter aggregate())."""
    from msgvault_spark.plans.aggregate import live_messages

    msg = live_messages(archive["messages"], filter_.hide_deleted_from_source)
    mr = archive["message_recipients"]
    p = archive["participants"]
    ml = archive["message_labels"]
    lbl = archive["labels"]

    # --- plain column predicates -------------------------------------------
    if filter_.source_ids is not None:
        if len(filter_.source_ids) == 0:
            msg = msg.filter(F.lit(False))
        else:
            msg = msg.filter(F.col("source_id").isin(*filter_.source_ids))
    if filter_.conversation_id is not None:
        msg = msg.filter(F.col("conversation_id") == filter_.conversation_id)
    if filter_.after is not None:
        msg = msg.filter(F.col("sent_at") >= F.lit(filter_.after))
    if filter_.before is not None:
        msg = msg.filter(F.col("sent_at") < F.lit(filter_.before))
    if filter_.with_attachments_only:
        msg = msg.filter(F.col("has_attachments") == F.lit(True))
    if filter_.time_period:
        g = infer_time_granularity(filter_.time_granularity, filter_.time_period)
        msg = msg.filter(time_key(g) == filter_.time_period)

    # --- join-based filters as semi/anti joins -----------------------------
    if filter_.sender:
        # dual-path: 'from' recipient row (email) OR direct sender_id (chat)
        # (reference duckdb.go:875-887)
        cond = (F.col("p_email") == filter_.sender) | (
            F.col("p_phone") == filter_.sender
        )
        ids = _recipient_ids(mr, p, ("from",), cond).union(
            _direct_sender_ids(msg, p, cond)
        )
        msg = msg.join(ids.distinct(), "id", "left_semi")
    elif ViewType.SENDERS in filter_.empty_value_targets:
        # empty sender: no from-recipient with an address AND no sender_id
        # (reference duckdb.go:888-899)
        has_addr = (
            F.col("p_email").isNotNull() & (F.col("p_email") != "")
        ) | (F.col("p_phone").isNotNull() & (F.col("p_phone") != ""))
        msg = msg.filter(F.col("sender_id").isNull()).join(
            _recipient_ids(mr, p, ("from",), has_addr), "id", "left_anti"
        )

    if filter_.sender_name:
        cond = _p_name() == filter_.sender_name
        ids = _recipient_ids(mr, p, ("from",), cond).union(
            _direct_sender_ids(msg, p, cond)
        )
        msg = msg.join(ids.distinct(), "id", "left_semi")
    elif ViewType.SENDER_NAMES in filter_.empty_value_targets:
        named = _p_name().isNotNull()
        msg = msg.join(
            _recipient_ids(mr, p, ("from",), named), "id", "left_anti"
        ).join(_direct_sender_ids(msg, p, named), "id", "left_anti")

    if filter_.recipient:
        msg = msg.join(
            _recipient_ids(
                mr, p, ("to", "cc", "bcc"), F.col("p_email") == filter_.recipient
            ),
            "id",
            "left_semi",
        )
    elif ViewType.RECIPIENTS in filter_.empty_value_targets:
        any_rec = mr.filter(
            F.col("recipient_type").isin("to", "cc", "bcc")
        ).select(F.col("message_id").alias("id"))
        msg = msg.join(any_rec, "id", "left_anti")

    if filter_.recipient_name:
        msg = msg.join(
            _recipient_ids(
                mr, p, ("to", "cc", "bcc"), _p_name() == filter_.recipient_name
            ),
            "id",
            "left_semi",
        )
    elif ViewType.RECIPIENT_NAMES in filter_.empty_value_targets:
        msg = msg.join(
            _recipient_ids(mr, p, ("to", "cc", "bcc"), _p_name().isNotNull()),
            "id",
            "left_anti",
        )

    if filter_.domain:
        msg = msg.join(
            _recipient_ids(mr, p, ("from",), F.col("p_domain") == filter_.domain),
            "id",
            "left_semi",
        )
    elif ViewType.DOMAINS in filter_.empty_value_targets:
        msg = msg.join(
            _recipient_ids(
                mr,
                p,
                ("from",),
                F.col("p_domain").isNotNull() & (F.col("p_domain") != ""),
            ),
            "id",
            "left_anti",
        )

    if filter_.label:
        # case-insensitive with wildcard escaping (reference duckdb.go:977-984);
        # compiled as lowered equality (functions/text.ilike_equals)
        matched = F.broadcast(
            lbl.filter(ilike_equals(F.col("name"), filter_.label)).select(
                F.col("id").alias("lbl_id")
            )
        )
        lab_ids = ml.join(matched, F.col("label_id") == F.col("lbl_id")).select(
            F.col("message_id").alias("id")
        )
        msg = msg.join(lab_ids, "id", "left_semi")
    elif ViewType.LABELS in filter_.empty_value_targets:
        msg = msg.join(
            ml.select(F.col("message_id").alias("id")), "id", "left_anti"
        )

    return msg


def _row_name(r: Column) -> Column:
    return participant_name(r["display_name"], r["phone"], r["email"])


def _sender_name() -> Column:
    return participant_name(
        F.col("sender_display_name"), F.col("sender_phone"), F.col("sender_email")
    )


def apply_message_filter_wide(
    wide: DataFrame, filter_: MessageFilter
) -> DataFrame:
    """``apply_message_filter`` over the denormalized wide record
    (sources/cache.build_wide_messages), clause for clause: each semi-join
    becomes an EXISTS over the record's nested junction rows and each
    anti-join its negation, so the same messages pass. All wide columns
    are preserved (the result can re-enter aggregate_wide())."""
    from msgvault_spark.plans.aggregate import live_messages

    msg = live_messages(wide, filter_.hide_deleted_from_source)
    froms, recips = F.col("from_rows"), F.col("recipient_rows")

    # --- plain column predicates -------------------------------------------
    if filter_.source_ids is not None:
        if len(filter_.source_ids) == 0:
            msg = msg.filter(F.lit(False))
        else:
            msg = msg.filter(F.col("source_id").isin(*filter_.source_ids))
    if filter_.conversation_id is not None:
        msg = msg.filter(F.col("conversation_id") == filter_.conversation_id)
    if filter_.after is not None:
        msg = msg.filter(F.col("sent_at") >= F.lit(filter_.after))
    if filter_.before is not None:
        msg = msg.filter(F.col("sent_at") < F.lit(filter_.before))
    if filter_.with_attachments_only:
        msg = msg.filter(F.col("has_attachments") == F.lit(True))
    if filter_.time_period:
        g = infer_time_granularity(filter_.time_granularity, filter_.time_period)
        msg = msg.filter(time_key(g) == filter_.time_period)

    # --- junction filters as EXISTS over the nested rows -------------------
    # Anti-join predicates below are never NULL, so their negation keeps
    # exactly the rows the anti-join keeps.
    if filter_.sender:
        s = filter_.sender
        msg = msg.filter(
            F.array_contains(F.col("from_rows.email"), s)
            | F.array_contains(F.col("from_rows.phone"), s)
            | (F.col("sender_email") == s)
            | (F.col("sender_phone") == s)
        )
    elif ViewType.SENDERS in filter_.empty_value_targets:
        msg = msg.filter(
            F.col("sender_id").isNull()
            & ~F.exists(
                froms,
                lambda r: (r["email"].isNotNull() & (r["email"] != ""))
                | (r["phone"].isNotNull() & (r["phone"] != "")),
            )
        )

    if filter_.sender_name:
        n = filter_.sender_name
        msg = msg.filter(
            F.exists(froms, lambda r: _row_name(r) == n) | (_sender_name() == n)
        )
    elif ViewType.SENDER_NAMES in filter_.empty_value_targets:
        msg = msg.filter(
            ~F.exists(froms, lambda r: _row_name(r).isNotNull())
            & _sender_name().isNull()
        )

    if filter_.recipient:
        msg = msg.filter(
            F.array_contains(F.col("recipient_rows.email"), filter_.recipient)
        )
    elif ViewType.RECIPIENTS in filter_.empty_value_targets:
        msg = msg.filter(F.size(recips) == 0)

    if filter_.recipient_name:
        n = filter_.recipient_name
        msg = msg.filter(F.exists(recips, lambda r: _row_name(r) == n))
    elif ViewType.RECIPIENT_NAMES in filter_.empty_value_targets:
        msg = msg.filter(~F.exists(recips, lambda r: _row_name(r).isNotNull()))

    if filter_.domain:
        msg = msg.filter(F.array_contains(F.col("from_rows.domain"), filter_.domain))
    elif ViewType.DOMAINS in filter_.empty_value_targets:
        msg = msg.filter(
            ~F.exists(
                froms, lambda r: r["domain"].isNotNull() & (r["domain"] != "")
            )
        )

    if filter_.label:
        label = filter_.label
        msg = msg.filter(F.exists("labels", lambda x: ilike_equals(x, label)))
    elif ViewType.LABELS in filter_.empty_value_targets:
        msg = msg.filter(F.size("labels") == 0)

    return msg
