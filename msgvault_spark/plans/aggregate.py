"""Aggregate views: the 7 ViewType group-bys with drill-down filters.

Spark-first rebuild of the reference's runAggregation/getViewDef/SubAggregate
(internal/query/duckdb.go:649-1065). Differences by design:

  - ``COUNT(*) OVER()`` (total_unique alongside top-k rows, duckdb.go:794)
    would force every group onto ONE partition in Spark; instead the grouped
    result is computed once and the distinct-group count is cross-joined as a
    broadcast scalar — same result, no single-partition window.
  - EXISTS/NOT EXISTS filter subqueries become explicit left_semi/left_anti
    joins (the reference's own stated intent: "becomes semi-joins and avoid
    duplicates without needing DISTINCT", duckdb.go:844-846).
  - participants/labels are broadcast (small dims); the fact-side joins
    shuffle on message_id only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from msgvault_spark.functions.text import (
    ilike_contains,
    participant_name,
    time_key,
)
from msgvault_spark.plans.models import (
    AggregateOptions,
    MessageFilter,
    SortDirection,
    SortField,
    TimeGranularity,
    ViewType,
    infer_time_granularity,
)


def live_messages(messages: DataFrame, hide_deleted_from_source: bool = False) -> DataFrame:
    """Always-on soft-delete predicate (reference store/live_messages.go:35-53).
    The parquet cache already excludes dedup-deleted rows; deleted_at may be
    absent entirely — filter only on columns present."""
    df = messages
    if "deleted_at" in df.columns:
        df = df.filter(F.col("deleted_at").isNull())
    if hide_deleted_from_source and "deleted_from_source_at" in df.columns:
        df = df.filter(F.col("deleted_from_source_at").isNull())
    return df


def _attachment_preagg(attachments: DataFrame) -> DataFrame:
    """Partial aggregation before join (A4, reference duckdb.go:396-401):
    per-message attachment size/count, joined to the fact *after* grouping
    interest is established — keeps the fact⋈attachment join 1:1."""
    return attachments.groupBy("message_id").agg(
        F.sum("size").alias("attachment_size"),
        F.count(F.lit(1)).alias("attachment_count"),
    )


def _base_message_predicates(
    opts: AggregateOptions,
) -> list[Column]:
    conds: list[Column] = []
    if opts.source_ids is not None:
        if len(opts.source_ids) == 0:
            conds.append(F.lit(False))  # empty IN-list → 1=0 (source_filter.go:9-40)
        else:
            conds.append(F.col("source_id").isin(*opts.source_ids))
    if opts.after is not None:
        conds.append(F.col("sent_at") >= F.lit(opts.after))
    if opts.before is not None:
        conds.append(F.col("sent_at") < F.lit(opts.before))
    if opts.with_attachments_only:
        conds.append(F.col("has_attachments") == F.lit(True))
    return conds


# view → (recipient_type predicate on mr, key from participants)
_SENDER_TYPES = ("from",)
_RECIPIENT_TYPES = ("to", "cc", "bcc")


def aggregate(
    archive: dict[str, DataFrame],
    view: ViewType,
    opts: AggregateOptions | None = None,
) -> DataFrame:
    """Compile one aggregate view to a DataFrame with columns
    (key, count, total_size, attachment_size, attachment_count, total_unique),
    sorted and limited per opts (reference runAggregation duckdb.go:773-807).
    """
    opts = opts or AggregateOptions()
    msg = live_messages(archive["messages"], opts.hide_deleted_from_source)
    for cond in _base_message_predicates(opts):
        msg = msg.filter(cond)

    # Rename-projection discipline: joined frames carry globally-unique column
    # names and all references are by name, so the same base table can appear
    # multiple times in one plan (drill-down + aggregate both touch mr/p)
    # without ambiguous-self-join failures.
    mr = archive["message_recipients"].select(
        F.col("message_id"),
        F.col("participant_id"),
        F.col("recipient_type"),
    )
    p = archive["participants"].select(
        F.col("id").alias("p_id"),
        F.col("email_address").alias("p_email"),
        F.col("domain").alias("p_domain"),
        F.col("display_name").alias("p_display"),
        F.col("phone_number").alias("p_phone"),
    )
    name_key = F.coalesce(
        F.when(F.trim(F.col("p_display")) != "", F.trim(F.col("p_display"))),
        F.when(F.col("p_phone") != "", F.col("p_phone")),
        F.col("p_email"),
    )

    if view in (ViewType.SENDERS, ViewType.SENDER_NAMES, ViewType.DOMAINS):
        joined = msg.join(
            mr.filter(F.col("recipient_type").isin(*_SENDER_TYPES)),
            F.col("id") == F.col("message_id"),
        ).join(F.broadcast(p), F.col("participant_id") == F.col("p_id"))
        if view == ViewType.SENDERS:
            key = F.col("p_email")
            null_guard = key.isNotNull()
        elif view == ViewType.DOMAINS:
            key = F.col("p_domain")
            null_guard = key.isNotNull() & (key != "")
        else:
            key = name_key
            null_guard = key.isNotNull()
    elif view in (ViewType.RECIPIENTS, ViewType.RECIPIENT_NAMES):
        joined = msg.join(
            mr.filter(F.col("recipient_type").isin(*_RECIPIENT_TYPES)),
            F.col("id") == F.col("message_id"),
        ).join(F.broadcast(p), F.col("participant_id") == F.col("p_id"))
        key = F.col("p_email") if view == ViewType.RECIPIENTS else name_key
        null_guard = key.isNotNull()
    elif view == ViewType.LABELS:
        ml = archive["message_labels"]
        lbl = archive["labels"].select(
            F.col("id").alias("lbl_id"), F.col("name").alias("lbl_name")
        )
        joined = msg.join(ml, F.col("id") == F.col("message_id")).join(
            F.broadcast(lbl), F.col("label_id") == F.col("lbl_id")
        )
        key = F.col("lbl_name")
        null_guard = key.isNotNull()
    elif view == ViewType.TIME:
        joined = msg
        key = time_key(opts.time_granularity)
        null_guard = F.col("sent_at").isNotNull()
    else:  # pragma: no cover
        raise ValueError(f"unsupported view type: {view}")

    # aggregate-scoped text search filters on the view's key columns (Q5,
    # reference buildAggregateSearchConditions duckdb.go:435-476)
    if opts.search_query:
        terms = [t for t in opts.search_query.split() if t]
        for term in terms:
            cond = ilike_contains(F.col("subject"), term) | ilike_contains(
                F.col("snippet"), term
            )
            cond = cond | ilike_contains(key, term)
            joined = joined.filter(cond)

    joined = joined.filter(null_guard)

    # project down to (key, msg_id, size) before the attachment join: avoids
    # id-column ambiguity and keeps the shuffled payload minimal
    slim = joined.select(
        key.alias("key"),
        F.col("id").alias("msg_id"),
        F.col("size_estimate").cast("long").alias("size_estimate"),
    )
    att = _attachment_preagg(archive["attachments"])
    slim = slim.join(att, slim["msg_id"] == att["message_id"], "left")

    grouped = slim.groupBy("key").agg(
        F.count(F.lit(1)).alias("count"),
        F.coalesce(F.sum(F.col("size_estimate").cast("long")), F.lit(0)).alias(
            "total_size"
        ),
        F.coalesce(F.sum("attachment_size"), F.lit(0)).cast("long").alias(
            "attachment_size"
        ),
        F.coalesce(F.sum("attachment_count"), F.lit(0)).cast("long").alias(
            "attachment_count"
        ),
    )

    # total_unique: distinct group count next to every row (W1) without a
    # global window — broadcast a 1-row count and cross join.
    total = grouped.agg(F.count(F.lit(1)).alias("total_unique"))
    grouped = grouped.crossJoin(F.broadcast(total))

    return sort_and_limit(grouped, opts)


def aggregate_wide(
    wide: DataFrame,
    view: ViewType,
    opts: AggregateOptions | None = None,
    *,
    total_unique: int | None = None,
) -> DataFrame:
    """``aggregate`` over the denormalized wide record
    (sources/cache.build_wide_messages): scan + hash-agg, no join — the
    100 TB fast path, same answer as the join path clause for clause. A
    junction view explodes the record's nested rows, so each 'from' row,
    to/cc/bcc row or label row is one group row, exactly the
    msg ⋈ junction ⋈ dim rows ``aggregate`` groups.

    ``total_unique``: the distinct-group count captured at ETL time (a
    catalog statistic, exactly like BM25's corpus constants) — folds in
    as a literal and removes the per-query 1-row broadcast job. Callers
    must pass it ONLY for the unfiltered corpus scope; any filtered
    drill-down keeps the in-plan total."""
    opts = opts or AggregateOptions()
    df = live_messages(wide, opts.hide_deleted_from_source)
    preds = _base_message_predicates(opts)
    if total_unique is not None and preds:
        # the ETL-captured statistic is only valid for the unfiltered corpus
        # scope; enforce the docstring's rule instead of trusting callers
        raise ValueError(
            "total_unique is an unfiltered-corpus statistic; drill-downs "
            "with base-message predicates must keep the in-plan total"
        )
    for cond in preds:
        df = df.filter(cond)

    rows = {
        ViewType.SENDERS: "from_rows",
        ViewType.SENDER_NAMES: "from_rows",
        ViewType.DOMAINS: "from_rows",
        ViewType.RECIPIENTS: "recipient_rows",
        ViewType.RECIPIENT_NAMES: "recipient_rows",
        ViewType.LABELS: "labels",
    }.get(view)
    if rows is not None:
        df = df.withColumn("_row", F.explode(rows))
    r = F.col("_row")
    if view in (ViewType.SENDERS, ViewType.RECIPIENTS):
        key = r["email"]
        null_guard = key.isNotNull()
    elif view == ViewType.DOMAINS:
        key = r["domain"]
        null_guard = key.isNotNull() & (key != "")
    elif view in (ViewType.SENDER_NAMES, ViewType.RECIPIENT_NAMES):
        key = participant_name(r["display_name"], r["phone"], r["email"])
        null_guard = key.isNotNull()
    elif view == ViewType.LABELS:
        key = r
        null_guard = key.isNotNull()
    elif view == ViewType.TIME:
        key = time_key(opts.time_granularity)
        null_guard = F.col("sent_at").isNotNull()
    else:  # pragma: no cover
        raise ValueError(f"unsupported view type: {view}")

    if opts.search_query:
        for term in opts.search_query.split():
            df = df.filter(
                ilike_contains(F.col("subject"), term)
                | ilike_contains(F.col("snippet"), term)
                | ilike_contains(key, term)
            )

    grouped = (
        df.filter(null_guard)
        .groupBy(key.alias("key"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.coalesce(F.sum(F.col("size_estimate").cast("long")), F.lit(0)).alias(
                "total_size"
            ),
            F.coalesce(F.sum("att_size_sum"), F.lit(0)).cast("long").alias(
                "attachment_size"
            ),
            F.coalesce(F.sum("att_count_sum"), F.lit(0)).cast("long").alias(
                "attachment_count"
            ),
        )
    )
    if total_unique is not None:
        # cast matches the count() path's BIGINT so schemas stay identical
        grouped = grouped.withColumn(
            "total_unique", F.lit(int(total_unique)).cast("long")
        )
    else:
        total = grouped.agg(F.count(F.lit(1)).alias("total_unique"))
        grouped = grouped.crossJoin(F.broadcast(total))
    return sort_and_limit(grouped, opts)


def sort_and_limit(grouped: DataFrame, opts: AggregateOptions) -> DataFrame:
    """Dynamic sort + top-k (O1/O2, reference sortClause duckdb.go:810-827)
    with a deterministic key tie-break (O6) so paging is reproducible."""
    field = {
        SortField.COUNT: "count",
        SortField.SIZE: "total_size",
        SortField.ATTACHMENT_SIZE: "attachment_size",
        SortField.NAME: "key",
    }[opts.sort_field]
    primary = F.col(field)
    primary = primary.desc() if opts.sort_direction == SortDirection.DESC else primary.asc()
    limit = opts.limit or 100
    return grouped.orderBy(primary, F.col("key").asc()).limit(limit)


def sub_aggregate(
    archive: dict[str, DataFrame],
    view: ViewType,
    filter_: MessageFilter,
    opts: AggregateOptions | None = None,
) -> DataFrame:
    """Drill-down: same grouping over a filter-restricted subset (A3,
    reference SubAggregate duckdb.go:1025-1065). Composition is free in
    DataFrame land: restrict messages, then aggregate."""
    from msgvault_spark.plans.filters import apply_message_filter

    restricted = dict(archive)
    restricted["messages"] = apply_message_filter(archive, filter_)
    return aggregate(restricted, view, opts)


def sub_aggregate_wide(
    wide: DataFrame,
    view: ViewType,
    filter_: MessageFilter,
    opts: AggregateOptions | None = None,
) -> DataFrame:
    """``sub_aggregate`` over the wide record: filter, then aggregate."""
    from msgvault_spark.plans.filters import apply_message_filter_wide

    return aggregate_wide(apply_message_filter_wide(wide, filter_), view, opts)


def total_stats(
    archive: dict[str, DataFrame],
    filter_: MessageFilter | None = None,
) -> DataFrame:
    """Global archive stats, no grouping (A9, reference GetTotalStats
    duckdb.go:1101-1179): message count, total size, attachment count/size,
    distinct accounts, distinct labels."""
    from msgvault_spark.plans.filters import apply_message_filter

    msg = (
        apply_message_filter(archive, filter_)
        if filter_ is not None
        else live_messages(archive["messages"])
    )
    # slim projection before the join: messages itself has an
    # attachment_count column that would collide with the pre-agg's
    msg = msg.select("id", "source_id", "size_estimate")
    att = _attachment_preagg(archive["attachments"])
    joined = msg.join(att, F.col("id") == F.col("message_id"), "left")
    label_ids = msg.select("id").join(
        archive["message_labels"], F.col("id") == F.col("message_id")
    )
    return _total_stats_row(joined, "attachment_count", "attachment_size", label_ids)


def total_stats_wide(wide: DataFrame) -> DataFrame:
    """``total_stats`` over the wide record: the live messages' own
    attachment sums and label ids, two aggregates over one scan."""
    live = live_messages(wide)
    return _total_stats_row(
        live,
        "att_count_sum",
        "att_size_sum",
        live.select(F.explode("label_ids").alias("label_id")),
    )


def _total_stats_row(
    msg: DataFrame, att_count: str, att_size: str, label_ids: DataFrame
) -> DataFrame:
    """The stats row: per-message attachment ``att_count``/``att_size``
    summed over ``msg``, distinct ``label_id`` over ``label_ids``."""
    core = msg.agg(
        F.count(F.lit(1)).alias("message_count"),
        F.coalesce(F.sum(F.col("size_estimate").cast("long")), F.lit(0)).alias(
            "total_size"
        ),
        F.coalesce(F.sum(att_count), F.lit(0)).cast("long").alias(
            "attachment_count"
        ),
        F.coalesce(F.sum(att_size), F.lit(0)).cast("long").alias(
            "attachment_size"
        ),
        F.count_distinct(F.col("source_id")).alias("account_count"),
    )
    label_count = label_ids.agg(
        F.count_distinct(F.col("label_id")).alias("label_count")
    )
    return core.crossJoin(F.broadcast(label_count))


def time_series(
    archive: dict[str, DataFrame],
    granularity: TimeGranularity = TimeGranularity.MONTH,
    opts: AggregateOptions | None = None,
) -> DataFrame:
    """Convenience wrapper for the Time view."""
    opts = opts or AggregateOptions(
        sort_field=SortField.NAME, sort_direction=SortDirection.ASC, limit=10000
    )
    opts.time_granularity = granularity
    return aggregate(archive, ViewType.TIME, opts)
