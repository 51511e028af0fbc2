"""Point-lookup / hydration surface: the reference Engine's id-addressed
reads, batch-shaped for Spark.

Reference surface (internal/query/engine.go:26-43, 77-78):
  - ``GetMessageSummariesByIDs`` (sqlite.go:715-806): bulk summaries for a
    hit-id list PRESERVING RANK ORDER — the anti-N+1 path every search
    handler takes after scoring;
  - ``GetMessage`` / ``GetAttachment``: full detail for one id (bodies,
    recipients, labels, attachments);
  - ``ListAccounts``: the account dim with per-account stats.

Spark-first shape: the id list becomes (a) a pushed-down ``IN`` predicate
on the message scan — Catalyst turns it into parquet row-group pruning, and
a sorted/bucketed lake prunes most files — and (b) one array literal of the
page, from which each surviving row reads its 1-based positions as
``rank`` (the reference preserves order via ORDER BY array_position(ids,
id); the rank column is the engine-portable spelling). The page never
leaves the JVM: no frame built from Python data, so no Python worker and
no broadcast job per request. ms-latency single-id serving stays a
non-goal (SURVEY §7): the batch shape amortizes one pruned scan over a
whole page of ids, which is what the search handlers need.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from msgvault_spark.operators.present import present_sorted

from msgvault_spark.search.fast import _sender_resolution


def _id_in(col: str, ids: list[int]) -> Column:
    """``col IN (ids)`` as one SQL expression of bigint literals built
    from the int-cast ids: the same optimized plan as
    ``F.col(col).isin(*ids)``, without its one py4j call per id and its
    one analyzer cast per id (seconds of plan build for a 5000-id
    page)."""
    return F.expr(f"`{col}` IN ({','.join(f'{int(i)}L' for i in ids)})")


def _with_rank(df: DataFrame, ids: list[int]) -> DataFrame:
    """``df`` with ``rank``, every 1-based position of its ``id`` in the
    caller's page: one row per occurrence of a duplicated id, none for an
    id absent from the page. The page enters the plan as one string
    literal cast to ``array<bigint>``, which constant folding turns into
    one array literal — no join, no broadcast, no Python data."""
    page = F.split(F.lit(",".join(str(int(i)) for i in ids)), ",").cast(
        "array<bigint>"
    )
    # the lambda index is an int, so ``rank`` is an int column
    hits = F.transform(page, lambda x, i: F.when(x == F.col("id"), i + 1))
    rank = F.explode(F.filter(hits, lambda r: r.isNotNull()))
    return df.select("*", rank.alias("rank"))


def _summary_columns() -> list:
    """The summary row after ``rank`` and ``id`` (sender columns
    resolved)."""
    return [
        F.coalesce(F.col("subject"), F.lit("")).alias("subject"),
        F.coalesce(F.col("snippet"), F.lit("")).alias("snippet"),
        "from_email",
        "from_name",
        "sent_at",
        F.coalesce(F.col("size_estimate"), F.lit(0)).alias("size_estimate"),
    ]


def _summaries(ranked: DataFrame) -> DataFrame:
    return ranked.select(
        "rank",
        "id",
        *_summary_columns(),
        F.coalesce(F.col("has_attachments"), F.lit(False)).alias(
            "has_attachments"
        ),
    ).transform(present_sorted, "rank")


def _details(decorated: DataFrame) -> DataFrame:
    return decorated.select(
        "rank",
        "id",
        *_summary_columns(),
        F.coalesce(F.col("message_type"), F.lit("")).alias("message_type"),
        F.coalesce(F.col("recipients"), F.lit("")).alias("recipients"),
        F.coalesce(F.col("labels"), F.lit("")).alias("labels"),
        F.coalesce(F.col("att_count"), F.lit(0)).cast("long").alias(
            "attachment_count"
        ),
        F.coalesce(F.col("att_size"), F.lit(0)).cast("long").alias(
            "attachment_size"
        ),
        F.coalesce(F.col("att_names"), F.lit("")).alias(
            "attachment_names"
        ),
    ).transform(present_sorted, "rank")


def get_message_summaries_by_ids(
    archive: dict[str, DataFrame], ids: list[int]
) -> DataFrame:
    """Rank-preserving bulk summary fetch (GetMessageSummariesByIDs,
    engine.go:36-43). Output carries ``rank`` (1-based position in ``ids``)
    so the ranking survives any downstream re-partitioning; rows whose id
    is absent from the archive are dropped, matching the reference."""
    if not ids:
        raise ValueError("get_message_summaries_by_ids: empty id list")
    msg = archive["messages"].filter(_id_in("id", ids))
    decorated = _sender_resolution(
        msg, archive["message_recipients"], archive["participants"]
    )
    return _summaries(_with_rank(decorated, ids))


def get_message_summaries_by_ids_wide(wide: DataFrame, ids: list[int]) -> DataFrame:
    """``get_message_summaries_by_ids`` over the wide record
    (sources/cache.build_wide_messages): an id filter on one scan, the
    sender resolved from the record's own rows, no join. Soft-deleted ids
    are returned, as the join path returns them."""
    from msgvault_spark.search.fast_wide import search_sender

    if not ids:
        raise ValueError("get_message_summaries_by_ids: empty id list")
    msg = wide.filter(_id_in("id", ids))
    return _summaries(_with_rank(msg.select("*", *search_sender()), ids))


def get_messages(archive: dict[str, DataFrame], ids: list[int]) -> DataFrame:
    """Batch detail fetch — the GetMessage / GetAttachment surface
    (engine.go:26-33) closed honestly as a batch call: summaries plus
    recipients, labels, and attachments, one row per id. List-valued
    fields come out as sorted comma-joined strings (engine-portable, and
    deterministic for the oracle hash); counts/sizes as longs.

    Each decoration is a pre-aggregated-per-message left join (A4 shape:
    aggregate BEFORE the join, so junction fan-out never multiplies
    message rows)."""
    if not ids:
        raise ValueError("get_messages: empty id list")
    idset = [int(i) for i in ids]
    msg = archive["messages"].filter(_id_in("id", idset))
    mr = archive["message_recipients"]
    p = archive["participants"]

    recips = (
        mr.filter(
            F.col("recipient_type").isin("to", "cc", "bcc")
            & _id_in("message_id", idset)
        )
        .join(
            F.broadcast(
                p.select(F.col("id").alias("p_id"), "email_address")
            ),
            F.col("participant_id") == F.col("p_id"),
        )
        .select(
            "message_id",
            F.concat_ws(":", "recipient_type", "email_address").alias("r"),
        )
        .groupBy("message_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("r"))).alias(
                "recipients"
            )
        )
    )
    labels = (
        archive["message_labels"]
        .filter(_id_in("message_id", idset))
        .join(
            F.broadcast(
                archive["labels"].select(F.col("id").alias("lbl_id"), "name")
            ),
            F.col("label_id") == F.col("lbl_id"),
        )
        .groupBy("message_id")
        .agg(F.concat_ws(",", F.array_sort(F.collect_list("name"))).alias("labels"))
    )
    atts = (
        archive["attachments"]
        .filter(_id_in("message_id", idset))
        .groupBy("message_id")
        .agg(
            # att_-prefixed: `messages` itself carries an attachment_count
            # column, and the final select must not be ambiguous
            F.count(F.lit(1)).cast("long").alias("att_count"),
            F.sum("size").cast("long").alias("att_size"),
            F.concat_ws(",", F.array_sort(F.collect_list("filename"))).alias(
                "att_names"
            ),
        )
    )

    out = (
        _with_rank(_sender_resolution(msg, mr, p), idset)
        .join(recips, F.col("id") == recips["message_id"], "left")
        .drop(recips["message_id"])
        .join(labels, F.col("id") == labels["message_id"], "left")
        .drop(labels["message_id"])
        .join(atts, F.col("id") == atts["message_id"], "left")
        .drop(atts["message_id"])
    )
    return _details(out)


def get_messages_wide(wide: DataFrame, ids: list[int]) -> DataFrame:
    """``get_messages`` over the wide record: an id filter on one scan,
    every decoration read from the record's nested fields. ``recipients``
    keeps the to/cc/bcc rows whose participant exists (the join path's
    inner join), ``labels`` the names that resolve (``concat_ws`` skips
    the NULL names of label ids with no labels row)."""
    from msgvault_spark.search.fast_wide import search_sender

    if not ids:
        raise ValueError("get_messages: empty id list")
    idset = [int(i) for i in ids]
    resolved = F.filter("recipient_rows", lambda r: r["resolved"])
    recipients = F.transform(
        resolved, lambda r: F.concat_ws(":", r["recipient_type"], r["email"])
    )
    return _details(
        _with_rank(
            wide.filter(_id_in("id", idset)).select(
                "id",
                "subject",
                "snippet",
                "sent_at",
                "size_estimate",
                "message_type",
                *search_sender(),
                F.concat_ws(",", F.array_sort(recipients)).alias("recipients"),
                F.concat_ws(",", "labels").alias("labels"),
                F.col("att_count_sum").alias("att_count"),
                F.col("att_size_sum").alias("att_size"),
                F.concat_ws(",", "att_names").alias("att_names"),
            ),
            idset,
        )
    )


def get_messages_raw(
    raw_store: DataFrame, messages: DataFrame, ids: list[int]
) -> DataFrame:
    """Batch GetMessageRaw (engine.go:31-33, shared.go:217-252): id list →
    decompressed raw MIME, with the same visibility rule as every read
    path (dedup losers and source-deleted rows are invisible). Ids with no
    stored raw simply produce no row — the batch spelling of the
    reference's ``nil, nil``.

    ``raw_store`` is (message_id, raw_data binary, compression string);
    the zlib branch is the Arrow-batched F14 UDF, identity rows pass
    through. Returns (id, raw_text) with raw decoded utf-8 so downstream
    (and the oracle hash) compare text, not bytes."""
    from msgvault_spark.functions.mime import zlib_decompress
    from msgvault_spark.plans.aggregate import live_messages

    if not ids:
        raise ValueError("get_messages_raw: empty id list")
    idset = [int(i) for i in ids]
    live = live_messages(messages, hide_deleted_from_source=True).select(
        F.col("id").alias("m_id")
    )
    # branch on the STORED compression field (shared.go:239-252), never by
    # trial decompression — an uncompressed payload that happens to parse
    # as a valid zlib stream must pass through untouched
    decoded = F.when(
        F.col("compression") == "zlib", zlib_decompress(F.col("raw_data"))
    ).otherwise(F.col("raw_data"))
    return (
        raw_store.filter(F.col("message_id").isin(*idset))
        .join(live, F.col("message_id") == F.col("m_id"))
        .select(
            F.col("message_id").alias("id"),
            F.decode(decoded, "UTF-8").alias("raw_text"),
            "compression",
        )
        .transform(present_sorted, "id")
    )


def get_messages_by_source_ids(
    archive: dict[str, DataFrame], source_ids: list[str]
) -> DataFrame:
    """Batch GetMessageBySourceID (engine.go:28, duckdb.go:1412-1426):
    source_message_id list → summary rows. Unknown source ids produce no
    row (the reference returns not-found per id). The source-id predicate
    is pushed to the scan; sender resolution is the shared dual-path
    stage (J6)."""
    if not source_ids:
        raise ValueError("get_messages_by_source_ids: empty list")
    sids = [str(s) for s in source_ids]
    msg = archive["messages"].filter(F.col("source_message_id").isin(*sids))
    decorated = _sender_resolution(
        msg, archive["message_recipients"], archive["participants"]
    )
    return decorated.select(
        "source_message_id",
        "id",
        F.coalesce(F.col("subject"), F.lit("")).alias("subject"),
        F.coalesce(F.col("snippet"), F.lit("")).alias("snippet"),
        "from_email",
        "from_name",
        "sent_at",
        F.coalesce(F.col("size_estimate"), F.lit(0)).alias("size_estimate"),
        F.coalesce(F.col("message_type"), F.lit("")).alias("message_type"),
    ).transform(present_sorted, "id")


def get_gmail_ids_by_filter(archive: dict[str, DataFrame], filter_) -> DataFrame:
    """GetGmailIDsByFilter (engine.go:68-70, duckdb.go:1654-1776): filter →
    Gmail ``source_message_id`` list, the staging feed for batch remote
    deletion. Two reference invariants carried over exactly:

      - source-deleted rows are ALWAYS excluded — the reference
        hard-codes sentToTrash=true because this surface must never
        honor an opt-in (duckdb.go:1669-1672); the filter's
        ``hide_deleted_from_source`` flag is overridden, not trusted;
      - scope to Gmail sources via the sources dim with the tolerant
        default ``COALESCE(source_type,'gmail')='gmail'``
        (duckdb.go:1765-1770).

    Everything else is the shared MessageFilter machinery (semi/anti
    joins, P3-P11). The sources dim is rows-per-account tiny —
    broadcast. Deletion EXECUTION against live Gmail stays out of scope
    (README switching table); this closes the read side."""
    from dataclasses import replace

    from msgvault_spark.plans.filters import apply_message_filter

    msg = apply_message_filter(
        archive, replace(filter_, hide_deleted_from_source=True)
    )
    gmail = (
        archive["sources"]
        .filter(
            F.coalesce(F.col("source_type"), F.lit("gmail")) == "gmail"
        )
        .select(F.col("id").alias("__src_id"))
    )
    return (
        msg.join(
            F.broadcast(gmail), F.col("source_id") == F.col("__src_id")
        )
        .select(
            F.coalesce(F.col("source_message_id"), F.lit("")).alias(
                "source_message_id"
            )
        )
        .transform(present_sorted, "source_message_id")
    )


def list_accounts(archive: dict[str, DataFrame]) -> DataFrame:
    """Account dim with per-account stats (ListAccounts, engine.go:77-78).
    One hash-agg over messages — the account table the reference keeps
    materialized falls out of a groupBy here."""
    return (
        archive["messages"]
        .groupBy(F.col("source_id").alias("account_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("message_count"),
            F.min("sent_at").alias("first_message_at"),
            F.max("sent_at").alias("last_message_at"),
            F.count_distinct("conversation_id").cast("long").alias(
                "conversation_count"
            ),
        )
        .transform(present_sorted, "account_id")
    )


def get_attachments(
    archive: dict[str, DataFrame], ids: list[int]
) -> DataFrame:
    """Batch GetAttachment (engine.go:29, sqlite.go:831-845): attachment-id
    list → (id, filename, mime_type, size, content_hash) with the
    reference's COALESCE defaults ('' strings, 0 size). Unknown ids
    produce no row — the batch spelling of ``nil, nil``. The id predicate
    pushes to the attachment scan; no joins (the reference reads the
    attachments table alone)."""
    if not ids:
        raise ValueError("get_attachments: empty id list")
    idset = [int(i) for i in ids]
    return (
        archive["attachments"]
        .filter(F.col("id").isin(*idset))
        # the driver's TPC-H-ish lineitem is NOT PK-clean: (l_orderkey,
        # l_linenumber) repeats (verified at sf0.01 — e.g. id 52 appears
        # twice), so a primary-key read dedups per id; filename/mime/hash
        # are functions of the id (constant within a group), size takes
        # the MIN for a deterministic pick
        .groupBy("id")
        .agg(
            F.coalesce(F.min("filename"), F.lit("")).alias("filename"),
            F.coalesce(F.min("mime_type"), F.lit("")).alias("mime_type"),
            F.coalesce(F.min("size"), F.lit(0)).cast("long").alias("size"),
            F.coalesce(F.min("content_hash"), F.lit("")).alias(
                "content_hash"
            ),
        )
        .transform(present_sorted, "id")
    )


def summary_stats(archive: dict[str, DataFrame]) -> DataFrame:
    """Archive summary for GET /api/v1/stats (reference handleStats,
    api/handlers.go:268-299 → store.GetStatsForScope, store.go:642-691):
    every message-linked count is scoped to LIVE messages (dedup losers
    and source-deleted rows excluded), sources is the raw catalog count,
    and the reference's DatabaseSize (SQLite file bytes) maps to the
    lake-size analog SUM(size_estimate) over live messages.

    Shape: the five entity sets are tagged, slimmed to (kind, sz), and
    UNIONed into one frame feeding a single hash aggregate — parallel
    scans + map-side partial counts into a 1-row reduce, zero joins at
    the stitch (a literal-key equi-join would constant-fold into a
    nested-loop; a union cannot). The live-scoping EXISTS checks are
    left-semi hash joins on the junction keys."""
    from msgvault_spark.plans.aggregate import live_messages

    live = live_messages(
        archive["messages"], hide_deleted_from_source=True
    ).select(F.col("id").alias("m_id"), "conversation_id", "size_estimate")

    def tag(df: DataFrame, kind: str, size_col: str | None = None):
        sz = (
            F.coalesce(F.col(size_col).cast("long"), F.lit(0))
            if size_col
            else F.lit(0).cast("long")
        )
        return df.select(F.lit(kind).alias("kind"), sz.alias("sz"))

    threads = archive["conversations"].join(
        live.select(F.col("conversation_id").alias("cid")).distinct(),
        F.col("id") == F.col("cid"),
        "left_semi",
    )
    atts = archive["attachments"].join(
        live, F.col("message_id") == F.col("m_id"), "left_semi"
    )
    labels = archive["labels"].join(
        archive["message_labels"]
        .join(live, F.col("message_id") == F.col("m_id"), "left_semi")
        .select(F.col("label_id").alias("lid"))
        .distinct(),
        F.col("id") == F.col("lid"),
        "left_semi",
    )

    def n(kind: str):
        return F.count(F.when(F.col("kind") == kind, 1))

    return (
        tag(live, "msg", "size_estimate")
        .unionByName(tag(threads, "thr"))
        .unionByName(tag(atts, "att"))
        .unionByName(tag(labels, "lbl"))
        .unionByName(tag(archive["sources"], "src"))
        .agg(
            n("msg").alias("total_messages"),
            n("thr").alias("total_threads"),
            n("src").alias("total_accounts"),
            n("lbl").alias("total_labels"),
            n("att").alias("total_attachments"),
            F.coalesce(
                F.sum(F.when(F.col("kind") == "msg", F.col("sz"))),
                F.lit(0),
            )
            .cast("long")
            .alias("database_size"),
        )
    )
