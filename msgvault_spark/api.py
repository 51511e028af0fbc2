"""Raw-SQL API surface (reference: `msgvault query`, HTTP POST /api/v1/query,
cmd/msgvault/cmd/query.go:20-45 + internal/query/views.go:11-16).

The reference hands user SQL to in-memory DuckDB over registered views and
returns a columnar ``QueryResult{columns, rows, row_count}``; serialization
to JSON / CSV / aligned table lives in cmd/msgvault/cmd/query.go:128-263.
Spark-first: ``spark.sql`` over the registered temp views is a strict
superset of that surface.
"""

from __future__ import annotations

import csv
import io
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryResult:
    columns: list
    rows: list
    row_count: int

    def to_json(self) -> str:
        """Columnar JSON, the reference's wire shape (views.go:11-16)."""
        return json.dumps(
            {"columns": self.columns, "rows": self.rows, "row_count": self.row_count},
            default=str,
        )

    def to_csv(self) -> str:
        buf = io.StringIO()
        w = csv.writer(buf)
        w.writerow(self.columns)
        w.writerows(self.rows)
        return buf.getvalue()

    def to_table(self) -> str:
        """Aligned text table (query.go:212-263)."""
        widths = [len(str(c)) for c in self.columns]
        srows = [[("" if v is None else str(v)) for v in r] for r in self.rows]
        for r in srows:
            for i, v in enumerate(r):
                widths[i] = max(widths[i], len(v))
        fmt = "  ".join(f"{{:<{w}}}" for w in widths)
        lines = [fmt.format(*[str(c) for c in self.columns])]
        lines.append("  ".join("-" * w for w in widths))
        lines.extend(fmt.format(*r) for r in srows)
        return "\n".join(lines)


# MessageFilter fields the network edges (server.py routes, mcp.py tools)
# accept as user-supplied filter parameters — one list, no per-route drift
FILTER_PARAM_KEYS = ("domain", "label", "sender", "time_period")


def collect_result(df: DataFrame, limit: int | None = None) -> QueryResult:
    if limit is not None:
        df = df.limit(limit)
    rows = [list(r) for r in df.collect()]
    return QueryResult(columns=list(df.columns), rows=rows, row_count=len(rows))


def query_sql(spark: SparkSession, sql: str, limit: int | None = None) -> QueryResult:
    """Execute raw SQL over the registered views (QuerySQL parity,
    internal/query/duckdb.go:188-224). The caller is responsible for having
    registered views (sources.loader.register_views / engine setup)."""
    return collect_result(spark.sql(sql), limit=limit)


def export_eml(rows: list[dict]) -> list[str]:
    """S11: render collected message rows as RFC822 .eml texts (reference
    cmd/msgvault/cmd/export_eml.go). Driver-side over an already-paged
    result — the reference also renders from fetched rows, not in-engine."""
    out = []
    for r in rows:
        headers = [
            f"From: {r.get('from_email', '')}",
            f"To: {r.get('to_email', '')}",
            f"Subject: {r.get('subject', '')}",
            f"Date: {r.get('sent_at', '')}",
            f"Message-ID: <{r.get('id', '')}@msgvault.export>",
        ]
        body = r.get("body", r.get("snippet", "")) or ""
        out.append("\r\n".join(headers) + "\r\n\r\n" + body + "\r\n")
    return out


CSV_NULL = "\\N"


def write_csv_export(df: DataFrame, path: str) -> None:
    """S7: CSV sink with the reference's '\\N' null sentinel and headers
    (build_cache.go:649-797 — its Windows fallback cache format)."""
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("nullValue", CSV_NULL)
        .csv(path)
    )


def read_csv_export(spark: SparkSession, path: str, schema) -> DataFrame:
    """S7: the matching reader; schema is explicit (CSV carries no types)."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("nullValue", CSV_NULL)
        .csv(path)
    )


# ---------------------------------------------------------------------------
# reference API mirrors (SURVEY §3: MCP tool surface / HTTP routes)
# ---------------------------------------------------------------------------


def aggregate_view(
    spark, sf_dir: str, view: str, limit: int = 100, **opts
) -> QueryResult:
    """`aggregate_messages` MCP tool / GET /api/v1/aggregate analog
    (reference mcp/server.go:107-118, api/server.go:153-190): named view →
    columnar result. opts forwards AggregateOptions fields. Served from
    the wide record; answers equal ``aggregate`` over the archive."""
    from msgvault_spark.plans import aggregate as agg
    from msgvault_spark.plans.models import AggregateOptions, ViewType
    from msgvault_spark.sources.cache import get_wide_messages

    options = AggregateOptions(limit=limit, **opts)
    df = agg.aggregate_wide(
        get_wide_messages(spark, sf_dir), ViewType(view), options
    )
    return collect_result(df)


def sub_aggregate_view(
    spark, sf_dir: str, view: str, *, limit: int = 100, **filter_opts
) -> QueryResult:
    """SubAggregate analog (A3, duckdb.go:1025-1065 / GET
    /api/v1/aggregates/sub): same grouping over a filter-restricted
    subset. filter_opts forwards MessageFilter fields. Served from the
    wide record; answers equal ``sub_aggregate``."""
    from msgvault_spark.plans import aggregate as agg
    from msgvault_spark.plans.models import (
        AggregateOptions,
        MessageFilter,
        ViewType,
    )
    from msgvault_spark.sources.cache import get_wide_messages

    df = agg.sub_aggregate_wide(
        get_wide_messages(spark, sf_dir),
        ViewType(view),
        MessageFilter(**filter_opts),
        AggregateOptions(limit=limit),
    )
    return collect_result(df)


def search_messages(
    spark, sf_dir: str, query: str, limit: int = 50
) -> QueryResult:
    """`search_messages` MCP tool analog: Gmail-style query string →
    ranked metadata rows. Served from the wide record; answers equal
    ``search_fast``."""
    from msgvault_spark.search.fast_wide import search_fast_wide
    from msgvault_spark.sources.cache import get_wide_messages

    return collect_result(
        search_fast_wide(get_wide_messages(spark, sf_dir), query, limit=limit)
    )


def list_view(
    spark, sf_dir: str, *, limit: int = 50, offset: int = 0, **filter_opts
) -> QueryResult:
    """`list_messages` analog: filtered two-phase listing page. Served
    from the wide record; answers equal ``list_messages``."""
    from msgvault_spark.plans.models import MessageFilter, Pagination
    from msgvault_spark.search.fast_wide import list_messages_wide
    from msgvault_spark.sources.cache import get_archive, get_wide_messages

    filt = MessageFilter(
        pagination=Pagination(limit=limit, offset=offset), **filter_opts
    )
    return collect_result(
        list_messages_wide(
            get_wide_messages(spark, sf_dir),
            get_archive(spark, sf_dir)["conversations"],
            filt,
        )
    )


def get_total_stats(spark, sf_dir: str) -> QueryResult:
    """`get_stats` analog: global archive stats row. Served from the wide
    record; answers equal ``total_stats`` over the archive."""
    from msgvault_spark.plans import aggregate as agg
    from msgvault_spark.sources.cache import get_wide_messages

    return collect_result(agg.total_stats_wide(get_wide_messages(spark, sf_dir)))


def get_message_summaries(spark, sf_dir: str, ids: list[int]) -> QueryResult:
    """GetMessageSummariesByIDs analog (engine.go:36-43): hit ids →
    rank-ordered summaries; the hydration stage after any search. Served
    from the wide record; answers equal
    ``get_message_summaries_by_ids``."""
    from msgvault_spark.plans.lookup import get_message_summaries_by_ids_wide
    from msgvault_spark.sources.cache import get_wide_messages

    return collect_result(
        get_message_summaries_by_ids_wide(get_wide_messages(spark, sf_dir), ids)
    )


def get_messages(spark, sf_dir: str, ids: list[int]) -> QueryResult:
    """Batch GetMessage/GetAttachment analog (engine.go:26-33): full detail
    (sender, recipients, labels, attachment rollup) per id, batch-latency
    by design (SURVEY §7 — ms point lookup is a non-goal). Served from the
    wide record; answers equal ``plans.lookup.get_messages``."""
    from msgvault_spark.plans.lookup import get_messages_wide
    from msgvault_spark.sources.cache import get_wide_messages

    return collect_result(get_messages_wide(get_wide_messages(spark, sf_dir), ids))


def list_accounts(spark, sf_dir: str) -> QueryResult:
    """ListAccounts analog (engine.go:77-78)."""
    from msgvault_spark.plans.lookup import list_accounts as _la
    from msgvault_spark.sources.cache import get_archive

    return collect_result(_la(get_archive(spark, sf_dir)))


def get_message_raw(
    spark, sf_dir: str, raw_store: DataFrame, ids: list[int]
) -> QueryResult:
    """Batch GetMessageRaw analog (engine.go:31-33): decompressed raw MIME
    per id from the caller's raw store (message_id, raw_data, compression);
    absent/hidden ids yield no row."""
    from msgvault_spark.plans.lookup import get_messages_raw
    from msgvault_spark.sources.cache import get_archive

    archive = get_archive(spark, sf_dir)
    return collect_result(get_messages_raw(raw_store, archive["messages"], ids))


def get_message_by_source_id(
    spark, sf_dir: str, source_ids: list[str]
) -> QueryResult:
    """Batch GetMessageBySourceID analog (engine.go:28): summaries by
    source_message_id; unknown ids yield no row."""
    from msgvault_spark.plans.lookup import get_messages_by_source_ids
    from msgvault_spark.sources.cache import get_archive

    return collect_result(
        get_messages_by_source_ids(get_archive(spark, sf_dir), source_ids)
    )


def get_attachment(spark, sf_dir: str, ids: list[int]) -> QueryResult:
    """Batch GetAttachment analog (engine.go:29): attachment metadata by
    id; unknown ids yield no row (the reference's nil, nil)."""
    from msgvault_spark.plans.lookup import get_attachments
    from msgvault_spark.sources.cache import get_archive

    return collect_result(get_attachments(get_archive(spark, sf_dir), ids))


def get_summary_stats(spark, sf_dir: str) -> QueryResult:
    """GET /api/v1/stats analog (reference handleStats → store.GetStats):
    live-scoped archive summary counts, one row."""
    from msgvault_spark.plans.lookup import summary_stats
    from msgvault_spark.sources.cache import get_archive

    return collect_result(summary_stats(get_archive(spark, sf_dir)))
