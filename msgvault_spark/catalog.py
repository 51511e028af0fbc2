"""Query catalog: every entry pairs a Spark DataFrame query with the
equivalent DuckDB SQL oracle over the driver's testdata tables.

Engine-backed entries run the real msgvault_spark engine over the
TPC-H→archive adapter (sources/adapter.py); the oracle replays the same
mapping as SQL CTEs. Plain entries exercise individual operator families
(SURVEY.md §2) directly on the TPC-H tables.

Determinism rules (the driver hash-compares values):
  - every computed column aliased identically on both sides;
  - DuckDB SUM(BIGINT) returns HUGEINT → always CAST(... AS BIGINT);
  - no raw double aggregation in compared output: floats go through
    floor()/decimal casts so both engines agree bit-for-bit;
  - every LIMIT is preceded by a total ordering (tie-broken on a key).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from msgvault_spark.operators.present import present_sorted
from msgvault_spark.sources.adapter import oracle
from msgvault_spark.sources.cache import get_archive
from msgvault_spark.sources.cache import get_table as load_table
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
from msgvault_spark.plans import aggregate as agg
from msgvault_spark.plans.listing import list_messages


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle_sql: str | None  # None → driver runs rows-only check
    headline: bool = False  # include in bench.py


CATALOG: dict[str, QuerySpec] = {}

# Catalog entries are pure plan constructors: every call builds a fresh
# DataFrame and the catalog keeps none. A caller that replays a plan
# (bench.py's warm loop, the sweep tools) holds the frame itself and drops
# it when it moves on, so a marathon session never accumulates executed
# plans or the broadcast relations they pin.
#
# Always empty. perfbench/tracing.py still reports len(_PLAN_MEMO) as
# catalog.memo_entries; the line goes once that metric does.
_PLAN_MEMO: dict = {}
# level-2 recovery's ContextCleaner drain pause (seconds). Paid only when
# the clear actually dropped cached entries; 2.0 s is the value the r12
# sf1-marathon diagnosis validated (one cleaner pass destroys the dead
# broadcasts the first GC enqueued).
_CLEANER_DRAIN_S = 2.0
# serializes level-3 recovery's set/attempt/restore of the session-wide
# autoBroadcastJoinThreshold (see run_with_memory_recovery); reentrant, so
# a ladder nested inside a level-3 attempt() reaches its own level 3
# instead of deadlocking its thread
_LEVEL3_LOCK = threading.RLock()


def is_memory_pressure_error(exc: BaseException) -> bool:
    """True for the driver-side failure modes a retry over a freed heap
    can cure: Spark's broadcast-build refusal and raw JVM heap exhaustion.

    Version pin (Spark 4.1.x — re-verify on upgrades; the matcher is a
    string match over the Py4J-propagated exception text):
      - ``BroadcastExchangeExec`` wraps an OOM during the driver-side
        relation build as ``SparkException("Not enough memory to build
        and broadcast the table to all worker nodes. As a workaround,
        you can either disable broadcast by setting
        spark.sql.autoBroadcastJoinThreshold to -1 or increase the spark
        driver memory by setting spark.driver.memory to a higher
        value.")`` (error class ``_LEGACY_ERROR_TEMP_2250``,
        QueryExecutionErrors.notEnoughMemoryToBuildAndBroadcastTableError).
      - A raw driver/executor heap exhaustion surfaces as
        ``java.lang.OutOfMemoryError: Java heap space`` (or ``: GC
        overhead limit exceeded``) inside the Py4J traceback string.
    Both shapes are pinned by tests/test_memory_recovery.py."""
    msg = str(exc)
    return (
        "Not enough memory to build and broadcast" in msg
        or "java.lang.OutOfMemoryError" in msg
    )


def clear_session_caches(spark: SparkSession) -> int:
    """Memory-pressure recovery LEVEL 2 — cold-restart-without-process-
    restart. A marathon session's residual heap is the long-lived serving
    caches: every frame-holding entry of the one session memo
    (sources/cache.py: archive, wide view, tables, FTS indexes, lake
    artifacts, the PQ / IVF-PQ / SemDeDup indexes). Drop them ALL — each
    rebuilds lazily on next use, from the artifact lake where it has a
    lake copy — sweep any
    remaining cached relation, and ask the JVM for a full GC so the freed
    blocks are actually available to the next broadcast build. Returns
    cache entries dropped."""
    from msgvault_spark.sources import cache as srccache

    dropped = srccache.clear_serving_caches()
    # streaming one-shot pools: memory-sink views (driver-held rows) and
    # the footer-probe memo — both rebuild lazily
    try:
        from msgvault_spark.streaming import incremental as _inc

        dropped += _inc.clear_stream_pools(spark)
    except Exception:
        pass
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    try:
        jvm = spark.sparkContext._jvm
        if jvm is not None:
            # Two GCs with a drain pause between them, not one: broadcast
            # and block teardown is ASYNCHRONOUS — the first GC only
            # enqueues the dead Broadcast/RDD weak references, and the
            # ContextCleaner thread then destroys them (removing the
            # BlockManager entries) in the background. A retry fired
            # immediately after one System.gc() races that drain and can
            # still see a near-full heap (the r12 sf1 marathon's level-2
            # retry failed exactly this way). The second GC also reclaims
            # whatever the cleaner's destroys just unpinned.
            #
            # The pause (_CLEANER_DRAIN_S) is paid only when this call
            # actually dropped something (dropped == 0 → there were no
            # broadcasts/blocks to drain, so one GC suffices).
            import time as _time

            jvm.System.gc()
            if dropped:
                _time.sleep(_CLEANER_DRAIN_S)
                jvm.System.gc()
    except Exception:
        pass
    return dropped


def run_with_memory_recovery(spark: SparkSession, attempt, label: str = "query"):
    """Run ``attempt()`` (plan build + action) under the full memory-
    pressure recovery ladder and return its result:

      level 1 — retry once: the failed attempt's plan, and the broadcast
        relations it built, are garbage by now;
      level 2 — clear every session serving cache (archive twins, wide
        view, FTS/ANN indexes — all rebuild lazily from the artifact
        lake), drain the ContextCleaner, retry;
      level 3 — retry once more with runtime auto-broadcasts DISABLED
        (``spark.sql.autoBroadcastJoinThreshold=-1``, restored after):
        Catalyst plans the retried query's equi-joins as shuffle joins,
        whose per-task build memory is bounded and spillable, so the
        retry cannot die in a driver-side broadcast build no matter what
        the residual heap looks like. Join strategy only — results are
        identical; explicit broadcast() dimension hints ignore the
        threshold and keep their (small, bounded) builds. ``attempt()``
        builds a fresh plan, so it sees the new threshold.

    Non-memory errors propagate immediately at every level.  ``label``
    names the work in the recovery log lines (stdout, one per level)."""
    try:
        return attempt()
    except Exception as e:  # noqa: BLE001
        if not is_memory_pressure_error(e):
            raise
        print(f"  [{label}] memory pressure: retry")
        try:
            return attempt()
        except Exception as e2:  # noqa: BLE001
            if not is_memory_pressure_error(e2):
                raise
            cleared = clear_session_caches(spark)
            print(
                f"  [{label}] still under pressure: cleared {cleared}"
                f" session caches, retry (level 2)"
            )
            try:
                return attempt()
            except Exception as e3:  # noqa: BLE001
                if not is_memory_pressure_error(e3):
                    raise
                key = "spark.sql.autoBroadcastJoinThreshold"
                # The set/attempt/restore window is serialized: the server
                # handles requests on concurrent threads, and two threads
                # both entering level 3 could otherwise interleave (A saves
                # orig & sets -1; B saves "-1" as its prev; A restores
                # orig; B restores "-1"), permanently disabling
                # auto-broadcast for the session. Level 3 is the rare
                # last-resort path, so serializing it costs nothing on the
                # happy path. (A concurrent UNRELATED query planned inside
                # the window still sees -1 — session conf is global — which
                # degrades that one plan to shuffle joins but stays
                # correct.)
                with _LEVEL3_LOCK:
                    try:
                        prev = spark.conf.get(key)
                    except Exception:
                        prev = None
                    spark.conf.set(key, "-1")
                    print(
                        f"  [{label}] still under pressure: auto-broadcast"
                        f" disabled for one retry (level 3)"
                    )
                    try:
                        return attempt()
                    finally:
                        if prev is not None:
                            spark.conf.set(key, prev)
                        else:
                            spark.conf.unset(key)


def register(name: str, oracle_sql: str | None, headline: bool = False):
    def deco(fn):
        CATALOG[name] = QuerySpec(fn=fn, oracle_sql=oracle_sql, headline=headline)
        return fn

    return deco


# ---------------------------------------------------------------------------
# shared oracle SQL fragments (archive side)
# ---------------------------------------------------------------------------

_ATT_PREAGG = (
    "SELECT message_id, CAST(SUM(size) AS BIGINT) AS attachment_size, "
    "COUNT(*) AS attachment_count FROM attachments GROUP BY message_id"
)


def _agg_oracle(
    key_expr: str,
    join_clause: str,
    null_guard: str,
    where: str = "1=1",
    order: str = "count DESC, key ASC",
    limit: int = 100,
) -> str:
    return oracle(
        f"""
, att AS ({_ATT_PREAGG})
, agg AS (
    SELECT {key_expr} AS key,
           COUNT(*) AS count,
           CAST(COALESCE(SUM(CAST(msg.size_estimate AS BIGINT)), 0) AS BIGINT)
               AS total_size,
           CAST(COALESCE(SUM(att.attachment_size), 0) AS BIGINT) AS attachment_size,
           CAST(COALESCE(SUM(att.attachment_count), 0) AS BIGINT) AS attachment_count
    FROM messages msg
    {join_clause}
    LEFT JOIN att ON att.message_id = msg.id
    WHERE ({where}) AND ({null_guard})
    GROUP BY 1
)
SELECT key, count, total_size, attachment_size, attachment_count,
       (SELECT COUNT(*) FROM agg) AS total_unique
FROM agg
ORDER BY {order}
LIMIT {limit}
"""
    )


_FROM_JOIN = (
    "JOIN message_recipients mr ON mr.message_id = msg.id "
    "AND mr.recipient_type = 'from' "
    "JOIN participants p ON p.id = mr.participant_id"
)
_RECIP_JOIN = (
    "JOIN message_recipients mr ON mr.message_id = msg.id "
    "AND mr.recipient_type IN ('to','cc','bcc') "
    "JOIN participants p ON p.id = mr.participant_id"
)
_LABEL_JOIN = (
    "JOIN message_labels ml ON ml.message_id = msg.id "
    "JOIN labels lbl ON lbl.id = ml.label_id"
)
_NAME_EXPR = (
    "COALESCE(NULLIF(TRIM(p.display_name), ''), NULLIF(p.phone_number, ''), "
    "p.email_address)"
)


# ---------------------------------------------------------------------------
# engine-backed aggregate views (A1-A3, J1/J2/J4/J5, O1/O2/O6, W1)
# ---------------------------------------------------------------------------


@register("agg_senders", _agg_oracle("p.email_address", _FROM_JOIN,
                                     "p.email_address IS NOT NULL"), )
def agg_senders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.aggregate(get_archive(spark, sf_dir), ViewType.SENDERS)


@register("agg_sender_names", _agg_oracle(_NAME_EXPR, _FROM_JOIN,
                                          _NAME_EXPR + " IS NOT NULL"))
def agg_sender_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.aggregate(get_archive(spark, sf_dir), ViewType.SENDER_NAMES)


@register("agg_recipients", _agg_oracle("p.email_address", _RECIP_JOIN,
                                        "p.email_address IS NOT NULL"))
def agg_recipients(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.aggregate(get_archive(spark, sf_dir), ViewType.RECIPIENTS)


@register("agg_domains", _agg_oracle("p.domain", _FROM_JOIN,
                                     "p.domain IS NOT NULL AND p.domain != ''"),
          )
def agg_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.aggregate(get_archive(spark, sf_dir), ViewType.DOMAINS)


@register("agg_labels", _agg_oracle("lbl.name", _LABEL_JOIN,
                                    "lbl.name IS NOT NULL"))
def agg_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.aggregate(get_archive(spark, sf_dir), ViewType.LABELS)


@register(
    "agg_time_month",
    _agg_oracle(
        "CAST(msg.year AS VARCHAR) || '-' || LPAD(CAST(msg.month AS VARCHAR), 2, '0')",
        "",
        "msg.sent_at IS NOT NULL",
        order="key ASC",
        limit=1000,
    ),
)
def agg_time_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    opts = AggregateOptions(
        sort_field=SortField.NAME, sort_direction=SortDirection.ASC, limit=1000
    )
    return agg.aggregate(get_archive(spark, sf_dir), ViewType.TIME, opts)


@register(
    "agg_time_year_filtered",
    _agg_oracle(
        "CAST(msg.year AS VARCHAR)",
        "",
        "msg.sent_at IS NOT NULL",
        where="msg.sent_at >= TIMESTAMP '1996-01-01' AND "
        "msg.sent_at < TIMESTAMP '1999-01-01' AND msg.has_attachments",
        order="key ASC",
        limit=100,
    ),
)
def agg_time_year_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime

    opts = AggregateOptions(
        sort_field=SortField.NAME,
        sort_direction=SortDirection.ASC,
        time_granularity=TimeGranularity.YEAR,
        after=datetime(1996, 1, 1),
        before=datetime(1999, 1, 1),
        with_attachments_only=True,
    )
    return agg.aggregate(get_archive(spark, sf_dir), ViewType.TIME, opts)


@register(
    "sub_agg_domain_to_senders",
    oracle(
        f"""
, att AS ({_ATT_PREAGG})
, dom_msgs AS (
    SELECT msg.* FROM messages msg
    WHERE EXISTS (
        SELECT 1 FROM message_recipients mr
        JOIN participants p ON p.id = mr.participant_id
        WHERE mr.message_id = msg.id AND mr.recipient_type = 'from'
          AND p.domain = 'nation_7.example.com'
    )
)
, agg AS (
    SELECT p.email_address AS key,
           COUNT(*) AS count,
           CAST(COALESCE(SUM(CAST(msg.size_estimate AS BIGINT)), 0) AS BIGINT)
               AS total_size,
           CAST(COALESCE(SUM(att.attachment_size), 0) AS BIGINT) AS attachment_size,
           CAST(COALESCE(SUM(att.attachment_count), 0) AS BIGINT) AS attachment_count
    FROM dom_msgs msg
    JOIN message_recipients mr ON mr.message_id = msg.id
         AND mr.recipient_type = 'from'
    JOIN participants p ON p.id = mr.participant_id
    LEFT JOIN att ON att.message_id = msg.id
    WHERE p.email_address IS NOT NULL
    GROUP BY 1
)
SELECT key, count, total_size, attachment_size, attachment_count,
       (SELECT COUNT(*) FROM agg) AS total_unique
FROM agg ORDER BY count DESC, key ASC LIMIT 100
"""
    ),
)
def sub_agg_domain_to_senders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.sub_aggregate(
        get_archive(spark, sf_dir),
        ViewType.SENDERS,
        MessageFilter(domain="nation_7.example.com"),
    )


@register(
    "sub_agg_label_to_time",
    oracle(
        f"""
, att AS ({_ATT_PREAGG})
, lab_msgs AS (
    SELECT msg.* FROM messages msg
    WHERE EXISTS (
        SELECT 1 FROM message_labels ml
        JOIN labels lbl ON lbl.id = ml.label_id
        WHERE ml.message_id = msg.id AND lbl.name ILIKE '1-URGENT'
    )
)
, agg AS (
    SELECT CAST(msg.year AS VARCHAR) AS key,
           COUNT(*) AS count,
           CAST(COALESCE(SUM(CAST(msg.size_estimate AS BIGINT)), 0) AS BIGINT)
               AS total_size,
           CAST(COALESCE(SUM(att.attachment_size), 0) AS BIGINT) AS attachment_size,
           CAST(COALESCE(SUM(att.attachment_count), 0) AS BIGINT) AS attachment_count
    FROM lab_msgs msg
    LEFT JOIN att ON att.message_id = msg.id
    WHERE msg.sent_at IS NOT NULL
    GROUP BY 1
)
SELECT key, count, total_size, attachment_size, attachment_count,
       (SELECT COUNT(*) FROM agg) AS total_unique
FROM agg ORDER BY key ASC LIMIT 100
"""
    ),
)
def sub_agg_label_to_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    opts = AggregateOptions(
        sort_field=SortField.NAME,
        sort_direction=SortDirection.ASC,
        time_granularity=TimeGranularity.YEAR,
    )
    return agg.sub_aggregate(
        get_archive(spark, sf_dir),
        ViewType.TIME,
        MessageFilter(label="1-URGENT"),
        opts,
    )


@register(
    "total_stats",
    oracle(
        f"""
, att AS ({_ATT_PREAGG})
, core AS (
    SELECT COUNT(*) AS message_count,
           CAST(COALESCE(SUM(CAST(msg.size_estimate AS BIGINT)), 0) AS BIGINT)
               AS total_size,
           CAST(COALESCE(SUM(att.attachment_count), 0) AS BIGINT) AS attachment_count,
           CAST(COALESCE(SUM(att.attachment_size), 0) AS BIGINT) AS attachment_size,
           COUNT(DISTINCT msg.source_id) AS account_count
    FROM messages msg LEFT JOIN att ON att.message_id = msg.id
)
SELECT core.*, (
    SELECT COUNT(DISTINCT ml.label_id) FROM message_labels ml
    JOIN messages msg ON msg.id = ml.message_id
) AS label_count
FROM core
"""
    ),
    headline=True,
)
def total_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.total_stats(get_archive(spark, sf_dir))


@register(
    "list_messages_by_domain",
    oracle(
        """
, filtered AS (
    SELECT msg.* FROM messages msg
    WHERE EXISTS (
        SELECT 1 FROM message_recipients mr
        JOIN participants p ON p.id = mr.participant_id
        WHERE mr.message_id = msg.id AND mr.recipient_type = 'from'
          AND p.domain = 'nation_3.example.com'
    )
    ORDER BY msg.sent_at DESC, msg.id DESC
    LIMIT 50 OFFSET 10
),
msg_sender AS (
    SELECT mr.message_id,
           MIN_BY(p.email_address, mr.participant_id) AS from_email,
           MIN_BY(COALESCE(NULLIF(TRIM(mr.display_name), ''),
                           NULLIF(TRIM(p.display_name), ''),
                           NULLIF(p.phone_number, ''), p.email_address, ''),
                  mr.participant_id) AS from_name,
           MIN_BY(COALESCE(p.phone_number, ''), mr.participant_id) AS from_phone
    FROM message_recipients mr
    JOIN participants p ON p.id = mr.participant_id
    WHERE mr.recipient_type = 'from'
      AND mr.message_id IN (SELECT id FROM filtered)
    GROUP BY mr.message_id
),
direct_sender AS (
    SELECT msg.id AS message_id,
           COALESCE(p.email_address, '') AS from_email,
           COALESCE(p.display_name, '') AS from_name,
           COALESCE(p.phone_number, '') AS from_phone
    FROM filtered msg JOIN participants p ON p.id = msg.sender_id
    WHERE msg.sender_id IS NOT NULL
      AND msg.id NOT IN (SELECT message_id FROM msg_sender)
)
SELECT msg.id,
       COALESCE(msg.source_message_id, '') AS source_message_id,
       COALESCE(msg.conversation_id, 0) AS conversation_id,
       COALESCE(c.source_conversation_id, '') AS source_conversation_id,
       COALESCE(msg.subject, '') AS subject,
       COALESCE(msg.snippet, '') AS snippet,
       COALESCE(ms.from_email, ds.from_email, '') AS from_email,
       COALESCE(ms.from_name, ds.from_name, '') AS from_name,
       COALESCE(ms.from_phone, ds.from_phone, '') AS from_phone,
       msg.sent_at,
       COALESCE(msg.size_estimate, 0) AS size_estimate,
       COALESCE(msg.has_attachments, false) AS has_attachments,
       COALESCE(msg.attachment_count, 0) AS attachment_count,
       COALESCE(msg.message_type, '') AS message_type,
       COALESCE(c.title, '') AS conv_title
FROM filtered msg
LEFT JOIN msg_sender ms ON ms.message_id = msg.id
LEFT JOIN direct_sender ds ON ds.message_id = msg.id
LEFT JOIN conversations c ON c.id = msg.conversation_id
"""
    ),
)
def list_messages_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = MessageFilter(
        domain="nation_3.example.com",
        sorting=MessageSort(MessageSortField.DATE, SortDirection.DESC),
        pagination=Pagination(limit=50, offset=10),
    )
    return list_messages(get_archive(spark, sf_dir), f)


# ---------------------------------------------------------------------------
# plain TPC-H-shaped operator queries
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_base_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '2000-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    headline=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter pushdown + hash aggregate (A1).
    Money stays exact AND fast as scaled longs (cents): long sums run in
    whole-stage codegen, unlike per-row BigDecimal, and /100.0 at the end is
    bit-identical across engines for 2-decimal inputs."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") < F.lit("2000-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(cents("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(cents("l_extendedprice")) / 100.0).alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .transform(present_sorted, "l_returnflag", "l_linestatus")
    )


@register(
    "top_customers_by_spend",
    """
SELECT c_name AS customer, n_name AS nation,
       COUNT(*) AS order_count,
       CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total_spend
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
GROUP BY c_name, n_name
ORDER BY total_spend DESC, customer ASC
LIMIT 25
""",
    headline=True,
)
def top_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈broadcast-dim join + agg + top-k (J1/A1/O2)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy(F.col("c_name").alias("customer"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(F.floor("o_totalprice").cast("long")).cast("long").alias("total_spend"),
        )
        .orderBy(F.col("total_spend").desc(), F.col("customer").asc())
        .limit(25)
    )


@register(
    "orders_semi_anti",
    """
SELECT
  (SELECT COUNT(*) FROM customer c
   WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                 AND o.o_orderstatus = 'F')) AS with_f_orders,
  (SELECT COUNT(*) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
      AS without_orders
""",
)
def orders_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join + anti-join (J4/J5/U2) as scalar counts."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = customer.join(f_orders, "c_custkey", "left_semi").agg(
        F.count(F.lit(1)).alias("with_f_orders")
    )
    anti = customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).agg(F.count(F.lit(1)).alias("without_orders"))
    return semi.crossJoin(anti)


@register(
    "latest_order_per_customer",
    """
SELECT c_custkey, o_orderkey AS latest_order, o_orderdate AS latest_date
FROM (
    SELECT c_custkey, o_orderkey, o_orderdate,
           ROW_NUMBER() OVER (PARTITION BY c_custkey
                              ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
    FROM customer JOIN orders ON o_custkey = c_custkey
) t
WHERE rn = 1
ORDER BY c_custkey
LIMIT 200
""",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered FIRST-per-group via row_number window (A5/W3/J8)."""
    from pyspark.sql import Window

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        customer.join(orders, customer["c_custkey"] == orders["o_custkey"])
        .select("c_custkey", "o_orderkey", "o_orderdate")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("o_orderkey").alias("latest_order"),
            F.col("o_orderdate").alias("latest_date"),
        )
        .orderBy("c_custkey")
        .limit(200)
    )


@register(
    "events_by_type_daily",
    """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS events,
       COUNT(DISTINCT user_id) AS users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY day ASC, event_type ASC
LIMIT 1000
""",
)
def events_by_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregate with distinct count (A7/P7/F5)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.count_distinct("user_id").alias("users"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .orderBy(F.col("day").asc(), F.col("event_type").asc())
        .limit(1000)
    )


@register(
    "scalar_functions_chain",
    """
SELECT c_custkey,
       lower(c_name) AS lowered,
       upper(c_mktsegment) AS segment,
       COALESCE(NULLIF(TRIM(c_name), ''), 'unknown') AS display,
       lpad(CAST(c_nationkey AS VARCHAR), 4, '0') AS nation_padded,
       length(c_name) AS name_len,
       substr(c_name, 1, 8) AS name_prefix,
       c_name || '/' || c_mktsegment AS concatenated
FROM customer
ORDER BY c_custkey
LIMIT 500
""",
)
def scalar_functions_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function parity pack (F1-F4)."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.select(
            "c_custkey",
            F.lower("c_name").alias("lowered"),
            F.upper("c_mktsegment").alias("segment"),
            F.coalesce(
                F.when(F.trim(F.col("c_name")) != "", F.trim(F.col("c_name"))),
                F.lit("unknown"),
            ).alias("display"),
            F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("nation_padded"),
            F.length("c_name").alias("name_len"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias(
                "concatenated"
            ),
        )
        .orderBy("c_custkey")
        .limit(500)
    )


@register(
    "union_distinct_parts",
    """
SELECT part_label, COUNT(*) AS n FROM (
    SELECT DISTINCT p_brand AS part_label FROM part
    UNION ALL
    SELECT DISTINCT p_type AS part_label FROM part
) t GROUP BY part_label ORDER BY part_label
""",
)
def union_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + DISTINCT (U1)."""
    part = load_table(spark, sf_dir, "part")
    brands = part.select(F.col("p_brand").alias("part_label")).distinct()
    types = part.select(F.col("p_type").alias("part_label")).distinct()
    return (
        brands.unionByName(types)
        .groupBy("part_label")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(present_sorted, "part_label")
    )


@register(
    "ilike_part_search",
    """
SELECT p_partkey, p_name, p_brand
FROM part
WHERE p_name ILIKE '%green%' AND p_size > 20
ORDER BY p_partkey
""",
)
def ilike_part_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ILIKE substring + comparison predicates (P8/P9)."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").ilike("%green%") & (F.col("p_size") > 20))
        .select("p_partkey", "p_name", "p_brand")
        .sortWithinPartitions("p_partkey")
    )


# --- extension modules registering more entries (import order matters:
# they import `register` from this module, so this sits at the tail) ---
import msgvault_spark.catalog_search  # noqa: E402,F401
import msgvault_spark.catalog_dedup  # noqa: E402,F401
import msgvault_spark.catalog_multimodal  # noqa: E402,F401
import msgvault_spark.catalog_wide  # noqa: E402,F401
import msgvault_spark.catalog_etl  # noqa: E402,F401
import msgvault_spark.catalog_streaming  # noqa: E402,F401
import msgvault_spark.catalog_search2  # noqa: E402,F401
import msgvault_spark.catalog_mime  # noqa: E402,F401
import msgvault_spark.catalog_pipeline  # noqa: E402,F401
import msgvault_spark.catalog_lookup  # noqa: E402,F401
import msgvault_spark.catalog_llmops  # noqa: E402,F401
import msgvault_spark.catalog_tpch  # noqa: E402,F401
import msgvault_spark.catalog_curation  # noqa: E402,F401
import msgvault_spark.catalog_ann  # noqa: E402,F401


# ---------------------------------------------------------------------------
# skew-resistant salted aggregation (scale path for hot keys)
# ---------------------------------------------------------------------------


@register(
    "salted_priority_rollup",
    """
SELECT o_orderpriority AS key,
       CAST(COUNT(*) AS BIGINT) AS orders,
       CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS total,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS customers
FROM orders
GROUP BY o_orderpriority
ORDER BY key
""",
    headline=True,
)
def salted_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregate over a 5-value (maximally skewed) key:
    phase 1 fans each hot key across 16 salts, phase 2 merges partials.
    ONE pass (operators/salted.py salted_agg_with_distinct): salting by
    the DISTINCT value keeps partial distincts disjoint-and-exact while
    the re-associable sums/counts merge across the same buckets — one
    fact scan and one shuffle pair instead of two of each."""
    from msgvault_spark.operators.salted import salted_agg_with_distinct

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderpriority",
        F.floor("o_totalprice").cast("long").alias("price_l"),
        "o_custkey",
    )
    fused = salted_agg_with_distinct(
        base,
        "o_orderpriority",
        {"orders": ("1", "count"), "total": ("price_l", "sum")},
        "o_custkey",
        n_salts=16,
    )
    return (
        fused.select(
            "key",
            F.col("orders").cast("long").alias("orders"),
            F.col("total").cast("long").alias("total"),
            F.col("distinct_count").alias("customers"),
        )
        .transform(present_sorted, "key")
    )


# ---------------------------------------------------------------------------
# zero-filled time series (dense bucket spine)
# ---------------------------------------------------------------------------


@register(
    "time_series_zero_fill",
    """
WITH f AS (
    SELECT date_trunc('month', o_orderdate) AS bucket
    FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000
),
b AS (SELECT bucket, COUNT(*) AS orders FROM f GROUP BY bucket),
r AS (SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b),
spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS bucket
    FROM r WHERE lo IS NOT NULL
)
SELECT strftime(spine.bucket, '%Y-%m') AS key,
       CAST(COALESCE(b.orders, 0) AS BIGINT) AS orders
FROM spine LEFT JOIN b USING (bucket)
ORDER BY key
""",
    headline=True,
)
def time_series_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense monthly series over a sparse filtered aggregate: months inside
    the observed range with no rows appear with orders=0 (the reference's
    time view emits only non-empty buckets; operators/timeseries.py)."""
    from msgvault_spark.operators.timeseries import zero_fill

    orders = load_table(spark, sf_dir, "orders")
    sparse = (
        orders.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 400000)
        )
        .groupBy(F.date_trunc("month", "o_orderdate").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("orders"))
    )
    return zero_fill(sparse, "bucket", "month")


# ---------------------------------------------------------------------------
# mergeable HLL sketch rollup (approx distinct at scale)
# ---------------------------------------------------------------------------


@register(
    "hll_distinct_rollup",
    """
SELECT o_orderpriority AS key,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
       CAST(CASE WHEN abs(approx_count_distinct(o_custkey)
                          - COUNT(DISTINCT o_custkey))
                      <= 0.10 * COUNT(DISTINCT o_custkey)
                 THEN 1 ELSE 0 END AS BIGINT) AS approx_ok
FROM orders
GROUP BY o_orderpriority
ORDER BY key
""",
    headline=True,
)
def hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sketch rollup: per-(priority, year) DataSketches HLL
    sketches unioned up to priority (operators/sketch.py). The comparable
    output is engine-neutral: the exact distinct plus a flag that THIS
    engine's sketch estimate lands within 10% of it — both engines assert
    their own sketch accuracy, hashes agree iff both hold."""
    from msgvault_spark.operators.sketch import hll_merge_estimate, hll_sketch_rollup

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.year("o_orderdate").alias("y"), "o_custkey"
    )
    sk = hll_sketch_rollup(base, ["o_orderpriority"], ["y"], "o_custkey")
    est = hll_merge_estimate(sk, ["o_orderpriority"], out="approx")
    exact = base.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("exact_customers")
    )
    return (
        exact.join(est, "o_orderpriority")
        .select(
            F.col("o_orderpriority").alias("key"),
            F.col("exact_customers").cast("long").alias("exact_customers"),
            (
                F.abs(F.col("approx") - F.col("exact_customers"))
                <= 0.10 * F.col("exact_customers")
            )
            .cast("long")
            .alias("approx_ok"),
        )
        .transform(present_sorted, "key")
    )


@register(
    "salted_join_priority_dim",
    """
WITH dim AS (
    SELECT DISTINCT o_orderpriority AS pri,
           CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS urgency_rank
    FROM orders
)
SELECT d.urgency_rank AS key,
       CAST(COUNT(*) AS BIGINT) AS orders,
       CAST(SUM(CAST(floor(o.o_totalprice) AS BIGINT)) AS BIGINT) AS total
FROM orders o
JOIN dim d ON d.pri = o.o_orderpriority
GROUP BY key
ORDER BY key
""",
)
def salted_join_priority_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join on a 5-value (maximally skewed) key: big
    side fans each hot key across 16 salts, dim side replicated per salt
    (operators/salted.py:salted_join). At this dim size Catalyst would
    broadcast anyway — the entry pins the salting's exactness; the salted
    shape is for dim tables past broadcast size."""
    from msgvault_spark.operators.salted import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.floor("o_totalprice").cast("long").alias("price_l")
    )
    dim = (
        orders.select("o_orderpriority").distinct()
        .select(
            F.col("o_orderpriority"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("urgency_rank"),
        )
    )
    joined = salted_join(orders, dim, "o_orderpriority", n_salts=16)
    return (
        joined.groupBy(F.col("urgency_rank").alias("key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("orders"),
            F.sum("price_l").cast("long").alias("total"),
        )
        .transform(present_sorted, "key")
    )


# ---------------------------------------------------------------------------
# multi-join benchmark shapes (join ordering + broadcast chains at scale)
# ---------------------------------------------------------------------------


@register(
    "shipping_priority_q3",
    """
SELECT l.l_orderkey AS orderkey,
       CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS revenue_c,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS priority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-03-15'
  AND l.l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY 1, 3, 4
ORDER BY revenue_c DESC, orderkey ASC
LIMIT 10
""",
    headline=True,
)
def shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter (customer segment) broadcast
    into the fact chain, date filters pushed to both scans, one shuffle agg,
    top-10 heap. Revenue in integer cents so both engines agree exactly."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-03-15"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    revenue_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.sum(revenue_c).cast("long").alias("revenue_c"))
        .select("orderkey", "revenue_c", "orderdate", "priority")
        .orderBy(F.col("revenue_c").desc(), F.col("orderkey").asc())
        .limit(10)
    )


@register(
    "regional_volume_q5",
    """
SELECT n.n_name AS nation,
       CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS revenue_c
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN supplier s ON s.s_nationkey = n.n_nationkey
JOIN lineitem l ON l.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_nationkey = s.s_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY revenue_c DESC, nation ASC
""",
    headline=True,
)
def regional_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join — region→nation→supplier broadcast
    chain narrowing the fact scan, customer-nation co-membership predicate,
    single shuffle agg. The join-order stress test Catalyst must get right
    at 100 TB (dims broadcast, facts never cartesian; pinned by the blanket
    plan audit)."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    revenue_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue_c).cast("long").alias("revenue_c"))
        .transform(present_sorted, F.col("revenue_c").desc(), F.col("nation").asc())
    )


@register(
    "nation_volume_q7",
    """
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS yr,
       CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS revenue_c
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, yr
""",
)
def nation_volume_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bidirectional nation-pair trade
    by year. Both nation dims broadcast; the pair predicate lands AFTER
    the two broadcast joins but before the shuffle agg, so the fact rows
    that survive are the only rows shuffled. Revenue in integer cents."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    revenue_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("yr"),
        )
        .agg(F.sum(revenue_c).cast("long").alias("revenue_c"))
        .transform(present_sorted, "supp_nation", "cust_nation", "yr")
    )


@register(
    "market_share_q8",
    """
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS yr,
       round(CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
                 THEN CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT) ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                       * 100) AS BIGINT)) AS DOUBLE), 6) AS mkt_share
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n2.n_regionkey
WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
GROUP BY 1
ORDER BY yr
""",
)
def market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): conditional-aggregate ratio
    — NATION_3-supplied share of PROMO revenue in the ASIA market per
    order year. 8-table join with every dim broadcast; the one shuffle is
    the final year agg. Integer-cent sums, single double division, one
    rounding — exact in both engines."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    ).select("r_regionkey")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    ).join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    revenue_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    nat = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", revenue_c).otherwise(F.lit(0))
    ).cast("long")
    tot = F.sum(revenue_c).cast("long")
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.round(
                nat.cast("double") / tot.cast("double"), 6
            ).alias("mkt_share")
        )
        .transform(present_sorted, "yr")
    )


@register(
    "cube_priority_status",
    """
SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
       COALESCE(o_orderstatus, 'ALL') AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_c
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY priority, status
""",
)
def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders — all four grouping levels in ONE
    pass (Spark Expand: each input row fans to 4 grouping-set rows before
    the single shuffle agg; never four separate scans). Rolled-up levels
    surface as 'ALL' so the hash compare is null-safe. Completes the
    grouping-set family next to rollup_priority_status."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("price_c").cast("long").alias("total_c"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n",
            "total_c",
        )
        .transform(present_sorted, "priority", "status")
    )


@register(
    "returned_items_q10",
    """
SELECT c.c_custkey AS custkey,
       c.c_name AS name,
       n.n_name AS nation,
       CAST(SUM(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS revenue_c
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue_c DESC, custkey ASC
LIMIT 20
""",
)
def returned_items_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): which customers returned
    the most revenue last quarter. Quarter filter pushed to the orders
    scan, returnflag filter to the lineitem scan, nation broadcast,
    single shuffle agg on customer, top-20 heap."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    revenue_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(revenue_c).cast("long").alias("revenue_c"))
        .orderBy(F.col("revenue_c").desc(), F.col("custkey").asc())
        .limit(20)
    )


@register(
    "priority_shipping_q12",
    """
SELECT l.l_returnflag AS returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY 1
ORDER BY returnflag
""",
)
def priority_shipping_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-priority split): conditional-CASE twin
    counts over late-shipped lines (shipdate > orderdate + 60 days, the
    join-predicate-on-two-tables case that defeats static pushdown), per
    return flag. One join, one shuffle agg."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                                   "o_orderdate",
                                                   "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + interval 60 days"))
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long")
            .alias("low_line_count"),
        )
        .transform(present_sorted, "returnflag")
    )
