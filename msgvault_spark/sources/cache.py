"""Materialize-once archive cache + denormalized wide view.

The reference's analytics speed comes from an ETL step (`build-cache`) that
materializes query-shaped tables once and serves every query from them,
with NO per-session warm-in (cmd/msgvault/cmd/build_cache.go:52-56 serves
straight off the prebuilt cache). Spark-first equivalents here:

  - get_archive(): the fact tables live in the artifact lake as BUCKETED
    parquet (hash-clustered + sorted on their join keys: messages by id,
    message_recipients/message_labels/attachments by message_id, same
    bucket count), written once at ETL. A serving session registers the
    directories as external bucketed tables (metadata-only) and scans
    them — fact⋈fact joins read `Bucketed: true` scans whose
    HashPartitioning satisfies the join requirement with no exchange, and
    the session pays ZERO warm-in (no repartition, no persist, no count).
    On a 1000-executor cluster this is exactly bucketed-lake layout with
    bucket count sized to the data (16 here ≈ local cores/2; ~512 MB
    buckets at 100 TB).

  - get_wide_messages(): the v_messages-style denormalized record
    (reference internal/query/views.go:346-489; the paper's Parquet
    cache, internal/query/DESIGN.md:19-31): every message + its
    message_recipients rows as nested repeated fields + direct sender +
    label arrays + attachment pre-agg (build_wide_messages). Aggregate,
    search, listing, id-hydration, detail and total-stats plans become
    scan+filter+agg with ZERO joins and answer exactly what the join-path
    plans answer — the shape that wins
    at 100 TB, built once per ETL and served as a lake scan (column
    pruning + pushdown reach the parquet footers).

Every session-scoped artifact (archive, wide record, tables, FTS
indexes, lake artifacts, scalar statistics, and the catalog modules'
PQ / IVF-PQ / SemDeDup indexes) lives in ONE memo (``memo``): a dict
keyed ``(applicationId, *key)``, each first build single-flight under
``_MEMO_LOCK``. The level-2 clear (``clear_serving_caches``) walks it and
drops every entry that holds a DataFrame.

Every lake-backed artifact, scalar statistics included (a frame-less
group), goes through ONE load-or-build path (``_load_or_build``): serve
the stored group when the lake holds it, else build it, save it and
serve the stored re-read (so the served bits are the lake's). When the
lake write fails (``artifact_store.save_group`` returns None, as it does
for scalars JSON cannot round-trip exactly) the built result is served
from an in-session copy instead: frames repartitioned by their bucket
spec, MEMORY_AND_DISK-persisted and counted, the same co-partitioning
paid per session. Small tables (``get_table`` below TWIN_MIN_BYTES)
never go to the lake and keep their own in-session layout. The HTTP
answer cache (``get_answer``) is a separate byte-budgeted LRU whose lock
is never held across a compute.
"""

from __future__ import annotations

import collections
import threading

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from msgvault_spark.sources.adapter import build_archive

FACT_PARTITIONS = 16

# The session's artifacts: archive, wide record, tables, text indexes,
# lake artifacts, scalars and the catalog modules' ANN/dedup indexes,
# keyed (applicationId, *key) with key[0] naming the artifact family.
_MEMO: dict[tuple, object] = {}

# ThreadingHTTPServer runs each request on its own driver thread, and
# concurrent requests first-touch the same artifacts; a first build must
# not run twice (wasted jobs, and a losing thread's persisted frames
# would stay pinned unreferenced). One reentrant lock, held across a
# first build: with a warm lake the held section is metadata-only
# (registration + footer reads); builds serialize, which is exactly the
# single-flight behavior a stale store needs. Reentrant because builds
# nest (the wide record reads the archive).
_MEMO_LOCK = threading.RLock()


def memo(spark: SparkSession, key: tuple, build):
    """This application's value for ``key``, built by ``build()`` on the
    first touch. Concurrent first touches run ``build`` once."""
    k = (spark.sparkContext.applicationId, *key)
    with _MEMO_LOCK:
        if k not in _MEMO:
            _MEMO[k] = build()
        return _MEMO[k]


def _load_or_build(
    spark: SparkSession,
    sf_dir: str,
    kind: tuple,
    build,
    buckets: dict[str, tuple[str, int]] | None = None,
) -> tuple[dict[str, DataFrame], dict]:
    """(frames, scalars) of the lake group ``kind``. A stored group is
    served as it is. Otherwise ``build()`` returns (frames, scalars),
    which are saved (``buckets`` as ``artifact_store.save_group`` takes
    it) and served as the stored re-read; frames the build persisted as
    working copies are released then. When the save fails, the built
    frames are served instead: repartitioned by their bucket spec,
    persisted and counted."""
    from msgvault_spark.sources import artifact_store

    loaded = artifact_store.load_group(spark, sf_dir, kind)
    if loaded is not None:
        return loaded
    frames, scalars = build()
    scalars = scalars or {}
    stored = artifact_store.save_group(
        spark, sf_dir, kind, frames, scalars=scalars, buckets=buckets
    )
    if stored is not None:
        for df in frames.values():
            if df.is_cached:
                df.unpersist()
        return stored, scalars
    kept = {}
    for name, df in frames.items():
        if name in (buckets or {}):
            bucket_key, n = buckets[name]
            df = df.repartition(n, bucket_key)
        kept[name] = df.persist(StorageLevel.MEMORY_AND_DISK)
    # materialize now so the first query isn't charged for it
    for df in kept.values():
        df.count()
    return kept, scalars


# write-time co-partitioning spec: each fact clustered on its join key
_ARCHIVE_BUCKETS: dict[str, tuple[str, int]] = {
    "messages": ("id", FACT_PARTITIONS),
    "message_recipients": ("message_id", FACT_PARTITIONS),
    "message_labels": ("message_id", FACT_PARTITIONS),
    "attachments": ("message_id", FACT_PARTITIONS),
}


def get_archive(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Adapter archive, served straight off the bucketed artifact lake.
    Round 11: co-partitioning moved from session warm-in (a repartition +
    persist + count of every fact, ~10s of the sf1 cold budget) to a
    write-time property — serving sessions register the stored bucketed
    directories and scan them, paying nothing up front. The build session
    serves the same stored bucketed-table reads every later load session
    will. The in-session repartition+persist fallback survives only for a
    failed lake write."""

    def load():
        arch, _ = _load_or_build(
            spark,
            sf_dir,
            ("archive",),
            lambda: (build_archive(spark, sf_dir), None),
            buckets=_ARCHIVE_BUCKETS,
        )
        return _persist_dims(arch)

    return memo(spark, ("archive", sf_dir), load)


def _persist_dims(arch: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Pin the four dimension tables in memory (lazily). Every archive
    query broadcast-joins at least one of them, and broadcast relations
    are rebuilt per job — without a cached source each warm collect pays
    a fresh parquet scan per dim (~10 ms × dims × queries, the uniform
    warm smear measured when r11 first went persist-free). Dims are
    KB-to-MB at any SF that fits one machine; the facts stay pure
    bucketed lake scans."""
    arch = dict(arch)
    for name in ("participants", "labels", "conversations", "sources"):
        arch[name] = arch[name].persist(StorageLevel.MEMORY_AND_DISK)
    return arch


def build_wide_messages(archive: dict[str, DataFrame]) -> DataFrame:
    """Denormalized wide record: one row per message, soft-deleted ones
    included, carrying its junction rows as nested repeated fields
    (Dremel's record layout), so aggregate, search, listing, id-hydration,
    detail and total-stats plans over it reproduce the join-path plans
    exactly with no query-time join. Readers that answer over live
    messages apply ``plans.aggregate.live_messages`` to the record, as the
    join path applies it to ``messages``; the by-id reads do not, because
    the join path fetches deleted ids too.

      - every message column;
      - ``from_rows`` / ``recipient_rows``: the message's 'from' and
        to/cc/bcc ``message_recipients`` rows, each with its participant,
        as sorted ``array<struct<participant_id, email, domain,
        display_name, phone, recipient_display_name>>`` (one element per
        junction row, multiplicity kept; ``display_name`` is the
        participant's, ``recipient_display_name`` the row's override).
        'from' rows keep only rows whose participant exists, the inner
        join every sender plan makes, so element 1 is the lowest
        participant_id (the join path's min_by survivor). Recipient rows
        keep every row, participant fields NULL when unresolved: the
        "(no recipient)" drill-down counts raw rows. They also carry
        ``recipient_type`` and ``resolved`` (the participant row exists),
        which tell a phone-only participant's NULL email from an
        unresolved row's;
      - ``sender_email``, ``sender_domain``, ``sender_display_name``,
        ``sender_phone``: the direct sender (``sender_id``, chat), NULL
        when absent;
      - ``labels``: sorted label names, one per ``message_labels`` row
        (NULL where the label id has no ``labels`` row); ``label_ids``:
        the rows' sorted label ids;
      - ``att_size_sum`` / ``att_count_sum`` / ``att_names``: the
        attachment pre-agg and the sorted file names;
      - ``recipient_emails_lc`` / ``recipient_phones_lc``: the lowered
        '\\n'-joined recipient emails/phones, the to:/cc:/bcc: search
        blobs (search/fast_wide.py)."""
    mr = archive["message_recipients"]
    p_ren = archive["participants"].select(
        F.col("id").alias("p_id"),
        F.col("email_address").alias("p_email"),
        F.col("domain").alias("p_domain"),
        F.col("display_name").alias("p_display"),
        F.col("phone_number").alias("p_phone"),
    )
    row_fields = (
        F.col("participant_id"),
        F.col("p_email").alias("email"),
        F.col("p_domain").alias("domain"),
        F.col("p_display").alias("display_name"),
        F.col("p_phone").alias("phone"),
        F.col("display_name").alias("recipient_display_name"),
    )

    def junction_rows(
        name: str, types: tuple[str, ...], how: str, *extra: Column
    ) -> DataFrame:
        row = F.struct(*row_fields, *extra)
        return (
            mr.filter(F.col("recipient_type").isin(*types))
            .join(
                F.broadcast(p_ren),
                F.col("participant_id") == F.col("p_id"),
                how,
            )
            .groupBy(F.col("message_id").alias(f"{name}_mid"))
            .agg(F.array_sort(F.collect_list(row)).alias(name))
        )

    from_rows = junction_rows("from_rows", ("from",), "inner")
    recipient_rows = junction_rows(
        "recipient_rows",
        ("to", "cc", "bcc"),
        "left",
        F.col("recipient_type"),
        F.col("p_id").isNotNull().alias("resolved"),
    )
    sender = p_ren.select(
        F.col("p_id").alias("s_pid"),
        F.col("p_email").alias("sender_email"),
        F.col("p_domain").alias("sender_domain"),
        F.col("p_display").alias("sender_display_name"),
        F.col("p_phone").alias("sender_phone"),
    )
    # a struct is never NULL, so collect_list keeps the element of a
    # label id that has no labels row (its name field is NULL)
    labels = (
        archive["message_labels"]
        .join(
            F.broadcast(
                archive["labels"].select(
                    F.col("id").alias("lbl_id"), F.col("name").alias("lbl_name")
                )
            ),
            F.col("label_id") == F.col("lbl_id"),
            "left",
        )
        .groupBy(F.col("message_id").alias("labels_mid"))
        .agg(
            F.array_sort(F.collect_list(F.struct("lbl_name"))["lbl_name"]).alias(
                "labels"
            ),
            F.array_sort(F.collect_list("label_id")).alias("label_ids"),
        )
    )
    # att_-prefixed: messages itself has an attachment_count column
    att = archive["attachments"].groupBy(F.col("message_id").alias("att_mid")).agg(
        F.sum("size").alias("att_size_sum"),
        F.count(F.lit(1)).alias("att_count_sum"),
        F.array_sort(F.collect_list("filename")).alias("att_names"),
    )

    wide = (
        archive["messages"]
        .join(sender, F.col("sender_id") == F.col("s_pid"), "left")
        .drop("s_pid")
    )
    for name, per_message in (
        ("from_rows", from_rows),
        ("recipient_rows", recipient_rows),
        ("labels", labels),
        ("att", att),
    ):
        wide = wide.join(
            per_message, F.col("id") == F.col(f"{name}_mid"), "left"
        ).drop(f"{name}_mid")
    for name in ("from_rows", "recipient_rows", "labels", "label_ids", "att_names"):
        empty = F.array().cast(wide.schema[name].dataType)
        wide = wide.withColumn(name, F.coalesce(F.col(name), empty))
    return (
        wide.withColumn(
            "att_size_sum", F.coalesce(F.col("att_size_sum"), F.lit(0)).cast("long")
        )
        .withColumn(
            "att_count_sum", F.coalesce(F.col("att_count_sum"), F.lit(0)).cast("long")
        )
        # denormalized lowered recipient search blobs (r12): the hottest
        # to:/cc:/bcc: predicate otherwise decodes the rows and lowers
        # their concat per row per query. A literal term without '\n'
        # cannot span the '\n' join boundary, so contains() on the blob
        # is exactly exists(rows, ILIKE) (search/fast_wide.py).
        .withColumn(
            "recipient_emails_lc",
            F.lower(F.concat_ws("\n", F.col("recipient_rows.email"))),
        )
        .withColumn(
            "recipient_phones_lc",
            F.lower(F.concat_ws("\n", F.col("recipient_rows.phone"))),
        )
    )


# the wide record's columns that are not message columns
WIDE_EXTRA_COLUMNS = (
    "from_rows", "recipient_rows", "sender_email", "sender_domain",
    "sender_display_name", "sender_phone", "labels", "label_ids",
    "att_size_sum", "att_count_sum", "att_names", "recipient_emails_lc",
    "recipient_phones_lc",
)


def get_wide_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized wide view: lake twin + LAZY persist. The wide view is the
    hottest serving table (the aggregate, search, listing, by-id, detail
    and total routes all scan it, with scan-only plans that cannot reuse
    shuffle outputs across collects), so it keeps an in-memory copy of
    every column. Nothing materializes it up front: the first reader
    builds the full copy as a side effect, however few columns it reads,
    and every later reader scans memory. When serving, that first reader
    is the setup ``total`` request."""

    def build():
        # build at few, larger partitions: the wide view is dimension-scale
        # (≤ a few hundred MB at bench SFs) and every consumer is a
        # scan+agg, so per-task scheduling dominates — 8 partitions keeps
        # scans at 8 tasks instead of 32 (measured 25% off the 4 wide
        # aggregates at sf0.1). The lake group is written from these
        # 8 partitions, one file each; a real cluster would size files by
        # bytes instead.
        wide = build_wide_messages(get_archive(spark, sf_dir)).coalesce(8)
        return {"wide": wide}, None

    def load():
        frames, _ = _load_or_build(spark, sf_dir, ("wide_messages",), build)
        return frames["wide"].persist(StorageLevel.MEMORY_AND_DISK)

    return memo(spark, ("wide_messages", sf_dir), load)


# Tables at or above this raw-parquet footprint serve from a pre-sharded
# lake twin instead of an in-memory cache: for a big fact the per-session
# repartition shuffle + full-width persist+count (lineitem alone was 7.4s
# of the sf1 cold budget) buys nothing a pruned parquet scan doesn't do
# better — queries read only the columns they project (the cache always
# materialized all 16 lineitem columns including l_comment). Small tables
# keep the in-memory cache: their warm-in is milliseconds and their
# CPU-heavy consumers (tokenizers over documents) want the full core-count
# partitioning the cache layout provides.
TWIN_MIN_BYTES = 8 * 1024 * 1024

# Join-key clustering for the big raw-table twins: the same write-time
# co-partitioning the archive facts get. orders⋈lineitem on orderkey is
# the backbone of half the TPC-H plans (Q3/Q4/Q12/Q18/Q21); events
# cluster on user_id so sessionization's window+rollup reads an already-
# clustered scan. Pure scans are unaffected (auto-bucketed-scan falls
# back to file-split planning when no operator needs the clustering).
_TWIN_BUCKETS: dict[str, tuple[str, int]] = {
    "lineitem": ("l_orderkey", FACT_PARTITIONS),
    "orders": ("o_orderkey", FACT_PARTITIONS),
    "events": ("user_id", FACT_PARTITIONS),
}


def _layout_partitions(spark: SparkSession, n_rows: int, n_bytes: int | None) -> int:
    """Partition count for a table layout: ~100k rows per partition OR
    ~256 KB of compressed parquet per partition, whichever demands more,
    capped at core count. The bytes term matters for text/vector tables:
    sf1 `documents` is only 50k rows (row rule → ONE partition) but its
    zstd text decodes ~10×, and every tokenizer/GEMM consumer is
    CPU-bound — the r10 tree ran those map stages single-threaded. 256 KB
    compressed ≈ a 1-4 MB decoded task, the local-mode analog of sizing
    maxPartitionBytes on a real lake. The bytes term is itself floored
    at ~2k rows/partition: below that, per-task scheduling (~5 ms)
    outweighs any work the task holds (sf0.1 embeddings is 2.9 MB of
    float arrays but only 2k rows — 12 partitions bought nothing and
    taxed every KNN job; measured in the r11 A/B smear)."""
    by_rows = -(-n_rows // 100_000)  # ceil
    by_bytes = min(
        -(-(n_bytes or 0) // (256 * 1024)),
        -(-n_rows // 2_000),
    )
    return min(
        spark.sparkContext.defaultParallelism, max(1, by_rows, by_bytes)
    )


def get_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized testdata table (the raw-parquet analog of the reference
    keeping its DuckDB connection's buffer pool warm).

    Two regimes by raw size:
      * big facts (≥ TWIN_MIN_BYTES): served as plain scans of a
        pre-sharded lake twin ("table_shards" artifact group — row-count-
        sized round-robin files written once at ETL). No per-session
        shuffle, no persist; scan parallelism comes from the file layout,
        and column pruning + pushdown reach the parquet footers.
      * small tables: repartitioned to ~100k-row partitions (capped at
        core count) and MEMORY_AND_DISK-persisted, so CPU-heavy consumers
        get full-width parallelism on data whose warm-in costs ms."""
    return memo(
        spark, ("table", sf_dir, name), lambda: _serve_table(spark, sf_dir, name)
    )


def _serve_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from msgvault_spark.sources.loader import load_table

    # size the layout from the parquet FOOTER (free) instead of a
    # full counting scan — at sf1 the old scan-count-then-repartition
    # sequence read lineitem twice before the first query could run
    n_rows, n_bytes = _footer(sf_dir, name)
    if (
        n_bytes is not None
        and n_rows is not None
        and n_bytes >= TWIN_MIN_BYTES
    ):
        bucket = _TWIN_BUCKETS.get(name)

        def build():
            raw = load_table(spark, sf_dir, name)
            if bucket is None:
                raw = raw.repartition(_layout_partitions(spark, n_rows, n_bytes))
            return {"data": raw}, None

        frames, _ = _load_or_build(
            spark,
            sf_dir,
            ("table_shards", name),
            build,
            buckets={"data": bucket} if bucket else None,
        )
        return frames["data"]
    raw = load_table(spark, sf_dir, name)
    if n_rows is None:
        raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
        n_rows = raw.count()
    n_part = _layout_partitions(spark, n_rows, n_bytes)
    if n_part > raw.rdd.getNumPartitions():
        df = raw.repartition(n_part).persist(StorageLevel.MEMORY_AND_DISK)
        df.count()  # one scan+shuffle lays out AND materializes
        raw.unpersist()
    else:
        df = raw.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
    return df


def _footer(sf_dir: str, name: str) -> tuple[int | None, int | None]:
    """(rows, bytes) of a table's parquet parts from one walk: rows from
    footer metadata (no data pages touched), bytes from stat — None when
    the layout is not a plain local file/dir of parquet parts."""
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        parts = (
            [path]
            if os.path.isfile(path)
            else [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        )
        n_bytes = sum(os.stat(p).st_size for p in parts)
    except OSError:
        return None, None
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(p).metadata.num_rows for p in parts), n_bytes
    except Exception:
        return None, n_bytes


def get_text_index(
    spark: SparkSession, sf_dir: str, table: str, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Memoized persisted inverted index (postings, doc_stats) — the ETL-time
    FTS index the reference maintains as SQLite FTS5 tables."""
    index = _text_index(spark, sf_dir, table, id_col, text_col)
    return index["postings"], index["stats"]


def get_corpus_stats(
    spark: SparkSession, sf_dir: str, table: str, id_col: str, text_col: str
) -> tuple[int, float]:
    """(n_docs, avgdl) — corpus constants captured at index-build time so
    per-query BM25 folds them in as literals."""
    index = _text_index(spark, sf_dir, table, id_col, text_col)
    return index["n"], index["avgdl"]


def get_term_stats(
    spark: SparkSession, sf_dir: str, table: str, id_col: str, text_col: str
) -> DataFrame:
    """ETL-time (term, df) document-frequency table — the statistic an FTS
    index keeps next to its postings. Queries broadcast a filtered slice of
    it instead of re-aggregating candidate postings per query."""
    return _text_index(spark, sf_dir, table, id_col, text_col)["term_stats"]


def _text_index(
    spark: SparkSession, sf_dir: str, table: str, id_col: str, text_col: str
) -> dict:
    """The memo entry of one FTS index: postings, stats and term_stats
    frames plus the corpus constants n and avgdl. Lake-served frames come
    back as plain scans (no persist/count warm-in): every consumer filters
    postings to its query terms, and that predicate pushes into the
    parquet scan — which the full-width cache blocked."""
    from msgvault_spark.search.fts import build_inverted_index

    n_part = max(4, spark.sparkContext.defaultParallelism // 8)

    def build():
        postings, stats = build_inverted_index(
            get_table(spark, sf_dir, table), id_col, text_col
        )
        # right-size the index: a handful of partitions caps per-scan task
        # count locally; a real lake sizes this by bytes (term-hash
        # partitioned), not by the session's shuffle.partitions. The
        # persisted working copies let the save write all three frames
        # from one index build.
        postings = postings.coalesce(n_part).persist(StorageLevel.MEMORY_AND_DISK)
        stats = stats.coalesce(n_part).persist(StorageLevel.MEMORY_AND_DISK)
        postings.count()
        term_stats = (
            postings.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .coalesce(n_part)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        term_stats.count()
        row = stats.agg(
            F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        frames = {"postings": postings, "stats": stats, "term_stats": term_stats}
        return frames, {"n": int(row["n"]), "avgdl": float(row["avgdl"])}

    def load():
        frames, scalars = _load_or_build(
            spark, sf_dir, ("text_index", table, id_col, text_col), build
        )
        n, avgdl = int(scalars["n"]), float(scalars["avgdl"])
        return {**frames, "n": n, "avgdl": avgdl}

    return memo(spark, ("text_index", sf_dir, table, id_col, text_col), load)


def get_artifact(spark: SparkSession, cache_key: tuple, builder) -> DataFrame:
    """Generic memoized persisted ETL artifact — the build-cache pattern
    (reference cmd/build_cache.go) for any query-independent derived frame
    a real pipeline materializes next to the lake: deletion vectors,
    per-user rollups, normed vectors. Built + persisted once per
    (application, key); queries then scan the artifact instead of
    re-deriving it."""
    return _artifact(spark, cache_key, ("artifact", *cache_key[1:]), builder)


def _artifact(
    spark: SparkSession, cache_key: tuple, kind: tuple, builder
) -> DataFrame:
    """The lake group ``kind`` holding ``builder()``'s frame, memoized.
    cache_key[0] is the sf_dir by the package-wide memo convention; the
    served frame is the stored copy, so served bits == lake bits.

    Lake-served frames come back as PLAIN SCANS (no persist/count — that
    per-artifact warm-in was most of the sf1 cold budget, and consumers'
    predicates now push into the artifact's parquet). Only the
    failed-write fallback persists: there the builder's plan would
    otherwise re-run per query (iterative builders like connected
    components make that prohibitive)."""
    sf_dir = cache_key[0]

    def load():
        frames, _ = _load_or_build(
            spark, sf_dir, kind, lambda: ({"data": builder()}, None)
        )
        return frames["data"]

    return memo(spark, (kind[0], sf_dir, *kind[1:]), load)


def get_scalar(spark: SparkSession, cache_key: tuple, compute):
    """Memoized scalar catalog statistic captured at build time (the
    corpus_stats pattern: n_docs/avgdl for BM25, distinct-group counts
    for the wide aggregates) — queries fold the value in as a literal
    instead of paying a 1-row aggregate job per invocation. Stored as a
    frame-less lake group; a value JSON cannot round-trip exactly stays
    in-session."""

    def load():
        _, scalars = _load_or_build(
            spark,
            cache_key[0],
            ("scalar", *cache_key[1:]),
            lambda: ({}, {"value": compute()}),
        )
        return scalars["value"]

    return memo(spark, ("scalar", *cache_key), load)


def get_components(
    spark: SparkSession, cache_key: tuple, edges_builder, **params
) -> DataFrame:
    """Memoized persisted connected-components labeling (dedup/
    components.py) — the cluster-assignment table a dedup pipeline
    materializes once per corpus snapshot (an ETL artifact exactly like
    the minhash/FTS indexes above), so queries aggregate a label table
    instead of re-running the iterative fixpoint per invocation."""
    from msgvault_spark.dedup.components import connected_components

    return _artifact(
        spark,
        cache_key,
        ("components", *cache_key[1:], *sorted(params.items())),
        lambda: connected_components(edges_builder(), **params),
    )


def get_minhash_index(
    spark: SparkSession,
    cache_key: tuple,
    df_builder,
    id_col: str,
    text_col: str,
    **params,
) -> DataFrame:
    """Memoized persisted MinHash-LSH band index (dedup/minhash.py) — the
    ETL-time artifact a real pipeline materializes next to the corpus, so
    queries pay only candidate-join + verify."""
    from msgvault_spark.dedup.minhash import build_minhash_index

    return _artifact(
        spark,
        cache_key,
        (
            "minhash_index",
            *cache_key[1:],
            id_col,
            text_col,
            *sorted(params.items()),
        ),
        lambda: build_minhash_index(df_builder(), id_col, text_col, **params),
    )


# Serialized HTTP answers (server.py GET routes), keyed on
# (applicationId, sf_dir, route, sorted query items). An answer is a pure
# function of the archive frames the one memo holds (server.py keeps
# clock-relative searches out), so it lives exactly as long as they do:
# clear_serving_caches() drops it with them. Bodies are a few KB; the LRU
# byte budget only bounds a pathological key spread.
ANSWER_BUDGET_BYTES = 64 * 1024 * 1024
_ANSWER_MEMO: collections.OrderedDict[tuple, bytes] = collections.OrderedDict()
_ANSWER_BYTES = 0
# one Event per answer being computed: identical requests wait on it
# instead of running the same Spark jobs again (single-flight)
_ANSWER_INFLIGHT: dict[tuple, threading.Event] = {}
# bumped by clear_serving_caches(): an answer computed across a clear may
# come from dropped frames, so it is returned but not stored
_ANSWER_GEN = 0
# its own lock, never held across compute(): _MEMO_LOCK is held for whole
# lake builds, and a hit must not wait behind one
_ANSWER_LOCK = threading.Lock()


def get_answer(
    spark: SparkSession, sf_dir: str, key: tuple, compute
) -> bytes:
    """Memoized answer bytes for ``key`` (route path + sorted query items)
    over the archive at ``sf_dir``. A miss runs ``compute()``; a request
    for a key already being computed waits for that computation. When
    ``compute()`` raises, nothing is stored, the error reaches its caller,
    and each waiter retries (the first one computes the answer itself)."""
    global _ANSWER_BYTES
    k = (spark.sparkContext.applicationId, sf_dir, *key)
    while True:
        with _ANSWER_LOCK:
            body = _ANSWER_MEMO.get(k)
            if body is not None:
                _ANSWER_MEMO.move_to_end(k)
                return body
            flight = _ANSWER_INFLIGHT.get(k)
            if flight is None:
                flight = _ANSWER_INFLIGHT[k] = threading.Event()
                gen = _ANSWER_GEN
                break
        flight.wait()
    body = None
    try:
        body = compute()
        return body
    finally:
        with _ANSWER_LOCK:
            del _ANSWER_INFLIGHT[k]
            if (
                body is not None
                and gen == _ANSWER_GEN
                and len(body) <= ANSWER_BUDGET_BYTES
            ):
                _ANSWER_MEMO[k] = body
                _ANSWER_BYTES += len(body)
                while _ANSWER_BYTES > ANSWER_BUDGET_BYTES:
                    _ANSWER_BYTES -= len(_ANSWER_MEMO.popitem(last=False)[1])
            flight.set()


def _frames_in(obj) -> list[DataFrame]:
    """Every DataFrame reachable inside a memo entry (DFs, dicts,
    tuples/lists of them)."""
    if isinstance(obj, DataFrame):
        return [obj]
    if isinstance(obj, dict):
        obj = list(obj.values())
    if isinstance(obj, (tuple, list)):
        return [df for v in obj for df in _frames_in(v)]
    return []


def clear_serving_caches() -> int:
    """Memory-pressure recovery level 2 (cold-restart-without-process-
    restart): drop every entry of the one memo that holds a DataFrame —
    the archive, wide view, tables, FTS indexes, lake artifacts and the
    catalog modules' ANN/dedup indexes — unpersisting its frames, and
    the HTTP answers computed from them. Each artifact rebuilds lazily
    from the artifact lake on next use, so the only cost is the next
    consumer's re-warm; the benefit is a driver heap no longer carrying
    every entry ever served this session. Entries holding only Python
    values (the scalar statistics) stay: they hold bytes, not relations,
    and a non-JSON scalar lives nowhere else. Returns the number of memo
    entries dropped."""
    global _ANSWER_BYTES, _ANSWER_GEN
    with _ANSWER_LOCK:
        _ANSWER_GEN += 1
        _ANSWER_MEMO.clear()
        _ANSWER_BYTES = 0
    dropped = 0
    with _MEMO_LOCK:
        for key, entry in list(_MEMO.items()):
            frames = _frames_in(entry)
            if not frames:
                continue
            # blocking: recovery needs the blocks gone before it retries
            for df in frames:
                try:
                    df.unpersist(blocking=True)
                except Exception:
                    pass
            del _MEMO[key]
            dropped += 1
    return dropped
