"""Build-cache lifecycle (S5/S6, §2.11) + raw-SQL API edge (Phase 7)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from msgvault_spark.api import collect_result, query_sql
from msgvault_spark.sources.build_cache import (
    CacheState,
    build_cache,
    decide_staleness,
)
from msgvault_spark.sources.loader import ARCHIVE_SCHEMAS, load_archive


def test_full_build_roundtrip(spark, archive, tmp_path):
    base = str(tmp_path / "lake")
    state = build_cache(spark, archive, base)
    # 5 live messages (soft-deleted id 6 excluded by the export predicate)
    assert state.row_counts["messages"] == 5
    assert state.last_message_id == 5

    lake = load_archive(spark, base)
    assert lake["messages"].count() == 5
    # hive partition column survives the roundtrip
    years = {r["year"] for r in lake["messages"].select("year").distinct().collect()}
    assert years == {2024}
    # junction rows for the deleted message are still written full-table on a
    # full build (reference writes junctions unfiltered too; queries join
    # through live messages)
    assert lake["message_labels"].count() == 5
    assert lake["participants"].count() == 3


def test_staleness_decisions():
    assert decide_staleness(None, 10, 10) == "full"
    st = CacheState(last_message_id=10, row_counts={"messages": 10})
    assert decide_staleness(st, 10, 10) == "fresh"
    assert decide_staleness(st, 12, 12) == "incremental"
    # rows deleted → full rebuild
    assert decide_staleness(st, 10, 8) == "full"
    # schema bump → full rebuild
    st_old = CacheState(
        schema_version=0, last_message_id=10, row_counts={"messages": 10}
    )
    assert decide_staleness(st_old, 10, 10) == "full"


def test_incremental_append(spark, archive, tmp_path):
    base = str(tmp_path / "lake_incr")
    build_cache(spark, archive, base)

    new_msg = spark.createDataFrame(
        [
            (7, 1, "m7", 10, "Newest", "new",
             dt.datetime.fromisoformat("2025-01-01T00:00:00"), 42, False, 0,
             None, None, "email", 2025, 1),
        ],
        schema=ARCHIVE_SCHEMAS["messages"],
    ).withColumn("deleted_at", F.lit(None).cast("timestamp"))
    arch2 = dict(archive)
    arch2["messages"] = archive["messages"].unionByName(new_msg)
    arch2["message_labels"] = archive["message_labels"].unionByName(
        spark.createDataFrame([(7, 1)], schema=ARCHIVE_SCHEMAS["message_labels"])
    )

    state2 = build_cache(spark, arch2, base)
    assert state2.last_message_id == 7
    assert state2.row_counts["messages"] == 6

    lake = load_archive(spark, base)
    assert lake["messages"].count() == 6
    years = {r["year"] for r in lake["messages"].select("year").distinct().collect()}
    assert years == {2024, 2025}
    # incremental junction write appended only the new message's rows
    assert lake["message_labels"].count() == 6

    # third build with nothing new is a no-op
    state3 = build_cache(spark, arch2, base)
    assert state3.last_message_id == 7


def test_verification_failure(spark, archive, tmp_path, monkeypatch):
    base = str(tmp_path / "lake_bad")
    build_cache(spark, archive, base)
    # corrupt the state so an "incremental" build re-appends old rows →
    # re-read count exceeds the live count → verification must fail
    st = CacheState.load(base)
    st.last_message_id = 2
    st.save(base)
    with pytest.raises(RuntimeError, match="verification failed"):
        build_cache(spark, archive, base, mode="incremental")


def test_query_sql_result_shapes(spark, archive):
    archive["messages"].createOrReplaceTempView("t_messages")
    res = query_sql(
        spark,
        "SELECT year, COUNT(*) AS n FROM t_messages GROUP BY year ORDER BY year",
    )
    assert res.columns == ["year", "n"]
    assert res.row_count == 2
    assert res.rows == [[2023, 1], [2024, 5]]
    assert '"row_count": 2' in res.to_json()
    assert res.to_csv().splitlines()[0] == "year,n"
    table = res.to_table()
    assert "year" in table.splitlines()[0] and "2024" in table

    limited = collect_result(spark.sql("SELECT * FROM t_messages ORDER BY id"), 3)
    assert limited.row_count == 3


def test_eml_export_and_csv_roundtrip(spark, archive, tmp_path):
    from msgvault_spark.api import export_eml, read_csv_export, write_csv_export

    emls = export_eml(
        [
            {"id": 1, "from_email": "a@x.com", "to_email": "b@y.com",
             "subject": "Hello", "sent_at": "2024-01-15 10:00:00",
             "snippet": "hi"},
        ]
    )
    assert emls[0].startswith("From: a@x.com\r\n")
    assert "\r\n\r\nhi\r\n" in emls[0]

    path = str(tmp_path / "csv_export")
    write_csv_export(archive["messages"], path)
    back = read_csv_export(spark, path, archive["messages"].schema)
    assert back.count() == archive["messages"].count()
    # NULL round-trips through the \N sentinel (subject of message 4 is null)
    row4 = back.filter("id = 4").head()
    assert row4["subject"] is None and row4["snippet"] == "yo"


def test_orc_sink_roundtrip(spark, archive, tmp_path):
    """Second columnar sink format (ORC is Spark-native like parquet):
    lake writes are format-parametric, values survive a roundtrip."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "orc_messages")
    msgs = archive["messages"]
    (msgs.write.mode("overwrite").option("compression", "zstd").orc(path))
    back = spark.read.orc(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, msgs.collect()))
    # predicate pushdown reaches the ORC scan too
    plan = (
        back.filter(F.col("id") == 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "orc" in plan.lower()


def test_manifest_data_skipping(spark, tmp_path):
    """File-level skipping: year-sharded writes → manifest prunes to the
    one file that can hold the key; results identical to the full scan."""
    from pyspark.sql import functions as F

    from msgvault_spark.sources.manifest import (
        build_manifest,
        load_manifest,
        prune_files,
        skipping_read,
        write_manifest,
    )

    lake = str(tmp_path / "skiplake")
    # three disjoint id ranges in three files
    for lo in (0, 1000, 2000):
        spark.range(lo, lo + 500).select(
            F.col("id"), (F.col("id") % 7).alias("v")
        ).coalesce(1).write.mode("append").parquet(lake)

    man = build_manifest(spark, lake, ["id"])
    write_manifest(man, lake)
    man = load_manifest(spark, lake)
    assert man.count() >= 3

    # equality probe: exactly one file can hold id=1234
    files = prune_files(man, eq={"id": 1234})
    assert len(files) == 1
    got = skipping_read(spark, man, eq={"id": 1234}).filter("id = 1234")
    assert [r["id"] for r in got.collect()] == [1234]

    # range probe spanning two shards
    files2 = prune_files(man, ranges={"id": (400, 1100)})
    assert len(files2) == 2
    full = spark.read.parquet(lake).filter("id BETWEEN 400 AND 1100")
    via_skip = skipping_read(spark, man, ranges={"id": (400, 1100)}).filter(
        "id BETWEEN 400 AND 1100"
    )
    assert sorted(r["id"] for r in via_skip.collect()) == sorted(
        r["id"] for r in full.collect()
    )

    # nothing matches: empty frame, correct schema
    assert skipping_read(spark, man, eq={"id": 99999}).count() == 0

    # --- stale-manifest additive safety: a file appended AFTER the manifest
    # build has unknown stats → read it regardless of the predicate
    spark.range(9000, 9010).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).coalesce(1).write.mode("append").parquet(lake)
    stale = skipping_read(spark, man, eq={"id": 9005}, lake_glob=lake).filter(
        "id = 9005"
    )
    assert [r["id"] for r in stale.collect()] == [9005]
    # without lake_glob the stale manifest silently misses it (documented)
    assert skipping_read(spark, man, eq={"id": 9005}).filter("id = 9005").count() == 0


def test_reference_api_mirrors(spark):
    """§3 API surface: MCP-tool / HTTP-route analogs return columnar
    QueryResults over the testdata adapter archive."""
    from msgvault_spark import api

    sf = "/root/testdata/sf0.001"
    agg = api.aggregate_view(spark, sf, "senders", limit=5)
    assert agg.row_count == 5
    assert agg.columns[:2] == ["key", "count"]

    stats = api.get_total_stats(spark, sf)
    assert stats.row_count == 1 and stats.rows[0][0] > 0

    page = api.list_view(spark, sf, limit=5)
    assert page.row_count == 5

    found = api.search_messages(spark, sf, "is:starred OR has:attachment", limit=5)
    assert found.row_count >= 0  # shape contract; matching is data-dependent
    # serializers round-trip
    assert agg.to_json() and agg.to_csv() and agg.to_table()


def test_lookup_hydration_api(spark):
    """Point-lookup surface: summaries preserve the GIVEN rank order (not id
    or date order), detail fetch decorates without fan-out, accounts dim."""
    import pytest

    from msgvault_spark import api
    from msgvault_spark.plans.lookup import get_message_summaries_by_ids

    sf = "/root/testdata/sf0.001"
    from msgvault_spark.sources.cache import get_archive

    archive = get_archive(spark, sf)
    some = [r["id"] for r in archive["messages"].select("id").limit(6).collect()]
    ids = [some[3], some[0], some[5]]  # deliberately shuffled
    got = get_message_summaries_by_ids(archive, ids).collect()
    assert [r["id"] for r in got] == ids
    assert [r["rank"] for r in got] == [1, 2, 3]
    with pytest.raises(ValueError):
        get_message_summaries_by_ids(archive, [])

    detail = api.get_messages(spark, sf, ids)
    assert detail.row_count == 3  # one row per id — no junction fan-out
    cols = set(detail.columns)
    assert {"recipients", "labels", "attachment_names", "rank"} <= cols

    accounts = api.list_accounts(spark, sf)
    assert accounts.row_count == 3  # adapter: source_id ∈ {1,2,3}
    assert all(r[1] > 0 for r in accounts.rows)


# ---------------------------------------------------------------------------
# snapshot isolation / time travel (sources/snapshots.py)
# ---------------------------------------------------------------------------


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    import os
    from pyspark.sql import functions as F
    from msgvault_spark.sources.snapshots import (
        commit_snapshot,
        latest_version,
        read_snapshot,
        snapshot_manifest,
        snapshot_versions,
    )

    lake = str(tmp_path / "lake")
    spark.range(0, 100).selectExpr("id as k").write.parquet(lake)
    v1 = commit_snapshot(spark, lake, stat_cols=["k"])
    assert v1 == 1

    # append AFTER the commit: invisible to v1 readers (repeatable read)
    spark.range(100, 150).selectExpr("id as k").write.mode("append").parquet(lake)
    assert read_snapshot(spark, lake, version=1).count() == 100
    assert read_snapshot(spark, lake).count() == 100  # latest is still v1

    v2 = commit_snapshot(spark, lake, stat_cols=["k"])
    assert v2 == 2 and snapshot_versions(lake) == [1, 2]
    assert read_snapshot(spark, lake).count() == 150
    # time travel: v1 still reads its exact file set
    assert read_snapshot(spark, lake, version=1).count() == 100
    got = read_snapshot(spark, lake, version=1).agg(F.sum("k")).head()[0]
    assert got == sum(range(100))

    # manifest carries min/max stats for pinned-snapshot pruning
    man = snapshot_manifest(spark, lake, version=2)
    assert {"file", "n_rows", "k_min", "k_max"} <= set(man.columns)

    # crash between manifest write and pointer flip: stale tmp marker is
    # ignored and latest stays at the committed version
    root = str(tmp_path / "lake_meta" / "_snapshots")
    with open(os.path.join(root, ".LATEST.tmp.99"), "w") as f:
        f.write("99")
    assert latest_version(lake) == 2


def test_merge_upsert_copy_on_write(spark, tmp_path):
    from pyspark.sql import functions as F
    from msgvault_spark.sources.merge import merge_upsert
    from msgvault_spark.sources.snapshots import read_snapshot, snapshot_manifest

    lake = str(tmp_path / "mtable")
    # v1: 1000 rows in ~8 files, partitioned so keys cluster per file
    init = spark.range(0, 1000).selectExpr("id as k", "id * 10 as val")
    v1 = merge_upsert(
        spark, lake,
        init.repartitionByRange(8, "k").sortWithinPartitions("k"),
        "k",
    )
    assert v1 == 1
    v1_files = {r["file"] for r in snapshot_manifest(
        spark, lake, version=1).select("file").collect()}
    assert len(v1_files) >= 4

    # v2: update 50 clustered keys + insert 20 new
    updates = spark.range(100, 150).selectExpr("id as k", "id * 1000 as val") \
        .union(spark.range(2000, 2020).selectExpr("id as k", "id * 1000 as val"))
    v2 = merge_upsert(spark, lake, updates, "k")
    assert v2 == 2

    cur = read_snapshot(spark, lake)
    assert cur.count() == 1020
    # matched rows updated, unmatched untouched, inserts present
    assert cur.filter("k = 120").head()["val"] == 120000
    assert cur.filter("k = 500").head()["val"] == 5000
    assert cur.filter("k = 2010").head()["val"] == 2010000

    # copy-on-write at FILE granularity: clustered updates leave most v1
    # files carried forward by reference
    v2_files = {r["file"] for r in snapshot_manifest(
        spark, lake, version=2).select("file").collect()}
    carried = v1_files & v2_files
    assert len(carried) >= len(v1_files) - 2, (
        "clustered 50-key update should rewrite at most ~2 of the files"
    )

    # time travel: v1 still shows pre-merge values
    old = read_snapshot(spark, lake, version=1)
    assert old.count() == 1000
    assert old.filter("k = 120").head()["val"] == 1200


def test_vacuum_drops_only_unreferenced_files(spark, tmp_path):
    import os
    from msgvault_spark.sources.merge import merge_upsert
    from msgvault_spark.sources.snapshots import (
        read_snapshot,
        snapshot_manifest,
        snapshot_versions,
        vacuum,
    )

    lake = str(tmp_path / "vtable")
    init = spark.range(0, 400).selectExpr("id as k", "id as val")
    merge_upsert(spark, lake, init.repartitionByRange(4, "k"), "k")
    # two merges, each rewriting some files
    merge_upsert(spark, lake, spark.range(0, 50).selectExpr(
        "id as k", "id * 7 as val"), "k")
    merge_upsert(spark, lake, spark.range(300, 350).selectExpr(
        "id as k", "id * 9 as val"), "k")
    assert snapshot_versions(lake) == [1, 2, 3]

    v3_files = [r["file"] for r in snapshot_manifest(
        spark, lake, version=3).select("file").collect()]
    out = vacuum(spark, lake, keep_versions=2)
    assert out["versions_dropped"] == 1 and out["versions_kept"] == 2
    # retained versions still fully readable
    assert read_snapshot(spark, lake).count() == 400
    assert read_snapshot(spark, lake, version=2).count() == 400
    assert snapshot_versions(lake) == [2, 3]
    # every latest-version file still on disk
    from msgvault_spark.sources.manifest import _local_path
    for f in v3_files:
        assert os.path.exists(_local_path(f))


def test_merge_commit_carries_manifest_stats_forward(spark, tmp_path):
    """CoW commit must not rescan untouched files: their manifest rows
    (including min/max stats) ride forward verbatim from the previous
    version (the r2 advisor finding on commit-time IO)."""
    from msgvault_spark.sources.merge import merge_upsert
    from msgvault_spark.sources.snapshots import snapshot_manifest

    lake = str(tmp_path / "ctable")
    init = spark.range(0, 800).selectExpr("id as k", "id as val")
    merge_upsert(
        spark, lake, init.repartitionByRange(8, "k").sortWithinPartitions("k"),
        "k", stat_cols=["k"],
    )
    m1 = {r["file"]: (r["k_min"], r["k_max"], r["n_rows"])
          for r in snapshot_manifest(spark, lake, version=1).collect()}
    merge_upsert(
        spark, lake,
        spark.range(0, 40).selectExpr("id as k", "id * 3 as val"),
        "k", stat_cols=["k"],
    )
    m2 = {r["file"]: (r["k_min"], r["k_max"], r["n_rows"])
          for r in snapshot_manifest(spark, lake, version=2).collect()}
    carried = set(m1) & set(m2)
    assert carried, "clustered update must carry most files forward"
    for f in carried:
        assert m1[f] == m2[f], "carried manifest row must be verbatim"
    # stats exist for the new generation's files too
    for f in set(m2) - set(m1):
        lo, hi, n = m2[f]
        assert lo is not None and hi is not None and n > 0


def test_optimize_snapshot_preserves_time_travel(spark, tmp_path):
    """Snapshot-aware OPTIMIZE commits the clustered rewrite as a NEW
    version and leaves prior files on disk, so pinned readers keep
    working (the r2 advisor finding on in-place optimize vs snapshots)."""
    import os
    from pyspark.sql import functions as F
    from msgvault_spark.sources.merge import merge_upsert
    from msgvault_spark.sources.optimize import optimize_snapshot
    from msgvault_spark.sources.snapshots import (
        read_snapshot,
        snapshot_manifest,
        vacuum,
    )
    from msgvault_spark.sources.manifest import _local_path

    lake = str(tmp_path / "otable")
    init = spark.range(0, 2000).selectExpr(
        "id as k", "id % 50 as x", "(id * 7) % 50 as y"
    )
    merge_upsert(spark, lake, init.repartition(16), "k", stat_cols=["k"])

    out = optimize_snapshot(
        spark, lake, ("x", "y"), target_bytes=64 * 1024, stat_cols=["x", "y"]
    )
    assert out["version"] == 2
    # v2 readable + identical content
    assert read_snapshot(spark, lake).count() == 2000
    got = read_snapshot(spark, lake).agg(F.sum("k")).head()[0]
    assert got == sum(range(2000))
    # v1 STILL readable: its files were not deleted
    assert read_snapshot(spark, lake, version=1).count() == 2000
    for r in snapshot_manifest(spark, lake, version=1).collect():
        assert os.path.exists(_local_path(r["file"]))
    # vacuum is the (only) reclamation path
    vacuum(spark, lake, keep_versions=1)
    assert read_snapshot(spark, lake).count() == 2000


def test_get_messages_raw_edges(spark, archive):
    """Batch GetMessageRaw edge cases: empty id list raises; ids without a
    stored raw produce no row; soft-deleted messages are invisible even
    when a raw row exists; zlib and identity compression both decode."""
    import zlib as _z

    import pytest
    from pyspark.sql import functions as F

    from msgvault_spark.plans.lookup import get_messages_raw

    msgs = archive["messages"]
    raw_rows = [
        (1, _z.compress(b"raw-one"), "zlib"),
        (2, b"raw-two", "none"),
        (6, b"raw-six-deleted", "none"),  # message 6 is soft-deleted
    ]
    store = spark.createDataFrame(
        raw_rows, "message_id long, raw_data binary, compression string"
    )
    with pytest.raises(ValueError):
        get_messages_raw(store, msgs, [])
    out = {
        r["id"]: (r["raw_text"], r["compression"])
        for r in get_messages_raw(store, msgs, [1, 2, 3, 6]).collect()
    }
    assert out == {
        1: ("raw-one", "zlib"),
        2: ("raw-two", "none"),
        # 3: no raw row -> absent; 6: deleted -> invisible
    }


def test_get_messages_by_source_ids_unknown_dropped(spark, archive):
    from msgvault_spark.plans.lookup import get_messages_by_source_ids

    out = get_messages_by_source_ids(archive, ["m1", "m4", "nope"]).collect()
    got = {r["source_message_id"]: r["from_email"] for r in out}
    assert set(got) == {"m1", "m4"}
    assert got["m1"] == "a@x.com"      # first-from row resolution
    assert got["m4"] == ""             # chat: direct sender, phone-only


def test_get_attachments_edges(spark, archive):
    """Batch GetAttachment edge cases (sqlite.go:831-845): empty id list
    raises; unknown ids are dropped (the reference's nil, nil); duplicate
    source rows for one id collapse to a single primary-key row."""
    import pytest as _pytest

    from msgvault_spark.plans.lookup import get_attachments

    with _pytest.raises(ValueError):
        get_attachments(archive, [])

    dup = archive["attachments"].unionByName(
        archive["attachments"].filter("id = 301")
    )
    arch = dict(archive)
    arch["attachments"] = dup
    rows = {
        r["id"]: r
        for r in get_attachments(arch, [101, 301, 901, 999]).collect()
    }
    assert set(rows) == {101, 301, 901}
    assert rows[101]["filename"] == "a.pdf"
    assert rows[101]["mime_type"] == "application/pdf"
    assert rows[301]["content_hash"] == "h-b"
    assert rows[301]["size"] == 5
    # NULL metadata → the reference's COALESCE defaults (sqlite.go:834)
    assert rows[901]["filename"] == ""
    assert rows[901]["mime_type"] == ""
    assert rows[901]["content_hash"] == ""
    assert rows[901]["size"] == 0
