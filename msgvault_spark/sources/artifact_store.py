"""Persisted ETL-artifact lake: load-if-fresh parquet twins of the
in-session artifact memos (sources/cache.py).

The reference persists its analytics cache next to the archive and
serves every session from it, rebuilding only when a staleness probe
says the sources moved (build-cache + cacheNeedsBuild,
cmd/msgvault/cmd/build_cache.go:125-263, cmd/msgvault/cmd/tui.go:183-290).
Until round 10 this repo had the in-session half only: every fresh
serving process re-derived the FTS postings, MinHash band index, IVF
cells, wide view, … (~53s of the sf1 cold budget, tools/cold_budget.py).
This module is the missing disk layer:

  * an artifact GROUP is one directory under the store root named by a
    digest of (artifact kind+params, source freshness fingerprint,
    package code fingerprint); it holds one parquet dir per frame plus
    a ``meta.json`` with any captured scalars (n_docs/avgdl-style
    catalog statistics). A scalar statistic is a group with no frames.
    ``save_group`` is the one writer and ``load_group`` the one reader.
  * freshness = the reference's staleness triple at file granularity:
    (name, mtime_ns, size) of every source parquet in the sf_dir.
    Any source change → different digest → the old group is simply
    never matched again (and is pruned on the next save).
  * the CODE fingerprint hashes the whole msgvault_spark package, so a
    deploy invalidates every artifact once — deliberately coarse: an
    artifact can never be served from a builder whose semantics
    changed, which is the only failure mode that would corrupt results.
    The cost (one rebuild per deploy) is exactly the reference's
    schema_version-bump behavior.
  * writes are write-to-tmp + atomic rename; a half-written group can
    never be loaded, and a concurrent writer losing the rename race
    just discards its tmp dir.
  * round 11: a frame can be stored BUCKETED (hash-clustered + sorted
    on its join key, one file per bucket) so co-partitioning becomes a
    write-time property of the lake. Serving sessions register the
    directory as an external bucketed table on the session's in-memory
    catalog (``CREATE TABLE … CLUSTERED BY … LOCATION``) — Derby/Hive
    is never involved, so the test suite's concurrent SparkSessions
    can't deadlock on a metastore — and fact⋈fact joins read
    ``Bucketed: true`` scans with no per-session exchange. This is the
    Spark-native analog of the reference serving straight off its
    prebuilt cache (cmd/msgvault/cmd/build_cache.go:52-56).

Set ``SPARK_GRAFT_ARTIFACT_DIR`` to relocate the store (tests point it
at tmp_path). When a lake write fails, or its scalars do not round-trip
through JSON, ``save_group`` returns None and the caller serves an
in-session copy instead.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession

# serializes in-process save_group callers (see save_group)
_SAVE_LOCK = threading.Lock()

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_DEFAULT_ROOT = os.path.join(_REPO_ROOT, ".artifacts")

_PKG_FP: str | None = None


def store_root() -> str:
    """Store directory."""
    return os.environ.get("SPARK_GRAFT_ARTIFACT_DIR") or _DEFAULT_ROOT


def _package_fingerprint() -> str:
    """Hash of every .py in the package — the schema_version analog.
    Computed once per process (~30k LoC, a few ms)."""
    global _PKG_FP
    if _PKG_FP is None:
        h = hashlib.sha256()
        pkg = os.path.join(_REPO_ROOT, "msgvault_spark")
        for dirpath, dirnames, filenames in os.walk(pkg):
            dirnames.sort()
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, pkg).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
        _PKG_FP = h.hexdigest()[:16]
    return _PKG_FP


def _source_fingerprint(sf_dir: str) -> str:
    """(name, mtime_ns, size) per source parquet — the freshness triple
    of build_cache.decide_staleness, at file granularity. Recomputed on
    EVERY call (a few stat() syscalls): the reference's cacheNeedsBuild
    probe re-checks freshness per access, and a process-lifetime cache
    here served stale artifacts when the sf_dir was rewritten mid-process
    (r10 advice)."""
    real = os.path.realpath(sf_dir)
    h = hashlib.sha256()
    try:
        names = sorted(os.listdir(real))
    except OSError:
        names = []
    for fn in names:
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(real, fn)
        if os.path.isdir(path):  # a parquet *directory* sink
            for sub in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, sub))
                h.update(f"{fn}/{sub}:{st.st_mtime_ns}:{st.st_size};".encode())
        else:
            st = os.stat(path)
            h.update(f"{fn}:{st.st_mtime_ns}:{st.st_size};".encode())
    return h.hexdigest()[:16]


def _kind_token(kind_key: tuple) -> str:
    return json.dumps([repr(k) for k in kind_key])


def _digest(sf_dir: str, kind_key: tuple) -> str:
    payload = json.dumps(
        [
            _kind_token(kind_key),
            os.path.realpath(sf_dir),
            _source_fingerprint(sf_dir),
            _package_fingerprint(),
        ]
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:24]


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def _serve_frame(
    spark: SparkSession, group_dir: str, name: str, meta: dict
) -> DataFrame:
    """One stored frame, as the plan a serving session should run:
    bucketed frames come back as external bucketed tables (registered
    once per session on the in-memory catalog — a metadata-only op), so
    their scans report HashPartitioning and joins on the bucket key need
    no exchange; plain frames are ordinary parquet reads."""
    path = os.path.join(group_dir, name)
    spec = (meta.get("buckets") or {}).get(name)
    if not spec:
        return spark.read.parquet(path)
    # table name is content-addressed by the group path: the same group
    # re-registers as the same table, distinct stores never collide
    tok = hashlib.sha256(path.encode()).hexdigest()[:16]
    tbl = f"aspark_{tok}"
    if not spark.catalog.tableExists(tbl):
        try:
            spark.sql(
                f"CREATE TABLE `{tbl}` ({meta['schemas'][name]}) USING parquet "
                f"CLUSTERED BY (`{spec['key']}`) SORTED BY (`{spec['key']}`) "
                f"INTO {spec['n']} BUCKETS LOCATION '{path}'"
            )
        except Exception:
            # lost a registration race (sibling session sharing the JVM
            # catalog): the name is content-addressed, so whoever won
            # registered the identical table — just read it
            if not spark.catalog.tableExists(tbl):
                raise
    return spark.table(tbl)


def load_group(
    spark: SparkSession, sf_dir: str, kind_key: tuple
) -> tuple[dict[str, DataFrame], dict] | None:
    """(frames, scalars) for a fresh persisted group, else None."""
    root = store_root()
    d = os.path.join(root, _digest(sf_dir, kind_key))
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        return None
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        frames = {
            name: _serve_frame(spark, d, name, meta)
            for name in meta["frames"]
        }
    except Exception:  # unreadable group → treat as absent, rebuild
        return None
    return frames, meta.get("scalars", {})


def save_group(
    spark: SparkSession,
    sf_dir: str,
    kind_key: tuple,
    frames: dict[str, DataFrame],
    scalars: dict | None = None,
    buckets: dict[str, tuple[str, int]] | None = None,
) -> dict[str, DataFrame] | None:
    """Persist a group; returns parquet-backed re-reads of the frames
    (so the served bits ARE the stored bits) or None when the write
    failed or lost a race. ``buckets`` maps a frame name to
    (bucket_key, n_buckets): that frame is written hash-clustered +
    sorted on the key, one file per bucket (the write-time shuffle that
    replaces every serving session's co-partitioning exchange).

    ``scalars`` must ROUND-TRIP through JSON exactly: a value that merely
    serializes (tuple→list, int dict keys→str) would change type in the
    next session, and a date or an object does not serialize. Either
    returns None before anything is written."""
    scalars = scalars or {}
    try:
        if json.loads(json.dumps(scalars)) != scalars:
            return None
    except (TypeError, ValueError):
        return None
    root = store_root()
    digest = _digest(sf_dir, kind_key)
    d = os.path.join(root, digest)
    # Serialize in-process writers: HTTP request threads build plans
    # concurrently, and two threads first-touching the same stale kind
    # would otherwise race the SAME tmp dir and throwaway table name.
    # Cross-process races stay handled by the exists-check + atomic
    # rename below.
    with _SAVE_LOCK:
        if os.path.exists(d):  # another writer finished first
            loaded = load_group(spark, sf_dir, kind_key)
            return loaded[0] if loaded else None
        tmp = f"{d}.tmp{os.getpid()}_{threading.get_ident()}"
        schemas: dict[str, str] = {}
        bucket_meta: dict[str, dict] = {}
        try:
            os.makedirs(tmp, exist_ok=True)
            for name, df in frames.items():
                spec = (buckets or {}).get(name)
                target = os.path.join(tmp, name)
                if spec is None:
                    df.write.mode("overwrite").parquet(target)
                    continue
                key_col, n = spec
                # bucketBy requires saveAsTable; write through a throwaway
                # session-catalog name with an explicit external path, then
                # drop the metadata (files stay — the table was external).
                # repartition(n, key) first so each task owns exactly one
                # bucket → one file per bucket (both use Murmur3 pmod n).
                wtbl = (
                    f"aspark_w_{os.getpid()}_{threading.get_ident()}"
                    f"_{digest[:12]}_{name}"
                )
                (
                    df.repartition(n, key_col)
                    .write.bucketBy(n, key_col)
                    .sortBy(key_col)
                    .option("path", target)
                    .mode("overwrite")
                    .saveAsTable(wtbl)
                )
                spark.sql(f"DROP TABLE IF EXISTS `{wtbl}`")
                schemas[name] = _schema_ddl(df)
                bucket_meta[name] = {"key": key_col, "n": n}
            meta = {
                "kind": _kind_token(kind_key),
                "sf_dir": os.path.realpath(sf_dir),
                "frames": sorted(frames),
                "scalars": scalars,
                "buckets": bucket_meta,
                "schemas": schemas,
                "source_fp": _source_fingerprint(sf_dir),
                "code_fp": _package_fingerprint(),
            }
            with open(os.path.join(tmp, "meta.json"), "w") as f:
                json.dump(meta, f)
            os.rename(tmp, d)
        except Exception:
            shutil.rmtree(tmp, ignore_errors=True)
            return None
        _prune_stale(root, meta["kind"], meta["sf_dir"], keep=digest)
        return {name: _serve_frame(spark, d, name, meta) for name in frames}


# Superseded groups younger than this survive one more save cycle:
# Spark parquet reads are lazy, so a concurrent session that loaded the
# old group before a deploy may still be executing against its files —
# rmtree'ing them mid-query fails its tasks instead of letting it finish
# on the old-but-consistent artifact (r10 advice). 10 minutes comfortably
# outlives any in-flight local query; a long-lived serving fleet would
# run an explicit GC pass instead.
PRUNE_GRACE_SECONDS = 600.0


def _prune_stale(root: str, kind: str, sf_dir: str, keep: str) -> None:
    """Drop superseded groups for the same (kind, sf_dir) so the store
    stays bounded across deploys — the freshly written digest survives,
    and groups written within PRUNE_GRACE_SECONDS get a grace period so
    concurrent readers drain first."""
    import time

    try:
        entries = os.listdir(root)
    except OSError:
        return
    now = time.time()
    for name in entries:
        if name == keep:
            continue
        meta_path = os.path.join(root, name, "meta.json")
        try:
            if now - os.stat(meta_path).st_mtime < PRUNE_GRACE_SECONDS:
                continue
            with open(meta_path) as f:
                meta = json.load(f)
            if meta.get("kind") == kind and meta.get("sf_dir") == sf_dir:
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        except Exception:
            continue
