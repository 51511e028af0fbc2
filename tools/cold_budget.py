"""Cold-path budget at sf1: where does a COLD serving session spend its
time, and how does it compare to a cold DuckDB process on the same data?

bench.py's "cold" builds fresh plans inside a warm JVM; this tool
measures the colder layers underneath it — the ones a freshly started
serving process pays exactly once:

  spark side (one fresh subprocess):
    jvm_start      SparkSession build (JVM fork + context init)
    codegen_warm   spark.range(1) collect (first whole-stage compile)
    footer_probe   read every table's parquet schema (footer I/O only)
    first_query    first headline collect — includes the archive/wide
                   ETL cache build (the reference's build-cache analog)
    rest_cold      remaining headline entries, first collect each
                   (caches built, footers warm, plans fresh)
    warm_total     second pass re-collecting the frames built above
                   (steady state)

  duckdb side (one fresh subprocess):
    open_views     connect + CREATE VIEW per table (its footer probe)
    first_query    first headline oracle SQL
    rest_cold      remaining headline oracles, first run each
    warm_total     second pass

Each side runs in its own subprocess so process start is inside the
measurement. Prints one JSON line; run it at sf1:

    python tools/cold_budget.py /root/repo/testdata/sf1
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_SPARK_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(here)r)
sf_dir = %(sf_dir)r
os.environ.setdefault("SPARK_GRAFT_AQE", "false")
os.environ.setdefault("SPARK_GRAFT_CONSTRAINTS", "false")
os.environ.setdefault("SPARK_GRAFT_CONSOLE_PROGRESS", "false")
t = {}
t0 = time.perf_counter()
from msgvault_spark.session import get_spark
spark = get_spark("cold_budget")
spark.sparkContext.setLogLevel("ERROR")
t["jvm_start"] = time.perf_counter() - t0

t0 = time.perf_counter()
spark.range(1).collect()
t["codegen_warm"] = time.perf_counter() - t0

t0 = time.perf_counter()
for tbl in %(tables)r:
    spark.read.parquet(os.path.join(sf_dir, tbl + ".parquet")).schema
t["footer_probe"] = time.perf_counter() - t0

from msgvault_spark.catalog import CATALOG
heads = [(n, s) for n, s in CATALOG.items() if s.headline]
first_name, first_spec = heads[0]
t0 = time.perf_counter()
frames = {first_name: first_spec.fn(spark, sf_dir)}
frames[first_name].collect()
t["first_query"] = time.perf_counter() - t0
t["first_query_name"] = first_name

t0 = time.perf_counter()
for n, s in heads[1:]:
    frames[n] = s.fn(spark, sf_dir)
    frames[n].collect()
t["rest_cold"] = time.perf_counter() - t0

t0 = time.perf_counter()
for df in frames.values():
    df.collect()
t["warm_total"] = time.perf_counter() - t0
t["n_headline"] = len(heads)
print("COLDJSON " + json.dumps(t))
"""

_DUCK_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(here)r)
sf_dir = %(sf_dir)r
t = {}
t0 = time.perf_counter()
import duckdb
con = duckdb.connect()
for tbl in %(tables)r:
    con.execute(
        "CREATE VIEW " + tbl + " AS SELECT * FROM '"
        + os.path.join(sf_dir, tbl + ".parquet") + "'"
    )
t["open_views"] = time.perf_counter() - t0

from msgvault_spark.catalog import CATALOG
heads = [(n, s) for n, s in CATALOG.items() if s.headline and s.oracle_sql]
first_name, first_spec = heads[0]
t0 = time.perf_counter()
con.execute(first_spec.oracle_sql).fetchall()
t["first_query"] = time.perf_counter() - t0
t["first_query_name"] = first_name

t0 = time.perf_counter()
for n, s in heads[1:]:
    con.execute(s.oracle_sql).fetchall()
t["rest_cold"] = time.perf_counter() - t0

t0 = time.perf_counter()
for n, s in heads:
    con.execute(s.oracle_sql).fetchall()
t["warm_total"] = time.perf_counter() - t0
t["n_headline"] = len(heads)
print("COLDJSON " + json.dumps(t))
"""


def _run_child(src: str) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-c", src],
        capture_output=True, text=True, cwd=HERE,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"child failed:\n{proc.stderr[-4000:]}")
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("COLDJSON ")
    )
    out = json.loads(line[len("COLDJSON "):])
    out["process_wall"] = round(wall, 3)
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    slo = None
    for a in sys.argv[1:]:
        if a.startswith("--first-query-slo="):
            slo = float(a.split("=", 1)[1])
    sf_dir = args[0] if args else "/root/repo/testdata/sf1"
    subst = {"here": HERE, "sf_dir": sf_dir, "tables": TABLES}
    spark = _run_child(_SPARK_CHILD % subst)
    duck = _run_child(_DUCK_CHILD % subst)
    for d in (spark, duck):
        for k, v in d.items():
            if isinstance(v, float):
                d[k] = round(v, 3)
    print(json.dumps({"sf_dir": sf_dir, "spark": spark, "duckdb": duck}))
    # The serving SLO (r11 verdict task #5a): a serving process answers ONE
    # query first, not 25 — first-query latency is the pinned metric.
    # sf1 budget: 8s (measured 4.7s r11; DuckDB open+first is 11.7s).
    if slo is not None and spark["first_query"] > slo:
        raise SystemExit(
            f"FIRST-QUERY SLO MISSED: {spark['first_query']:.1f}s > {slo}s"
        )


if __name__ == "__main__":
    main()
