"""Serving first-query SLO (r11 verdict task #5): a serving process runs
ONE query first, not the whole headline set, so first-query latency is the
pinned serving-cold metric. This test boots a genuinely fresh process
(cold JVM, warm artifact lake) and bounds session + first headline query at
sf0.01. The bound is generous (the typical reading is ~10s; the sf1 SLO of
8s query-time is enforced per-round via
``tools/cold_budget.py --first-query-slo=8``) — it exists to catch an
order-of-magnitude regression like the per-session warm-in returning, not
to measure this VM's ambient noise."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, sys, time
sys.path.insert(0, %(here)r)
t0 = time.perf_counter()
from msgvault_spark.session import get_spark
spark = get_spark("serving_slo_test")
spark.sparkContext.setLogLevel("ERROR")
from msgvault_spark.catalog import CATALOG
name, spec = next((n, s) for n, s in CATALOG.items() if s.headline)
rows = spec.fn(spark, %(sf)r).collect()
print("SLOJSON " + json.dumps({
    "wall": time.perf_counter() - t0, "entry": name, "rows": len(rows),
    "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
    "constraints": spark.conf.get("spark.sql.constraintPropagation.enabled"),
}))
"""


def test_first_query_cold_process_budget(tmp_path):
    sf = os.environ.get("SPARK_GRAFT_SLO_SF_DIR", "/root/testdata/sf0.01")
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_SLO_SF_DIR", None)
    # warm lake, cold JVM: a serving process inherits the lake built by
    # the ETL job, so the SLO is defined over a WARM artifact store. Under
    # pytest the store is a fresh per-run tmp dir (conftest._artifact_tmp),
    # so run the child once UNTIMED to pay the lake build — otherwise the
    # timed region measures the ETL build (~25-40s ambient-dependent on
    # this box, which flaked the 45s bound under suite load), not serving.
    # A structural regression (per-session warm-in returning, artifact
    # rebuild on the hot path) still blows the bound on the warm run.
    warm = subprocess.run(
        [sys.executable, "-c", _CHILD % {"here": HERE, "sf": sf}],
        capture_output=True, text=True, cwd=HERE, env=env, timeout=300,
    )
    assert warm.returncode == 0, warm.stderr[-3000:]
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD % {"here": HERE, "sf": sf}],
        capture_output=True, text=True, cwd=HERE, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("SLOJSON ")
    )
    rec = json.loads(line[len("SLOJSON "):])
    assert rec["rows"] >= 1
    # the timed session is the one the server runs
    assert rec["aqe"] == "true", rec
    assert rec["constraints"] == "true", rec
    # typical: ~10s (5s JVM + 4s cold plan build + execute). 45s flags a
    # structural regression (warm-in, artifact rebuild on the hot path)
    # while riding out ambient VM noise.
    assert rec["wall"] < 45, f"first query took {rec['wall']:.1f}s: {rec}"
