"""Attribute a COLD first query's cost: msgvault_spark's own Python vs
Py4J/Catalyst plan work vs execution (r11 verdict task #5b).

A fresh serving process answering its first query pays four layers:

  1. session      JVM fork + SparkContext init (platform, fixed)
  2. fn_build     the catalog entry's fn(): OUR Python (adapter/view
                  setup, lake registration, expression-tree building)
                  plus the Py4J round-trips it makes into Catalyst's
                  unresolved-plan constructors
  3. optimize     analysis + optimization + physical planning + codegen
                  (forced via queryExecution().executedPlan, no jobs)
  4. execute      the actual collect (jobs, shuffles, scan)

Layer 2 is the only one msgvault_spark controls; this tool measures how
much of it is our Python frames (cProfile tottime of msgvault_spark/*
files) vs time parked inside py4j send_command (JVM-side work +
socket). Everything runs in ONE fresh subprocess so the JVM is truly
cold, mirroring tools/cold_budget.py.

    python tools/profile_cold_plan.py [sf_dir] [entry]

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import cProfile, io, json, pstats, sys, time
sys.path.insert(0, %(here)r)
sf_dir = %(sf_dir)r
entry = %(entry)r
out = {}

t0 = time.perf_counter()
from msgvault_spark.session import get_spark
spark = get_spark("profile_cold_plan")
spark.sparkContext.setLogLevel("ERROR")
out["session_s"] = round(time.perf_counter() - t0, 3)

from msgvault_spark.catalog import CATALOG
fn = CATALOG[entry].fn

prof = cProfile.Profile()
t0 = time.perf_counter()
prof.enable()
df = fn(spark, sf_dir)
prof.disable()
out["fn_build_s"] = round(time.perf_counter() - t0, 3)

stats = pstats.Stats(prof)
own = py4j_wait = 0.0
for (path, _line, name), (cc, nc, tottime, cumtime, callers) in stats.stats.items():
    if "msgvault_spark" in path.replace("\\", "/"):
        own += tottime
    # send_command's cumtime is wall spent waiting on the JVM (Catalyst
    # constructor calls + socket); tottime alone misses the socket read
    if "py4j" in path and name == "send_command" and "java_gateway" in path:
        py4j_wait = max(py4j_wait, cumtime)
out["fn_build_own_python_s"] = round(own, 3)
out["fn_build_py4j_jvm_s"] = round(py4j_wait, 3)

t0 = time.perf_counter()
df._jdf.queryExecution().executedPlan()
out["optimize_s"] = round(time.perf_counter() - t0, 3)

t0 = time.perf_counter()
n = df.count()
out["execute_s"] = round(time.perf_counter() - t0, 3)
out["rows"] = n

# the same build in the now-warm JVM, for the JIT-delta reading
t0 = time.perf_counter()
df2 = fn(spark, sf_dir)
out["fn_build_warm_s"] = round(time.perf_counter() - t0, 3)
t0 = time.perf_counter()
df2._jdf.queryExecution().executedPlan()
out["optimize_warm_s"] = round(time.perf_counter() - t0, 3)

print("PROFILE:" + json.dumps(out))
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    entry = sys.argv[2] if len(sys.argv) > 2 else "total_stats"
    code = _CHILD % {"here": HERE, "sf_dir": sf_dir, "entry": entry}
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    for line in r.stdout.splitlines():
        if line.startswith("PROFILE:"):
            rec = json.loads(line[len("PROFILE:"):])
            rec["entry"] = entry
            rec["sf_dir"] = sf_dir
            print(json.dumps(rec))
            return
    sys.stderr.write(r.stdout + r.stderr)
    raise SystemExit(1)


if __name__ == "__main__":
    main()
