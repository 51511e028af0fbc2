"""Attribute marathon-session driver-heap growth (the r12 sf1 sweep ERROR).

Runs the first N oracle-backed catalog entries once each (one collect,
the sweep's warm shape) at a small SF, forcing a full GC and recording
settled used-heap every STEP entries. With --hist it ends with a
`jcmd GC.class_histogram` of the driver JVM so the growth is attributed
to actual classes, not guessed.

The suspect under test: Spark's always-on status stores (SQLAppStatusListener
retains `spark.sql.ui.retainedExecutions` = 1000 executions, each holding the
FULL physicalPlanDescription string + plan graph + metric maps; AppStatusListener
retains jobs/stages/tasks) are strongly-referenced driver heap that no cache
clear or GC can reclaim — exactly the residual the r12 sf1
marathon saw after level-2 recovery cleared every serving cache and still
could not build a 1-row broadcast.

    python tools/heap_growth.py [sf_dir] [n_entries] [--retained N] [--hist]
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    retained = None
    hist = False
    if "--retained" in args:
        i = args.index("--retained")
        retained = args[i + 1]
        del args[i : i + 2]
    if "--hist" in args:
        hist = True
        args.remove("--hist")
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    n_entries = int(args[1]) if len(args) > 1 else 80
    step = 20

    if retained is not None:
        # must be set before the session exists — these are listener-
        # construction-time configs
        os.environ["SPARK_GRAFT_UI_RETAINED"] = retained

    from msgvault_spark.catalog import CATALOG
    from msgvault_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_AQE", "false")
    os.environ.setdefault("SPARK_GRAFT_CONSTRAINTS", "false")
    spark = get_spark("msgvault_heap_growth")
    spark.sparkContext.setLogLevel("ERROR")
    if retained is not None:
        # the env var is wired through session.py's builder; verify it
        # took (getOrCreate silently ignores configs when a session
        # already exists) so a retained-A/B never silently tests defaults
        applied = spark.conf.get("spark.sql.ui.retainedExecutions")
        if applied != retained:
            raise SystemExit(
                f"--retained {retained} did not apply "
                f"(session reports {applied}); is a session already up?"
            )
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()

    def settled_heap_mb() -> float:
        jvm.System.gc()
        import time

        time.sleep(1.0)
        jvm.System.gc()
        time.sleep(0.5)
        return (rt.totalMemory() - rt.freeMemory()) / 1e6

    print(
        f"retainedExecutions override: {retained or '(spark default)'}; "
        f"sf_dir={sf_dir}; entries={n_entries}"
    )
    print(f"  0 entries: {settled_heap_mb():7.1f} MB settled heap")
    done = 0
    for name, spec in CATALOG.items():
        if spec.oracle_sql is None or name.startswith("stream_"):
            continue
        try:
            spec.fn(spark, sf_dir).collect()
        except Exception as e:  # noqa: BLE001
            print(f"  skip {name}: {type(e).__name__}")
            continue
        done += 1
        if done % step == 0:
            print(f"{done:3d} entries: {settled_heap_mb():7.1f} MB settled heap")
        if done >= n_entries:
            break
    print(f"END {done} entries: {settled_heap_mb():7.1f} MB settled heap")

    # reproduce the sweep's post-level-2 state: drop every serving cache,
    # then measure the irreducible residue — this is the heap the failed
    # retry saw
    import time

    from msgvault_spark.catalog import clear_session_caches

    n = clear_session_caches(spark)
    print(f"cleared {n} session caches: {settled_heap_mb():7.1f} MB settled heap")
    time.sleep(5)
    print(f"after 5s cleaner drain: {settled_heap_mb():7.1f} MB settled heap")

    if hist:
        # the pyspark driver JVM is this process's java child
        out = subprocess.run(
            ["pgrep", "-P", str(os.getpid()), "java"],
            capture_output=True,
            text=True,
        )
        pids = out.stdout.split()
        if pids:
            h = subprocess.run(
                ["jcmd", pids[0], "GC.class_histogram"],
                capture_output=True,
                text=True,
            )
            print("=== class histogram (top 30) ===")
            print("\n".join(h.stdout.splitlines()[:33]))


if __name__ == "__main__":
    main()
