"""Attribute stream_* one-shot invocation cost (r13 task: checkpoint/state
pooling). Times each streaming entry end-to-end, then breaks ONE entry
into phases: stream definition (footer probe), query start -> terminated,
result fetch. Repeats each entry N times in the same session so the
second invocation shows what a warm session still re-pays.

    python tools/stream_profile.py [sf_dir] [repeats]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from msgvault_spark.catalog import CATALOG
    from msgvault_spark.session import get_spark

    spark = get_spark("msgvault_stream_profile")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in CATALOG if n.startswith("stream_")]
    for name in names:
        for i in range(repeats):
            t0 = time.perf_counter()
            CATALOG[name].fn(spark, sf_dir).collect()
            print(f"{name} run{i}: {time.perf_counter() - t0:.3f}s", flush=True)

    # phase breakdown for the windowed rollup
    import uuid

    from msgvault_spark.streaming.incremental import (
        read_events_stream,
        run_available_now,
        windowed_rollup,
    )

    glob = os.path.join(sf_dir, "events.parquet*")
    for i in range(repeats):
        t0 = time.perf_counter()
        stream = read_events_stream(spark, glob)
        t1 = time.perf_counter()
        plan = windowed_rollup(stream)
        t2 = time.perf_counter()
        got = run_available_now(
            plan, queryName=f"prof_{uuid.uuid4().hex[:8]}",
            output_mode="complete",
        )
        t3 = time.perf_counter()
        n = got.count()
        t4 = time.perf_counter()
        print(
            f"rollup phases run{i}: define={t1-t0:.3f} plan={t2-t1:.3f} "
            f"run={t3-t2:.3f} fetch={t4-t3:.3f} rows={n}",
            flush=True,
        )


if __name__ == "__main__":
    main()
