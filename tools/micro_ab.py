"""Focused interleaved A/B for a handful of catalog entries.

bench_ab.py runs the whole 25-query headline suite per iteration (~3 min
each), which caps how many interleavings fit in a session. When the
question is "did THIS entry regress", alternate single-entry subprocesses
instead: each run is a fresh process + SparkSession that warms the entry
once, then takes best-of-K timed collects. Many more A/B pairs per minute
→ tighter attribution on sub-200ms queries, where bench_ab's 2 pairs
cannot separate a 30% delta from this box's ±30% ambient drift.

Usage: python tools/micro_ab.py <entry> [--prev REV] [--pairs 6] [--k 8]
(REV defaults to bench_ab.py's base, the last clean boundary commit.)
"""

from __future__ import annotations

import argparse
import json
import pathlib
import shutil
import statistics
import subprocess
import sys

from bench_ab import export_tree, prev_round_rev

ROOT = pathlib.Path(__file__).resolve().parent.parent

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from msgvault_spark.catalog import CATALOG
from msgvault_spark.session import get_spark

entry, k = sys.argv[1], int(sys.argv[2])
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("micro_ab")
spark.sparkContext.setLogLevel("ERROR")
df = CATALOG[entry].fn(spark, sf_dir)
df.collect()  # warm: caches + first execution; timed runs replay df
best = float("inf")
for _ in range(k):
    t0 = time.perf_counter()
    df.collect()
    best = min(best, time.perf_counter() - t0)
print(json.dumps({"best": best}))
"""


def run_one(tree: pathlib.Path, entry: str, k: int) -> float:
    proc = subprocess.run(
        [sys.executable, "-c", RUNNER, entry, str(k)],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=600,
    )
    if proc.returncode != 0 or not proc.stdout.strip():
        raise RuntimeError(
            f"runner failed in {tree} (rc={proc.returncode}) for "
            f"{entry!r}:\n{proc.stderr.strip()[-2000:]}"
        )
    line = proc.stdout.strip().splitlines()[-1]
    return json.loads(line)["best"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("entries", nargs="+")
    ap.add_argument("--prev", default=None)
    ap.add_argument("--pairs", type=int, default=6)
    ap.add_argument("--k", type=int, default=8)
    args = ap.parse_args()

    prev = args.prev or prev_round_rev()
    prev_tree = export_tree(prev)
    try:
        for entry in args.entries:
            head_times, prev_times = [], []
            for i in range(args.pairs):
                head_times.append(run_one(ROOT, entry, args.k))
                prev_times.append(run_one(prev_tree, entry, args.k))
                print(
                    f"pair {i}: head={head_times[-1]:.3f} "
                    f"prev={prev_times[-1]:.3f}",
                    flush=True,
                )
            result = {
                "entry": entry,
                "prev_rev": prev[:12],
                "head_best": round(min(head_times), 4),
                "prev_best": round(min(prev_times), 4),
                "head_median": round(statistics.median(head_times), 4),
                "prev_median": round(statistics.median(prev_times), 4),
                "pairs": args.pairs,
                "k": args.k,
            }
            print(json.dumps(result))
    finally:
        shutil.rmtree(prev_tree, ignore_errors=True)


if __name__ == "__main__":
    main()
