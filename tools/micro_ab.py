"""Focused interleaved A/B for a handful of catalog entries.

bench_ab.py runs the whole 25-query headline suite per iteration (~3 min
each), which caps how many interleavings fit in a session. When the
question is "did THIS entry regress", alternate single-entry subprocesses
instead: each run is a fresh process + SparkSession that warms the entry
once, then takes best-of-K timed collects. Many more A/B pairs per minute
→ tighter attribution on sub-200ms queries, where bench_ab's 2 pairs
cannot separate a 30% delta from this box's ±30% ambient drift.

Usage: python tools/micro_ab.py <entry> [--prev REV] [--pairs 6] [--k 8]
"""

from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORKTREE = pathlib.Path("/tmp/micro_ab_prev")

RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
os.environ.setdefault("SPARK_GRAFT_AQE", "false")
os.environ.setdefault("SPARK_GRAFT_CONSTRAINTS", "false")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
os.environ.setdefault("SPARK_GRAFT_CONSOLE_PROGRESS", "false")
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


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


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

    prev = args.prev
    if prev is None:
        # the most recent round commit that is NOT HEAD itself — right
        # after a round boundary HEAD *is* the newest round commit, and
        # A/B-ing HEAD against HEAD reports a meaningless ~zero delta
        head = _git("rev-parse", "HEAD").strip()
        revs = [
            r
            for r in _git(
                "log", "--grep", "^round [0-9]*:", "--format=%H"
            ).splitlines()
            if r != head
        ]
        if not revs:
            raise SystemExit("no prior round commit found; pass --prev")
        prev = revs[0]
    if WORKTREE.exists():
        subprocess.run(
            ["git", "worktree", "remove", "--force", str(WORKTREE)],
            cwd=ROOT,
            capture_output=True,
        )
    subprocess.run(
        ["git", "worktree", "add", "--detach", str(WORKTREE), prev],
        cwd=ROOT,
        check=True,
        capture_output=True,
    )
    try:
        for entry in args.entries:
            head_times, prev_times = [], []
            for i in range(args.pairs):
                head_times.append(run_one(ROOT, entry, args.k))
                prev_times.append(run_one(WORKTREE, entry, args.k))
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
        subprocess.run(
            ["git", "worktree", "remove", "--force", str(WORKTREE)],
            cwd=ROOT,
            capture_output=True,
        )


if __name__ == "__main__":
    main()
