"""Interleaved A/B bench: HEAD vs the previous round's tree, alternating
runs on the same box, per-query best across iterations.

Why: this VM carries hypervisor-level noisy-neighbor contention
(/proc/loadavg swings 0.06→9.4 with no local process; solo bench totals
range ±30-100% on identical code — see BENCH_AB_r6.json). Solo numbers
cannot attribute a cross-round delta; interleaving can, because both
trees sample the same noise distribution within minutes of each other.

Protocol: N_ITER alternating pairs (HEAD run, PREV run); PREV is a plain
copy of its tree (``git archive``) running its own bench.py, each run is
a fresh subprocess/SparkSession; per-query and total best-of across
iterations. PREV defaults to the last clean boundary commit, the base
``tools/gate_priority.py`` diffs against.

Writes BENCH_AB_r<N>.json next to the repo root, N one past the highest
existing artifact; bench.py embeds the newest such artifact in its own
JSON line so BENCH_r<N>.json carries both solo and A/B numbers (the r6
verdict's bench-hygiene ask #9).

Usage: python tools/bench_ab.py [--iters 2] [--prev REV]
"""

from __future__ import annotations

import json
import pathlib
import re
import shutil
import subprocess
import sys
import tempfile
import time

from gate_priority import last_round_rev

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _git(*args: str, cwd=ROOT) -> str:
    return subprocess.run(
        ["git", *args], cwd=cwd, capture_output=True, text=True, check=True
    ).stdout


def prev_round_rev() -> str:
    """The previous tree: the last clean boundary commit
    (``gate_priority.last_round_rev``'s rule)."""
    rev = last_round_rev()
    if rev is None:
        raise SystemExit("no boundary commit found; pass --prev")
    return rev


def next_artifact() -> pathlib.Path:
    """``BENCH_AB_r<N>.json``, one past the highest existing N."""
    ns = [
        int(m.group(1))
        for f in ROOT.glob("BENCH_AB_r*.json")
        if (m := re.search(r"_r(\d+)\.json$", f.name))
    ]
    return ROOT / f"BENCH_AB_r{max(ns, default=0) + 1}.json"


def export_tree(rev: str) -> pathlib.Path:
    """A plain copy of ``rev``'s files in a new temporary directory."""
    dest = pathlib.Path(tempfile.mkdtemp(prefix="ab_prev_"))
    tar = subprocess.run(
        ["git", "archive", rev], cwd=ROOT, capture_output=True, check=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=tar, check=True)
    return dest


def run_bench(tree: pathlib.Path) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    if proc.returncode != 0 or not proc.stdout.strip():
        raise RuntimeError(
            f"bench.py failed in {tree} (rc={proc.returncode}):\n"
            f"{proc.stderr[-2000:]}"
        )
    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    out["_run_seconds"] = round(time.time() - t0, 1)
    return out


def main() -> int:
    iters = 2
    prev = None
    args = sys.argv[1:]
    if "--iters" in args:
        iters = int(args[args.index("--iters") + 1])
    if "--prev" in args:
        prev = args[args.index("--prev") + 1]
    if prev is None:
        prev = prev_round_rev()

    head = _git("rev-parse", "--short", "HEAD").strip()
    prev_tree = export_tree(prev)
    try:
        head_runs, prev_runs = [], []
        for i in range(iters):
            print(f"iter {i}: HEAD ...", file=sys.stderr)
            head_runs.append(run_bench(ROOT))
            print(f"iter {i}: prev ...", file=sys.stderr)
            prev_runs.append(run_bench(prev_tree))
    finally:
        shutil.rmtree(prev_tree, ignore_errors=True)

    def best_per_query(runs: list[dict], key: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for r in runs:
            for q, v in r[key].items():
                out[q] = min(out.get(q, float("inf")), v)
        return out

    hb = best_per_query(head_runs, "queries")
    pb = best_per_query(prev_runs, "queries")
    artifact = {
        "protocol": (
            f"interleaved A/B on one box: {iters} alternating bench.py "
            f"runs of HEAD ({head}) and the previous round tree "
            f"({prev[:12]}, a git archive copy); per-query best across "
            "runs. Solo numbers drift +/-30% on this box from "
            "hypervisor contention; only interleaved deltas are "
            "attributable to code."
        ),
        "head": head,
        "prev": prev[:12],
        "head_totals": {
            "warm": [r["value"] for r in head_runs],
            "cold": [r["cold_value"] for r in head_runs],
        },
        "prev_totals": {
            "warm": [r["value"] for r in prev_runs],
            "cold": [r["cold_value"] for r in prev_runs],
        },
        # totals over the INTERSECTION of query sets only: a round that
        # adds/renames a headline query must not inflate one side's total
        "best_warm": {
            "head": round(sum(hb[q] for q in hb if q in pb), 3),
            "prev": round(sum(pb[q] for q in pb if q in hb), 3),
            "head_only": sorted(set(hb) - set(pb)),
            "prev_only": sorted(set(pb) - set(hb)),
        },
        "warm_per_query_best": {
            q: {"head": hb[q], "prev": pb.get(q)} for q in sorted(hb)
        },
    }
    out_path = next_artifact()
    out_path.write_text(json.dumps(artifact, indent=1))
    print(json.dumps({
        "wrote": str(out_path),
        "best_warm": artifact["best_warm"],
        "head_totals": artifact["head_totals"],
        "prev_totals": artifact["prev_totals"],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
