"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

value = sum of per-query wall-clock seconds (post-warmup, best of
BENCH_RUNS=3 runs each), re-collecting the frame the warmup built: a
reduce-only replay (shuffle reuse skips the map stages). cold_value
builds each plan fresh per run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    # --sf1: the per-round scale headline (r9 verdict task #6) — same
    # protocol, the builder-generated sf1 lake, artifact → BENCH_SF1.json
    sf1_mode = "--sf1" in sys.argv[1:]
    if sf1_mode:
        here = os.path.dirname(os.path.abspath(__file__))
        sf_dir = os.environ.get(
            "SPARK_GRAFT_SF_DIR", os.path.join(here, "testdata", "sf1")
        )
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    # single-node small-SF run: AQE's stage-replanning barriers cost
    # ~100ms/stage and optimize nothing here; constraint propagation only
    # burns optimizer time at this scale. A cluster-scale deployment keeps
    # both defaults (on) — see msgvault_spark/session.py
    os.environ.setdefault("SPARK_GRAFT_AQE", "false")
    os.environ.setdefault("SPARK_GRAFT_CONSTRAINTS", "false")
    # size shuffle partitions to the data, the same rule that picks
    # thousands at 100 TB pointed the other way: at sf<=0.1 a shuffle
    # partition of 32 holds ~KBs and per-task scheduling dominates —
    # measured r7: cold total 13.1s at 32 partitions vs 11.1s at 8
    if sf <= 0.1:
        os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

    # the driver parses stdout: progress bars / log lines interleaved with
    # the final JSON truncated r6/r7's artifacts to an unparseable tail —
    # keep stdout to exactly one JSON line (full result goes to a file)
    os.environ.setdefault("SPARK_GRAFT_CONSOLE_PROGRESS", "false")

    from msgvault_spark.catalog import CATALOG
    from msgvault_spark.session import get_spark

    spark = get_spark("msgvault_bench")
    spark.sparkContext.setLogLevel("ERROR")

    headline = {n: s for n, s in CATALOG.items() if s.headline}

    # warmup: run every headline query once so one-time costs (JVM warmup,
    # parquet footers, the materialize-once archive/wide caches — the
    # reference's build-cache analog) are excluded from steady-state timing,
    # matching how the reference benchmarks a warm cache (benchmark_test.go).
    # The warm loop replays these same frames.
    frames = {name: spec.fn(spark, sf_dir) for name, spec in headline.items()}
    for df in frames.values():
        df.collect()

    # warm timing: `value` stays best-of-BENCH_RUNS (default 3 — the
    # protocol every prior round used, so cross-round solo comparisons
    # keep their meaning), and the SAME loop continues to 5 samples for a
    # supplementary best-of-5 (`value_best5`): the r12 verdict's noise
    # finding — 25 × ~50 ms queries on a box with ±30% ambient drift made
    # a 24/25 phantom "regression" — is mitigated by a deeper minimum,
    # which converges on the code's floor instead of the weather's.
    warm_samples = max(runs, 5)
    times: dict[str, float] = {}
    times5: dict[str, float] = {}
    for name, df in frames.items():
        best = float("inf")
        for i in range(warm_samples):
            t0 = time.perf_counter()
            df.collect()
            dt = time.perf_counter() - t0
            if i < runs:
                best = min(best, dt)
            times5.setdefault(name, float("inf"))
            times5[name] = min(times5[name], dt)
        times[name] = round(best, 3)
        times5[name] = round(times5[name], 3)
    del frames

    # cold path: each run builds the plan fresh, so plan construction
    # (Py4J expression building + Catalyst analysis/optimization) and the
    # full map stages are INSIDE the measurement. ETL artifacts (persisted
    # archive/wide/index caches) stay warm: they are build-cache products,
    # not per-query work.
    cold: dict[str, float] = {}
    for name, spec in headline.items():
        best = float("inf")
        for _ in range(max(2, runs - 1)):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).collect()
            best = min(best, time.perf_counter() - t0)
        cold[name] = round(best, 3)

    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "value_best5": round(sum(times5.values()), 3),
        "queries_best5": times5,
        "cold_value": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "sf": sf,
        # measurement protocol, so cross-round deltas are attributable:
        # warm = best of `runs` re-collects of the warmup's frame (value),
        # with a deeper best-of-5 minimum alongside (value_best5); cold =
        # best of max(2, runs-1) fresh plan builds
        "warm_best_of": runs,
        "warm_best5_of": warm_samples,
        "cold_best_of": max(2, runs - 1),
        # this VM carries ±30% ambient noisy-neighbor drift between
        # sessions; cross-round deltas are only attributable via the
        # interleaved A/B protocol recorded in BENCH_AB_r4.json
        "noise_note": "single-run absolutes drift +/-30% on this box; "
        "the embedded 'ab' block (tools/bench_ab.py, interleaved vs the "
        "previous round tree) is the attributable comparison",
    }
    # embed the newest interleaved A/B artifact so this one JSON line
    # carries BOTH protocols (solo secondary, A/B primary)
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    def _rnum(p: str) -> int:
        import re

        m = re.search(r"_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    abs_ = sorted(
        glob.glob(os.path.join(here, "BENCH_AB_r*.json")), key=_rnum
    )
    if abs_:
        try:
            with open(abs_[-1]) as f:
                ab = json.load(f)
            out["ab"] = {
                "artifact": os.path.basename(abs_[-1]),
                "head": ab.get("head"),
                "prev": ab.get("prev"),
                "best_warm": ab.get("best_warm"),
                "head_totals": ab.get("head_totals"),
                "prev_totals": ab.get("prev_totals"),
            }
        except (OSError, ValueError):
            pass

    # full result (cold per-query breakdown + A/B embed + notes) → file;
    # stdout gets ONE compact line that survives a 2000-char tail capture
    # (the r7 verdict's bench-artifact fix: BENCH_r07.json had parsed=null
    # because the fat line + progress spam overflowed the driver's buffer)
    out_name = "BENCH_SF1.json" if sf1_mode else "BENCH_OUT.json"
    with open(os.path.join(here, out_name), "w") as f:
        json.dump(out, f, indent=1)
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "value_best5": out["value_best5"],
        "cold_value": out["cold_value"],
        "sf": out["sf"],
        "full": out_name,
    }
    # surface the interleaved A/B pair (the ONLY noise-proof round-over-
    # round comparison on this box) in the compact line, so PERF-style
    # tooling sees the attributable number without opening the artifact
    if "ab" in out and out["ab"].get("best_warm"):
        bw = out["ab"]["best_warm"]
        compact["ab_best_warm"] = {"head": bw.get("head"), "prev": bw.get("prev")}
        compact["ab_artifact"] = out["ab"]["artifact"]
    sys.stdout.flush()
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
