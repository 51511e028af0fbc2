"""Full-catalog perf sweep: EVERY oracle-backed entry timed warm
(best of 2) in Spark and in DuckDB on the same parquet, sorted by ratio.

The bench headliners get per-round tracking via bench.py; this sweep is
the long tail — it catches an entry that is correct but structurally slow
before a user does (round 4 found a 67s interpreted all-pairs this way).

    python tools/ratio_sweep.py [sf_dir] [out_md] [entry ...]

Writes a markdown table (default RATIOS.md) and prints the >2x offenders.
Optional entry names restrict the sweep (a priority slice when the full
catalog doesn't fit the session); the table notes the restriction.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    args = sys.argv[1:]
    skip_extra: set[str] = set()
    while "--skip" in args:
        i = args.index("--skip")
        if i + 1 >= len(args):
            sys.exit("--skip requires an entry name")
        skip_extra.add(args[i + 1])
        del args[i:i + 2]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    out_md = args[1] if len(args) > 1 else "RATIOS.md"
    only = set(args[2:])

    import duckdb

    from msgvault_spark.catalog import CATALOG
    from msgvault_spark.session import get_spark

    # Each entry's frame is dropped before the next entry, so a marathon
    # over every entry never pins more than one plan's broadcasts — the
    # sweep runs on the default 8g driver.
    spark = get_spark("msgvault_ratio_sweep")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    # streaming entries execute real work with side effects on invocation;
    # their latency is a class property (pinned in tests), not a query time
    SKIP = {
        "stream_rollup_daily", "stream_dedup_count",
        "stream_user_sessions", "stream_stream_join_funnel",
        "stream_static_enrich",
    }

    # Fact-scale outputs (whole-corpus projections like
    # rp_project_embeddings) used to be timed with .collect()/fetchall(),
    # which measured Py4J row-conversion transfer, not plan cost — at sf1
    # rp_project_embeddings read 3.55x while its plan executed in 0.096s
    # (round-9 verdict, What's wrong #2). Entries whose warm output is at
    # least FULL_OUTPUT_ROWS are now timed to a sink on BOTH engines:
    # Spark's noop datasource (full computation, zero serialization) vs a
    # DuckDB in-memory CTAS (full materialization, zero fetch loop). Both
    # still compute every output column; neither pays result transfer.
    FULL_OUTPUT_ROWS = 5000

    # Entries whose oracle STATES the expected answer instead of doing the
    # equivalent work (correctness-only oracles): encoding_repair_docs's
    # DuckDB side is `text || 'ÿþ'` — it verifies the repair inverts the
    # corruption but performs no charset decode/strip, so its ratio
    # compares a real transcode against a string concat and means nothing.
    # These rows are tagged and EXCLUDED from the >2x offender count; their
    # structural reading is the absolute Spark time (r11 verdict, task 7).
    STATED_ORACLE = {"encoding_repair_docs"}

    from msgvault_spark.catalog import run_with_memory_recovery

    def build_and_collect(spec):
        df = spec.fn(spark, sf_dir)
        return df, len(df.collect())

    rows = []
    errors = []
    for name, spec in CATALOG.items():
        if spec.oracle_sql is None or name in SKIP or name in skip_extra:
            continue
        if only and name not in only:
            continue
        try:
            # a marathon session's accumulated heap can starve one heavy
            # entry's broadcast build — the shared 3-level recovery
            # ladder (retry → clear session caches + cleaner drain → one
            # no-auto-broadcast retry) is the same recovery a serving
            # process applies (server.py). The warm and timed runs below
            # replay the frame the successful attempt built.
            df, n_out = run_with_memory_recovery(
                spark, lambda: build_and_collect(spec), label=name
            )
            sink_mode = n_out >= FULL_OUTPUT_ROWS
            if sink_mode:
                def run_spark():
                    df.write.mode("overwrite").format("noop").save()

                def run_duck():
                    con.execute(
                        "CREATE OR REPLACE TEMP TABLE _sweep_out AS "
                        + spec.oracle_sql
                    )
            else:
                def run_spark():
                    df.collect()

                def run_duck():
                    con.execute(spec.oracle_sql).fetchall()
            run_spark()  # warm the timed shape itself
            ts = []
            for _ in range(2):
                t0 = time.perf_counter()
                run_spark()
                ts.append(time.perf_counter() - t0)
            s_t = min(ts)
            run_duck()
            ts = []
            for _ in range(2):
                t0 = time.perf_counter()
                run_duck()
                ts.append(time.perf_counter() - t0)
            d_t = min(ts)
        except Exception as e:  # noqa: BLE001
            print(f"ERR {name}: {type(e).__name__}: {e}")
            errors.append((name, f"{type(e).__name__}: {e}"))
            continue
        finally:
            # drop the entry's plan (and the closures holding it)
            df = run_spark = None
        ratio = s_t / d_t if d_t > 0 else float("inf")
        rows.append((name, s_t, d_t, ratio, sink_mode))
        tag = " [sink]" if sink_mode else ""
        if name in STATED_ORACLE:
            tag += " [stated-oracle]"
        print(f"{ratio:7.1f}x {name}: spark={s_t:.3f} duck={d_t:.3f}{tag}")

    rows.sort(key=lambda r: -r[3])
    sf = os.path.basename(sf_dir.rstrip("/"))
    with open(out_md, "w") as f:
        f.write(
            f"# Full-catalog Spark-vs-DuckDB warm ratios ({sf}, best of 2,"
            f" single box — absolutes carry this VM's ±30% ambient noise;"
            f" ratios are same-moment and therefore comparable). Entries"
            f" whose DuckDB\ntime is under ~20ms measure Spark's per-job"
            f" scheduling floor, not plan\nquality — at cluster scale that"
            f" constant amortizes to zero against\nper-row work; the"
            f" structural reading is the ABSOLUTE Spark time and the\n"
            f"plan shape (SCALING.md).\n\n"
            f"Entries marked [sink] emit a whole-corpus output (≥5000"
            f" rows at this SF) and are\ntimed to a sink on both engines"
            f" — Spark noop write vs DuckDB in-memory CTAS —\nso the"
            f" ratio reads plan cost, not driver result-transfer"
            f" (round-9 methodology fix).\n\n"
        )
        if only:
            f.write(
                f"RESTRICTED SLICE: {len(only)} requested entries, not the"
                f" full catalog.\n\n"
            )
        if skip_extra:
            f.write(
                f"EXPLICITLY SKIPPED (--skip): {', '.join(sorted(skip_extra))}"
                f" — quadratic-verify dedup fixtures whose sf1 wall-clocks"
                f" (100-530s each, Spark side) are recorded in COVERAGE.md;"
                f" their SCALE paths (capped LSH, banded SimHash) are in the"
                f" table.\n\n"
            )
        f.write(
            f"Entries marked [stated-oracle] have a correctness-only oracle"
            f" that states the\nexpected answer rather than doing equivalent"
            f" work (e.g. encoding_repair_docs:\nSpark performs the real"
            f" strict-UTF-8-decode → latin-1 fallback → control-strip\n"
            f"transcode, DuckDB appends a literal) — their ratio compares"
            f" unlike work and is\nexcluded from the offender count; read"
            f" the absolute Spark time.\n\n"
        )
        f.write(
            f"| ratio | entry | spark s | duckdb s |\n|---|---|---|---|\n"
        )
        for name, s_t, d_t, r, sink in rows:
            tag = " [sink]" if sink else ""
            if name in STATED_ORACLE:
                tag += " [stated-oracle]"
            f.write(f"| {r:.2f}x | {name}{tag} | {s_t:.3f} | {d_t:.3f} |\n")
        over = [
            x for x in rows if x[3] > 2.0 and x[0] not in STATED_ORACLE
        ]
        f.write(
            f"\n{len(rows)} batch entries ({len(SKIP)} streaming entries"
            f" excluded — their per-invocation micro-batch setup is a class"
            f" property pinned in tests, not a query time); {len(over)}"
            f" above 2x excluding stated-oracle rows (floor notes in"
            f" SCALING.md).\n"
        )
        if errors:
            f.write("\n## ERRORS — entries that failed to run\n\n")
            for name, msg in errors:
                f.write(f"- `{name}`: {msg}\n")
    print(
        f"\nwrote {out_md}: {len(rows)} entries, {len(over)} above 2x, "
        f"{len(errors)} errors"
    )
    if errors:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
