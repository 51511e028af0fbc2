"""Measure the interpreted-fold vs flat-codegen gap on the exact shape
that makes `embedding_near_dups_lsh` 3.4× at sf1: a cosine rescore over
a large candidate-pair list of d=64 vectors (SCALING.md round-9 note).

Synthesizes N pairs of deterministic pseudo-random vectors (two array
columns, no join — isolates the EXPRESSION cost), then times a full-scan
aggregate over (a) the interpreted fold cosine, (b) the flat SQL twin.
A SUM over the cosine keeps the collect tiny while forcing every row.

    python tools/bench_flat.py [n_pairs] [dim]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from pyspark.sql import functions as F

    from msgvault_spark.session import get_spark
    from msgvault_spark.similarity.flat import cosine_flat
    from msgvault_spark.similarity.knn import cosine
    from msgvault_spark.similarity.rp import rp_sign

    spark = get_spark("bench_flat")
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic per-cell doubles in [-1, 1): cheap JVM-side synthesis
    va = F.array(
        *[
            (F.pmod(F.xxhash64(F.col("id") * 2 + 1, F.lit(d)), F.lit(2000))
             .cast("double") / 1000.0 - 1.0)
            for d in range(dim)
        ]
    )
    vb = F.array(
        *[
            (F.pmod(F.xxhash64(F.col("id") * 2, F.lit(d)), F.lit(2000))
             .cast("double") / 1000.0 - 1.0)
            for d in range(dim)
        ]
    )
    pairs = (
        spark.range(n).select("id", va.alias("va"), vb.alias("vb"))
        .persist()
    )
    pairs.count()  # materialize: timing below is expression-only

    def timed(col, label: str) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            pairs.agg(F.sum(col)).collect()
            best = min(best, time.perf_counter() - t0)
        print(f"{label:>6}: {best:.2f}s  ({n / best / 1e6:.1f}M pairs/s)")
        return best

    fold_t = timed(cosine(F.col("va"), F.col("vb")), "fold")
    flat_t = timed(cosine_flat("va", "vb", dim), "flat")
    print(f"speedup: {fold_t / flat_t:.1f}x")

    # the projection shape: 16 literal-coefficient dots per row
    from msgvault_spark.functions.arrays import lit_double_array
    from msgvault_spark.similarity.flat import dot_coeffs

    one_side = pairs.select("va")
    fold_cols, flat_cols = [], []
    for j in range(16):
        signs = [float(rp_sign(j, d)) for d in range(dim)]
        fold_cols.append(
            F.aggregate(
                F.zip_with(
                    F.col("va"), lit_double_array(signs), lambda x, s: x * s
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )
        flat_cols.append(dot_coeffs("va", signs))

    def timed_proj(cols, label: str) -> float:
        expr = None
        for c in cols:
            expr = c if expr is None else expr + c
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            one_side.agg(F.sum(expr)).collect()
            best = min(best, time.perf_counter() - t0)
        print(f"{label:>6}: {best:.2f}s  (16-dot projection over {n} rows)")
        return best

    fold_p = timed_proj(fold_cols, "fold")
    flat_p = timed_proj(flat_cols, "flat")
    print(f"speedup: {fold_p / flat_p:.1f}x")


if __name__ == "__main__":
    main()
