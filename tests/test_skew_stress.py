"""Skew stress: the salted join and the capped LSH must BEAT their naive
shapes under planted hot-key skew, not merely match their answers (the
r6 verdict's ask #5 — plan pins prove shape, this proves the shape pays).

The join test asserts on Spark's stage metrics: the busiest reducer's
share of the join's shuffle records, which salting must cut. AQE and
broadcast joins are disabled inside it (AQE's skew split is the
insurance layer; these operators are the planned-for version), and
restored after. The LSH test is wall-clock: plant EXTREME skew so the
structural effect is ≥1.5-6× and compare best-of-2 — ambient noise
(±30% drift) then cannot flip the verdict.

Timings from the round-7 calibration run land in SCALING.md's skew
section.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F


def _best(fn, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


@pytest.fixture(scope="module")
def hot_key_frames(spark):
    """3M-row fact with 98% of rows on ONE key (the zipf head a 100 TB
    corpus shows for a dominant label/domain), plus a 1000-row dim.
    3M (not larger): the suite shares one default-heap driver session,
    and this test must be robust late in suite order when many
    module-scoped persisted frames are already resident."""
    big = (
        spark.range(3_000_000)
        .select(
            F.when(F.col("id") % 50 < 49, F.lit("hot"))
            .otherwise(
                F.concat(F.lit("k"), (F.col("id") % 997).cast("string"))
            )
            .alias("key"),
            F.col("id").alias("val"),
        )
        .persist()
    )
    big.count()
    small = (
        spark.range(1000)
        .select(
            F.when(F.col("id") == 0, F.lit("hot"))
            .otherwise(
                F.concat(F.lit("k"), (F.col("id") % 997).cast("string"))
            )
            .alias("key"),
            (F.col("id") * 7).alias("dim"),
        )
        .persist()
    )
    small.count()
    yield big, small
    big.unpersist()
    small.unpersist()


def _hot_reducer_share(spark, group: str) -> float:
    """Share of the shuffle records read by the busiest reduce task of the
    jobs run under job group ``group`` — the record skew Spark's own task
    metrics report (AppStatusStore), not a wall-clock proxy for it."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # task-end events landed
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    shares = []
    for job in tracker.getJobIdsForGroup(group):
        for stage in tracker.getJobInfo(job).stageIds:
            tasks = store.taskList(stage, 0, 1_000_000)
            reads = [
                tasks.apply(i).taskMetrics().get().shuffleReadMetrics().recordsRead()
                for i in range(tasks.size())
                if tasks.apply(i).taskMetrics().isDefined()
            ]
            if sum(reads) > 100_000:  # the join's reduce stage
                shares.append(max(reads) / sum(reads))
    assert shares, f"no reduce stage found for job group {group}"
    return max(shares)


def test_salted_join_beats_naive_under_hot_key(spark, hot_key_frames):
    """One key holding 98% of a 3M-row fact side: the naive sort-merge
    join funnels its entire output through one reducer; salted_join fans
    it across n_salts. Identical answers; the busiest reducer's share of
    the join's shuffle records, read from the stage's task metrics,
    drops from ~all of it to a fraction — deterministic for a given
    shuffle-partition count, unlike wall time on a shared box."""
    from msgvault_spark.operators.salted import salted_join

    big, small = hot_key_frames
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def summary(joined):
            return joined.agg(
                F.count(F.lit(1)).alias("c"),
                F.sum(F.col("val") + F.col("dim")).alias("s"),
            ).collect()

        sc.setJobGroup("skew-naive", "naive hot-key join")
        naive = summary(big.join(small, "key"))
        sc.setJobGroup("skew-salted", "salted hot-key join")
        salted = summary(salted_join(big, small, "key", n_salts=16))
        sc.setLocalProperty("spark.jobGroup.id", None)
        assert naive == salted  # identical answer under skew
        naive_share = _hot_reducer_share(spark, "skew-naive")
        salted_share = _hot_reducer_share(spark, "skew-salted")
        assert naive_share > 0.9, naive_share  # the planted skew shows
        assert salted_share < 0.5 * naive_share, (
            f"salted_join must spread the hot key: busiest reducer reads "
            f"{salted_share:.0%} of the join's records (naive: "
            f"{naive_share:.0%})"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def _lsh_corpus(spark, n_hot: int, n_uniq: int):
    boiler = (
        "permission is hereby granted free of charge to any person "
        "obtaining a copy"
    )
    return spark.range(n_hot + n_uniq).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < n_hot, F.lit(boiler))
        .otherwise(
            F.concat(
                F.lit("unique document number "),
                F.col("id").cast("string"),
                F.lit(" with words "),
                (F.col("id") * 31).cast("string"),
                F.lit(" "),
                (F.col("id") * 17).cast("string"),
            )
        )
        .alias("text"),
    )


def test_capped_lsh_outruns_quadratic_at_5x_scale(spark):
    """The hot-bucket cap turns the boilerplate blow-up linear: capped
    propose over a 20k-doc corpus (10k sharing ONE text → 10k-member
    band buckets) must finish FASTER than the uncapped propose over a
    5× smaller 4k-doc corpus (2k hot → ~2M quadratic pairs). That is
    the bounded-vs-quadratic gap itself, asserted as wall-clock."""
    from msgvault_spark.dedup.minhash import (
        build_minhash_index,
        pairs_from_index,
    )

    big_idx = build_minhash_index(
        _lsh_corpus(spark, 10_000, 10_000), "doc_id", "text"
    ).persist()
    big_idx.count()
    small_idx = build_minhash_index(
        _lsh_corpus(spark, 2_000, 2_000), "doc_id", "text"
    ).persist()
    small_idx.count()
    try:
        capped_t = naive_t = float("inf")
        n_capped = n_naive = 0
        for _ in range(2):
            t0 = time.perf_counter()
            n_capped = pairs_from_index(big_idx, bucket_cap=256).count()
            capped_t = min(capped_t, time.perf_counter() - t0)
            t0 = time.perf_counter()
            n_naive = pairs_from_index(small_idx).count()
            naive_t = min(naive_t, time.perf_counter() - t0)
        # star edges: 10k hot docs → 9_999 rep pairs, all jaccard 1.0
        assert n_capped == 9_999
        # the naive 2k-hot slice materializes ~2M quadratic pairs
        assert n_naive >= 1_999_000
        assert capped_t < naive_t, (
            f"capped propose on 20k docs ({capped_t:.2f}s) must beat the "
            f"uncapped propose on 4k docs ({naive_t:.2f}s)"
        )
    finally:
        big_idx.unpersist()
        small_idx.unpersist()
