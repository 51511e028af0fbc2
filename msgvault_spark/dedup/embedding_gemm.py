"""GEMM-margin candidate generation for the hyperplane-LSH near-dup
rescore — the round-10 replacement for `embedding.lsh_near_dups`'s
per-pair interpreted fold, pre-built and output-pinned a round early.

Why this exists (SCALING.md round-9): `embedding_near_dups_lsh` is the
one genuinely rescore-bound sf1 entry (3.4× vs DuckDB — every
within-bucket pair pays an interpreted 3-fold cosine), and the measured
fix candidates went two ways: a flat-expression unroll LOST to the
fold (0.4×), while the blocked-GEMM + fp-margin + fold-verify two-phase
of `embedding.allpairs_near_dups` reads 0.02× vs DuckDB at sf1 on
strictly more work. This module ports that proven two-phase onto the
LSH bucket structure:

  propose   within each signature bucket, sub-blocked float64 GEMM
            tiles emit pairs clearing ``threshold − margin`` (the same
            dimension-scaled slack as allpairs — no false negatives);
            over-cap buckets keep their O(B) star edges untouched
  verify    survivors (a near-final-size set) are re-scored by the
            SAME sequential-JVM-fold cosine + round the oracle pins,
            so the emitted rows are bit-identical to lsh_near_dups

Output contract: exactly `embedding.lsh_near_dups` (same pairs, same
rounded cos bits) — pinned by tests/test_embedding_gemm.py's equality
suite on real and adversarial corpora. The catalog entry
`embedding_near_dups_lsh` runs this version.

Scale shape: task memory is bounded by 2·group_rows vectors per tile
regardless of bucket size (hot buckets sub-block adaptively), candidate
traffic is (id_a, id_b) longs only, and the float corpus decorates just
the margin survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from msgvault_spark.dedup.embedding import hyperplane_signature
from msgvault_spark.dedup.hotbuckets import split_by_bucket_cap, star_edges
from msgvault_spark.similarity.knn import _as_double, cosine


def _gemm_bucket_pairs(
    sig: DataFrame, threshold: float, round_to: int, group_rows: int
) -> DataFrame:
    """(id_a, id_b) candidates: same-bucket pairs whose float64-GEMM
    cosine clears threshold − margin. ``sig``: (doc_id, v, bucket)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    # adaptive sub-blocking: a bucket of B vectors splits into
    # ceil(B / group_rows) blocks, so one tile never holds more than
    # ~2·group_rows vectors no matter how hot the bucket is
    counts = sig.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_bkt"))
    blocks = (
        sig.join(F.broadcast(counts), "bucket")
        .withColumn(
            "g",
            F.pmod(
                F.xxhash64(F.col("doc_id")),
                F.ceil(F.col("n_bkt") / F.lit(group_rows)).cast("long"),
            ),
        )
        .groupBy("bucket", "g")
        .agg(
            F.collect_list(F.col("doc_id")).alias("ids"),
            F.collect_list(F.col("v")).alias("vecs"),
        )
    )
    ba = blocks.select(
        "bucket",
        F.col("g").alias("ga"),
        F.col("ids").alias("ids_a"),
        F.col("vecs").alias("vecs_a"),
    )
    bb = blocks.select(
        "bucket",
        F.col("g").alias("gb"),
        F.col("ids").alias("ids_b"),
        F.col("vecs").alias("vecs_b"),
    )
    tiles = ba.join(bb, "bucket").filter(F.col("ga") <= F.col("gb"))

    # identical margin to allpairs_near_dups: half-ulp of the final
    # rounding + dimension-scaled fp-reassociation slack (Cauchy–Schwarz
    # bound on GEMM-vs-sequential-fold divergence, >2× headroom)
    half_ulp = 0.5 * 10.0 ** (-round_to)

    def _tile(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                A = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in row.vecs_a]
                )
                B = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in row.vecs_b]
                )
                d = A.shape[1] if A.ndim == 2 else 1
                cut = threshold - (
                    half_ulp + 8.0 * d * np.finfo(np.float64).eps
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    na = np.sqrt((A * A).sum(axis=1))
                    nb = np.sqrt((B * B).sum(axis=1))
                    cos = (A @ B.T) / np.outer(na, nb)
                cond = cos >= cut
                if row.ga == row.gb:
                    cond &= ids_a[:, None] < ids_b[None, :]
                else:
                    # off-diagonal tiles still need the global id order
                    # the fold version's self-join enforces
                    cond &= ids_a[:, None] != ids_b[None, :]
                ii, jj = np.nonzero(cond)
                if ii.size == 0:
                    continue
                lo = np.minimum(ids_a[ii], ids_b[jj])
                hi = np.maximum(ids_a[ii], ids_b[jj])
                yield pd.DataFrame({"id_a": lo, "id_b": hi})

    schema = StructType(
        [StructField("id_a", LongType()), StructField("id_b", LongType())]
    )
    return tiles.mapInPandas(_tile, schema=schema)


def lsh_near_dups_gemm(
    embeddings: DataFrame,
    threshold: float,
    *,
    dim: int,
    n_planes: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    bucket_cap: int | None = None,
    group_rows: int = 2048,
    n_rows: int | None = None,
) -> DataFrame:
    """Drop-in twin of `embedding.lsh_near_dups` (same args, same output
    bits for FINITE-component vectors — the embedding pipeline's
    promote_generation gate rejects NaN/Inf components at ingest; on a
    NaN-component vector the two would diverge because numpy's propose
    cut is False for NaN while the fold's Spark ``>=`` sorts NaN
    greatest) with GEMM-margin candidate generation instead of
    fold-scoring every within-bucket pair."""
    if n_planes is None:
        from msgvault_spark.dedup.embedding import planes_for_corpus

        n_planes = planes_for_corpus(
            embeddings.count() if n_rows is None else n_rows
        )
    sig = embeddings.select(
        F.col(id_col).alias("doc_id"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("bucket", hyperplane_signature(F.col("v"), dim, n_planes))

    # NULL vectors: collect_list skips nulls, so feeding them to the GEMM
    # tiles would misalign ids against vecs. Drop them from the PROPOSE
    # side only — a pair with a NULL vector always rescores to NULL cos
    # and is filtered in the fold path, so the output is unaffected — but
    # keep the bucket_cap over/under split computed on the UNFILTERED
    # postings so star-edge vs pairing decisions match lsh_near_dups
    # bit-for-bit (star_edges over a hot bucket includes its NULL-vector
    # members there too; the shared rescore drops them identically).
    dense = sig.filter(F.col("v").isNotNull())
    if bucket_cap is not None:
        under_posts, over = split_by_bucket_cap(
            sig.select("bucket", "doc_id"), bucket_cap
        )
        under = dense.join(
            under_posts.select("bucket").distinct(), "bucket", "left_semi"
        )
        pairs = _gemm_bucket_pairs(
            under, threshold, round_to, group_rows
        ).unionByName(star_edges(over))
    else:
        pairs = _gemm_bucket_pairs(dense, threshold, round_to, group_rows)

    vmap = sig.select("doc_id", "v")
    cands = pairs.join(
        vmap.select(F.col("doc_id").alias("id_a"), F.col("v").alias("va")),
        "id_a",
    ).join(
        vmap.select(F.col("doc_id").alias("id_b"), F.col("v").alias("vb")),
        "id_b",
    )
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        cands.withColumn("cos", F.round(cos, round_to))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .sortWithinPartitions("id_a", "id_b")
    )
