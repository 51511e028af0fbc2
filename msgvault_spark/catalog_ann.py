"""Composed-ANN catalog entries (round 12+).

Lives in its own module so additions here have a one-entry gate blast
radius (tools/gate_priority.py treats a module's entries as the unit of
re-verification; extending catalog_search.py would mark its ~20 settled
search entries as narrow-change must-verify and blow the driver's
50-slot rotation window for no semantic reason).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from msgvault_spark.catalog import register
from msgvault_spark.catalog_search import _seed_vector
from msgvault_spark.similarity.ivfpq import (
    build_ivfpq_index,
    ivfpq_oracle_sql,
    ivfpq_search,
)
from msgvault_spark.similarity.pq import collect_codebooks
from msgvault_spark.sources.loader import load_table


def get_ivfpq_index(spark: SparkSession, sf_dir: str):
    """Memoized IVF-PQ ETL artifacts: (codebooks, lake-persisted
    (cell, id, codes) table) — the one stored table of the composed
    index, written through the artifact store so serving sessions scan
    it (bucketed by cell at lake scale)."""
    from msgvault_spark.sources.cache import get_artifact, memo

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        books = collect_codebooks(emb, m=4, n_codes=16)
        index = get_artifact(
            spark,
            (sf_dir, "ivfpq_index", 8, 4, 16),
            lambda: build_ivfpq_index(emb, books, n_cells=8).coalesce(4),
        )
        return books, index

    return memo(spark, ("ivfpq_index", sf_dir), build)


_NQ = 20   # recall eval query set: vec_id < 20 (catalog_multimodal._NQ)
_RK = 10   # recall@k
_RERANK = 30


def _ivfpq_recall_oracle() -> str:
    from msgvault_spark.similarity.ivf import _cos_sql
    from msgvault_spark.similarity.pq import _dot_scaled_sql, _l2sq_sql

    m, n_codes, dim, n_cells, nprobe = 4, 16, 64, 8, 2
    sub = dim // m
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id < {_NQ}),
cents AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings
    WHERE vec_id < {n_cells}
),
probes AS (
    SELECT qid, cell FROM (
        SELECT q.qid, c.cid AS cell,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY {_cos_sql('q.qv', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM q CROSS JOIN cents c
    ) WHERE rn <= {nprobe}
),
assigned_cell AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cid ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
),
subs AS (SELECT CAST(j AS INT) AS j FROM range(0, {m}) t(j)),
cb AS (
    SELECT s.j, e.vec_id AS code,
           list_slice(e.embedding, s.j * {sub} + 1, (s.j + 1) * {sub}) AS cw
    FROM embeddings e CROSS JOIN subs s
    WHERE e.vec_id < {n_codes}
),
assigned_code AS (
    SELECT vec_id, j, code FROM (
        SELECT e.vec_id, c.j, c.code,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id, c.j
                   ORDER BY {_l2sq_sql(
                       f'list_slice(e.embedding, c.j * {sub} + 1, (c.j + 1) * {sub})',
                       'c.cw')} ASC, c.code ASC
               ) AS rn
        FROM embeddings e CROSS JOIN cb c
    ) WHERE rn = 1
),
lut AS (
    SELECT q.qid, c.j, c.code,
           {_dot_scaled_sql(
               f'list_slice(q.qv, c.j * {sub} + 1, (c.j + 1) * {sub})',
               'c.cw')} AS val
    FROM cb c CROSS JOIN q
),
scored AS (
    SELECT p.qid, a.vec_id AS id, CAST(SUM(l.val) AS BIGINT) AS s
    FROM assigned_code a
    JOIN assigned_cell ac ON ac.vec_id = a.vec_id
    JOIN probes p ON p.cell = ac.cid
    JOIN lut l ON l.qid = p.qid AND l.j = a.j AND l.code = a.code
    WHERE a.vec_id != p.qid
    GROUP BY p.qid, a.vec_id
),
cand AS (
    SELECT qid, id FROM (
        SELECT qid, id,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY s DESC, id ASC
               ) AS rn
        FROM scored
    ) WHERE rn <= {_RERANK}
),
approx AS (
    SELECT qid, id FROM (
        SELECT c.qid, c.id,
               ROW_NUMBER() OVER (
                   PARTITION BY c.qid
                   ORDER BY {_cos_sql('e.embedding', 'q.qv')} DESC, c.id ASC
               ) AS rn
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.id
        JOIN q ON q.qid = c.qid
    ) WHERE rn <= {_RK}
),
exact AS (
    SELECT qid, id FROM (
        SELECT q.qid, e.vec_id AS id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY {_cos_sql('e.embedding', 'q.qv')} DESC,
                            e.vec_id ASC
               ) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != q.qid
    ) WHERE rn <= {_RK}
)
SELECT x.qid,
       CAST(COUNT(a.id) AS BIGINT) AS matched,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(a.id) AS DOUBLE) / COUNT(*) AS recall
FROM exact x LEFT JOIN approx a ON a.qid = x.qid AND a.id = x.id
GROUP BY x.qid
ORDER BY x.qid
"""


@register("ivfpq_recall_report", _ivfpq_recall_oracle())
def ivfpq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the composed IVF-PQ path (ADC top-30 → exact re-rank)
    against exact brute-force ground truth — completes the recall harness
    next to the LSH/IVF/SQ8/PQ reports (catalog_multimodal), so every ANN
    scale path tunes against the same eval set. Shares the memoized
    exact-GT artifact and the IVF-PQ lake index; the batch LUT is a
    (qid, j, code, val) broadcast frame computed JVM-side with the same
    round(dot·10^6) integers the serving path uses."""
    from pyspark.sql import functions as F

    from msgvault_spark.catalog_multimodal import _exact_gt, _recall_output
    from msgvault_spark.similarity.ivfpq import ivfpq_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    books, index = get_ivfpq_index(spark, sf_dir)
    qset = emb.filter(F.col("vec_id") < _NQ)
    approx = ivfpq_knn_join(
        spark, index, books, emb, qset,
        k=_RK, rerank=_RERANK, n_cells=8, nprobe=2,
    ).select("qid", "id", F.lit(1).alias("hit"))
    return _recall_output(_exact_gt(spark, sf_dir), approx)


@register(
    "ivfpq_knn_seed0",
    ivfpq_oracle_sql(0, k=10, rerank=30, n_cells=8, nprobe=2, m=4,
                     n_codes=16, dim=64),
)
def ivfpq_knn_seed0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact re-rank (similarity/ivfpq.py) — the composed
    billion-scale ANN shape (FAISS IndexIVFPQ): probe 2 of 8 cells,
    integer-ADC the probed cells' m-byte codes, exact-cosine re-rank the
    top 30 candidates for the final 10. The (cell, id, codes) table is
    the one stored artifact; candidate generation never touches floats,
    and the re-rank fetch is a 30-row broadcast semi-join. Approximate by
    construction, hash-exact because the oracle replays the identical
    centroids, codebooks, and integer ADC."""
    emb = load_table(spark, sf_dir, "embeddings")
    books, index = get_ivfpq_index(spark, sf_dir)
    seed = [float(v) for v in _seed_vector(spark, sf_dir, 0)]
    return ivfpq_search(
        index, books, emb, seed, k=10, rerank=30, n_cells=8, nprobe=2,
        exclude_id=0,
    )
