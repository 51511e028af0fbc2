"""Search-layer catalog entries: Gmail-parser fast search (Q1/Q3), BM25 FTS
(Q2), vector KNN (Q7), hybrid RRF (Q8). Imported by catalog.py for its side
effects (registers entries)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from msgvault_spark.catalog import register
from msgvault_spark.search.fast import search_fast
from msgvault_spark.search.fts import (
    bm25_oracle_sql,
    bm25_prefix_oracle_sql,
    bm25_search,
)
from msgvault_spark.search.hybrid import hybrid_search
from msgvault_spark.sources.adapter import oracle
from msgvault_spark.sources.cache import get_archive
from msgvault_spark.sources.cache import get_table as load_table

_MS_CTE = """
ms AS (
    SELECT mr.message_id,
           MIN_BY(p.email_address, mr.participant_id) AS ms_email,
           MIN_BY(COALESCE(NULLIF(TRIM(p.display_name), ''),
                           NULLIF(p.phone_number, ''), p.email_address, ''),
                  mr.participant_id) AS ms_name
    FROM message_recipients mr
    JOIN participants p ON p.id = mr.participant_id
    WHERE mr.recipient_type = 'from'
    GROUP BY mr.message_id
)
"""

_EMAIL_ONLY = (
    "(msg.message_type = 'email' OR msg.message_type IS NULL "
    "OR msg.message_type = '')"
)


_SEED_MEMO: dict[tuple, list] = {}


def _normed_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized normed-embeddings ETL artifact (vec_id, emb_d, emb_norm) —
    what a real vector index stores next to the raw vectors; per-query
    cosine then folds once instead of three times."""
    from msgvault_spark.similarity.knn import normed_embeddings
    from msgvault_spark.sources.cache import get_artifact

    return get_artifact(
        spark,
        (sf_dir, "embeddings_normed"),
        lambda: normed_embeddings(load_table(spark, sf_dir, "embeddings")),
    )


def _seed_vector(spark: SparkSession, sf_dir: str, vec_id: int) -> list:
    """Memoized seed-embedding lookup (the query input for find-similar);
    saves a point-lookup job per query on repeated seeds."""
    key = (spark.sparkContext.applicationId, sf_dir, vec_id)
    if key not in _SEED_MEMO:
        emb = load_table(spark, sf_dir, "embeddings")
        row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
        _SEED_MEMO[key] = list(row[0])
    return _SEED_MEMO[key]


@register(
    "search_fast_operators",
    oracle(
        f"""
, {_MS_CTE}
SELECT msg.id,
       COALESCE(msg.subject, '') AS subject,
       COALESCE(msg.snippet, '') AS snippet,
       COALESCE(ms.ms_email, '') AS from_email,
       COALESCE(ms.ms_name, '') AS from_name,
       msg.sent_at,
       COALESCE(msg.size_estimate, 0) AS size_estimate,
       COALESCE(msg.has_attachments, false) AS has_attachments
FROM messages msg
LEFT JOIN ms ON ms.message_id = msg.id
WHERE {_EMAIL_ONLY}
  AND msg.has_attachments = true
  AND msg.size_estimate > 102400
  AND msg.subject ILIKE '%URGENT%' ESCAPE '\\'
  AND (EXISTS (
        SELECT 1 FROM message_recipients mr2
        JOIN participants p2 ON p2.id = mr2.participant_id
        WHERE mr2.message_id = msg.id AND mr2.recipient_type = 'from'
          AND (p2.email_address ILIKE '%@nation_5.example.com%' ESCAPE '\\'
               OR p2.phone_number ILIKE '%@nation_5.example.com%' ESCAPE '\\'
               OR p2.display_name ILIKE '%@nation_5.example.com%' ESCAPE '\\'))
       OR EXISTS (
        SELECT 1 FROM participants p3
        WHERE p3.id = msg.sender_id
          AND (p3.email_address ILIKE '%@nation_5.example.com%' ESCAPE '\\'
               OR p3.phone_number ILIKE '%@nation_5.example.com%' ESCAPE '\\'
               OR p3.display_name ILIKE '%@nation_5.example.com%' ESCAPE '\\')))
ORDER BY msg.sent_at DESC, msg.id DESC
LIMIT 100
"""
    ),
)
def search_fast_operators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gmail-style operator search: from:@domain subject: larger: has: (Q1→Q3)."""
    return search_fast(
        get_archive(spark, sf_dir),
        "from:@nation_5.example.com subject:URGENT larger:100K has:attachment",
    )


@register(
    "search_text_terms",
    oracle(
        f"""
, {_MS_CTE}
SELECT msg.id,
       COALESCE(msg.subject, '') AS subject,
       COALESCE(msg.snippet, '') AS snippet,
       COALESCE(ms.ms_email, '') AS from_email,
       COALESCE(ms.ms_name, '') AS from_name,
       msg.sent_at,
       COALESCE(msg.size_estimate, 0) AS size_estimate,
       COALESCE(msg.has_attachments, false) AS has_attachments
FROM messages msg
LEFT JOIN ms ON ms.message_id = msg.id
WHERE {_EMAIL_ONLY}
  AND (msg.subject ILIKE '%status P%' ESCAPE '\\'
       OR COALESCE(msg.snippet, '') ILIKE '%status P%' ESCAPE '\\'
       OR COALESCE(ms.ms_email, '') ILIKE '%status P%' ESCAPE '\\'
       OR COALESCE(ms.ms_name, '') ILIKE '%status P%' ESCAPE '\\')
ORDER BY msg.sent_at DESC, msg.id DESC
LIMIT 100
"""
    ),
)
def search_text_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase free-text search over subject/snippet/sender (Q3)."""
    return search_fast(get_archive(spark, sf_dir), '"status P"')


_BM25_TERMS = ["spark", "query"]


@register(
    "bm25_documents",
    bm25_oracle_sql("documents", "doc_id", "text", _BM25_TERMS, k=20),
    headline=True,
)
def bm25_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index BM25 over documents.text (Q2 rebuild) — served from
    the memoized ETL-time index (FTS5-table analog)."""
    from pyspark.sql import functions as FF

    from msgvault_spark.search.fts import bm25_scores
    from msgvault_spark.sources.cache import (
        get_corpus_stats,
        get_term_stats,
        get_text_index,
    )

    postings, stats = get_text_index(spark, sf_dir, "documents", "doc_id", "text")
    cstats = get_corpus_stats(spark, sf_dir, "documents", "doc_id", "text")
    tstats = get_term_stats(spark, sf_dir, "documents", "doc_id", "text")
    return (
        bm25_scores(
            postings, stats, _BM25_TERMS, round_to=6,
            corpus_stats=cstats, term_stats=tstats,
        )
        .orderBy(FF.col("score").desc(), FF.col("doc_id").asc())
        .limit(20)
    )


@register(
    "bm25_fts5_documents",
    bm25_oracle_sql(
        "documents", "doc_id", "text", _BM25_TERMS, k=20, variant="fts5"
    ),
)
def bm25_fts5_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 under SQLite FTS5's exact weighting (plain Robertson idf, no
    Lucene +1, clamped to 1e-6 when ≤0 — fts5_aux.c): the
    reference-fidelity rank order a user migrating from msgvault's FTS5
    search expects. Same memoized index artifacts as bm25_documents;
    only the idf literal differs. Parity against a REAL FTS5 instance is
    pinned in tests/test_search_fts_knn.py::test_fts5_variant_matches_real_fts5."""
    from pyspark.sql import functions as FF

    from msgvault_spark.search.fts import bm25_scores
    from msgvault_spark.sources.cache import (
        get_corpus_stats,
        get_term_stats,
        get_text_index,
    )

    postings, stats = get_text_index(spark, sf_dir, "documents", "doc_id", "text")
    cstats = get_corpus_stats(spark, sf_dir, "documents", "doc_id", "text")
    tstats = get_term_stats(spark, sf_dir, "documents", "doc_id", "text")
    return (
        bm25_scores(
            postings, stats, _BM25_TERMS, round_to=6,
            corpus_stats=cstats, term_stats=tstats, variant="fts5",
        )
        .orderBy(FF.col("score").desc(), FF.col("doc_id").asc())
        .limit(20)
    )


_KNN_ORACLE = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id AS id,
  round(
    list_sum(list_transform(list_zip(e.embedding, q.qv),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding,
             v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       sqrt(list_sum(list_transform(q.qv,
             v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS score
FROM embeddings e, q
WHERE e.vec_id != 0
ORDER BY score DESC, id ASC
LIMIT 10
"""


@register("knn_cosine_seed0", _KNN_ORACLE, headline=True)
def knn_cosine_seed0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find-similar: brute-force cosine top-10 for seed vec_id=0 (Q7/Q9),
    served from the normed-embeddings artifact (one dot-product fold per
    row; stored norms) — scores bit-identical to the fold-per-query
    formulation, so the brute-force parity oracle is unchanged."""
    from msgvault_spark.similarity.knn import knn_bruteforce_normed

    return knn_bruteforce_normed(
        _normed_emb(spark, sf_dir),
        _seed_vector(spark, sf_dir, 0),
        k=10,
        round_to=6,
        exclude_id=0,
    )


def _hybrid_oracle() -> str:
    bm25_inner = bm25_oracle_sql(
        "documents", "doc_id", "text", _BM25_TERMS, k=21
    ).strip()
    return f"""
WITH bm25_top AS ({bm25_inner}),
bm25_ranked AS (
    SELECT doc_id AS id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
    FROM bm25_top
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vec_scored AS (
    SELECT e.vec_id AS id,
      round(
        list_sum(list_transform(list_zip(e.embedding, q.qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(e.embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
           sqrt(list_sum(list_transform(q.qv,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS score
    FROM embeddings e, q
    ORDER BY score DESC, id ASC
    LIMIT 21
),
vec_ranked AS (
    SELECT id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rnk
    FROM vec_scored
),
b AS (SELECT id, score AS bm25_score, rnk AS b_rnk FROM bm25_ranked WHERE rnk <= 20),
v AS (SELECT id AS v_id, score AS vector_score, rnk AS v_rnk FROM vec_ranked WHERE rnk <= 20)
SELECT COALESCE(b.id, v.v_id) AS id,
       COALESCE(1.0 / (60 + b.b_rnk), 0.0) +
       COALESCE(1.0 / (60 + v.v_rnk), 0.0) AS rrf_score,
       b.bm25_score,
       v.vector_score
FROM b FULL OUTER JOIN v ON b.id = v.v_id
ORDER BY rrf_score DESC, id ASC
LIMIT 20
"""


@register("hybrid_rrf", _hybrid_oracle(), headline=True)
def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ∪ KNN fused via RRF 1/(60+rank), deterministic tie-break (Q8)."""
    from msgvault_spark.sources.cache import (
        get_corpus_stats,
        get_term_stats,
        get_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    seed = _seed_vector(spark, sf_dir, 0)
    return hybrid_search(
        docs,
        _normed_emb(spark, sf_dir),
        " ".join(_BM25_TERMS),
        seed,
        k_per_signal=20,
        limit=20,
        round_scores=6,
        text_index=get_text_index(spark, sf_dir, "documents", "doc_id", "text"),
        corpus_stats=get_corpus_stats(spark, sf_dir, "documents", "doc_id", "text"),
        term_stats=get_term_stats(spark, sf_dir, "documents", "doc_id", "text"),
        embeddings_normed=True,
    )


# ---------------------------------------------------------------------------
# IVF ANN (second scale path next to LSH)
# ---------------------------------------------------------------------------

from msgvault_spark.similarity.ivf import (  # noqa: E402
    build_ivf_index,
    ivf_oracle_sql,
    ivf_search,
)


def get_ivf_index(spark: SparkSession, sf_dir: str, n_cells: int = 8) -> DataFrame:
    """Memoized persisted IVF index (id, vec, cell) — the lake artifact a
    real deployment buckets by cell at ETL time (disk-backed via
    sources/cache.get_artifact since round 10)."""
    from msgvault_spark.sources.cache import get_artifact

    return get_artifact(
        spark,
        (sf_dir, "ivf_index", n_cells),
        lambda: build_ivf_index(
            load_table(spark, sf_dir, "embeddings"), n_cells=n_cells
        ).coalesce(4),
    )


@register("ann_ivf_seed0", ivf_oracle_sql(0, k=10, n_cells=8, nprobe=2))
def ann_ivf_seed0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF find-similar: assign corpus to 8 deterministic cells, probe the
    2 cells nearest the seed's vector, exact-rerank members (similarity/
    ivf.py). Approximate by construction; the oracle replays the same index,
    so results are still hash-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    index = get_ivf_index(spark, sf_dir, 8)
    seed = _seed_vector(spark, sf_dir, 0)
    return ivf_search(
        index, emb, list(seed), k=10, n_cells=8, nprobe=2, exclude_id=0
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (third scale path: memory-bandwidth compression)
# ---------------------------------------------------------------------------

from msgvault_spark.similarity.pq import (  # noqa: E402
    adc_lut,
    collect_codebooks,
    encode_pq,
    pq_oracle_sql,
    pq_search,
)

_PQ_MEMO: dict[tuple, object] = {}


def get_pq_index(spark: SparkSession, sf_dir: str):
    """Memoized PQ ETL artifacts: (codebooks, persisted codes table) —
    kilobytes of driver-side codewords plus the pure-map m-byte encode."""
    from pyspark import StorageLevel

    from msgvault_spark.sources.cache import memo

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        books = collect_codebooks(emb, m=4, n_codes=16)
        codes = encode_pq(emb, books).coalesce(4).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        codes.count()
        return books, codes

    return memo(spark, ("pq_index", sf_dir), build)


@register("pq_knn_seed0", pq_oracle_sql(0, k=10, m=4, n_codes=16, dim=64))
def pq_knn_seed0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ find-similar (similarity/pq.py): 4 subspaces × 16 codewords,
    asymmetric-distance scoring over the m-byte codes table only — the
    float corpus is never scanned at query time. Codebooks + codes are
    memoized ETL artifacts (kilobytes + pure-map encode); approximate by
    construction, hash-exact because the oracle replays the identical
    codebooks and integer LUT arithmetic."""
    books, codes = get_pq_index(spark, sf_dir)
    lut = adc_lut(books, [float(v) for v in _seed_vector(spark, sf_dir, 0)])
    return pq_search(codes, lut, k=10, exclude_id=0)


def _hybrid_filtered_oracle() -> str:
    """The filtered-hybrid oracle: both signals constrained to id < 2500
    (the shared `filtered` CTE shape), BM25 stats global."""
    bm25_inner = bm25_oracle_sql(
        "documents", "doc_id", "text", _BM25_TERMS, k=21,
        candidate_where="p.doc_id < 2500",
    ).strip()
    return f"""
WITH bm25_top AS ({bm25_inner}),
bm25_ranked AS (
    SELECT doc_id AS id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
    FROM bm25_top
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
vec_scored AS (
    SELECT e.vec_id AS id,
      round(
        list_sum(list_transform(list_zip(e.embedding, q.qv),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(e.embedding,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
           sqrt(list_sum(list_transform(q.qv,
                 v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS score
    FROM embeddings e, q
    WHERE e.vec_id < 2500
    ORDER BY score DESC, id ASC
    LIMIT 21
),
vec_ranked AS (
    SELECT id, score,
           ROW_NUMBER() OVER (ORDER BY score DESC, id ASC) AS rnk
    FROM vec_scored
),
b AS (SELECT id, score AS bm25_score, rnk AS b_rnk FROM bm25_ranked WHERE rnk <= 20),
v AS (SELECT id AS v_id, score AS vector_score, rnk AS v_rnk FROM vec_ranked WHERE rnk <= 20)
SELECT COALESCE(b.id, v.v_id) AS id,
       COALESCE(1.0 / (60 + b.b_rnk), 0.0) +
       COALESCE(1.0 / (60 + v.v_rnk), 0.0) AS rrf_score,
       b.bm25_score,
       v.vector_score
FROM b FULL OUTER JOIN v ON b.id = v.v_id
ORDER BY rrf_score DESC, id ASC
LIMIT 20
"""


@register("hybrid_rrf_filtered", _hybrid_filtered_oracle())
def hybrid_rrf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search with a drill-down filter pushed into BOTH signals
    (Q10): candidates restricted to id < 2500, BM25 corpus stats global —
    FTS5 semantics under the reference's shared `filtered` CTE."""
    from msgvault_spark.sources.cache import (
        get_corpus_stats,
        get_term_stats,
        get_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    seed = _seed_vector(spark, sf_dir, 0)
    return hybrid_search(
        docs,
        _normed_emb(spark, sf_dir),
        " ".join(_BM25_TERMS),
        seed,
        k_per_signal=20,
        limit=20,
        round_scores=6,
        text_index=get_text_index(spark, sf_dir, "documents", "doc_id", "text"),
        corpus_stats=get_corpus_stats(spark, sf_dir, "documents", "doc_id", "text"),
        term_stats=get_term_stats(spark, sf_dir, "documents", "doc_id", "text"),
        doc_filter=F.col("doc_id") < 2500,
        vec_filter=F.col("vec_id") < 2500,
        embeddings_normed=True,
    )


@register(
    "bm25_prefix_documents",
    bm25_prefix_oracle_sql("documents", "doc_id", "text", ["st*", "join"], k=20),
)
def bm25_prefix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FTS5-style prefix match (`st*` AND `join`) over the ETL-time index —
    the `term*` quoting path of Q2 (reference sqlite.go:1325-1335)."""
    from pyspark.sql import functions as FF

    from msgvault_spark.search.fts import bm25_scores_prefix
    from msgvault_spark.sources.cache import get_corpus_stats, get_text_index

    postings, stats = get_text_index(spark, sf_dir, "documents", "doc_id", "text")
    cstats = get_corpus_stats(spark, sf_dir, "documents", "doc_id", "text")
    return (
        bm25_scores_prefix(
            postings, stats, ["st*", "join"], round_to=6, corpus_stats=cstats
        )
        .orderBy(FF.col("score").desc(), FF.col("doc_id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# int8 scalar-quantized KNN (similarity/quantize.py)
# ---------------------------------------------------------------------------

_SQ8 = (
    "CASE WHEN m > 0 THEN list_transform(embedding, "
    "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT)) "
    "ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END"
)


@register(
    "quantized_knn_seed0",
    f"""
WITH codes AS (
    SELECT vec_id, {_SQ8} AS c
    FROM (SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) AS m
          FROM embeddings)
),
q AS (SELECT c AS qv FROM codes WHERE vec_id = 0)
SELECT codes.vec_id AS id,
       CAST(list_sum(list_transform(list_zip(codes.c, q.qv),
            p -> p[1] * p[2])) AS BIGINT) AS qscore
FROM codes, q
WHERE codes.vec_id != 0
ORDER BY qscore DESC, id ASC
LIMIT 10
""",
)
def quantized_knn_seed0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 candidate generation: per-vector max-abs int8 codes, exact
    integer dot-product ranking (similarity/quantize.py). Integer scores
    make the approximate path itself hash-verifiable cross-engine — both
    engines must produce byte-identical codes."""
    from msgvault_spark.similarity.quantize import quantize_codes, quantized_knn
    from msgvault_spark.sources.cache import get_artifact

    codes = get_artifact(
        spark,
        (sf_dir, "sq8_codes"),
        lambda: quantize_codes(load_table(spark, sf_dir, "embeddings")),
    ).filter(F.col("vec_id") != 0)
    seed = _seed_vector(spark, sf_dir, 0)
    return quantized_knn(
        None, seed, k=10, codes=codes
    ).withColumnRenamed("vec_id", "id")


@register(
    "sq8_rerank_knn",
    f"""
WITH codes AS (
    SELECT vec_id, {_SQ8} AS c
    FROM (SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                          x -> abs(CAST(x AS DOUBLE)))) AS m
          FROM embeddings)
),
q AS (SELECT c AS qv FROM codes WHERE vec_id = 0),
cand AS (
    SELECT codes.vec_id AS id,
           CAST(list_sum(list_transform(list_zip(codes.c, q.qv),
                p -> p[1] * p[2])) AS BIGINT) AS qscore
    FROM codes, q
    WHERE codes.vec_id != 0
    ORDER BY qscore DESC, id ASC
    LIMIT 50
),
fq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id AS id,
  round(
    list_sum(list_transform(list_zip(e.embedding, fq.qv),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding,
             v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
       sqrt(list_sum(list_transform(fq.qv,
             v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6) AS score
FROM embeddings e JOIN cand ON e.vec_id = cand.id, fq
ORDER BY score DESC, id ASC
LIMIT 10
""",
)
def sq8_rerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-stage retrieve-rerank every production ANN stack runs
    (similarity/quantize.py docstring; FAISS SQ8 + rerank shape): integer
    dot products over the persisted code artifact pick a 50-candidate
    short list (floats never leave disk), then the exact-cosine rerank
    touches only those 50 rows via a broadcast semi-join against the
    normed-embeddings artifact. At 100 TB stage 1 scans ¼ the bytes of
    the float corpus and stage 2 is candidate-bounded."""
    from msgvault_spark.similarity.knn import knn_bruteforce_normed
    from msgvault_spark.similarity.quantize import quantize_codes, quantized_knn
    from msgvault_spark.sources.cache import get_artifact

    codes = get_artifact(
        spark,
        (sf_dir, "sq8_codes"),
        lambda: quantize_codes(load_table(spark, sf_dir, "embeddings")),
    ).filter(F.col("vec_id") != 0)
    seed = _seed_vector(spark, sf_dir, 0)
    cand = quantized_knn(None, seed, k=50, codes=codes).select("vec_id")
    shortlist = _normed_emb(spark, sf_dir).join(F.broadcast(cand), "vec_id")
    return knn_bruteforce_normed(
        shortlist, seed, k=10, round_to=6, exclude_id=0
    )


# ---------------------------------------------------------------------------
# Phrase query (round 2): positional postings + adjacency fold
# ---------------------------------------------------------------------------

from msgvault_spark.search.fts import (  # noqa: E402
    build_positional_index,
    phrase_occurrences,
    phrase_oracle_sql,
)

_PHRASE = ["table", "hash"]


@register(
    "phrase_search_docs",
    phrase_oracle_sql("documents", "doc_id", "text", _PHRASE),
)
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase search (reference internal/search/parser.go:197,243 →
    FTS5 positional match): positional postings + shifted-intersection
    adjacency fold over term-pruned posting lists (search/fts.py).
    n_occurrences = phrase instances per matching doc."""
    docs = load_table(spark, sf_dir, "documents")
    idx = build_positional_index(docs, "doc_id", "text")
    return phrase_occurrences(idx, _PHRASE)


# ---------------------------------------------------------------------------
# Relative-date operators (round 2): F7 with a pinned clock
# ---------------------------------------------------------------------------


@register(
    "search_relative_dates",
    oracle(
        f"""
, {_MS_CTE}
SELECT msg.id,
       COALESCE(msg.subject, '') AS subject,
       COALESCE(msg.snippet, '') AS snippet,
       COALESCE(ms.ms_email, '') AS from_email,
       COALESCE(ms.ms_name, '') AS from_name,
       msg.sent_at,
       COALESCE(msg.size_estimate, 0) AS size_estimate,
       COALESCE(msg.has_attachments, false) AS has_attachments
FROM messages msg
LEFT JOIN ms ON ms.message_id = msg.id
WHERE {_EMAIL_ONLY}
  AND msg.sent_at >= TIMESTAMP '1998-06-15 00:00:00'
  AND msg.sent_at < TIMESTAMP '2000-06-15 00:00:00'
ORDER BY msg.sent_at DESC, msg.id DESC
LIMIT 100
"""
    ),
)
def search_relative_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-date operators (F7): `newer_than:3y older_than:1y` parsed
    against a PINNED clock (now = 2001-06-15, injected — the parser's
    `now` parameter exists precisely so relative dates are testable and
    replayable), compiling to sent_at ∈ [now-3y, now-1y). Calendar-month
    arithmetic, reference parser.go relative-date table."""
    from datetime import datetime

    from msgvault_spark.search.parser import parse_query

    q = parse_query(
        "newer_than:3y older_than:1y", now=datetime(2001, 6, 15)
    )
    return search_fast(get_archive(spark, sf_dir), q)


def _bm25_phrase_oracle() -> str:
    bm25_inner = bm25_oracle_sql(
        "documents", "doc_id", "text", _PHRASE, k=10_000_000
    ).strip()
    phrase_inner = phrase_oracle_sql(
        "documents", "doc_id", "text", _PHRASE
    ).strip()
    return f"""
WITH bm AS ({bm25_inner}),
ph AS ({phrase_inner})
SELECT bm.doc_id, ph.n_occurrences, bm.score
FROM bm JOIN ph ON ph.doc_id = bm.doc_id
ORDER BY bm.score DESC, bm.doc_id ASC
LIMIT 20
"""


@register("bm25_phrase_documents", _bm25_phrase_oracle())
def bm25_phrase_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-phrase query RANKED: positional adjacency filters to docs
    containing the exact phrase, BM25 over the phrase's terms ranks them
    — the composition FTS5 performs for a quoted phrase. Both signals
    come from ETL artifacts (postings + positional index); the phrase
    set semi-joins the BM25 candidates."""
    from pyspark.sql import functions as FF

    from msgvault_spark.search.fts import bm25_scores
    from msgvault_spark.sources.cache import (
        get_corpus_stats,
        get_term_stats,
        get_text_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = build_positional_index(docs, "doc_id", "text")
    hits = phrase_occurrences(idx, _PHRASE)
    postings, stats = get_text_index(spark, sf_dir, "documents", "doc_id", "text")
    cstats = get_corpus_stats(spark, sf_dir, "documents", "doc_id", "text")
    scored = bm25_scores(
        postings, stats, _PHRASE, round_to=6, corpus_stats=cstats,
        term_stats=get_term_stats(spark, sf_dir, "documents", "doc_id", "text"),
    )
    return (
        scored.join(hits, "doc_id")
        .select("doc_id", "n_occurrences", "score")
        .orderBy(FF.col("score").desc(), FF.col("doc_id").asc())
        .limit(20)
    )
