"""Fast search, BM25, KNN, hybrid RRF unit tests."""

import math

import pytest
from pyspark.sql import functions as F

from msgvault_spark.search.fast import SearchWithStats, search_fast
from msgvault_spark.search.fts import bm25_search, build_inverted_index
from msgvault_spark.search.hybrid import rank_signal, rrf_fuse
from msgvault_spark.similarity.knn import knn_bruteforce


def ids(df):
    return [r["id"] for r in df.collect()]


def test_search_operators(archive):
    assert ids(search_fast(archive, "from:a@x.com")) == [2, 1]
    assert ids(search_fast(archive, "subject:hello")) == [3, 1]  # 'Re: Hello' matches too
    assert ids(search_fast(archive, "larger:150")) == [3, 2]
    assert ids(search_fast(archive, "has:attachment")) == [3, 1]
    assert ids(search_fast(archive, "after:2024-02-01 before:2024-03-01")) == [3, 2]
    assert ids(search_fast(archive, "label:work")) == [2]
    # email-only: chat message 4 never matches the fast path
    assert 4 not in ids(search_fast(archive, ""))


def test_from_search_matching_only_chat_messages_returns_no_rows(archive):
    """Fast search is email-only (reference shared.go:18): a sender with
    an email address whose only messages are chat-type matches from: but
    answers 0 rows."""
    from msgvault_spark.search.fast import compile_search
    from msgvault_spark.search.parser import parse_query

    # carol (participant 3) sends only message 4, a whatsapp chat
    parts = archive["participants"].withColumn(
        "email_address",
        F.when(F.col("id") == 3, F.lit("c@z.com")).otherwise(
            F.col("email_address")
        ),
    )
    chat_only = dict(archive, participants=parts)
    q = parse_query("from:c@z.com")
    assert ids(compile_search(chat_only, q, email_only=False)) == [4]
    assert ids(search_fast(chat_only, "from:c@z.com")) == []


def test_search_text_terms_cover_sender_fields(archive):
    # term matches sender display name
    assert ids(search_fast(archive, '"X Corp"')) == [2, 1]
    # term matches subject
    assert ids(search_fast(archive, "plan")) == [2]
    # AND across terms
    assert ids(search_fast(archive, "plan hello")) == []


def test_search_with_stats_reuse(archive):
    s = SearchWithStats(archive, "from:a@x.com")
    assert s.count() == 2
    st = s.stats().collect()[0]
    assert st["message_count"] == 2 and st["total_size"] == 300
    assert ids(s.page(1, 0)) == [2]
    assert ids(s.page(1, 1)) == [1]
    s.release()


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick quick dog"),
            (3, "lazy dog sleeps all day"),
            (4, "fox and dog play"),
        ],
        ["doc_id", "text"],
    )


def test_inverted_index(corpus):
    postings, stats = build_inverted_index(corpus, "doc_id", "text")
    p = {(r["doc_id"], r["term"]): r["tf"] for r in postings.collect()}
    assert p[(2, "quick")] == 2
    dl = {r["doc_id"]: r["dl"] for r in stats.collect()}
    assert dl == {1: 5, 2: 4, 3: 5, 4: 4}


def test_bm25_math(corpus):
    out = bm25_search(corpus, "doc_id", "text", "quick", k=5).collect()
    assert [r["doc_id"] for r in out] == [2, 1]  # tf=2 beats tf=1
    # check the exact Okapi value for doc 2: N=4, df=2, dl=4, avgdl=4.5
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    tfc = (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 4 / 4.5))
    assert out[0]["score"] == pytest.approx(idf * tfc, rel=1e-12)


def test_bm25_and_of_terms(corpus):
    out = bm25_search(corpus, "doc_id", "text", "quick dog", k=5).collect()
    assert [r["doc_id"] for r in out] == [2]  # only doc 2 has both


def test_knn_matches_numpy(spark):
    import numpy as np

    vecs = [(i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = vecs[0][1]
    out = knn_bruteforce(df, q, k=5, metric="cosine").collect()
    a = np.array([v for _, v in vecs])
    qv = np.array(q)
    cos = (a @ qv) / (np.linalg.norm(a, axis=1) * np.linalg.norm(qv))
    best = sorted(range(20), key=lambda i: (-cos[i], i))[:5]
    assert [r["id"] for r in out] == best
    for r in out:
        assert r["score"] == pytest.approx(cos[r["id"]], rel=1e-9)


def test_rrf_fusion_math(spark):
    bm25 = spark.createDataFrame(
        [(10, 5.0), (20, 4.0), (30, 3.0)], ["id", "score"]
    )
    vec = spark.createDataFrame(
        [(20, 0.9), (40, 0.8)], ["id", "score"]
    )
    fused = rrf_fuse(
        rank_signal(bm25, "score", 3),
        rank_signal(vec, "score", 3),
        k_per_signal=3,
        rrf_k=60,
        limit=10,
    ).collect()
    scores = {r["id"]: r["rrf_score"] for r in fused}
    assert scores[20] == pytest.approx(1 / 62 + 1 / 61)
    assert scores[10] == pytest.approx(1 / 61)
    assert scores[40] == pytest.approx(1 / 62)
    # doc in both signals wins
    assert fused[0]["id"] == 20
    # missing-signal scores are NULL
    by_id = {r["id"]: r for r in fused}
    assert by_id[10]["vector_score"] is None
    assert by_id[40]["bm25_score"] is None


def test_rrf_subject_boost(spark):
    bm25 = spark.createDataFrame([(1, 2.0), (2, 1.0)], ["id", "score"])
    vec = spark.createDataFrame([(2, 0.5)], ["id", "score"])
    subjects = spark.createDataFrame(
        [(1, "boring"), (2, "URGENT thing")], ["id", "subject"]
    )
    fused = rrf_fuse(
        rank_signal(bm25, "score", 2),
        rank_signal(vec, "score", 2),
        k_per_signal=2,
        boost=10.0,
        subject_terms=["urgent"],
        subjects=subjects,
        limit=10,
    ).collect()
    by_id = {r["id"]: r for r in fused}
    assert by_id[2]["subject_boosted"] is True
    assert by_id[1]["subject_boosted"] is False
    assert by_id[2]["rrf_score"] == pytest.approx((1 / 62 + 1 / 61) * 10)


def test_bm25_prefix_semantics(spark):
    from msgvault_spark.search.fts import bm25_scores_prefix, build_inverted_index

    docs = spark.createDataFrame(
        [
            (1, "stream stage join"),   # two st-terms + join
            (2, "stream join"),         # one st-term + join
            (3, "join only here"),      # no st-term → excluded by AND
            (4, "stream stage stamp"),  # no join → excluded by AND
        ],
        ["doc_id", "text"],
    )
    postings, stats = build_inverted_index(docs, "doc_id", "text")
    got = {
        r["doc_id"]: r["score"]
        for r in bm25_scores_prefix(postings, stats, ["st*", "join"]).collect()
    }
    assert set(got) == {1, 2}
    # doc 1 has prefix-tf 2 (stream+stage) vs doc 2's 1 → higher prefix
    # contribution despite equal dl handling; both share the join term
    assert got[1] > got[2]


def test_bm25_prefix_degenerate_tokens(spark):
    """Bare '*' / empty tokens must not poison the AND gate: dropped when
    usable terms remain, ValueError when nothing usable is left."""
    import pytest

    from msgvault_spark.search.fts import bm25_scores_prefix, build_inverted_index

    docs = spark.createDataFrame(
        [(1, "stream join"), (2, "join only")], ["doc_id", "text"]
    )
    postings, stats = build_inverted_index(docs, "doc_id", "text")
    got = {
        r["doc_id"]
        for r in bm25_scores_prefix(postings, stats, ["*", "join", ""]).collect()
    }
    assert got == {1, 2}  # '*' and '' dropped; AND gate = {join} only
    with pytest.raises(ValueError):
        bm25_scores_prefix(postings, stats, ["*"])


def test_phrase_occurrences_adjacency_and_counts(spark):
    from msgvault_spark.search.fts import (
        build_positional_index,
        phrase_occurrences,
    )

    docs = spark.createDataFrame(
        [
            (1, "big table hash join"),          # one occurrence
            (2, "table hash table hash now"),    # two occurrences
            (3, "table big hash"),               # both terms, not adjacent
            (4, "hash table"),                   # reversed order: no match
            (5, "Table, HASH!"),                 # tokenizer: case+punct
        ],
        "doc_id long, text string",
    )
    idx = build_positional_index(docs, "doc_id", "text")
    got = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_occurrences(idx, ["table", "hash"]).collect()}
    assert got == {1: 1, 2: 2, 5: 1}
    # three-term phrase
    got3 = {r["doc_id"]: r["n_occurrences"]
            for r in phrase_occurrences(idx, ["big", "table", "hash"]).collect()}
    assert got3 == {1: 1}


def test_lit_double_array_bit_exact_and_cheap(spark):
    """The SQL-string array literal (functions/arrays.py) must reproduce
    every IEEE-754 double BIT-exactly (repr is the shortest round-trip
    form and Spark's lexer correctly-rounds it back), including negative
    zero, subnormals, and exponent extremes — and must build in O(1)
    driver round-trips (a plain F.lit(list) costs ~4 per element)."""
    import random
    import struct

    from pyspark.sql import functions as F

    from msgvault_spark.functions.arrays import lit_double_array, lit_long_array

    random.seed(7)
    vals = [random.uniform(-1, 1) * 10 ** random.randint(-12, 12)
            for _ in range(64)]
    vals += [0.0, -0.0, 1e-300, 5e-324, 1.7976931348623157e308,
             123456789.123456789]
    got = spark.range(1).select(lit_double_array(vals).alias("a")).head()["a"]
    assert len(got) == len(vals)
    for g, w in zip(got, vals):
        assert struct.pack("d", g) == struct.pack("d", w)

    ints = [0, 1, -5, 2**62, -(2**62)]
    got_i = spark.range(1).select(lit_long_array(ints).alias("a")).head()["a"]
    assert got_i == ints


def test_knn_normed_matches_bruteforce(spark):
    """knn_bruteforce_normed over the normed_embeddings artifact must
    return IDENTICAL (id, score) rows to the fold-per-query knn_bruteforce
    — same dot-product fold, stored norm vs recomputed norm, query norm
    accumulated driver-side with the same left-to-right IEEE order."""
    import random

    from msgvault_spark.similarity.knn import (
        knn_bruteforce,
        knn_bruteforce_normed,
        normed_embeddings,
    )

    random.seed(11)
    dim = 16
    rows = [(i, [random.uniform(-1, 1) for _ in range(dim)])
            for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [random.uniform(-1, 1) for _ in range(dim)]
    a = knn_bruteforce(emb, q, k=25).collect()
    b = knn_bruteforce_normed(normed_embeddings(emb), q, k=25).collect()
    assert [(r["id"], r["score"]) for r in a] == [
        (r["id"], r["score"]) for r in b
    ]


def test_bm25_sql_contribution_bitwise_equals_column_form(spark):
    """The SQL-string BM25 contribution (fts._contrib_sql) must be
    BIT-identical to the historical Column-operator formulation on real
    postings — same association, same literals — or rounded scores could
    flip on a boundary."""
    import struct

    from pyspark.sql import functions as F

    from msgvault_spark.search.fts import B, K1, _contrib_sql, build_inverted_index

    docs = spark.createDataFrame(
        [(i, f"spark query engine term{i % 7} spark data {i % 13}")
         for i in range(300)],
        "doc_id long, text string",
    )
    postings, doc_stats = build_inverted_index(docs, "doc_id", "text")
    terms = ["spark", "query"]
    term_df = (
        postings.filter(F.col("term").isin(*terms))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    matched = (
        postings.filter(F.col("term").isin(*terms))
        .join(F.broadcast(term_df), "term")
        .join(doc_stats, "doc_id")
        .withColumn("n_docs", F.lit(300))
        .withColumn("avgdl", F.lit(7.0))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfc = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.col("avgdl"))
    )
    both = matched.select(
        "doc_id", "term",
        (idf * tfc).alias("old"),
        F.expr(_contrib_sql("300", "7.0D")).alias("new"),
    ).collect()
    assert both
    for r in both:
        assert struct.pack("d", r["old"]) == struct.pack("d", r["new"]), r


def test_fts5_variant_matches_real_fts5(spark):
    """variant='fts5' must reproduce SQLite FTS5's bm25() on a real FTS5
    instance over the same corpus: identical rank order AND scores equal
    to 1e-9 relative (FTS5's rank is the NEGATED score, ascending). The
    corpus plants a term present in >half the docs so the ≤0-idf clamp
    path (fts5_aux.c's idf=1e-6) is exercised — exactly where the Lucene
    variant diverges."""
    import sqlite3

    from pyspark.sql import functions as F

    from msgvault_spark.search.fts import bm25_scores, build_inverted_index

    corpus = [
        (1, "apple banana cherry apple"),
        (2, "apple apple apple banana"),
        (3, "banana cherry date"),
        (4, "apple date elderberry fig"),
        (5, "apple banana apple cherry date elderberry"),
        (6, "grape honeydew kiwi"),
        (7, "apple grape banana banana"),
        (8, "cherry cherry apple"),
    ]  # 'apple' in 6/8 docs → raw Robertson idf < 0 → clamp exercised

    con = sqlite3.connect(":memory:")
    con.execute("CREATE VIRTUAL TABLE t USING fts5(body)")
    for doc_id, body in corpus:
        con.execute("INSERT INTO t(rowid, body) VALUES (?, ?)", (doc_id, body))

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    postings, doc_stats = build_inverted_index(docs, "doc_id", "text")

    for query in ("apple", "banana cherry", "apple banana"):
        want = con.execute(
            "SELECT rowid, bm25(t) FROM t WHERE t MATCH ? "
            "ORDER BY rank, rowid",
            (" AND ".join(query.split()),),
        ).fetchall()
        got = (
            bm25_scores(postings, doc_stats, query.split(), variant="fts5")
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .collect()
        )
        assert [r["doc_id"] for r in got] == [w[0] for w in want], query
        for r, w in zip(got, want):
            assert abs(r["score"] - (-w[1])) <= 1e-9 * max(
                1.0, abs(r["score"])
            ), (query, r, w)
    con.close()


def test_quantize_vector_binds_maxabs_once(spark):
    """Interpreted higher-order lambdas re-evaluate captured expression
    subtrees per element: referencing the max-abs fold inside the
    per-element scale lambda makes quantization O(d²) per row. The
    let-binding (single-element transform) must keep exactly ONE
    aggregate fold in the expression tree."""
    from pyspark.sql import functions as F
    from msgvault_spark.similarity.quantize import quantize_vector

    expr_sql = quantize_vector(F.col("embedding"))._jc.toString()
    assert expr_sql.count("aggregate(") == 1, expr_sql


def test_sq8_oracle_literal_matches_serving_macro():
    """The SQ8 recall oracle re-declares the quantization SQL (importing
    catalog_search at catalog_multimodal import time would reorder
    catalog registration); this pin keeps the two literals identical so
    a quantizer change cannot silently diverge the recall oracle from
    the serving-path oracle it claims to measure."""
    from msgvault_spark.catalog_multimodal import _sq8_recall_oracle
    from msgvault_spark.catalog_search import _SQ8

    assert _SQ8 in _sq8_recall_oracle()


def test_cosine_sql_twins_stay_identical():
    """Three oracles carry the bit-sensitive rounded-cosine SQL; they must
    stay character-identical (modulo whitespace) to similarity/ivf._cos_sql
    so a precision/cast tweak cannot silently diverge cross-engine
    scores. (They can't import each other at module import time without
    reordering catalog registration — hence a pin, not a refactor.)"""
    from msgvault_spark import catalog_llmops
    from msgvault_spark.catalog_multimodal import (
        _ann_recall_oracle,
        _pq_recall_oracle,
        _sq8_recall_oracle,
    )
    from msgvault_spark.similarity.ivf import _cos_sql

    def norm(s):
        return "".join(s.split())

    assert catalog_llmops._SEM_COS == _cos_sql("e.embedding", "b.embedding")
    assert norm(_cos_sql("e.embedding", "q.qv")) in norm(_ann_recall_oracle())
    assert norm(_cos_sql("e.embedding", "qf.qv")) in norm(_sq8_recall_oracle())
    assert norm(_cos_sql("e.embedding", "q.qv")) in norm(_pq_recall_oracle())
