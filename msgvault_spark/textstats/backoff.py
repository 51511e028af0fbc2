"""Stupid-Backoff bigram language-model scoring of documents.

Published method: Brants et al. 2007, "Large Language Models in Machine
Translation" — the MapReduce-native LM: score S(w_i | w_{i-1}) =
count(w_{i-1} w_i) / count(w_{i-1}) when the bigram is attested in a
REFERENCE corpus, else alpha * p(w_i) (alpha = 0.4, no normalization —
that's what makes it distributable: counts only, no discounting pass).
This is the standard step up from the unigram scorer
(textstats/analysis.unigram_nll_scores): local word ORDER now matters,
so shuffled/templated/boilerplate text separates from fluent text that
the unigram model scores identically.

Setup mirrored from practice: the reference model is counted over a
TRUSTED slice (here sources src0+src1); every document is scored under
it — candidate data from other sources genuinely exercises the backoff
branch.  The unigram backoff is add-one smoothed over the reference
vocabulary so the score is total (unseen-unseen words included).

Engine-exact: every log argument is a SINGLE division of
exactly-representable integers (ratios are >= 1 by construction, so
contributions are non-negative and the final integer division matches
between Spark's `div` and DuckDB's `//` — both truncate toward zero,
for any sign, verified -7 // 2 = -3 in DuckDB); per-doc
sums are fixed-point longs (order-free).

Scale shape (100 TB): the two count tables are corpus groupBys with
map-side combine — ETL artifacts refreshed with the reference slice,
not per query.  Scoring is two hash joins keyed by bigram/unigram (hot
function-word keys are exactly what AQE skew-split handles; with a
bounded vocabulary both count tables broadcast and the joins go
exchange-free) plus one doc-keyed aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ALPHA_NUM = 2  # alpha = 0.4 = ALPHA_NUM / ALPHA_DEN — exact integers so
ALPHA_DEN = 5  # the backoff log argument stays a ratio of exact longs

# Broadcast guard (r13): the count tables are bounded by the REFERENCE
# slice's vocabulary under Brants et al.'s premise, but nothing in the API
# stops a pathological ref_pred (e.g. the whole corpus) from making them
# corpus-vocabulary-sized — an unbounded driver-side broadcast build with
# only the memory-recovery ladder as a net. Above this many rows in either
# count table the scoring joins fall back to sort-merge (shuffle) joins,
# which are bounded and spillable per task and whose hot function-word
# keys AQE's skew split handles. ~2M (term, long) / (prev, cur, long) rows
# is low hundreds of MB as a hashed relation — comfortably inside an 8 GB
# driver while far above any plausible trusted-slice vocabulary.
BROADCAST_MAX_ROWS = 2_000_000


def bigram_pairs(ws: Column) -> Column:
    """Array of (prev, cur) structs for each adjacent pair of a token
    ARRAY column (empty for < 2 tokens).  ``ws`` must be a plain column
    reference — a compound expression captured by the lambda re-evaluates
    per element (the winnow.py binding rule: O(n) tokenization becomes
    O(n²) per document)."""
    return F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("prev"),
                F.element_at(ws, i + 1).alias("cur"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<prev:string,cur:string>>")
    )


def bigram_backoff_scores(
    docs: DataFrame,
    ref_pred: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_bigrams, nll_micro): mean negative log score of every
    document (>= 1 bigram) under the Stupid-Backoff bigram model counted
    over ``docs.filter(ref_pred)``.

    Join discipline (r12 rewrite, guide §2.4): the corpus side is ONE
    explode pass — each bigram instance probes the broadcast vocab-sized
    count tables (cb on (prev,cur), cu twice, tot) and contributes its
    fixed-point ``cs`` long straight into the per-doc aggregate. The
    per-doc partial aggregation absorbs every instance map-side (a doc's
    bigrams never span scan partitions), so the only corpus-keyed
    exchange carries one (doc_id, count, sum) row per document. The r2-r11
    shape instead built per-doc POSTINGS — a full (doc_id, prev, cur)
    corpus shuffle — plus a SECOND full-corpus explode to enumerate
    bigram types; both are gone. The count tables stay explicitly
    broadcast: they are bounded by the reference slice's vocabulary
    (Brants et al.'s premise), never by the corpus being scored, and
    cs-per-instance is the same integer cs-per-type was, so tf·cs
    regroups to an identical sum."""
    from msgvault_spark.textstats.analysis import words

    # SELECT the token array into a column before the pair lambda
    # references it (winnow.py binding rule)
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("ws"),
    )
    inst_all = tok.select(
        "doc_id", F.explode(bigram_pairs(F.col("ws"))).alias("g")
    ).select("doc_id", "g.prev", "g.cur")

    # the reference slice re-tokenizes behind a pushed-down filter — a
    # pure map over the (small) slice, not a corpus join on doc_id
    ref_tok = docs.filter(F.expr(ref_pred)).select(
        words(F.coalesce(F.col(text_col), F.lit(""))).alias("ws")
    )
    ref_inst = ref_tok.select(
        F.explode(bigram_pairs(F.col("ws"))).alias("g")
    ).select("g.prev", "g.cur")
    cb = ref_inst.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    ref_uni = ref_tok.select(F.explode(F.col("ws")).alias("term"))
    cu = ref_uni.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cu")
    )
    tot = cu.agg(
        F.sum("cu").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )

    # Size guard, decided from the ALREADY-AGGREGATED tables at plan-build
    # time: tot's single row carries the cu row count (v), so one extra
    # tiny job here plus one cb count covers both tables. Broadcast only
    # when both fit (the Brants-premise case — scale-safe by construction,
    # not by recovery); otherwise the instances shuffle-join the count
    # tables. `tot` itself is 1 row and always broadcasts.
    tot_row = tot.first()
    vocab_rows = int(tot_row["v"] or 0) if tot_row is not None else 0
    fits = vocab_rows <= BROADCAST_MAX_ROWS and cb.count() <= BROADCAST_MAX_ROWS

    def _build(df: DataFrame) -> DataFrame:
        # sort-merge, not shuffled-hash, in the fallback: a hot function
        # word's post-shuffle partition must spill, not OOM
        return F.broadcast(df) if fits else df.hint("merge")

    scored = (
        inst_all.join(_build(cb), ["prev", "cur"], "left")
        .join(
            _build(
                cu.select(F.col("term").alias("prev"), F.col("cu").alias("cup"))
            ),
            "prev",
            "left",
        )
        .join(
            _build(
                cu.select(F.col("term").alias("cur"), F.col("cu").alias("cuc"))
            ),
            "cur",
            "left",
        )
        .join(F.broadcast(tot))
    )
    seen = F.floor(
        F.log(F.col("cup").cast("double") / F.col("cb")) * 1000000 + 0.5
    )
    backoff = F.floor(
        F.log(
            (ALPHA_DEN * (F.col("n") + F.col("v"))).cast("double")
            / (ALPHA_NUM * (F.coalesce(F.col("cuc"), F.lit(0)) + 1))
        )
        * 1000000
        + 0.5
    )
    cs = F.when(F.col("cb").isNotNull(), seen).otherwise(backoff).cast("long")
    return (
        scored.select("doc_id", cs.alias("cs"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("cs").cast("long").alias("_s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("_s div n_bigrams").cast("long").alias("nll_micro"),
        )
    )


def backoff_oracle_sql(
    ref_pred: str,
    *,
    token_re: str = "[^a-z0-9]+",
) -> str:
    """DuckDB twin: identical tokenization, reference counts, smoothing,
    and fixed-point log contributions."""
    return f"""
WITH m AS (
    SELECT doc_id, source,
           list_filter(string_split_regex(lower(COALESCE(text, '')),
                       '{token_re}'), x -> x != '') AS ws
    FROM documents
),
inst AS (
    SELECT doc_id, g['prev'] AS prev, g['cur'] AS cur
    FROM (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - 1),
                   i -> {{'prev': ws[i], 'cur': ws[i + 1]}})) AS g
        FROM m WHERE len(ws) >= 2
    )
),
ref AS (SELECT * FROM m WHERE {ref_pred}),
ref_inst AS (
    SELECT g['prev'] AS prev, g['cur'] AS cur
    FROM (
        SELECT unnest(list_transform(
                   generate_series(1, len(ws) - 1),
                   i -> {{'prev': ws[i], 'cur': ws[i + 1]}})) AS g
        FROM ref WHERE len(ws) >= 2
    )
),
cb AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb
       FROM ref_inst GROUP BY 1, 2),
cu AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS cu
    FROM (SELECT unnest(ws) AS term FROM ref)
    GROUP BY 1
),
tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v FROM cu),
contrib AS (
    SELECT i.doc_id,
           CAST(CASE WHEN b.cb IS NOT NULL THEN
                    floor(ln(CAST(p.cu AS DOUBLE) / b.cb) * 1000000 + 0.5)
                ELSE
                    floor(ln(CAST({ALPHA_DEN} * (t.n + t.v) AS DOUBLE)
                             / ({ALPHA_NUM} * (COALESCE(c.cu, 0) + 1)))
                          * 1000000 + 0.5)
                END AS BIGINT) AS cs
    FROM inst i
    LEFT JOIN cb b ON b.prev = i.prev AND b.cur = i.cur
    LEFT JOIN cu p ON p.term = i.prev
    LEFT JOIN cu c ON c.term = i.cur
    CROSS JOIN tot t
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(cs) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS nll_micro
FROM contrib
GROUP BY doc_id
"""
