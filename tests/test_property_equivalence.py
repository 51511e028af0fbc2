"""Property-based equivalence: scale-shaped operators vs naive Python
references on random micro-inputs (hypothesis). Few examples, seeds fixed —
each example is a Spark job, so the budget is spent on input diversity, not
volume."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

BASE = dt.datetime(2024, 1, 1)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),                  # key
        st.integers(0, 5_000),              # seconds offset
    ),
    min_size=0,
    max_size=40,
)


@given(rows=events_strategy, timeout=st.sampled_from([600, 1800]))
@settings(**_SETTINGS)
def test_sessionize_counts_match_reference(spark, rows, timeout):
    from msgvault_spark.operators.sessionize import session_rollup

    data = [(k, BASE + dt.timedelta(seconds=s)) for k, s in rows]
    if not data:
        return
    ev = spark.createDataFrame(data, "user_id long, ts timestamp")
    got = {
        (r["user_id"], r["session_id"]): r["events"]
        for r in session_rollup(ev, timeout_s=timeout).collect()
    }
    # reference: sort per user, split on gaps
    ref: dict[tuple[int, int], int] = {}
    by_user: dict[int, list[int]] = {}
    for k, s in rows:
        by_user.setdefault(k, []).append(s)
    for k, ss in by_user.items():
        ss.sort()
        sid, prev = 0, None
        for s in ss:
            if prev is not None and s - prev > timeout:
                sid += 1
            ref[(k, sid)] = ref.get((k, sid), 0) + 1
            prev = s
    assert got == ref


@given(
    lrows=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 3000)),
                   min_size=1, max_size=20),
    rrows=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 3000),
                             st.integers(0, 99)),
                   min_size=0, max_size=20),
)
@settings(**_SETTINGS)
def test_asof_join_matches_reference(spark, lrows, rrows):
    from msgvault_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, BASE + dt.timedelta(seconds=s), i) for i, (k, s) in enumerate(lrows)],
        "k long, ts timestamp, lid long",
    )
    # dedupe right on (k, ts) to keep tie policy engine-independent
    seen = {}
    for k, s, v in rrows:
        seen[(k, s)] = v
    rdata = [(k, BASE + dt.timedelta(seconds=s), v) for (k, s), v in seen.items()]
    right = spark.createDataFrame(rdata, "k long, ts timestamp, v long")
    got = {r["lid"]: r["v"] for r in asof_join(left, right, on="k").collect()}
    for i, (k, s) in enumerate(lrows):
        cands = [(rs, v) for (rk, rs), v in seen.items() if rk == k and rs <= s]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, s)


@given(
    edges=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                   min_size=1, max_size=25),
)
@settings(**_SETTINGS)
def test_connected_components_match_reference(spark, edges):
    from msgvault_spark.dedup.components import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    # union-find reference
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}  # self-loop-only nodes: singletons
    ref = {n: find(n) for n in nodes}
    assert got == ref


@given(
    texts=st.lists(
        st.text(alphabet="ab \n.", min_size=0, max_size=60),
        min_size=1, max_size=6,
    )
)
@settings(**_SETTINGS)
def test_repetition_fractions_match_reference(spark, texts):
    from msgvault_spark.textstats.analysis import repetition_profile

    df = spark.createDataFrame(
        list(enumerate(texts)), "id long, text string"
    )
    got = {r["id"]: (r["dup_line_frac"], r["dup_word_frac"])
           for r in repetition_profile(df, "id", "text").collect()}
    import re

    for i, t in enumerate(texts):
        lines = [s.strip() for s in t.split("\n") if s.strip()]
        dl = (len(lines) - len(set(lines))) / len(lines) if lines else 0.0
        ws = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        dw = (len(ws) - len(set(ws))) / len(ws) if ws else 0.0
        assert abs(got[i][0] - dl) < 1e-6 and abs(got[i][1] - dw) < 1e-6, (i, t)


# ---------------------------------------------------------------------------
# chunking vs naive reference (operators/chunking.py)
# ---------------------------------------------------------------------------

texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "x1", "y2"]),
        min_size=0, max_size=30,
    ).map(" ".join),
    min_size=1, max_size=6,
)


def _naive_chunks(tokens, size, stride):
    if not tokens:
        return []
    out, start, cid = [], 0, 0
    while True:
        piece = tokens[start:start + size]
        out.append((cid, len(piece), " ".join(piece)))
        if start + size >= len(tokens):
            break
        start += stride
        cid += 1
    return out


@given(texts=texts_strategy, size=st.sampled_from([4, 8]),
       overlap=st.sampled_from([0, 2]))
@settings(**_SETTINGS)
def test_chunking_matches_reference(spark, texts, size, overlap):
    from msgvault_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, size=size, overlap=overlap).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        for cid, n, txt in _naive_chunks(t.split(), size, size - overlap):
            want[(i, cid)] = (n, txt)
    assert got == want


@given(texts=texts_strategy)
@settings(**_SETTINGS)
def test_segment_dedup_invariants(spark, texts):
    """Kept+dropped == total segments; total kept across corpus == number
    of DISTINCT segments; rebuilt docs contain only first occurrences."""
    from msgvault_spark.dedup.lines import dedup_exact_segments

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    size = 4
    rows = dedup_exact_segments(docs, size=size).collect()
    segs_per_doc = {
        i: [" ".join(t.split()[s:s + size])
            for s in range(0, max(len(t.split()), 1), size)
            if t.split()[s:s + size]]
        for i, t in enumerate(texts)
    }
    n_total = sum(len(v) for v in segs_per_doc.values())
    n_distinct = len({s for v in segs_per_doc.values() for s in v})
    assert sum(r["n_kept"] + r["n_dropped"] for r in rows) == n_total
    assert sum(r["n_kept"] for r in rows) == n_distinct


@given(
    e=st.sampled_from([0.25, 0.5, 1.0, 1.5, 2.5, 3.0]),
    n=st.integers(10, 60),
)
@settings(**_SETTINGS)
def test_epoch_upsample_matches_reference(spark, e, n):
    """epoch_upsample vs the naive reference: per-key copy count is
    floor(e) + (rowhash(key) < frac(e)·M), epochs are exactly 0..n-1,
    and keys with zero copies DROP (the fractional e < 1 regression)."""
    from msgvault_spark.operators.sampling import _M, epoch_upsample, rowhash

    df = spark.createDataFrame(
        [(i, "a") for i in range(n)], "k long, src string"
    )
    got = {}
    for r in epoch_upsample(df, "src", "k", {"a": e}).collect():
        got.setdefault(r["k"], []).append(r["epoch"])
    hashes = {
        r["k"]: r["h"]
        for r in df.select("k", rowhash("k").alias("h")).collect()
    }
    frac_keep = int((e - int(e)) * _M)
    for k in range(n):
        want = int(e) + (1 if hashes[k] < frac_keep else 0)
        if want == 0:
            assert k not in got, f"key {k} should have dropped"
        else:
            assert sorted(got[k]) == list(range(want)), (k, e, got.get(k))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 50)),
        min_size=0, max_size=60, unique_by=lambda t: t,
    ),
    offset=st.sampled_from([0, 3, 10]),
    limit=st.sampled_from([5, 20]),
)
@settings(**_SETTINGS)
def test_offset_pagination_matches_sorted_slice(spark, rows, offset, limit):
    """Native OFFSET pagination == the sorted slice of a naive reference,
    for any (offset, limit) — including pages past the end."""
    df = spark.createDataFrame(
        [(i, v) for i, v in rows], "id long, v long"
    )
    got = [
        (r["id"], r["v"])
        for r in df.orderBy(F.col("v").desc(), F.col("id").desc())
        .offset(offset).limit(limit).collect()
    ]
    want = sorted(rows, key=lambda t: (-t[1], -t[0]))[offset:offset + limit]
    assert got == want


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),       # source
            st.lists(st.sampled_from(
                ["red", "green", "blue", "cyan", "teal", "plum", "gold"]
            ), min_size=0, max_size=8),             # words
        ),
        min_size=0, max_size=25,
    ),
    k=st.sampled_from([2, 5]),
    salt=st.sampled_from([1, 4]),
)
@settings(**_SETTINGS)
def test_kmv_sketches_match_bruteforce_bottom_k(spark, docs, k, salt):
    """The salted two-level bottom-k build (r4 rebuild of kmv_sketches)
    must produce EXACTLY the k lexicographically-smallest distinct shingle
    digests per source — identical to a naive per-source sort — for any
    corpus, k, and salt fan-out (the result is set-defined, so the salt
    cannot change it)."""
    import hashlib

    from msgvault_spark.operators.kmv import kmv_sketches

    rows = [(s, " ".join(ws)) for s, ws in docs]
    df = spark.createDataFrame(rows, "source string, text string") if rows \
        else spark.createDataFrame([], "source string, text string")

    def shingles(words, n=3):
        # pinned operator semantic (matches the DuckDB oracle): a doc
        # shorter than n words — including an EMPTY doc — contributes one
        # shingle, the whole (possibly empty) joined text
        if len(words) < n:
            return [" ".join(words)]
        return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]

    want: dict[str, list[str]] = {}
    for s, ws in docs:
        hs = {hashlib.md5(sh.encode()).hexdigest() for sh in shingles(ws)}
        if hs:
            want[s] = sorted(want.get(s, []) + list(hs))
    want = {s: sorted(set(v))[:k] for s, v in want.items()}

    got = {
        r["source"]: list(r["sketch"])
        for r in kmv_sketches(df, k=k, k_shingle=3, salt=salt).collect()
    }
    assert got == want


vectors_strategy = st.lists(
    st.lists(
        st.floats(-1.0, 1.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ),
    min_size=0,
    max_size=24,
)


@given(vecs=vectors_strategy, threshold=st.sampled_from([0.3, 0.7]))
@settings(**_SETTINGS)
def test_blocked_allpairs_matches_naive_reference(spark, vecs, threshold):
    """Property: the blocked-GEMM two-phase all-pairs equals the naive
    theta-join single-phase expression on arbitrary float corpora —
    including zero vectors, repeated vectors (hash-group collisions),
    and thresholds on both sides of typical cosine mass."""
    from msgvault_spark.dedup.embedding import allpairs_near_dups
    from msgvault_spark.similarity.knn import cosine, _as_double

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ) if rows else spark.createDataFrame([], "vec_id long, embedding array<float>")

    got = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in allpairs_near_dups(emb, threshold, group_rows=8).collect()
    }
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    want = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cos",
                F.round(
                    cosine(_as_double(F.col("va")), _as_double(F.col("vb"))), 6
                ),
            )
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", "cos")
        ).collect()
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 4)),
        min_size=0,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    quota=st.sampled_from([1, 3, 8]),
    salt=st.sampled_from([2, 16]),
)
@settings(**_SETTINGS)
def test_bounded_stratified_sample_matches_window_reference(
    spark, rows, quota, salt
):
    """The salted two-level bottom-k must pick member-for-member the same
    rows as the per-stratum hash-rank window, for any quota/salt split —
    including quotas above group sizes and single-row groups."""
    from msgvault_spark.operators.sampling import (
        bounded_stratified_sample,
        stratified_sample,
    )

    if not rows:
        return
    df = spark.createDataFrame(rows, "k long, g long")
    want = {
        (r["g"], r["k"])
        for r in stratified_sample(df, ["g"], "k", quota=quota).collect()
    }
    got = {
        (r["g"], r["k"])
        for r in bounded_stratified_sample(
            df, ["g"], "k", quota, salt_buckets=salt
        ).collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.text(
            alphabet="ab c!",  # tiny alphabet exercises empty/short paths
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=6,
    ),
    n=st.sampled_from([2, 3]),
)
@settings(**_SETTINGS)
def test_ngram_instances_match_reference(spark, texts, n):
    """ngram_instances (multiplicity-preserving, short-doc single gram,
    degenerate-doc empty) vs a direct Python re-implementation."""
    import re

    from msgvault_spark.textstats.analysis import ngram_instances

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {
        r["i"]: r["grams"]
        for r in df.select(
            "i", ngram_instances(F.col("text"), n).alias("grams")
        ).collect()
    }
    for i, t in enumerate(texts):
        ws = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        if len(ws) >= n:
            ref = [" ".join(ws[j : j + n]) for j in range(len(ws) - n + 1)]
        elif ws:
            ref = [" ".join(ws)]
        else:
            ref = []
        assert got[i] == ref, (t, got[i], ref)


# ---------------------------------------------------------------------------
# round-6 batches 6-15
# ---------------------------------------------------------------------------

_word_docs = st.lists(
    st.lists(st.sampled_from([f"w{i}" for i in range(12)]), min_size=0,
             max_size=30),
    min_size=1,
    max_size=8,
)


@given(docs=_word_docs, w=st.sampled_from([2, 3]), rate=st.sampled_from([3, 5]))
@settings(**_SETTINGS)
def test_span_corruption_matches_reference_random(spark, docs, w, rate):
    import hashlib

    from msgvault_spark.operators.spanmask import span_corruption_plan

    texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_starts"], r["n_spans"], r["masked_tokens"])
        for r in span_corruption_plan(df, w=w, rate=rate).collect()
    }
    ref = {}
    for d, ws in enumerate(docs):
        if len(ws) < w:
            continue
        starts = [
            i
            for i in range(len(ws) - w + 1)
            if int(hashlib.md5(f"{d}:{i}".encode()).hexdigest()[:6], 16)
            % rate
            == 0
        ]
        covered: set[int] = set()
        spans, prev = 0, None
        for s in starts:
            covered.update(range(s, s + w))
            if prev is None or s - prev >= w:
                spans += 1
            prev = s
        ref[d] = (len(starts), spans, len(covered))
    assert got == ref


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 500)),  # (group, weight)
        min_size=1,
        max_size=30,
    ),
    quota=st.sampled_from([3, 7]),
)
@settings(**_SETTINGS)
def test_weighted_sample_matches_reference_random(spark, rows, quota):
    import hashlib
    import math as m

    from msgvault_spark.operators.sampling import weighted_sample_wor

    data = [(f"g{g}", i, w) for i, (g, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "grp string, doc_id long, w long")
    got = [
        (r["grp"], r["doc_id"], r["key_nano"])
        for r in weighted_sample_wor(df, "grp", "doc_id", "w", quota)
        .orderBy("grp", "key_nano", "doc_id")
        .collect()
    ]
    ref_by_grp: dict[str, list] = {}
    for g, i, w in data:
        if w <= 0:
            continue
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:6], 16)
        k = int(m.floor(-m.log((h + 1) / 16777217.0) / w * 1e9 + 0.5))
        ref_by_grp.setdefault(g, []).append((k, i))
    ref = []
    for g in sorted(ref_by_grp):
        for k, i in sorted(ref_by_grp[g])[:quota]:
            ref.append((g, i, k))
    assert got == ref


@given(
    fps=st.lists(st.integers(0, 2**32 - 1), min_size=2, max_size=25,
                 unique=True),
    max_dist=st.sampled_from([1, 3]),
)
@settings(**_SETTINGS)
def test_hamming_neighbors_match_reference_random(spark, fps, max_dist):
    from msgvault_spark.dedup.simhash import hamming_neighbors

    df = spark.createDataFrame(
        [(i, f) for i, f in enumerate(fps)], "doc_id long, simhash long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hamming_neighbors(df, max_dist=max_dist).collect()
    }
    ref = {}
    for i in range(len(fps)):
        for j in range(i + 1, len(fps)):
            d = bin(fps[i] ^ fps[j]).count("1")
            if d <= max_dist:
                ref[(i, j)] = d
    assert got == ref


@given(
    # values stay below bucket 4 so the +64 shift (8 buckets) always
    # moves mass to DIFFERENT buckets — values near the cap would land
    # both halves in the overflow bucket and legitimately score 0
    vals=st.lists(st.integers(0, 30), min_size=1, max_size=40),
)
@settings(**_SETTINGS)
def test_psi_zero_iff_identical_and_nonnegative_total(spark, vals):
    from msgvault_spark.operators.psi import psi_report

    # mirror-split: doc 2i and 2i+1 carry the same value → all-zero PSI
    rows = [(2 * i, v) for i, v in enumerate(vals)]
    rows += [(2 * i + 1, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "doc_id long, v long")
    out = psi_report(df, F.col("doc_id") % 2 == 0, F.col("v")).collect()
    assert all(r["psi_nano"] == 0 for r in out)
    # shifted split: values +64 in the actual half → strictly positive sum
    rows2 = [(2 * i, v) for i, v in enumerate(vals)]
    rows2 += [(2 * i + 1, v + 64) for i, v in enumerate(vals)]
    df2 = spark.createDataFrame(rows2, "doc_id long, v long")
    total = sum(
        r["psi_nano"]
        for r in psi_report(df2, F.col("doc_id") % 2 == 0, F.col("v")).collect()
    )
    assert total > 0


# ---------------------------------------------------------------------------
# round-7 fixed-point numerics (the r6 verdict's ask #8): full python
# references over random corpora and degenerate groups — empty halves,
# singletons, zero variance, zero-token sources
# ---------------------------------------------------------------------------


@given(
    tokens=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(0, 500),
        min_size=1,
        max_size=5,
    ),
    budget=st.integers(0, 1200),
    cap_ppm=st.sampled_from([500_000, 1_000_000, 2_000_000]),
)
@settings(**_SETTINGS)
def test_unimax_plan_matches_reference_random(spark, tokens, budget, cap_ppm):
    from msgvault_spark.operators.unimax import unimax_plan

    df = spark.createDataFrame(
        list(tokens.items()), "source string, tokens long"
    )
    got = {
        r["source"]: (r["tokens"], r["cap"], r["capped"], r["alloc"])
        for r in unimax_plan(df, budget=budget, cap_ppm=cap_ppm).collect()
    }
    # reference: cap ascending waterfill (tie-break source asc)
    caps = {s: t * cap_ppm // 1_000_000 for s, t in tokens.items()}
    order = sorted(caps, key=lambda s: (caps[s], s))
    S = len(order)
    p = k = pk = 0
    for i, s in enumerate(order, start=1):
        if caps[s] * (S - i + 1) <= budget - p:
            k += 1
            pk += caps[s]
        p += caps[s]
    water = (budget - pk) // (S - k) if k < S else 0
    ref = {}
    for i, s in enumerate(order, start=1):
        capped = 1 if i <= k else 0
        ref[s] = (tokens[s], caps[s], capped, caps[s] if capped else water)
    assert got == ref
    # invariant: never allocate above cap; capped sources get exactly cap
    for s, (_, cap, capped, alloc) in got.items():
        assert alloc <= max(cap, 0) or capped == 0


@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(0, 20)),
        min_size=0,
        max_size=50,
    ),
)
@settings(**_SETTINGS)
def test_psi_report_matches_reference_random(spark, rows):
    import math

    from msgvault_spark.operators.psi import psi_report

    n_buckets, width = 4, 3
    if not rows:
        return
    df = spark.createDataFrame(
        [(i, e, v) for i, (e, v) in enumerate(rows)],
        "doc_id long, is_exp boolean, v long",
    )
    got = {
        r["bucket"]: (r["n_expected"], r["n_actual"], r["psi_nano"])
        for r in psi_report(
            df, F.col("is_exp"), F.col("v"),
            n_buckets=n_buckets, bucket_width=width,
        ).collect()
    }
    # reference: laplace-smoothed PSI, identical float expression shape
    ne: dict[int, int] = {}
    na: dict[int, int] = {}
    for e, v in rows:
        b = min(v // width, n_buckets - 1)
        (ne if e else na)[b] = (ne if e else na).get(b, 0) + 1
    te, ta = sum(ne.values()), sum(na.values())
    if te == 0 or ta == 0:
        # a missing half produces an EMPTY report (no tot row for it),
        # never a NULL-poisoned one
        assert got == {}
        return
    ref = {}
    for b in range(n_buckets):
        nb_e, nb_a = ne.get(b, 0), na.get(b, 0)
        pe = (nb_e + 1) / (te + n_buckets)
        pa = (nb_a + 1) / (ta + n_buckets)
        ratio = ((nb_a + 1) * (te + n_buckets)) / (
            (nb_e + 1) * (ta + n_buckets)
        )
        ref[b] = (
            nb_e,
            nb_a,
            math.floor((pa - pe) * math.log(ratio) * 1e9 + 0.5),
        )
    assert got == ref


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["ab", "cd", "ef", "gh"]), min_size=0, max_size=6
        ),
        min_size=1,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_bigram_backoff_matches_reference_random(spark, docs):
    import math

    from hypothesis import assume

    from msgvault_spark.textstats.backoff import (
        ALPHA_DEN,
        ALPHA_NUM,
        bigram_backoff_scores,
    )

    # reference slice = even doc_ids; it must contain at least one token
    # (an empty reference corpus NULL-poisons n/v by design — the entry
    # guards it; the degenerate is covered by the assume's complement
    # being rejected, not silently scored)
    assume(any(ws for i, ws in enumerate(docs) if i % 2 == 0))
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_micro"])
        for r in bigram_backoff_scores(df, "doc_id % 2 = 0").collect()
    }
    # python reference
    ref_docs = [ws for i, ws in enumerate(docs) if i % 2 == 0]
    cb: dict[tuple[str, str], int] = {}
    cu: dict[str, int] = {}
    for ws in ref_docs:
        for w in ws:
            cu[w] = cu.get(w, 0) + 1
        for p_, c_ in zip(ws, ws[1:]):
            cb[(p_, c_)] = cb.get((p_, c_), 0) + 1
    n, v = sum(cu.values()), len(cu)
    ref = {}
    for i, ws in enumerate(docs):
        grams = list(zip(ws, ws[1:]))
        if not grams:
            continue
        s = 0
        for g in grams:
            if g in cb:
                cs = math.floor(math.log(cu[g[0]] / cb[g]) * 1e6 + 0.5)
            else:
                cs = math.floor(
                    math.log(
                        (ALPHA_DEN * (n + v))
                        / (ALPHA_NUM * (cu.get(g[1], 0) + 1))
                    )
                    * 1e6
                    + 0.5
                )
            s += cs
        ref[i] = (len(grams), s // len(grams))
    assert got == ref


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.sampled_from(["t1", "t2", "t3", "t4", "t5", "t6"]),
            st.integers(1, 40),
        ),
        min_size=0,
        max_size=20,
    ),
    top_k=st.sampled_from([3, 5]),
)
@settings(**_SETTINGS)
def test_zipf_slope_matches_reference_random(spark, rows, top_k):
    import math

    from msgvault_spark.textstats.zipf import ln_rank_micro, zipf_slope_by_source

    # dedupe (source, term): term_freq is a type table by contract
    tf: dict[tuple[str, str], int] = {}
    for s, t, f_ in rows:
        tf[(s, t)] = f_
    if not tf:
        return
    df = spark.createDataFrame(
        [(s, t, f_) for (s, t), f_ in tf.items()],
        "source string, term string, freq long",
    )
    got = {
        r["source"]: (r["n_terms"], r["slope"])
        for r in zipf_slope_by_source(df, top_k=top_k).collect()
    }
    xs = ln_rank_micro(top_k)
    by_src: dict[str, list[tuple[str, int]]] = {}
    for (s, t), f_ in tf.items():
        by_src.setdefault(s, []).append((t, f_))
    ref = {}
    for s, terms in by_src.items():
        ranked = sorted(terms, key=lambda p: (-p[1], p[0]))[:top_k]
        if len(ranked) < 2:
            continue  # sources with <2 ranked terms are dropped
        pts = [
            (xs[i], math.floor(math.log(f_) * 1e6 + 0.5))
            for i, (_, f_) in enumerate(ranked)
        ]
        nn = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        slope = round(
            (nn * sxy - sx * sy) / (nn * sxx - sx * sx), 6
        )
        ref[s] = (nn, slope)
    assert got == ref


@given(
    groups=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", "fr"]),
            st.integers(-50, 50),
        ),
        min_size=1,
        max_size=30,
    ),
    constant_group=st.booleans(),
)
@settings(**_SETTINGS)
def test_calibrate_matches_reference_and_pandas_twin(
    spark, groups, constant_group
):
    import math

    from msgvault_spark.textstats.calibrate import (
        calibrate_expr,
        calibrate_pandas,
    )

    rows = [(i, g, float(v)) for i, (g, v) in enumerate(groups)]
    if constant_group:  # planted zero-variance group → z must be 0.0
        base = len(rows)
        rows += [(base + j, "zz", 7.0) for j in range(3)]
    rows.append((len(rows), "solo", 3.0))  # singleton group → z = 0.0
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")

    got = {
        r["doc_id"]: r["z"]
        for r in calibrate_expr(df, "lang", "score").collect()
    }
    twin = {
        r["doc_id"]: r["z"]
        for r in calibrate_pandas(df, "lang", "score").collect()
    }
    # python reference: sample stddev; singleton/zero-variance → 0.0
    by_g: dict[str, list[tuple[int, float]]] = {}
    for i, g, v in rows:
        by_g.setdefault(g, []).append((i, v))
    ref = {}
    for g, members in by_g.items():
        vs = [v for _, v in members]
        mu = sum(vs) / len(vs)
        if len(vs) < 2:
            sd = None
        else:
            sd = math.sqrt(sum((v - mu) ** 2 for v in vs) / (len(vs) - 1))
        for i, v in members:
            ref[i] = 0.0 if not sd else (v - mu) / sd
    assert set(got) == set(ref) == set(twin)
    for i in ref:
        assert abs(got[i] - ref[i]) <= 1e-9 * max(1.0, abs(ref[i])), i
        assert abs(twin[i] - got[i]) <= 1e-9 * max(1.0, abs(got[i])), i


def _py_bpe(texts, k):
    import collections
    import re

    ctf = collections.Counter()
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                ctf[w] += 1
    vocab = collections.Counter()
    for w, f in ctf.items():
        vocab[tuple(w)] += f
    out = []
    for r in range(1, k + 1):
        pc = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), f = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append((r, a, b, f))
        nv = collections.Counter()
        for syms, fr in vocab.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            nv[tuple(ns)] += fr
        vocab = nv
    return out


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["low", "lower", "lowest", "newest", "wide", "aaa", "abab"]
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 4]),
)
@settings(**_SETTINGS)
def test_bpe_train_matches_reference_random(spark, docs, k):
    """The BPE trainer's greedy-merge-by-string-replace must equal the
    classic per-symbol-list reference on random corpora — including the
    overlap cases ('aaa' under (a,a) merges left-first; 'abab' under
    (a,b) merges both occurrences)."""
    from msgvault_spark.textstats.bpe import bpe_train_merges

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["round"], r["left_sym"], r["right_sym"], r["freq"])
        for r in bpe_train_merges(df, k=k).collect()
    ]
    assert got == _py_bpe(texts, k)


def test_bpe_encode_survives_dry_training(spark):
    """A corpus whose vocabulary yields ZERO merges (all single-char
    words) must still encode: the oracle's guarded mm{r} CTEs keep the
    replace chain a no-op instead of annihilating the cross join."""
    import duckdb

    from msgvault_spark.textstats.bpe import (
        bpe_encode_counts,
        bpe_encode_oracle_sql,
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(0, "src0", "a b c"), (1, "src1", "a b")],
        "doc_id long, source string, text string",
    )
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train_merges(docs, k=4).collect()
    ]
    assert merges == []
    got = sorted(
        (r["source"], r["words"], r["bpe_tokens"], r["fertility_ppm"])
        for r in bpe_encode_counts(docs, merges).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT * FROM (VALUES "
        "(0,'src0','a b c'),(1,'src1','a b')) t(doc_id, source, text)"
    )
    want = con.execute(
        bpe_encode_oracle_sql("SELECT doc_id, source, text FROM d", k=4)
    ).fetchall()
    assert got == [tuple(w) for w in want]
    assert got[0][3] == 1_000_000  # fertility exactly 1 token/word


def test_bpe_rejects_out_of_charset_symbols(spark):
    """Learned symbols splice into a SQL replace literal — a ctf built
    with a foreign tokenizer must fail loudly, not corrupt the plan."""
    import pytest as _pytest

    from msgvault_spark.textstats.bpe import bpe_train_merges

    docs = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    bad_ctf = spark.createDataFrame(
        [("don't", 5), ("don'x", 4)], "term string, freq long"
    )
    # rounds 1-2 learn legal merges (d,o) then (do,n); round 3's winner
    # pairs 'don' with the apostrophe — the charset guard must fire
    with _pytest.raises(ValueError, match="a-z0-9"):
        bpe_train_merges(docs, k=3, ctf=bad_ctf)


# ---------------------------------------------------------------------------
# round 10 (r9 verdict task #7): the hash-sensitive argmax/tie-break policy
# sites, fuzzed against pure-Python brute force — these are the entries
# where the driver's oracle REPLAYS the same formula (min_by / row_number
# tie-break), so oracle agreement alone can't catch a policy bug.
# ---------------------------------------------------------------------------

_ff_recips = st.lists(
    st.tuples(
        st.integers(1, 6),                      # message_id
        st.integers(1, 5),                      # participant_id
        st.sampled_from(["from", "to", "cc"]),
    ),
    min_size=0,
    max_size=25,
)
_ff_parts = st.lists(
    st.tuples(
        st.sampled_from(["", "a@x.com", "b@y.com", "c@z.org"]),  # email
        st.sampled_from(["", " ", "Alice", " Bob "]),            # display
        st.sampled_from(["", "+1555", "+2666"]),                 # phone
    ),
    min_size=5,
    max_size=5,
)


@given(recips=_ff_recips, parts=_ff_parts, sender_of=st.integers(0, 5))
@settings(**_SETTINGS)
def test_wide_first_from_matches_reference_random(
    spark, recips, parts, sender_of
):
    """The wide record's resolved search sender (compile_search_wide: the
    lowest-participant_id 'from' row, coalesce name chain, direct-sender
    fallback, '' when neither) vs brute force and vs the join path."""
    from pyspark.sql import functions as F

    from msgvault_spark.search.fast import compile_search
    from msgvault_spark.search.fast_wide import compile_search_wide
    from msgvault_spark.search.parser import ParsedQuery
    from msgvault_spark.sources.cache import build_wide_messages
    from msgvault_spark.sources.loader import ARCHIVE_SCHEMAS

    n_msg = 6
    participants = [
        (pid, em, em.split("@")[1] if "@" in em else "", dn, ph)
        for pid, (em, dn, ph) in enumerate(parts, start=1)
    ]
    messages = [
        (
            m, 1, f"m{m}", 10, f"s{m}", "", BASE + dt.timedelta(hours=m),
            10, False, 0, None,
            (sender_of if (m == 1 and sender_of) else None),  # sender_id
            "email", 2024, 1,
        )
        for m in range(1, n_msg + 1)
    ]
    archive = {
        "messages": spark.createDataFrame(
            messages, schema=ARCHIVE_SCHEMAS["messages"]
        ),
        "message_recipients": spark.createDataFrame(
            [(m, p, t, "") for m, p, t in recips],
            schema=ARCHIVE_SCHEMAS["message_recipients"],
        ),
        "participants": spark.createDataFrame(
            participants, schema=ARCHIVE_SCHEMAS["participants"]
        ),
        "labels": spark.createDataFrame([], ARCHIVE_SCHEMAS["labels"]),
        "message_labels": spark.createDataFrame(
            [], ARCHIVE_SCHEMAS["message_labels"]
        ),
        "attachments": spark.createDataFrame(
            [], ARCHIVE_SCHEMAS["attachments"]
        ),
    }
    wide = build_wide_messages(archive)
    cols = ("id", "from_email", "from_name", "from_phone")
    resolved = compile_search_wide(wide, ParsedQuery(), email_only=False)
    has_from = dict(wide.select("id", F.size("from_rows") > 0).collect())
    got = {
        r["id"]: (r["from_email"], r["from_name"], r["from_phone"],
                  has_from[r["id"]])
        for r in resolved.select(*cols).collect()
    }
    join = compile_search(archive, ParsedQuery(), email_only=False)
    assert sorted(resolved.select(*cols).collect()) == sorted(
        join.select(*cols).collect()
    )

    pmap = {p[0]: p for p in participants}

    def resolve(pid):
        _, em, _, dn, ph = pmap[pid]
        name = (dn.strip() if dn.strip() else None) or (ph or None) or em
        return em, name, (ph or "")

    ref = {}
    for m in range(1, n_msg + 1):
        froms = sorted(p for (mm, p, t) in recips if mm == m and t == "from")
        if froms:
            em, name, ph = resolve(froms[0])
            ref[m] = (em, name, ph, True)
        elif m == 1 and sender_of:
            _, em, _, dn, ph = pmap[sender_of]
            ref[m] = (em, dn, ph, False)
        else:
            ref[m] = ("", "", "", False)
    assert got == ref


_surv_groups = st.lists(
    st.tuples(
        st.integers(0, 2),    # group_key
        st.integers(0, 3),    # src_rank  (priority 1: asc)
        st.integers(0, 3),    # label_count (priority 2: desc)
        st.booleans(),        # sent copy signal
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_surv_groups)
@settings(**_SETTINGS)
def test_select_survivors_matches_reference_random(spark, rows):
    """D3 survivor selection (sent-copy gate → priority list → id
    tie-break) vs a pure-Python argmin over the same composite key."""
    from msgvault_spark.dedup.exact import select_survivors

    data = [
        (i, g, sr, lc, s) for i, (g, sr, lc, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "id long, group_key long, src_rank long, label_count long, "
        "sent boolean",
    )
    marked = select_survivors(
        df,
        [F.col("src_rank").asc(), F.col("label_count").desc()],
        sent_copy=F.col("sent"),
    )
    got = {r["id"] for r in marked.collect() if r["is_survivor"]}

    by_group: dict[int, list[tuple]] = {}
    for i, g, sr, lc, s in data:
        by_group.setdefault(g, []).append((i, sr, lc, s))
    ref = set()
    for g, members in by_group.items():
        has_sent = any(s for (_, _, _, s) in members)
        ref.add(
            min(
                members,
                key=lambda m: (
                    0 if (has_sent and m[3]) else 1, m[1], -m[2], m[0]
                ),
            )[0]
        )
    assert got == ref


_rrf_scores = st.lists(
    st.tuples(st.integers(1, 12), st.integers(0, 5)),
    min_size=0,
    max_size=12,
    unique_by=lambda t: t[0],
)


@given(b_rows=_rrf_scores, v_rows=_rrf_scores, kps=st.sampled_from([3, 5]))
@settings(**_SETTINGS)
def test_rrf_fuse_matches_reference_random(spark, b_rows, v_rows, kps):
    """RRF fusion (per-signal row_number ties on id, full-outer union,
    score-desc/id-asc final order) vs brute force — score compared to
    12 decimals, order compared exactly."""
    from msgvault_spark.search.hybrid import DEFAULT_RRF_K, rank_signal, rrf_fuse

    if not b_rows and not v_rows:
        return
    b = spark.createDataFrame(
        [(i, float(s)) for i, s in b_rows] or [(None, None)],
        "id long, score double",
    ).filter(F.col("id").isNotNull())
    v = spark.createDataFrame(
        [(i, float(s)) for i, s in v_rows] or [(None, None)],
        "id long, score double",
    ).filter(F.col("id").isNotNull())
    fused = rrf_fuse(
        rank_signal(b, "score", kps), rank_signal(v, "score", kps), kps
    )
    got = [
        (r["id"], round(r["rrf_score"], 12)) for r in fused.collect()
    ]

    def ranks(rows):
        ordered = sorted(rows, key=lambda t: (-t[1], t[0]))
        return {i: rk for rk, (i, _) in enumerate(ordered, start=1) if rk <= kps}

    rb, rv = ranks(b_rows), ranks(v_rows)
    scores = {}
    for i in set(rb) | set(rv):
        s = 0.0
        if i in rb:
            s += 1.0 / (DEFAULT_RRF_K + rb[i])
        if i in rv:
            s += 1.0 / (DEFAULT_RRF_K + rv[i])
        scores[i] = s
    ref = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:20]
    assert got == [(i, round(s, 12)) for i, s in ref]


# ---------------------------------------------------------------------------
# D3 survivor selection: one-pass hash aggregate vs the window policy
# (the docstring of select_survivors_agg claims this equivalence is fuzzed
# here — the fuzz covers ties on every priority column, sent-copy groups,
# mixed groups, and groups of size 1)
# ---------------------------------------------------------------------------

survivor_rows = st.lists(
    st.tuples(
        st.integers(0, 4),      # group key
        st.integers(0, 2),      # priority 1: source rank (asc, ties common)
        st.integers(0, 3),      # priority 2: label count (desc via negate)
        st.booleans(),          # sent-copy signal
    ),
    min_size=1,
    max_size=40,
)


@given(rows=survivor_rows, use_sent=st.booleans())
@settings(**_SETTINGS)
def test_select_survivors_agg_matches_window(spark, rows, use_sent):
    from msgvault_spark.dedup.exact import select_survivors, select_survivors_agg

    data = [
        (i, g, rank, labels, sent)
        for i, (g, rank, labels, sent) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "id long, group_key long, rank long, labels long, sent boolean"
    )
    # agg variant wants every priority ascending → negate the desc column
    priority_w = [F.col("rank").asc(), F.col("labels").desc()]
    priority_a = [F.col("rank"), -F.col("labels")]
    sent_col = F.col("sent") if use_sent else None

    window = {
        (r["group_key"], r["id"])
        for r in select_survivors(
            df, priority_w, sent_copy=sent_col
        ).filter("is_survivor").collect()
    }
    agg = {
        (r["group_key"], r["survivor_id"])
        for r in select_survivors_agg(
            df, priority_a, sent_copy=sent_col
        ).collect()
    }
    assert agg == window

    # pure-Python reference of the documented policy, independently
    by_group: dict[int, list[tuple]] = {}
    for i, g, rank, labels, sent in data:
        by_group.setdefault(g, []).append((i, rank, labels, sent))
    ref = set()
    for g, members in by_group.items():
        pool = members
        if use_sent and any(m[3] for m in members):
            pool = [m for m in members if m[3]]
        best = min(pool, key=lambda m: (m[1], -m[2], m[0]))
        ref.add((g, best[0]))
    assert agg == ref
