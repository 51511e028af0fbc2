"""Physical-plan quality gates: pushdown, pruning, join strategy, codegen.

Correctness says WHAT came back; these tests pin HOW — the properties that
decide whether a plan survives a 100×-scale-up (SURVEY.md §4). They read
`.explain`-style output (executedPlan strings) and assert:

  - filters reach the parquet scan (PushedFilters), columns are pruned
    (ReadSchema carries only what the query projects);
  - dimension joins broadcast, fact joins never degenerate to
    CartesianProduct / BroadcastNestedLoopJoin (the only nested-loop allowed
    is the deliberate 1-row total_unique cross join);
  - hot aggregate paths run inside WholeStageCodegen.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, execute: bool = False) -> str:
    if execute:
        # AQE materializes WholeStageCodegen spans only in the final plan
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _indent(line: str) -> int:
    # tree-prefix characters only — '*(n)' codegen markers are CONTENT
    # ('+- *(1) Project' is at the '+-' depth); counting them as indent
    # would make live siblings of a cached scan look nested under it
    return len(line) - len(line.lstrip(" :+-"))


def _live_plan(plan: str) -> str:
    """Plan text with every InMemoryTableScan SUBTREE removed (the cached
    BUILD plan, paid once at ETL) while keeping siblings and later union
    legs — unlike a naive prefix split, operators printed AFTER a cached
    scan still get audited. An EXECUTED AQE plan prints '== Final Plan =='
    followed by '== Initial Plan ==' — audit only the final section, or
    every operator counts twice. The Initial-Plan cut applies at the ROOT
    marker only (indent ≤ 3): a nested cached relation prints its own
    deeply indented Final/Initial markers, and cutting at the first
    occurrence anywhere (the pre-round-10 behavior) silently truncated
    the audit at the first cached scan — ivf_probe_sweep's live probe
    legs were never read."""
    out = []
    skip_below: int | None = None
    for line in plan.splitlines():
        ind = _indent(line)
        if "== Initial Plan ==" in line and ind <= 3:
            break  # root AQE section boundary
        if skip_below is not None:
            if ind > skip_below:
                continue
            skip_below = None
        if "InMemoryTableScan" in line:
            skip_below = ind
            continue
        out.append(line)
    return "\n".join(out)


@pytest.fixture(scope="module")
def catalog():
    from msgvault_spark.catalog import CATALOG

    return CATALOG


def test_filter_and_projection_pushdown(spark):
    """The RAW parquet path (what a 100 TB deployment scans — whole-table
    caching is a small-corpus residency trade) must push filters and prune
    columns into the scan."""
    from pyspark.sql import functions as F

    from msgvault_spark.sources.loader import load_table

    df = (
        load_table(spark, SF_DIR, "part")
        .filter(F.col("p_name").ilike("%green%") & (F.col("p_size") > 20))
        .select("p_partkey", "p_name", "p_brand")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    # the numeric predicate is pushable; it must reach the scan
    assert "GreaterThan(p_size,20)" in plan.replace(" ", "")
    # column pruning: the scan must not read the 9-column part table wide
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("p_retailprice", "p_comment", "p_container"):
        assert col not in read_schema


def test_dim_joins_broadcast_no_cartesian(spark, catalog):
    for name in ("agg_senders", "agg_recipients", "list_messages_by_domain"):
        plan = _plan(catalog[name].fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        # the only nested-loop join allowed is the broadcast of the 1-row
        # total_unique aggregate
        nlj = plan.count("BroadcastNestedLoopJoin")
        assert nlj <= 1, f"{name}: {nlj} nested-loop joins"


def test_semi_and_anti_joins_stay_hash_joins(spark, catalog):
    plan = _plan(catalog["orders_semi_anti"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_wide_agg_is_scan_plus_agg(spark, catalog):
    """The wide fast path must stay join-free at query time: scan the
    denormalized lake view, hash-aggregate, sort. Any join besides the
    1-row total broadcast means the denormalization regressed. Round 11:
    the wide view serves as a PLAIN parquet scan of the artifact lake
    (no per-session cache), so the whole executed plan is query-time —
    the ETL joins live behind the lake write."""
    plan = _plan(catalog["agg_senders_wide"].fn(spark, SF_DIR), execute=True)
    # round 11: the wide view is a lake parquet twin (lazily cached), so
    # even the cached-build subtree is a plain FileScan — the ETL joins
    # live behind the lake write. Assert join-freedom over the WHOLE plan,
    # cached build included (pre-r11 only the query-time prefix could be).
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    # whole-stage codegen spans print as "*(n) Operator" in plan strings
    assert "*(" in _live_plan(plan)


def test_bm25_candidate_shape(spark, catalog):
    """BM25 must filter postings to the query terms BEFORE joining: the
    plan carries the IN-list filter and no full-corpus sort-merge join.
    Round 11: postings/stats serve as lake scans, so the term IN-list
    must now reach the parquet scan itself (PushedFilters) — a pruning
    the old full-width in-memory cache could never do."""
    plan = _plan(catalog["bm25_documents"].fn(spark, SF_DIR))
    assert plan.count("FileScan parquet") >= 2  # lake postings + stats
    assert "term#" in plan and " IN (" in plan
    assert "In(term, [" in plan  # pushed into the postings scan
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_cache_lake(spark, tmp_path, archive):
    """Year-partitioned lake + year filter ⇒ the scan's partition filter
    prunes; the data filter list stays empty for the partition column."""
    from pyspark.sql import functions as F

    from msgvault_spark.sources.build_cache import build_cache

    base = str(tmp_path / "lake")
    build_cache(spark, archive, base)
    df = (
        spark.read.parquet(f"{base}/messages")
        .filter(F.col("year") == 2024)
        .select("id", "size_estimate")
    )
    plan = _plan(df)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "year" in pf


def test_sessionize_single_exchange(spark):
    """Both windows (lag, running sum) and the rollup groupBy key on
    user_id: Catalyst must reuse ONE hash partitioning for all three —
    a second exchange would double-shuffle 100 TB of events."""
    import datetime as dt

    from msgvault_spark.operators.sessionize import session_rollup

    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0, 0))], "user_id long, ts timestamp"
    )
    plan = _plan(session_rollup(ev))
    # count real exchanges (every "Exchange" occurrence that is not a reuse)
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1


def test_deterministic_sample_is_pure_filter(spark):
    """Hash sampling must stay a map-side filter: no exchange, no window,
    and the predicate reaches the scan."""
    from msgvault_spark.operators.sampling import deterministic_sample
    from msgvault_spark.sources.loader import load_table

    df = deterministic_sample(
        load_table(spark, SF_DIR, "documents").select("doc_id"), "doc_id", 0.1
    )
    plan = _plan(df)
    assert "Exchange" not in plan and "Window" not in plan
    assert "pmod" in plan  # the hash predicate is in the scan filter


def test_deletion_vector_apply_broadcasts(spark):
    """Merge-on-read delete = broadcast hash LEFT ANTI; a shuffled anti-join
    would re-shuffle the full base table per delete batch."""
    from pyspark.sql import functions as F

    from msgvault_spark.dedup.deletion_vectors import apply_deletion_vector

    base = spark.range(100).select(F.col("id"))
    dv = spark.range(5).select(F.col("id"), F.lit("b1").alias("delete_batch_id"))
    plan = _plan(apply_deletion_vector(base, dv))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_zero_fill_broadcasts_metric_side(spark):
    """The dense-spine left join must broadcast the (small, post-agg)
    metric side — never shuffle either input."""
    import datetime as dt

    from msgvault_spark.operators.timeseries import zero_fill

    aggd = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 1)], "bucket timestamp, orders long"
    )
    plan = _plan(zero_fill(aggd, "bucket", "month"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_rollup_is_two_phase_agg(spark):
    """Sketch rollup: level-1 sketches then union-merge — both hash
    aggregates, no sort aggregate, single exchange between levels."""
    from pyspark.sql import functions as F

    from msgvault_spark.operators.sketch import hll_merge_estimate, hll_sketch_rollup

    df = spark.range(100).select(
        (F.col("id") % 2).alias("k"), (F.col("id") % 3).alias("g"),
        F.col("id").alias("v"),
    )
    plan = _plan(hll_merge_estimate(hll_sketch_rollup(df, ["k"], ["g"], "v"), ["k"]))
    assert "SortAggregate" not in plan  # datasketches aggs stay hash-based


def test_every_catalog_plan_is_scale_safe(spark, catalog):
    """Blanket audit: NO catalog query may contain a CartesianProduct, and
    nested-loop joins are allowed only as broadcast 1-row cross joins (the
    total_unique pattern and seed-literal attaches) — the two plan shapes
    that sink a 100 TB run. Streaming entries (side-effectful fns) and
    iterative drivers are skipped; everything else gets its executedPlan
    string checked."""
    SKIP = {
        # run streaming queries / driver-side iteration on invocation
        "stream_rollup_daily", "stream_dedup_count", "stream_user_sessions",
        "dedup_component_sizes",
    }
    # cross joins that are 1-row broadcasts by construction
    NLJ_ALLOWED = 2
    # entries audited by hand whose extra nested-loop joins are ALL
    # bounded-build-side broadcast crosses (never corpus × corpus):
    NLJ_BOUNDED = {
        # one q(=20 eval rows) × centroids(=8 rows) probe cross per
        # sweep leg — both sides constants at any corpus size
        "ivf_probe_sweep": 3,
    }
    failures = []
    for name, spec in catalog.items():
        if name in SKIP:
            continue
        try:
            plan = _plan(spec.fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: plan build failed: {e}")
            continue
        # strip cached-build subtrees (paid at ETL), keep all live
        # query-time operators including those printed after a cached scan
        pre = _live_plan(plan)
        if "CartesianProduct" in pre:
            failures.append(f"{name}: CartesianProduct")
        nlj = pre.count("BroadcastNestedLoopJoin")
        if nlj > NLJ_BOUNDED.get(name, NLJ_ALLOWED):
            failures.append(f"{name}: {nlj} BroadcastNestedLoopJoin")
        # an unlimited global sort range-partitions, and its bound-sampling
        # job re-executes the whole child subtree — every query computing
        # its input twice at any scale. Bounded outputs use present_sorted
        # (single-partition sort), fact-scale outputs sortWithinPartitions;
        # orderBy+limit compiles to TakeOrdered and never hits this.
        if "rangepartitioning" in pre:
            failures.append(f"{name}: rangepartitioning (unlimited orderBy)")
        # present_sorted's SinglePartition exchange is legal ONLY as the
        # terminal presentation step: if joins/aggregates/windows/more
        # exchanges sit ABOVE it (closer to the root), the whole rest of
        # the query inherits one partition and runs single-task — a
        # mid-plan funnel strictly worse than the range sort it replaced.
        # Only TRUE ANCESTORS count: treeString prints earlier sibling
        # subtrees above a node too, so walk upward keeping only lines at
        # strictly decreasing indent (the ancestor chain), not everything
        # printed before the Exchange line.
        lines = pre.splitlines()
        for i, l in enumerate(lines):
            if "Exchange SinglePartition, REPARTITION_BY_NUM" not in l:
                continue
            bound = _indent(l)
            ancestors = []
            for j in range(i - 1, -1, -1):
                pj = lines[j]
                if _indent(pj) < bound:
                    bound = _indent(pj)
                    ancestors.append(pj)
            above = "\n".join(ancestors)
            if ("Join" in above or "Aggregate" in above or "Window" in above
                    or "Exchange" in above):
                failures.append(f"{name}: mid-plan SinglePartition funnel")
                break
    assert not failures, failures


def test_every_catalog_output_is_scalar_typed(spark, catalog):
    """The driver's oracle compare canonicalizes results through pandas
    sort_values, which dies on unhashable cells — an array/map/struct/
    binary output column turns a RIGHT answer into a red driver row (the
    only r2 failure was exactly this). Every entry must present scalar
    columns; vector-valued results reshape to named per-dim columns or
    long (id, idx, value) form."""
    # streaming entries and driver-side iterative builders run real work on
    # invocation — too heavy for a schema-only check (their scalar shapes
    # are pinned by their own tests/oracle rows)
    SKIP = {
        "stream_rollup_daily", "stream_dedup_count", "stream_user_sessions",
        "stream_stream_join_funnel", "dedup_component_sizes",
    }
    bad = []
    for name, spec in catalog.items():
        if name in SKIP:
            continue
        try:
            schema = spec.fn(spark, SF_DIR).schema
        except Exception as e:  # noqa: BLE001
            bad.append(f"{name}: build failed: {e}")
            continue
        for f in schema.fields:
            t = f.dataType.simpleString()
            if any(k in t for k in ("array", "map", "struct", "binary")):
                bad.append(f"{name}.{f.name}: {t}")
    assert not bad, bad


def test_driver_gate_priority_ordering():
    """The driver verifies a prefix of queries() in dict order (round 1:
    exactly the first 50). Pin the contract: the priority list is typo-free,
    duplicate-free, and the first 50 emitted entries are all oracle-backed
    — no rows-only entry may burn a gate slot."""
    import __spark_entry__ as entrymod
    from msgvault_spark.catalog import CATALOG

    prio = entrymod._PRIORITY
    assert len(set(prio)) == len(prio), "duplicate names in _PRIORITY"
    missing = [k for k in prio if k not in CATALOG]
    assert not missing, f"_PRIORITY names not in catalog: {missing}"
    names = list(entrymod.queries())
    assert set(names) == set(CATALOG), "queries() must expose every entry"
    gate = names[:50]
    rows_only = [k for k in gate if CATALOG[k].oracle_sql is None]
    assert not rows_only, f"rows-only entries inside the gate window: {rows_only}"


def test_headline_exchange_counts_pinned(spark, catalog):
    """Shuffle-exchange budget of the five headline plans, pinned so a
    refactor cannot silently add a shuffle. Counts exclude broadcast and
    reused exchanges and ignore the cached-build suffix (paid at ETL)."""
    # Counts are over the LIVE plan (cached-build subtrees stripped via
    # _live_plan, which unlike the old prefix split also audits operators
    # printed after a cached scan) of a FRESH DataFrame under THIS
    # session's conf — exchange structure varies with shuffle.partitions /
    # broadcast threshold, so the pins are only meaningful against the
    # fixture session they were calibrated on.
    #
    # ROUND-10 RECALIBRATION: _live_plan used to truncate the whole audit
    # at the FIRST '== Initial Plan ==' marker — including one printed by
    # a NESTED cached relation — so any entry whose plan text hit a cached
    # AQE block early was only partially counted. With the root-only cut,
    # 15 pins rose to their true full-plan counts (the plans themselves
    # did not regress; sf1 ratios pinned them all ≤2× in RATIOS_sf1.md).
    # embedding_near_dups_lsh additionally changed shape for real: the
    # GEMM-margin rescore (dedup/embedding_gemm.py) replaced the fold.
    PINNED = {
        "search_fast_operators_wide": 0,  # join-free scan of the wide view
        "sessionize_events": 1,           # one exchange shared by windows+rollup
        "hybrid_rrf": 1,                  # term-pruned postings agg
        "agg_senders_wide": 1,            # single hash-agg shuffle
        "knn_cosine_seed0": 0,            # map + TakeOrdered k-heap
        # TPC-H heavies (r3 verdict ask #10). Counts include the terminal
        # present_sorted single-partition exchange where present.
        "nation_profit_q9": 2,            # fact agg + presentation
        "large_orders_q18": 1,            # orderkey exchange shared by
                                          # HAVING-agg and the re-join
        "waiting_suppliers_q21": 3,       # late-once + semi/anti share the
                                          # l_orderkey exchange + present
        # round-6 curation entries
        "dsir_importance_select": 7,      # one doc-keyed weight agg; the
                                          # K-row LLR branch rides the
                                          # broadcast side; TakeOrdered
        "length_bucket_report": 4,        # bucket counts + (bucket,batch)
                                          # rollup + bucket rollup; batch
                                          # membership hash-derived (no
                                          # window/sort exchange)
        "ngram_diversity_by_source": 3,   # two-phase distinct ((grp,gram)
                                          # then grp) + presentation
        "hard_negative_mining": 2,        # two-level top-k: (qid,part)
                                          # then qid — never corpus-wide
        "quality_median_filter": 3,       # doc_id score join + source
                                          # rollup + presentation; median
                                          # table rides the broadcast side
        "cluster_balanced_sample": 3,     # salted bottom-k (cell,salt) +
                                          # cell merge + presentation; no
                                          # per-cell sort window
        "source_divergence_matrix": 7,    # one corpus (source,bucket) agg
                                          # + tiny source-total and pair
                                          # aggs; grid/pair joins ride
                                          # broadcasts of S·K-row tables
        "token_fertility_report": 2,      # one (lang,source) agg + present
        "curriculum_decile_plan": 3,      # doc-score agg + phase rollup +
                                          # present; cutpoints are a 1-row
                                          # broadcast array
        "bpe_merge_candidates": 2,        # vocab freq agg + pair agg;
                                          # TakeOrdered top-k
        # round-6 batch 4
        "repeated_span_coverage": 1,      # per-doc LAG window over the
                                          # dup-starts artifact; anchor
                                          # join rides broadcast;
                                          # TakeOrdered top-k
        "pagerank_dup_graph": 1,          # final-round edge join + rank
                                          # agg (earlier rounds behind
                                          # the localCheckpoint barrier)
        "ndcg_eval_knn": 4,               # label-count agg + dcg agg +
                                          # present; ranking reads the
                                          # recall harness' persisted
                                          # ground-truth artifact, and the
                                          # retrieved set / query labels /
                                          # dcg ride broadcasts
        "span_clean_docs": 2,             # start-array rollup + anchor
                                          # join/present; per-doc position
                                          # filter is a pure map over the
                                          # shared dup-start artifact
        "incremental_span_coverage": 4,   # index probe join + doc window
                                          # + present; batch-sized sides
        "triplet_margin_eval": 4,         # best-positive agg + violation
                                          # agg + final join + present;
                                          # query set and Q-row threshold
                                          # table ride broadcasts
        # round-6 batch 6
        "mrr_eval_knn": 3,                # hits agg + present; ranked
                                          # set / query labels / hits all
                                          # ride broadcasts over the
                                          # persisted ground-truth
                                          # artifact
        "gopher_rules_docs": 0,           # pure one-scan map (integer
                                          # cross-multiplied thresholds)
        "kmeans_cells_report": 3,         # final-assignment id window +
                                          # cell stats agg + present
                                          # (training rounds collapse to
                                          # K-row literals at build time)
        "edit_distance_pairs": 4,         # pair candidate distinct +
                                          # present; both text-decoration
                                          # joins broadcast the PAIR side
                                          # (+2 r7: the slim propose adds
                                          # a doc-keyed shingle-map hop —
                                          # arrays no longer ride the
                                          # bucket self-join shuffle)
        # round-6 batch 7
        "span_corruption_plan": 2,        # per-doc start window + anchor
                                          # join/present; the hash filter
                                          # drops (rate-1)/rate of the
                                          # position explode BEFORE the
                                          # shuffle
        "length_psi_drift": 7,            # one corpus (half,bucket) agg;
                                          # the rest are 2·K-row grid hops
                                          # (tiny at ANY corpus size) +
                                          # present
        # round-6 batch 8
        "pmi_collocations": 7,            # 2 corpus type aggs (unigram,
                                          # bigram); the other exchanges
                                          # join vocab-sized tables among
                                          # themselves (the backoff rule);
                                          # totals are 1-row broadcasts;
                                          # TakeOrdered top-k
        "weighted_sample_sources": 3,     # salted (source,salt) bottom-k
                                          # + source merge + present; no
                                          # per-source sort window
        # round-6 batch 9
        "oov_rate_by_source": 3,          # doc-keyed source join + source
                                          # rollup; vocab is a V-row
                                          # TakeOrdered broadcast over the
                                          # postings artifact
        "boilerplate_prefixes": 2,        # prefix agg (the distinct-source
                                          # two-phase expansion); prefix
                                          # build is a pure map;
                                          # TakeOrdered top-k
        # round-6 batch 10
        "token_entropy_docs": 3,          # one doc-keyed self-rollup of
                                          # the postings artifact (dls and
                                          # contributions reuse it)
        "length_mad_outliers": 5,         # two exact-quantile source aggs
                                          # + flag rollup + present; the
                                          # ≤S-row median/MAD tables ride
                                          # broadcasts
        # round-6 batch 11
        "embedding_near_dups_lsh": 4,     # r10 GEMM-margin shape: bucket
                                          # population agg + sub-block
                                          # collect + tile self-join +
                                          # margin-survivor rescore; the
                                          # two vector-decoration joins
                                          # broadcast at this SF and ship
                                          # ids, never vectors, at scale
        "quality_zscore_by_lang": 1,      # doc-keyed lang decoration
                                          # join rides the postings
                                          # rollup exchange; ≤L-row stats
                                          # table broadcasts back
        # round-6 batch 12
        "simhash_hamming_pairs": 3,       # (band,value) bucket join over
                                          # the fingerprint artifact +
                                          # histogram agg/present; pair
                                          # candidates bounded by bucket
                                          # population (pigeonhole)
        # round-6 batch 13
        "word_sampling_plan": 5,          # one vocab ctf agg; totals are
                                          # 1-row broadcasts; TakeOrdered
                                          # top-k over the vocab table
        # round-6 batch 14
        "dedup_threshold_sweep": 5,       # band-index pair distinct +
                                          # decile rollup + present; the
                                          # index scan is the shared
                                          # MinHash artifact (+2 r7: the
                                          # slim propose decorates
                                          # shingles onto distinct pairs
                                          # via a doc-keyed map instead
                                          # of shipping arrays through
                                          # the bucket join)
        "dup_position_profile": 3,        # third rollup's two-phase
                                          # COUNT(DISTINCT doc) expansion
                                          # + present over the dup-start
                                          # artifact
        # round-6 batch 15
        "ivf_probe_sweep": 16,             # one qid window per nprobe leg
                                          # over cell-bounded candidates
                                          # (probes/gt/queries all ride
                                          # broadcasts; aggregates are
                                          # 1-row)
        # round-6 batch 16
        "unimax_budget_plan": 4,          # corpus source-token agg + the
                                          # source-domain distinct (the
                                          # zero-token-source anchor: a
                                          # source with no postings must
                                          # still get a row) + the S-row
                                          # waterfill window's single-
                                          # partition hop + present
        # round-6 batch 17
        "label_dispersion_report": 4,     # (label,dim) centroid agg +
                                          # L-row array rebuild + label
                                          # rollup + present; centroid
                                          # table broadcasts into the
                                          # scoring join
        # round-6 batch 18
        # round-6 batch 19
        "volume_anomaly_days": 4,         # (type,day) corpus agg + ≤T-row
                                          # stats agg (broadcast back) +
                                          # decoration join hop + present
        # round-6 batch 20
        "rfm_segments": 5,                # customer agg + tercile agg
                                          # (1-row broadcast back) +
                                          # segment rollup + present; the
                                          # global max-date folds in as a
                                          # memoized scalar literal
        "lsh_band_recall_sweep": 17,      # four full propose/verify
                                          # pipelines (one per banding,
                                          # ~4 exchanges each: slim
                                          # bucket self-join + pair
                                          # distinct + shingle-map
                                          # decorate) + present; at
                                          # scale the four band indexes
                                          # are ETL artifacts and each
                                          # leg pays candidate-join
                                          # only — the extra id-keyed
                                          # hops are the price of
                                          # keeping arrays out of the
                                          # bucket shuffle
        "zipf_slope_by_source": 3,        # (source,term) freq agg +
                                          # vocab-sized rank window + OLS
                                          # agg/present; ln-rank table is
                                          # an inline literal array
        "bigram_backoff_quality": 7,      # r12: corpus pays NO shuffle
                                          # until the per-doc aggregate
                                          # (partial agg absorbs every
                                          # instance map-side, so the one
                                          # corpus-keyed exchange carries
                                          # a row per doc); instances
                                          # probe broadcast vocab-sized
                                          # count tables; the remaining
                                          # exchanges are ref-slice
                                          # cb/cu aggs + present
    }
    # measure a FRESH (unexecuted) plan: once AQE executes a DataFrame,
    # the string flips to the final plan where tiny exchanges coalesce
    # away — a state-dependent count. Each entry call builds a fresh plan,
    # which pins the deterministic initial plan.
    failures = []
    for name, want in PINNED.items():
        plan = _plan(catalog[name].fn(spark, SF_DIR))
        pre = _live_plan(plan)
        got = (
            pre.count("Exchange")
            - pre.count("ReusedExchange")
            - pre.count("BroadcastExchange")
        )
        if got != want:
            failures.append(f"{name}: {got} shuffle exchanges (pinned {want})")
    assert not failures, failures


def test_aqe_splits_skewed_join(spark):
    """Emergent-skew insurance: with AQE on (the production default), a
    sort-merge join whose left side concentrates 95% of rows in one key
    gets its skewed partition SPLIT at runtime (OptimizeSkewedJoin) —
    thresholds scaled down to fire on test-sized data."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(200_000).select(
            F.when(F.col("id") % 20 < 19, 0).otherwise(F.col("id") % 7).alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("pad"),
        )
        right = spark.range(7).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("rv")
        )
        joined = big.join(right, "k")
        # execute THIS dataset's own QueryExecution (collect, not count —
        # count plans a separate aggregate query and a write wraps the plan
        # in a command; both leave joined's AQE plan isFinalPlan=false)
        joined._jdf.collectToPython()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:800]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_kmv_sketch_build_is_salted_bottom_k_no_window(spark):
    """The KMV sketch build must be the salted two-level bottom-k: two
    hash-aggregate levels keyed (source, salt) then (source) — never a
    row_number Window partitioned by source, which ships every distinct
    shingle digest of a source into ONE task for a full sort (the r3
    verdict's 100 TB hazard #1)."""
    from pyspark.sql import functions as F

    from msgvault_spark.operators.kmv import kmv_sketches

    docs = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("source"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(kmv_sketches(docs, k=16, salt=8))
    assert "Window" not in plan, "per-source sort window regressed into the build"
    assert "pmod" in plan  # the salt key
    # two-level agg: at least two shuffle exchanges (salted partial, merge)
    shuffles = plan.count("Exchange") - plan.count("ReusedExchange") \
        - plan.count("BroadcastExchange")
    assert shuffles == 2, f"expected exactly 2 shuffles, saw {shuffles}"


def test_broadcast_sites_are_ratcheted():
    """SCALING.md's broadcast rule: every deliberate F.broadcast() must be
    a BOUNDED side (dim table, id page, post-agg total, LSH-survivor pair
    list) — never a corpus-granular frame. That property isn't statically
    checkable, so this test ratchets it: the per-file count of
    F.broadcast( call sites is pinned. Adding a broadcast anywhere fails
    here until a human confirms the new side is bounded and bumps the pin
    (r3 verdict hazard #2 was exactly an unreviewed document-granular
    broadcast in catalog_dedup.py)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "msgvault_spark"
    counts: dict[str, int] = {}
    for p in sorted(root.rglob("*.py")):
        n = p.read_text().count("F.broadcast(")
        if n:
            counts[str(p.relative_to(root))] = n
    PINNED = {
        "catalog.py": 17,
        "catalog_curation.py": 13,  # + z-score: <=L-row lang stats
                                    # (DoReMi broadcasts nothing: its
                                    # baseline/normalizer are S-row
                                    # single-partition windows)
                                    # + RFM: 1-row max-date + cutpoints
                                    # + anomaly: <=T-row type stats
                                    # + band sweep: 1-row truth count
                                    # + sampling plan: two 1-row totals  # ≤n_sources-row median-threshold table
                                   # + 1-row decile-cutpoint array
                                   # + edit_distance_pairs: LSH-survivor
                                   # pair list into both text joins (the
                                   # corpus text map streams)
                                   # + oov_rate: V-row TakeOrdered vocab
                                   # + MAD screen: two ≤S-row quantile
                                   # tables (median, MAD per source)
        "catalog_dedup.py": 2,
        "catalog_etl.py": 9,
        "catalog_pipeline.py": 2,  # + 1-row token-budget totals
        # 20-row SQ8 recall query-code set + 20-row PQ recall LUT table
        # + L-row label-centroid array table (dispersion report)
        "catalog_multimodal.py": 3,
        "catalog_search.py": 1,  # 50-row SQ8 rerank shortlist
        "catalog_tpch.py": 24,
        "dedup/decontaminate.py": 3,  # gram set + benchmark vectors in
                                      # both semantic twins (fold + the
                                      # r10 GEMM-margin rescore)
        "dedup/deletion_vectors.py": 1,
        "dedup/embedding_gemm.py": 1,  # ≤2^n_planes-row bucket-count dim
                                       # for adaptive sub-blocking
        "operators/bloomjoin.py": 1,
        "operators/cms.py": 1,
        "operators/dsir.py": 5,  # 1-row corpus totals + K-row LLR table
                                 # + JSD dense grid: K-row bucket spine,
                                 # S·K-row counts, S·K-row pair side
        "operators/incremental_agg.py": 1,
        "operators/kmv.py": 1,
        "operators/packing.py": 1,  # ≤(max_bucket+1)-row bucket counts
        "operators/psi.py": 3,      # K-row bucket spine + 2·K-row count
                                    # grid + K-row actual-half pivot
        "operators/sampling.py": 2,
        "operators/timeseries.py": 1,
        "operators/zorder.py": 1,
        "plans/aggregate.py": 6,
        "plans/filters.py": 3,
        "plans/listing.py": 10,
        "plans/lookup.py": 3,  # join-path detail: participants and
                               # labels dims + gmail-ids: rows-per-account
                               # sources dim (the id page is a literal)
        "search/fast.py": 7,
        "search/fast_wide.py": 1,
        "search/fts.py": 4,
        "search/hybrid.py": 2,
        "similarity/ivf.py": 5,  # + batch join: centroid set, probe set
        "similarity/ivfpq.py": 8,  # single-query search: nprobe-row probe
                                   # set + rerank-row candidate id set
                                   # (exact re-rank fetch); batch knn
                                   # join: K-row centroid set, Q·nprobe
                                   # probe set, m·n_codes codebook frame,
                                   # Q·m·n_codes LUT, Q·rerank candidate
                                   # pairs, Q-row query-vector set — all
                                   # query/codebook-granular, never the
                                   # corpus
        "similarity/knnjoin.py": 3,  # bucket-join query side + eval seeds
                                     # + hard-negative query set
        "similarity/triplet.py": 2,  # Q-row probe query set + Q-row
                                     # best-positive threshold table
        "similarity/ndcg.py": 4,     # Q-row query-label set + Q·k-row
                                     # retrieved set + label-dim count
                                     # table + Q-row dcg frame
        "similarity/mrr.py": 3,      # Q·k-row retrieved set + Q-row
                                     # query-label set + Q-row hits
                                     # frame (labels NEVER broadcast —
                                     # they are corpus-granular)
        "textstats/backoff.py": 2,   # r12 per-instance scoring: cb +
                                     # cu(prev) + cu(cur) via the r13
                                     # guarded _build helper (broadcast
                                     # only when both count tables fit
                                     # BROADCAST_MAX_ROWS — the Brants
                                     # premise made guard-bounded; above
                                     # it they sort-merge join) + the
                                     # always-1-row totals broadcast
        "textstats/pmi.py": 2,       # two 1-row totals (N_uni, N_bi)
        "sources/build_cache.py": 1,
        "sources/cache.py": 2,  # wide record: participants (both
                                # junction arrays, one site) + labels
        "sources/merge.py": 2,
        "textstats/analysis.py": 1,  # 1-row corpus-token total
        "textstats/tfidf.py": 1,
    }
    assert counts == PINNED, {
        k: (counts.get(k), PINNED.get(k))
        for k in set(counts) | set(PINNED)
        if counts.get(k) != PINNED.get(k)
    }


def test_offset_pagination_is_take_ordered_not_window(spark, catalog):
    """O4 pagination (search_page2, text_search_messages): native OFFSET
    must compile to a distributed TakeOrderedAndProject(offset=...) — a
    per-partition k-heap + one reduce — never a row_number() over an
    unpartitioned Window (which funnels every match through ONE task and
    dies at scale)."""
    for name in ("search_page2", "text_search_messages"):
        plan = _plan(catalog[name].fn(spark, SF_DIR))
        pre = _live_plan(plan)
        assert "offset=" in pre and "TakeOrderedAndProject" in pre, name
        assert "Window" not in pre, f"{name}: global window in plan"


def _plan_nodes(plan) -> list:
    """Every node of a JVM physical plan, cached relations' build plans,
    adaptive initial plans and reused exchanges' children included."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        out.append(node)
        kind = node.getClass().getSimpleName()
        if kind == "InMemoryTableScanExec":
            todo.append(node.relation().cachedPlan())
        elif kind == "AdaptiveSparkPlanExec":
            todo.append(node.inputPlan())
        elif kind == "ReusedExchangeExec":
            todo.append(node.child())
        children = node.children()
        todo += [children.apply(i) for i in range(children.size())]
    return out


def _scanned_tables(plan) -> list[str]:
    """Directory names of every file scan in a JVM physical plan (read
    from the scan nodes, not the plan text, whose Location is
    abbreviated)."""
    out = []
    for node in _plan_nodes(plan):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            paths = node.relation().location().rootPaths()
            out += [paths.apply(i).getName() for i in range(paths.size())]
    return out


def _spy_plans(spark, monkeypatch, read) -> list:
    """Record ``read(executedPlan)`` for every frame a request collects or
    counts; returns the list the spies append to."""
    frame_cls = type(spark.range(1))
    seen: list = []
    for action in ("collect", "count"):
        original = getattr(frame_cls, action)

        def spy(self, *a, _original=original, **kw):
            seen.append(read(self._jdf.queryExecution().executedPlan()))
            return _original(self, *a, **kw)

        monkeypatch.setattr(frame_cls, action, spy)
    return seen


_DOM, _LABEL = "nation_3.example.com", "1-URGENT"
# the routes the wide record serves
_WIDE_ROUTES = [
    f"/api/v1/aggregates?view={view}&limit=5"
    for view in ("senders", "sender_names", "recipients",
                 "recipient_names", "domains", "labels", "time")
] + [
    f"/api/v1/aggregates/sub?view=senders&domain={_DOM}&label={_LABEL}"
    "&sender=customer3%40nation_3.example.com&time_period=1996",
    "/api/v1/search/fast?q=from:customer3%40+to:supplier1+label:urgent"
    "+high&limit=5",
    f"/api/v1/messages/filter?domain={_DOM}&label={_LABEL}&offset=2"
    "&limit=5&time_period=1996&sender=customer3%40nation_3.example.com",
    "/api/v1/search?q=high+from:customer&page=2&page_size=5",
    f"/api/v1/search/deep?q=high&domain={_DOM}&label={_LABEL}"
    "&sender=customer3%40nation_3.example.com",
]
# record routes that read no archive table at all, messages included
_RECORD_ONLY = ["/api/v1/messages?ids=7,3,1,999999", "/api/v1/messages/3",
                "/api/v1/stats/total"]


def _request(srv, path: str, case: str, body: dict | None = None) -> None:
    """One request with the query item ``case`` (no answer stored by
    earlier tests); asserts a 200 JSON answer."""
    import json
    import urllib.request

    sep = "&" if "?" in path else "?"
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}{sep}case={case}",
        data=None if body is None else json.dumps(body).encode(),
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        assert resp.status == 200, path
        json.loads(resp.read())


def test_wide_routes_scan_no_junction_tables(spark, monkeypatch):
    """The aggregate, search, listing, id-hydration, detail and total
    routes serve from the wide record: every plan a request runs
    (collect/count, cached subtrees included) scans no participants,
    message_recipients or message_labels file — the junction rows ride
    the record's nested fields. The by-id and total routes scan no
    attachments or bucketed messages file either: the record carries
    deleted messages, label ids and attachment names. Requests go
    through the HTTP server, so the pin covers what the routes build."""
    from msgvault_spark.server import serve

    scans = _spy_plans(spark, monkeypatch, _scanned_tables)
    junction = {"participants", "message_recipients", "message_labels"}
    srv = serve(spark, SF_DIR)
    try:
        for path in _WIDE_ROUTES + _RECORD_ONLY:
            scans.clear()
            _request(srv, path, "wide-plan")
            assert scans, f"{path}: no plan ran"
            banned = junction
            if path in _RECORD_ONLY:
                banned = junction | {"attachments", "messages"}
            for tables in scans:
                assert not banned & set(tables), (path, tables)
            assert any("wide" in tables for tables in scans), (path, scans)
    finally:
        srv.shutdown()


def test_json_routes_run_no_python(spark, monkeypatch):
    """No JSON route runs Python in an executor: every plan a request runs
    (collect/count, cached subtrees included) holds no scan of a frame
    built from driver-side Python data (``RDDScanExec``) and no Python
    UDF or pandas/Arrow map node, each of which forks ``pyspark.daemon``
    workers and pays a Python round trip per request. Covers every JSON
    GET route family and ``POST /api/v1/query``. The one exclusion is
    ``/api/v1/messages/{id}/inline``, whose zlib MIME decode is a pandas
    UDF by design and answers image bytes, not JSON."""
    from msgvault_spark.server import serve

    def python_nodes(plan) -> list[str]:
        kinds = [n.getClass().getSimpleName() for n in _plan_nodes(plan)]
        return [
            k
            for k in kinds
            if k in ("RDDScanExec", "BatchEvalPythonExec",
                     "ArrowEvalPythonExec")
            or "InPandas" in k
            or "InArrow" in k
        ]

    found = _spy_plans(spark, monkeypatch, python_nodes)
    paths = _WIDE_ROUTES + _RECORD_ONLY + [
        "/api/v1/stats",
        "/api/v1/accounts",
        "/api/v1/search?q=high+urgent&mode=vector&page_size=5",
        "/api/v1/search?q=high+urgent&mode=hybrid&page_size=5",
    ]
    bad = {}
    srv = serve(spark, SF_DIR)
    try:
        for path, body in [(p, None) for p in paths] + [
            ("/api/v1/query",
             {"sql": "SELECT COUNT(*) AS n FROM v_messages"}),
        ]:
            found.clear()
            _request(srv, path, "no-python", body)
            assert found, f"{path}: no plan ran"
            if any(found):
                bad[path] = sorted({k for kinds in found for k in kinds})
    finally:
        srv.shutdown()
    assert not bad, bad
