"""Plan-shape regression guards for the round-4 gate queries: the
r2 manifest incident showed a plan regression reads as a 'slow bench'
— pin the shapes so a regression is caught as a test failure with a
named cause instead."""

from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.registry import _SPECS

SF = "/root/testdata/sf0.001"
_FNS = {s.name: s.spark_fn for s in _SPECS}


def _plan(spark, name):
    return _FNS[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_lsh_ann_topk_plan(spark):
    """Corpus side joins the broadcast query signatures — never a
    shuffled join of the corpus — and no global window/sort appears
    (top-k is the two-stage aggregation)."""
    plan = _plan(spark, "lsh_ann_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_plan(spark):
    """Exact top-k: broadcast nested-loop over the broadcast query set
    is fine (queries are tiny); the corpus must not shuffle and no
    global window/sort ranks the candidates."""
    plan = _plan(spark, "cosine_topk")
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # partial/final top-k exchanges + the r15 spread_small_scan
    # round-robin (brute_force_topk spreads a single-task sandbox
    # scan before the per-row cosine fold; no-op at corpus scale —
    # A/B 0.98 -> 0.85 s at sf0.1)
    assert plan.count("Exchange") <= 4


def test_vocab_coverage_plan(spark):
    """One scan feeds both the vocab agg and the doc-term agg via a
    join; the Zipf join must not broadcast the fact side and the
    aggregations must have partial (map-side) phases."""
    plan = _plan(spark, "vocab_coverage")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_chunk_dedup_stats_plan(spark):
    """Chunk fingerprint frequency join: hash aggregations with
    map-side partials; no cartesian, no window."""
    plan = _plan(spark, "chunk_dedup_stats")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_url_canonical_plan(spark):
    """Pure projection: no exchange, no join, no window — one scan."""
    plan = _plan(spark, "url_canonical")
    assert "Exchange" not in plan
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Scan parquet") == 1


def test_doc_chunks_plan(spark):
    """Generator explode over one scan; zero shuffle."""
    plan = _plan(spark, "doc_chunks")
    assert "Generate" in plan  # posexplode
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_jones_beam_corr_plan(spark):
    """CasA nearest-frequency lookup is an O(1) computed-index probe
    over a broadcast 52-row grid dimension: no fan-out join through a
    SortAggregate (the r5 noop audit found that shape costing 7.6s at
    sf0.1), no fact shuffle at all."""
    plan = _plan(spark, "jones_beam_corr")
    assert "BroadcastHashJoin" in plan
    assert "SortAggregate" not in plan
    assert "SortMergeJoin" not in plan
    # the ONLY hash exchange is the 52-group grid build on the
    # dimension side; the fact side goes scan -> project, unshuffled
    assert plan.count("Exchange hashpartitioning") <= 1


def test_repetition_stats_plan(spark):
    """The shingle array materializes ONCE behind a generator
    boundary; CollapseProject re-inlining the tokenize+shingle
    expression per output column is the 17s regression shape."""
    plan = _plan(spark, "repetition_stats")
    assert "Generate explode" in plan
    # exactly one tokenizer invocation in the plan: the split() that
    # feeds the shingle transform appears once, inside the Generate
    assert plan.count("split(") <= 2  # Generate input + requiredChildOutput echo


# --- round-6 gate plans ----------------------------------------------


def test_gopher_rules_plan(spark):
    """One scan into a tiny per-source agg: map-side partials, no
    joins at all, no window."""
    plan = _plan(spark, "gopher_rules")
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_bigram_lm_quality_plan(spark):
    """Model joins are keyed (shuffle or broadcast hash), never a
    cartesian; the scalar vocab count enters as a broadcast."""
    plan = _plan(spark, "bigram_lm_quality")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_dsir_importance_plan(spark):
    """The 256-bucket model broadcast-joins back to the per-(doc,
    bucket) table; the exploded corpus is never on the build side."""
    plan = _plan(spark, "dsir_importance")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_search_plan(spark):
    """The posting scan filters to the query terms BEFORE any
    exchange (map-side IN filter on the exploded tokens), corpus
    stats enter broadcast, and no global window ranks documents."""
    plan = _plan(spark, "bm25_search")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    low = plan.lower()
    assert ("merge" in low and "scan" in low and "table" in low), "IN-list filter should appear in the plan"


def test_event_funnel_plan(spark):
    """Per-step joins are keyed on user (hash joins), no per-user
    collect_list aggregate (the OOM shape), no window."""
    plan = _plan(spark, "event_funnel")
    assert "collect_list" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_plan_single_window_exchange(spark):
    """SCD2 is one window over the entity key: exactly one exchange
    feeds the sort+window (plus AQE read nodes), never a global
    (empty-key) window."""
    plan = _plan(spark, "scd2_user_values")
    assert "Window" in plan
    # a global window shows as 'Window [...], []' (empty partition spec)
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[\]", plan):
        raise AssertionError(f"global window found: {m.group(0)[:80]}")


def test_ivf_pq_stored_plan_partition_pruned(spark, tmp_path):
    """A probe of the at-rest PQ code store prunes to the probed
    centroid partitions (PartitionFilters on cid)."""
    from pyspark.sql import functions as F

    from lofar_bf_pulsar_scripts_spark.plans.lake import ensure_pq_codes
    from lofar_bf_pulsar_scripts_spark.operators.similarity import ivf_assign
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    e = load_table(spark, "embeddings", SF)
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    corpus = ivf_assign(e, cent)
    store = str(tmp_path / "pq_store")
    ensure_pq_codes(corpus, store, dims=64, m_sub=4, k_codes=16)
    codes = spark.read.parquet(store)
    pruned = codes.filter(F.col("cid").isin([1, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan


def test_semantic_dedup_store_partition_pruned(spark, tmp_path):
    """SemDeDup's at-rest assignment store is cid-partitioned: a
    slice dedup (or any probe) of chosen clusters prunes to those
    partitions, and the full dedup over the store is the cluster-
    keyed equi-join — no cartesian anywhere."""
    from pyspark.sql import functions as F

    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        ivf_assign,
        semantic_dedup,
    )
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        ensure_embeddings_by_centroid,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    e = load_table(spark, "embeddings", SF).select("vec_id", "embedding")
    cent = e.filter(F.pmod(F.col("vec_id"), F.lit(64)) == 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    store = str(tmp_path / "semdedup_store")
    ensure_embeddings_by_centroid(ivf_assign(e, cent), store)
    assigned = spark.read.parquet(store)
    # slice dedup: only the touched clusters' directories are read
    pruned = semantic_dedup(
        assigned.filter(F.col("cid").isin([0, 64])), tau=0.4
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split(
        "PartitionFilters", 1
    )[1][:200]
    assert "CartesianProduct" not in plan
    # full dedup over the store: still no cartesian — pair work is
    # the cid equi-join
    full_plan = (
        semantic_dedup(assigned, tau=0.4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in full_plan
    assert "BroadcastNestedLoopJoin" not in full_plan


def test_resample_ffill_window_is_keyed(spark):
    """The forward-fill window partitions by the entity key — no
    global single-partition window."""
    plan = _plan(spark, "resample_hourly_ffill")
    import re

    assert "Window" in plan
    for m in re.finditer(r"Window \[[^\]]*\], \[\]", plan):
        raise AssertionError(f"global window found: {m.group(0)[:80]}")


def test_sky_crossmatch_plan(spark):
    """The cone cross-match is the bucketed cell equi-join: the tiny
    catalog side broadcasts, and no cross/nested-loop join appears
    anywhere — candidates are cell-bounded at any corpus size."""
    plan = _plan(spark, "sky_crossmatch")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_dm_search_plan(spark):
    """The (trial, chan) delay table joins broadcast — the corpus is
    scanned once, never shuffled before the tiny (dm, bin) agg."""
    plan = _plan(spark, "dm_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_harmonic_periodogram_plan(spark):
    """Harmonic matching happens on the constant-size periodogram:
    the events scan feeds only the fold aggregation, and the harmonic
    join is broadcast."""
    plan = _plan(spark, "harmonic_periodogram")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_stats_plan(spark):
    """Pairwise comparison is the cid equi-join (cluster-bounded) —
    no cartesian anywhere.  BroadcastNestedLoopJoin instances are the
    centroid-assignment crossJoins against the BROADCAST k-row
    centroid set (bounded fan-out by construction); at production
    scale the assignment is materialized once to an at-rest store
    rather than recomputed per branch."""
    plan = _plan(spark, "semantic_dedup_stats")
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_nearest_sky_match_plan(spark):
    """Best-match reduction is the struct-min hash aggregation — no
    window, no global sort, no cartesian; candidates stay
    cell-bounded."""
    plan = _plan(spark, "nearest_sky_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_accel_search_plan(spark):
    """Shift table broadcasts; the corpus is scanned once into the
    tiny (acc, bin) aggregation — no shuffle-side join."""
    plan = _plan(spark, "accel_search")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_buckets_plan(spark):
    """Each iteration is an equi-join + keyed aggregation — no
    cartesian, no window, no global sort anywhere in the loop."""
    plan = _plan(spark, "pagerank_buckets")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_blind_search_pipeline_plan(spark):
    """The whole blind-search chain is broadcast-shaped: the delay /
    shift / winner sides all broadcast, the corpus is never
    cartesian-joined, and every trial-grid aggregation is a
    partial-aggregating hash agg (no sort-aggregate funnels)."""
    plan = _plan(spark, "blind_search_pipeline")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_near_dedup_pipeline_plan(spark):
    """Candidate generation stays the bucket equi-join (no cartesian
    / nested-loop anywhere in the verified pipeline)."""
    plan = _plan(spark, "near_dedup_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hierarchical_assign_plan(spark):
    """The whole three-level route is ONE MapInArrow over the corpus
    scan (the level tables are collected to the driver): no join of
    any kind, and the only hash exchange is the final per-cell count
    (the single-task sandbox scan is spread round-robin first)."""
    plan = _plan(spark, "hierarchical_assign_counts")
    assert plan.count("MapInArrow") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_visibility_windows_plan(spark):
    """Pure column trig: no join, no window, no shuffle beyond the
    scan itself."""
    plan = _plan(spark, "visibility_windows")
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_candidate_sift_plan(spark):
    """The relatedness self-join is a broadcast of the |trials|-row
    periodogram — no shuffled join; the corpus fold is the usual
    partial-aggregating hash agg."""
    plan = _plan(spark, "candidate_sift")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_single_pulse_cands_plan(spark):
    """The (n, span) scalars ride a broadcast nested-loop of a 1-row
    side; the corpus collapses map-side to occupied bins (partial
    hash agg), never a shuffled join."""
    plan = _plan(spark, "single_pulse_cands")
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial" in plan


def test_timing_fit_drift_plan(spark):
    """Five associative sums, one global aggregation — no join, no
    window, at most the single all-reduce exchange pair."""
    plan = _plan(spark, "timing_fit_drift")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2


def test_pii_redaction_stats_plan(spark):
    """Pure column regex work into a 7-key aggregation: no join, no
    window, no UDF boundary (everything JVM-side)."""
    plan = _plan(spark, "pii_redaction_stats")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Python" not in plan  # no BatchEvalPython / ArrowEval


def test_span_dedup_docs_plan(spark):
    """Span-keyed frequency join: hash-shuffled equi-join on the
    span is expected, but no cartesian / nested-loop, and the
    frequency side pre-aggregates partially before the exchange."""
    plan = _plan(spark, "span_dedup_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_subband_dm_search_plan(spark):
    """Two-stage dedispersion: BOTH shift tables join broadcast (the
    corpus is scanned once into the (sub, tb) pre-agg; the trial
    fan-out joins the collapsed series) — never a shuffled join, no
    cartesian."""
    plan = _plan(spark, "subband_dm_search")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_image_phash_pairs_plan(spark):
    """Banded-Hamming candidates meet in equi-joins on the (band,
    bucket) key — never an all-pairs product."""
    plan = _plan(spark, "image_phash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pulse_energy_hist_plan(spark):
    """Rotation-keyed aggregation collapses map-side (partial hash
    agg on a span-bounded key space); the empty-rotation correction
    is a 1-row union, never a shuffled join of the corpus."""
    plan = _plan(spark, "pulse_energy_hist")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan


def test_incremental_near_dup_plan(spark):
    """The batch probe BROADCASTS against the at-rest band store scan
    (the corpus side of the candidate join pays no Exchange) and the
    verify stage touches only semi-join-pruned candidate docs — the
    whole batch-vs-100TB screen runs without a corpus shuffle or
    cartesian."""
    plan = _plan(spark, "incremental_near_dup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_training_data_pipeline_plan(spark):
    """The end-to-end prep funnel never goes quadratic: candidates
    are bucket-bounded equi-joins, the contamination benchmark is a
    broadcast, and no stage introduces a cartesian."""
    plan = _plan(spark, "training_data_pipeline")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assign_zero_corpus_exchange(spark):
    """The map-side ivf_assign: the codebook is collected to the
    driver and the argmax runs in one Arrow-batched pass, so the
    corpus pays ZERO exchanges — no hashpartitioning anywhere in the
    plan."""
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        ivf_assign,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    e = load_table(spark, "embeddings", SF).select("vec_id", "embedding")
    cent = e.filter(F.pmod(F.col("vec_id"), F.lit(64)) == 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    plan = (
        ivf_assign(e, cent)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_routing_tree_zero_corpus_exchange(spark):
    """The routing_tree_assign: every level routes inside one
    Arrow-batched pass over the corpus, each vector scored only
    against its parent cell's children.  A corpus-side shuffle would
    hash-partition on vec_id — pin that it never appears."""
    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        ivf_assign,
        routing_tree_assign,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    e = load_table(spark, "embeddings", SF).select("vec_id", "embedding")
    l1 = e.filter(F.pmod(F.col("vec_id"), F.lit(256)) == 0).select(
        F.col("vec_id").alias("g1"), "embedding"
    )
    l2 = e.filter(F.pmod(F.col("vec_id"), F.lit(64)) == 0).select(
        F.col("vec_id").alias("g2"), "embedding"
    )
    fine = e.filter(F.pmod(F.col("vec_id"), F.lit(16)) == 0).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    l2g = ivf_assign(l2, l1, id_col="g2", centroid_id_col="g1")
    fine_g = routing_tree_assign(
        fine, [l1, l2g], ["g1", "g2"], id_col="cid"
    ).select("cid", "embedding", "g2")
    assigned = routing_tree_assign(
        e, [l1, l2g, fine_g], ["g1", "g2", "cid"]
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(vec_id" not in plan
    assert "hashpartitioning(__grp" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_filtered_ann_store_scan_pushes_label_predicate(spark, tmp_path):
    """The filtered-ANN pattern (ivf_topk_filtered gate): a label
    predicate over the cid-partitioned exact-vector store reaches the
    parquet reader as PushedFilters, composing with cid partition
    pruning — a metadata restriction costs LESS IO, never a post-scan
    pass."""
    from pyspark.sql import functions as F

    from lofar_bf_pulsar_scripts_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
    )
    from lofar_bf_pulsar_scripts_spark.plans.lake import (
        ensure_embeddings_by_centroid,
    )
    from lofar_bf_pulsar_scripts_spark.tables import load_table

    e = load_table(spark, "embeddings", SF)
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    store = str(tmp_path / "ivf_cid_store")
    ensure_embeddings_by_centroid(ivf_assign(e, cent), store)
    stored = spark.read.parquet(store)

    filtered = stored.filter(F.col("label").isin(1, 4, 7))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters", 1)
    assert len(pushed) == 2 and "label" in pushed[1][:200], plan[:1000]

    # and with explicit cid restriction, both prunings appear in ONE scan
    both = stored.filter(
        F.col("label").isin(1, 4, 7) & F.col("cid").isin(1, 3)
    )
    plan2 = both._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan2 and "cid" in plan2.split(
        "PartitionFilters", 1
    )[1][:200]
    assert "label" in plan2.split("PushedFilters", 1)[1][:200]

    # the full operator stays broadcast-shaped: no cartesian anywhere
    queries_df = e.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 13)
    ).select(F.col("vec_id").alias("qid"), "embedding")
    out = ivf_topk(
        stored.filter(F.col("label").isin(1, 4, 7)),
        queries_df, cent, k=5, nprobe=2,
    )
    full_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in full_plan
    assert "label" in full_plan.split("PushedFilters", 1)[1][:400]
