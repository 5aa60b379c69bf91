"""Physical-plan regression tests — the 100 TB guardrails.

Correctness tests can pass on a plan that would melt at scale; these pin the
properties that matter on a 1000-executor cluster: predicate pushdown and
column pruning reaching the parquet scan, broadcast joins for dimension
sides, no row-at-a-time Python evaluation outside the Arrow-batched
stages (the multimodal ``mapInPandas`` decode, the Gram map and the
all-pairs cosine ``mapInArrow`` kernel), and no accidental cartesian
products in the pair-join dedup operators."""

from __future__ import annotations

import pytest

from postgres_cdc_example_spark import queries as q
from postgres_cdc_example_spark.plans.inspect import explain_str, has_exchange


def plan_of(spark, sf_dir, name: str) -> str:
    return explain_str(q.queries()[name](spark, sf_dir))


def test_q1_filter_pushdown_and_column_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate filter must reach the scan"
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read_schema, "unused wide column must be pruned"
    assert "l_orderkey" not in read_schema, "unused key column must be pruned"


def test_snowflake_join_broadcasts_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "nation_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topn_join_broadcasts_filtered_dim(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_top_orders")
    assert "BroadcastHashJoin" in plan


def test_ann_broadcasts_query_side(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash", "dedup_incremental"],
)
def test_dedup_joins_are_keyed_not_cartesian(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


def test_exact_substring_join_is_gram_keyed_not_cartesian(spark, sf_dir):
    """The span self-join must meet only on equal positional grams (inverted
    index), never doc×doc — the suffix-array-family scale contract."""
    plan = plan_of(spark, sf_dir, "dedup_exact_substring")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_neardup_join_is_band_keyed_not_cartesian(spark, sf_dir):
    """Perceptual-hash pairs must meet on the shared 16-bit band (equi-join),
    never all-pairs popcount."""
    plan = plan_of(spark, sf_dir, "multimodal_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_filtered_ann_broadcasts_slice_and_stays_keyed(spark, sf_dir):
    """Filtered ANN: the metadata slice applies via a broadcast equi-join
    BEFORE bucketing; the candidate join stays bucket-keyed."""
    plan = plan_of(spark, sf_dir, "ann_filtered_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_temperature_resample_is_broadcast_filter(spark, sf_dir):
    """Temperature resampling: per-source ratios broadcast into a per-row
    hash filter — the doc side never shuffles for the sampling decision."""
    plan = plan_of(spark, sf_dir, "mixture_temperature_resample")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_substring_incremental_is_gram_keyed_not_cartesian(spark, sf_dir):
    """The incremental arm keeps the inverted-index shape: grams meet on
    equality only (never doc x doc), with the delta filter shrinking the
    b-side before the join."""
    plan = plan_of(spark, sf_dir, "dedup_substring_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_removal_joins_are_keyed(spark, sf_dir):
    """Span removal: covered-position anti-join and the audit joins are all
    keyed on (doc_id, pos) / doc_id — never doc×doc."""
    plan = plan_of(spark, sf_dir, "dedup_substring_removal")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keeper_selection_joins_are_keyed(spark, sf_dir):
    """Quality-aware keeper selection composes clusters × quality on doc_id —
    both sides keyed, no cartesian anywhere in the composed DAG."""
    plan = plan_of(spark, sf_dir, "dedup_keeper_by_quality")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_drift_broadcasts_single_row_centroid(spark, sf_dir):
    """The corpus centroid is ONE row; joining it to per-source vectors must
    be a broadcast (nested-loop over a 1-row side is the broadcast scalar
    pattern), never a shuffled cartesian."""
    plan = plan_of(spark, sf_dir, "embedding_source_drift")
    assert "CartesianProduct" not in plan


def test_profile_similarity_is_bucket_keyed_not_all_pairs(spark, sf_dir):
    """Users grow with data: the pair join must be keyed on the LSH bucket
    (equi-join), never an all-pairs user_a != user_b nested loop."""
    plan = plan_of(spark, sf_dir, "user_profile_similarity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_join_is_gram_keyed_not_cartesian(spark, sf_dir):
    """Corpus×benchmark must meet only on colliding 8-grams (inverted-index
    equi-join with the benchmark side broadcast) — never doc×doc."""
    plan = plan_of(spark, sf_dir, "benchmark_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


@pytest.mark.parametrize(
    "name", ["text_unigram_nll", "tfidf_keywords", "text_repetition"]
)
def test_llmdata_scans_prune_to_two_columns(spark, sf_dir, name):
    """The LM-statistics queries touch only (doc_id, text) — a scan that
    drags the other document columns through the token explode is wrong."""
    plan = plan_of(spark, sf_dir, name)
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols <= {"doc_id", "text", "source"}, f"unpruned scan: {cols}"


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "nation_revenue",
        "cdc_apply_full",
        "cdc_compaction",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "text_quality",
        "text_lang_id",
        "ann_cosine_topk",
        "ann_ivf_topk",
        "q2_min_cost_supplier",
        "q8_market_share",
        "q21_waiting_suppliers",
    ],
)
def test_no_python_evaluation_in_jvm_operators(spark, sf_dir, name):
    """Everything except the multimodal mapInPandas stages must stay JVM-side
    (whole-stage codegen) — Python row/batch eval in a hot path is the
    10-100× slow path at scale."""
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


@pytest.mark.parametrize("name", ["multimodal_features", "multimodal_frame_sample"])
def test_multimodal_is_arrow_batched(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "MapInPandas" in plan, "multimodal decode must be Arrow-batched mapInPandas"
    assert "BatchEvalPython" not in plan, "no row-at-a-time Python UDFs"


def test_q6_is_pure_scan_aggregate(spark, sf_dir):
    """Q6's cost at 100 TB is the I/O: every predicate must reach the
    parquet scan and the plan must contain no join at all."""
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan, "date filter must push down"
    assert "Join" not in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_partkey" not in read_schema, "unused key column must be pruned"


def test_q19_disjunction_plans_as_equi_join(spark, sf_dir):
    """The three OR'd brand/size/qty bands share the l_partkey equi-term;
    Catalyst must extract it (hash join + residual filter), never fall back
    to a nested-loop over lineitem×part."""
    plan = plan_of(spark, sf_dir, "q19_brand_size_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q18_topn_is_take_ordered(spark, sf_dir):
    """Top-100 orders must be a per-partition heap + driver merge, not a
    global sort of every qualifying order."""
    plan = plan_of(spark, sf_dir, "q18_large_volume_customers")
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketed fact⋈fact join: the shuffle is paid once at write time;
    the join itself must plan with ZERO exchanges on either side."""
    from postgres_cdc_example_spark.sources.bucketed import bucketed_join, save_bucketed
    from postgres_cdc_example_spark.sources.tables import load_table

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{tmp_path}/wh'")
    # at fixture scale Catalyst would (rightly) broadcast the tiny side —
    # disable it so the plan is the SMJ a 100 TB fact⋈fact would get
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        save_bucketed(
            load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice"),
            "bkt.orders_b",
        )
        save_bucketed(
            load_table(spark, "lineitem", sf_dir)
            .select("l_orderkey", "l_extendedprice")
            .withColumnRenamed("l_orderkey", "o_orderkey"),
            "bkt.lineitem_b",
        )
        joined = bucketed_join(spark, "bkt.orders_b", "bkt.lineitem_b")
        assert not has_exchange(joined), explain_str(joined)
        # and it actually runs and matches the shuffled equivalent
        li = load_table(spark, "lineitem", sf_dir)
        orders = load_table(spark, "orders", sf_dir)
        plain = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_tpch_date_filters_push_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "o_orderdate" in plan and "GreaterThanOrEqual(o_orderdate" in plan, (
        "order-date range must reach the orders scan"
    )
    plan14 = plan_of(spark, sf_dir, "q14_promo_revenue_share")
    assert "GreaterThanOrEqual(l_shipdate" in plan14, (
        "ship-date range must reach the lineitem scan"
    )


def test_q10_topn_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan, "top-20 must be heap-based, not a full sort"
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_rollup_is_single_expand_aggregate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "rollup_region_revenue")
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 10, (
        "rollup must not rescan the fact table per grouping set"
    )


def test_incremental_dedup_broadcast_is_size_gated(spark, sf_dir):
    """The delta band table broadcasts only when the size gate proves it
    small; an over-threshold delta must degrade to a shuffle join (the
    OOM-proof fallback), not keep the forced hint."""
    from postgres_cdc_example_spark.operators.dedup import (
        minhash_lsh_pairs_between,
        ngram_rows,
    )
    from postgres_cdc_example_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    sh = ngram_rows(docs)
    delta = sh.filter(sh.doc_id % 17 == 0)
    corpus = sh.filter(sh.doc_id % 17 != 0)

    gated = minhash_lsh_pairs_between(delta, corpus)
    plan_small = explain_str(gated)
    assert "BroadcastHashJoin" in plan_small
    assert "CartesianProduct" not in plan_small

    # With the gate tripped AND the optimizer's own size-based broadcast
    # disabled, no broadcast may remain — proving the hint is truly gone
    # (Spark re-choosing broadcast from accurate stats is fine; a forced
    # hint surviving the gate is not).
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ungated = minhash_lsh_pairs_between(delta, corpus, broadcast_max_rows=0)
        plan_big = explain_str(ungated)
        assert "BroadcastHashJoin" not in plan_big, plan_big
        assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
        assert "CartesianProduct" not in plan_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_quality_score_is_zero_shuffle_projection(spark, sf_dir):
    """The linear quality classifier must stay a pure per-row projection:
    any Exchange means a feature regressed into an aggregate/window."""
    plan = plan_of(spark, sf_dir, "quality_linear_score")
    assert not has_exchange(q.queries()["quality_linear_score"](spark, sf_dir)), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_new_llmdata_joins_are_keyed_not_cartesian(spark, sf_dir):
    for name in ["source_token_kl", "doc_novelty", "bm25_doc_ranking",
                 "dedup_cross_source_matrix", "funnel_conversion",
                 "retention_cohorts"]:
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
    # bm25's 5-term idf table must broadcast into the tf join
    assert "BroadcastHashJoin" in plan_of(spark, sf_dir, "bm25_doc_ranking")


def test_grouping_sets_is_single_expand_pass(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "grouping_sets_order_stats")
    assert plan.count("Expand") >= 1
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2, (
        "grouping sets must not rescan the fact table per set"
    )


def test_learned_ivf_assignment_is_projection_not_join(spark, sf_dir):
    """Training collapsed the centroids to literals, so the bulk assignment
    must appear as a projection: the only joins left belong to the search
    phase (query side broadcast into its cluster)."""
    plan = plan_of(spark, sf_dir, "ann_ivf_kmeans_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_pairs_are_cluster_keyed_not_cartesian(spark, sf_dir):
    """SemDeDup's contract: assignment is a literal projection (no join) and
    the pair search meets only on equal cluster_id — Σ|cluster|² work, never
    N². A cartesian or nested-loop pair join here would be the O(N²) plan
    the operator exists to avoid."""
    plan = plan_of(spark, sf_dir, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_recall_audit_joins_are_keyed(spark, sf_dir):
    """The truth×approx comparison joins on (q_id, nbr_id) equi-keys; only
    the underlying ANN operators' own bounded broadcasts may appear."""
    plan = plan_of(spark, sf_dir, "ann_recall_audit")
    assert "CartesianProduct" not in plan


def test_weighted_sample_topk_is_take_ordered(spark, sf_dir):
    """The k=100 selection must plan as TakeOrdered (per-partition partial
    top-k) — a global Sort before the limit would serialize 100 TB through
    one reducer; the rank window may only run over the 100 survivors."""
    plan = plan_of(spark, sf_dir, "sample_weighted")
    assert "TakeOrderedAndProject" in plan


def test_corpus_shuffle_order_windows_are_bucket_keyed(spark, sf_dir):
    """The two-pass global ordering: the corpus-sized window must be keyed
    on the 256-value hash bucket (one hash shuffle), the cumulative offsets
    must come from the tiny aggregated side and broadcast back. A global
    unkeyed window over the corpus (Exchange SinglePartition feeding the
    doc-level Window) would serialize 100 TB through one reducer."""
    plan = plan_of(spark, sf_dir, "corpus_shuffle_order")
    assert "windowspecdefinition(bucket" in plan, "doc window must partition by bucket"
    assert "hashpartitioning(bucket" in plan
    assert "BroadcastHashJoin" in plan, "offsets must broadcast, not shuffle-join"


def test_incremental_join_maintenance_is_three_keyed_joins(spark, sf_dir):
    """The delta must derive via the three custkey-keyed joins — never a
    full-view recompute diff (no except/anti over the full join) and never
    a cartesian."""
    plan = plan_of(spark, sf_dir, "incremental_join_maintenance")
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert "ExceptAll" not in plan and "LeftAnti" not in plan


def test_audience_overlap_joins_on_user(spark, sf_dir):
    """Pair discovery must be the user_id-keyed self-join; per-type reach
    decorates via broadcast."""
    plan = plan_of(spark, sf_dir, "audience_overlap")
    assert "CartesianProduct" not in plan, "pair discovery must stay keyed"
    # the exact-distinct shuffle is keyed on (event_type, user_id); the join
    # strategy itself is stats-driven (broadcast at fixture scale, SMJ on
    # user_id at corpus scale) so only the key shape is pinned
    assert "hashpartitioning(event_type" in plan
    assert "BroadcastHashJoin" in plan


def test_quantized_recall_audit_no_cartesian(spark, sf_dir):
    """Both brute sides broadcast the 10-query sample; the truth/approx
    comparison joins on (q_id, nbr_id). Nothing may plan cartesian."""
    plan = plan_of(spark, sf_dir, "ann_quantized_recall_audit")
    assert "CartesianProduct" not in plan


def test_quality_curriculum_rank_is_range_bucket_keyed(spark, sf_dir):
    """Same two-pass contract as corpus_shuffle_order, but over the quality
    range bucket: the corpus-sized rank window must partition by qb (one
    hash shuffle) and the cumulative offsets must broadcast back — a global
    unkeyed window over the docs would serialize the corpus through one
    reducer."""
    plan = plan_of(spark, sf_dir, "quality_curriculum")
    assert "windowspecdefinition(qb" in plan, "rank window must partition by qb"
    assert "hashpartitioning(qb" in plan
    assert "BroadcastHashJoin" in plan, "offsets must broadcast, not shuffle-join"


def test_lsh_band_bucket_stats_is_keyed_aggregation(spark, sf_dir):
    """The tuning audit must be two keyed aggregates — a shuffle on the
    (band_idx, band_key) bucket key then a 4-row band reduce — never a pair
    join or cartesian (predicting the join's cost without paying it is the
    query's whole point)."""
    plan = plan_of(spark, sf_dir, "lsh_band_bucket_stats")
    assert "hashpartitioning(band_idx" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_doc_chunks_is_zero_shuffle_projection(spark, sf_dir):
    """Chunking is a pure per-row explode — any Exchange here is a bug."""
    from postgres_cdc_example_spark.plans.inspect import has_exchange

    df = q.queries()["doc_chunks"](spark, sf_dir)
    assert not has_exchange(df)


# Queries where a BroadcastNestedLoopJoin is the RIGHT plan: either the
# build side is bounded by construction (a 1-row scalar total, the fixed
# 10-query audit sample, a bounded literal grid) or the query is an
# explicitly-labeled all-pairs exactness baseline. Anything NOT on this
# list acquiring a nested-loop join is a regression.
_BNLJ_ALLOWED = {
    # labeled all-pairs exact baselines (scale path = the bucketed variants)
    "ann_cosine_topk",
    # broadcast 10-query audit sample x corpus, non-equi (!=) condition
    "ann_ivf_topk",
    "ann_recall_audit",
    "ann_quantized_recall_audit",
    # broadcast scalar/total or bounded dim crossJoin decorating a big side
    "bpe_merge_steps",  # 1-row best-pair + 1-row token-count broadcasts
    "user_erasure_audit",  # four 1-row audit-count broadcasts
    "embedding_covariance",  # 1-row vector-count broadcast into 2080 cells
    "quality_classifier_train",  # 1-row weight/gradient broadcasts per GD step
    "vocab_hll_audit",  # bounded sources x 256-register grid + 1-row estimate
    "hll_merge_rollup",  # bounded days x 256-register grid + per-day estimate broadcast
    "prefix_filter_volume_stats",  # two 1-row volume aggregates merged via broadcast
    "basket_part_pairs",  # 1-row order-count broadcast into the pair table
    "event_type_pagerank",  # 1-row node-count broadcast per iteration
    "covariance_incremental",  # two 1-row count sides merged then broadcast
    "embedding_outliers",  # 1-row moment-stats broadcast into the verdicts
    "ann_pq_recall_audit",  # broadcast query sample x corpus, != condition (exact audit side)
    "ann_staleness_audit",  # broadcast query sample x corpus, != condition (per-slice exact side)
    "rank_sketch_bottomk",  # 1-row corpus aggregate x 2-row literal target table
    "watermark_sizing_advisor",  # bounded lateness-histogram grid joins (<=3600 cells by construction)
    "value_location_mannwhitney",  # three 1-row scalar aggregates (n/U/tie) merged via broadcast
    "value_levene_brownforsythe",  # 1-row grand-total broadcast into the 3-group stats
    "customer_churn_hazard",  # 1-row horizon + 1-row risk-total broadcasts into the bounded duration grid
    "orders_daily_autocorr",  # 1-row mean/denominator scalars + broadcast 7-row lag grid on the bounded daily grid
    "lm_dirichlet_ranking",  # 1-row collection-total broadcast into the term-filtered postings
    "gram_novelty_curve",  # 1-row max-doc-id broadcast for bucket arithmetic; grid joins are 10-row
    "packing_waste_curve",  # broadcast 5-row literal granularity grid x length scan (the poisson-bootstrap shape)
    "orders_pareto_concentration",  # 1-row totals + 4-row literal percent grid broadcast into the ranked customers
    "orders_abc_classification",  # 1-row revenue-total broadcast into the part-bounded ranked frame
    "dedup_shingle_df_profile",  # 1-row pair-volume total broadcast into the ~32-row log2 bucket rollup
    "event_hour_dow_heatmap",  # 1-row total + 1-row chi2 broadcasts into the <=168-cell grid
    "priority_mix_monthly_drift",  # broadcast 5-row priority margin + 1-row total into the bounded month grid
    "embedding_label_separation",  # |labels|-bounded centroid grid (!= condition) + broadcast centroid join
    "value_location_kruskalwallis",  # 1-row tie-sum scalar broadcast into the 1-row H aggregate
    "value_location_friedman",  # 1-row k-count + rank-SS scalar broadcasts
    "value_cochran_q",  # 1-row k/N/row-moment scalar broadcasts
    "length_quality_kendall",  # bounded length-domain x 101 quality-percent grid + 1-row tie scalars
    "text_kneser_ney_nll",  # 1-row bigram-type-count broadcast into the per-bigram scores
    "ann_truncated_recall_audit",  # broadcast query sample x corpus, != condition (both audit sides share one scan)
    "orders_benford_audit",  # 1-row total broadcast into the 9-digit table
    "orders_rfm_segments",  # 1-row customer-count broadcast closing the quintile scores
    "vocab_coverage",  # 1-row (total, vocab-size) broadcast into 4 K-probes
    "bm25_doc_ranking",
    "embedding_source_drift",
    "fuzzy_part_names",
    "mixture_epoch_plan",
    "mixture_temperature_resample",
    "monitor_sync_check",
    "orders_above_avg",
    "q11_revenue_concentration",
    "q22_dormant_customers",
    "quality_curriculum",
    "referential_integrity_audit",
    "region_priority_grid",
    "source_mixture_weights",
    "source_token_kl",
    "text_bigram_nll",
    "text_unigram_nll",
    "tfidf_keywords",
    "tfidf_cosine_pairs",  # same 1-row n_docs broadcast as tfidf_keywords
    "hybrid_rank_fusion",  # broadcast 10-query sample x corpus, != condition (exact semantic arm)
    "hybrid_recall_audit",  # same broadcast query sample x corpus exact ground-truth side
    "join_skew_audit",  # 1-row (total, n_keys) broadcast into the heavy-hitter table
    "orders_zorder_layout",  # 1-row (okmax, zmax) broadcast into file assignment
    "zorder_overlap_depth",  # composes the layout query -> inherits its 1-row maxima broadcast
    "heavy_hitters_misra_gries",  # 1-row t_m/bound/missed broadcasts into <=K survivors
    "audience_overlap_kmv",  # bounded 30-day grid non-equi join; sketches are <=64 rows/day
    "join_cardinality_estimate",  # two 1-row scalar aggregates merged via broadcast
    "semantic_decontam_audit",  # eval-suite-bounded broadcast x corpus scan + 1-row compliance broadcast
    "contrastive_negatives_plan",  # 64-row hash-reservoir pool broadcast x corpus, != condition
    "cdc_gap_detection",  # 1-row injected-loss scalar broadcast into the summary row
    "event_volume_trend",  # 1-row min-day scalar broadcast into the daily rollup
    "event_volume_cusum",  # same 1-row min-day scalar broadcast shape
    "join_order_advisor",  # three 1-row cardinality scalars merged via broadcast
    "user_activity_gini",  # four 1-row scalars off the bounded count histogram
    "order_priority_chi2",  # 1-row N + chi2-total scalars broadcast into the cell table
    "value_distribution_ks",  # 1-row (na, nb) scalar broadcast over the bounded value grid
    "theilsen_daily_trend",  # bounded daily-grid O(days^2) pair enumeration + 1-row scalars
    "mann_kendall_trend",  # same bounded daily-grid pair enumeration + 1-row tie/count scalars
    "volume_ljung_box",  # broadcast 5-row lag grid + 1-row total/SS scalars (lag join itself is hash)
    "volume_runs_test",  # 1-row median + count scalars broadcast over the bounded grid
    "priority_status_cramers_v",  # 1-row N + dim scalars broadcast into the bounded cell table
    "token_good_turing",  # two 1-row scalars broadcast into the bounded count-of-counts table
    "orders_key_candidates",  # 1-row row-count scalar broadcast into each bounded arm
    "event_dow_seasonality",  # 1-row total broadcast into the 7-row weekday table
    "source_token_js",  # |sources|-row + 1-row scalars broadcast over the vocab-bounded grid
    "text_pmi_collocations",  # 1-row bigram-total broadcast into the margin-joined table
    "sample_poisson_bootstrap",  # broadcast 16-row replicate grid + 1-row summary scalars
    "orders_seasonal_decompose",  # bounded month-grid +-6 BETWEEN join (build side = the grid)
    "funnel_latency_quantiles",  # 4-row rank-probe grid + 1-row total over the latency histogram
    "orders_interarrival_stats",  # same 4-row rank-probe grid over the gap-day histogram
    "token_burstiness",  # 1-row doc-count broadcast into the tok-keyed moment table
    "vocab_heaps_law",  # 1-row max-id + 10-row decile grid + 1-row OLS scalars
    "shipping_latency_by_priority",  # 2-row rank-probe grid over the (priority, day) histogram
    "dedup_transitivity_audit",  # three 1-row graph-count scalars merged via broadcast
    # r11 additions
    "cdc_tombstone_retention",  # 1-row watermark/span broadcast into the key-bounded rollup
    "dedup_mixture_shift",  # 1-row before/after token-total broadcast into the source rollup
    "token_budget_frontier",  # 1-row token-total + broadcast 5-row budget grid over the cumsum
    "split_temporal_leakage",  # 1-row span + 3-row cut grid broadcast into one (cut, user) aggregate
    "event_markov_nll",  # 1-row span + 1-row vocabulary broadcasts into the transition stream
    "text_jm_lambda_grid",  # 1-row totals + 5-row lambda grid broadcast over the held bigrams
    # r12 additions
    "cdc_erasure_roundtrip",  # 1-row watermark broadcast + three 1-row per-store audit scalars
    "event_session_gap_curve",  # 6-row threshold grid + 1-row totals over the gap stream
    "doc_nll_outlier_fences",  # member's 1-row (t, v) smoothing-total broadcast resurfaces
    #   as a BNLJ once the fences rollup sits above it (bounded build side)
    "ann_probe_recall_curve",  # 10-query x 8-centroid + 4-probe grid broadcasts +
    #   the brute-truth exact side (the recall-audit class)
    "lang_source_association",  # 1-row grand-total broadcast into the bounded grid
    "order_priority_chi2",  # bounded r x c margins grid (r12 complete-grid fix)
    "priority_status_cramers_v",  # same bounded margins grid + 1-row total
    "retrieval_rank_agreement",  # members' 1-row stats broadcasts resurface under
    #   the composed agreement rollup (bounded build sides)
    "cdc_apply_idempotence",  # five 1-row audit-count broadcasts (the
    #   user_erasure_audit class); both folds and the diff stay id-keyed
    "pack_efficiency_audit",  # 1-row token-total/LB broadcast into three 1-row strategy rows
}


@pytest.mark.parametrize("name", ["dedup_embedding_cosine", "embedding_intrinsic_dim"])
def test_all_pairs_cosine_is_one_arrow_kernel(spark, sf_dir, name):
    """The exact all-pairs cosines run as one ``mapInArrow`` kernel against
    the collected side: no nested-loop join and no per-row Python UDF."""
    plan = explain_str(q.queries()[name](spark, sf_dir), mode="simple")
    assert plan.count("MapInArrow") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_registry_wide_no_cartesian_and_bounded_nested_loops(spark, sf_dir):
    """Blanket anti-pattern sweep over EVERY registered query: no plan may
    contain a CartesianProduct (none does today — keep it that way), and a
    BroadcastNestedLoopJoin may appear only on the audited allowlist above
    (bounded build sides / labeled baselines). This is the net that catches
    a future query accidentally planning all-pairs."""
    from postgres_cdc_example_spark.plans.inspect import explain_str

    offenders = {}
    for name, fn in sorted(q.queries().items()):
        plan = explain_str(fn(spark, sf_dir), mode="simple")
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            offenders[name] = "unaudited BroadcastNestedLoopJoin"
    assert not offenders, f"plan anti-patterns: {offenders}"


def test_bloom_prefilter_is_codegen_bit_arithmetic(spark, sf_dir):
    """Bloom membership must be pure JVM bit arithmetic against the literal
    bitmap (no Python eval anywhere), and the only join is the exact-audit
    equi-join on the gram."""
    plan = plan_of(spark, sf_dir, "contamination_bloom_prefilter")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cms_build_is_single_keyed_aggregate(spark, sf_dir):
    """The sketch cells must come from one map-side-combined aggregate keyed
    on (j, bucket) — fixed-size state, never a vocab-sized pivot."""
    plan = plan_of(spark, sf_dir, "token_count_min_sketch")
    assert "hashpartitioning(j" in plan
    assert "CartesianProduct" not in plan


def test_mixed_language_is_zero_shuffle_and_codegen(spark, sf_dir):
    """The half-split lang-ID gate must stay a per-row pass: no Exchange
    (the 1-element explode is a Generate, not a shuffle) and no Python."""
    from postgres_cdc_example_spark.plans.inspect import has_exchange

    df = q.queries()["text_mixed_language"](spark, sf_dir)
    assert not has_exchange(df)
    plan = plan_of(spark, sf_dir, "text_mixed_language")
    assert "BatchEvalPython" not in plan


def test_embedding_covariance_is_gram_map_plus_keyed_agg(spark, sf_dir):
    """The moment matrix must build from the Arrow-batched Gram map (the
    measured-7x numpy path) into one (i, j)-keyed aggregate — never a
    corpus self-join; the 64-row mean sides broadcast; no row-at-a-time
    Python."""
    plan = plan_of(spark, sf_dir, "embedding_covariance")
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning(i" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pca_projection_is_zero_shuffle_literal_dot(spark, sf_dir):
    """The PCA projections the driver broadcasts back must be pure codegen
    scans: the eigenvector/mean are 64-element LITERAL arrays, so the
    returned plan has no Exchange, no join, and no Python evaluation (the
    covariance/iteration ran at build time, driver-sized). Holds for both
    the pc1 query and the two-column top-2 variant."""
    for name in ("embedding_pca_project", "embedding_pca_top2"):
        df = q.queries()[name](spark, sf_dir)
        plan = explain_str(df)
        assert not has_exchange(df), (name, plan)
        assert "Join" not in plan and "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_bpe_apply_is_single_pass_zero_shuffle(spark, sf_dir):
    """The frozen-merge-table bulk apply must stay one corpus scan of
    chained per-row rewrites: no KEYED Exchange, no joins, no Python eval —
    merge literals are constant-folded, barriers are 1-element Generates.
    The one allowed Exchange is the round-robin scan-parallelism heal
    (``hints.heal_scan_parallelism``), which fires only on the single-
    row-group test fixtures and is a no-op at scale; a hash/range
    exchange would mean a join or aggregate crept into the apply path."""
    df = q.queries()["bpe_apply_tokens"](spark, sf_dir)
    plan = explain_str(df)
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # formatted explain prints each node twice (tree + details section)
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2, (
        "bulk apply must read the corpus exactly once"
    )


def test_basket_pairs_expand_per_row_not_self_join(spark, sf_dir):
    """The pair expansion must come off the grouped basket ARRAY (one
    order-keyed shuffle), never an order-keyed self-join that shuffles the
    fact table twice; part-frequency joins stay keyed."""
    plan = plan_of(spark, sf_dir, "basket_part_pairs")
    assert "CartesianProduct" not in plan
    assert "Generate" in plan, "pair expansion must be an explode off the basket"


def test_pagerank_rank_side_broadcasts_into_edge_join(spark, sf_dir):
    """Each PageRank step joins the (bounded) rank vector INTO the edge
    table: rank sides broadcast, the only shuffles are the edge build and
    the per-step keyed aggregate — no cartesian anywhere."""
    plan = plan_of(spark, sf_dir, "event_type_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_covariance_incremental_is_two_gram_maps_no_self_join(spark, sf_dir):
    """IVM for moments: base and delta splits each contribute one Arrow
    Gram map; the merge is a keyed union-aggregate — never a corpus
    self-join, never a rescan shape different from the base query."""
    plan = plan_of(spark, sf_dir, "covariance_incremental")
    assert plan.count("MapInPandas") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_search_is_joinless_lookup_scan(spark, sf_dir):
    """ADC serving: codes are literal-codeword argmin projections and the
    per-query distance tables are literal arrays, so the search plan has NO
    join at all — one scan, one explode, one q_id-keyed ranking window."""
    df = q.queries()["ann_pq_topk"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_search_is_joinless_lookup_scan(spark, sf_dir):
    """IVF-PQ serving keeps the ADC shape joinless end to end: coarse
    assignment is an argmin over the literal centroid table, residuals are
    integer subtractions fused into the same projection, and the per-query
    distance tables are literal arrays — so the whole probe is scan ->
    project -> explode -> filter (cid match) -> one ranking window."""
    df = q.queries()["ann_ivfpq_topk"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantiles_2pass_pushes_range_to_scan(spark, sf_dir):
    """The whole point of pass 2 is that the target-bucket range reaches
    the parquet reader: the conservative raw-column predicate must appear
    in PushedFilters (row-group pruning), and ranking must stay inside
    per-bucket windows — no global single-partition sort anywhere."""
    df = q.queries()["order_value_quantiles_2pass"](spark, sf_dir)
    plan = explain_str(df)
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThanOrEqual" in plan
    # ranking runs per-bucket (partitioned window), never one global sort
    assert "row_number" in plan
    assert "SinglePartition" not in plan


def test_hybrid_fusion_plan_shape(spark, sf_dir):
    """RRF fusion must stay bounded: no CartesianProduct anywhere; the
    lexical arm is the tok-keyed inverted-index equi-join (hash-partitioned
    on tok, like tfidf_cosine_pairs); the only nested loop is the broadcast
    10-query exact semantic arm; fusion itself is a keyed join of two
    top-k lists plus one per-query ranking window — no Python eval."""
    plan = plan_of(spark, sf_dir, "hybrid_rank_fusion")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(tok" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pii_redaction_is_single_scan_zero_shuffle(spark, sf_dir):
    """The PII sweep must stay one corpus scan of codegen projections:
    no Exchange, no joins, no Python eval — the cheapest shape a
    redaction pass can have at 100 TB."""
    df = q.queries()["pii_redaction_audit"](spark, sf_dir)
    plan = explain_str(df)
    assert not has_exchange(df), plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivfpq_code_table_partition_pruning(spark, sf_dir, tmp_path):
    """The persisted IVF-PQ index must actually prune: writing the code
    table partitioned by cid and probing one list must show the cid
    equality in PartitionFilters (directory pruning — non-probed lists
    never open), and the probe must return exactly the in-memory codes of
    that list."""
    from pyspark.sql import functions as F

    from postgres_cdc_example_spark.operators import similarity
    from postgres_cdc_example_spark.queries.extensions import _trained_ivfpq
    from postgres_cdc_example_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir=sf_dir, name="embeddings")
    cents, cb = _trained_ivfpq(spark, sf_dir)
    codes = similarity.pq_encode_base(
        similarity.ivfpq_residual_subvecs(emb, cents), cb, carry=("cid",)
    )
    path = str(tmp_path / "ivfpq_codes")
    similarity.save_ivfpq_codes(codes, path)

    probe = similarity.read_ivfpq_probe(spark, path)
    plan = explain_str(probe)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cid" in pf and "= 1" in pf, f"cid must prune at the directory: {pf}"
    assert "PushedFilters: []" in plan or "cid" not in next(
        (l for l in plan.splitlines() if "PushedFilters" in l), ""
    ), "cid is a partition column, not a data filter"

    want = {
        (r.vec_id, tuple(r[f"c{s}"] for s in range(similarity.PQ_M)))
        for r in codes.filter(F.col("cid") == 1).collect()
    }
    got = {
        (r.vec_id, tuple(r[f"c{s}"] for s in range(similarity.PQ_M)))
        for r in probe.collect()
    }
    assert got == want and got, "probe must serve exactly list 1's codes"


def test_classifier_apply_is_zero_shuffle_literal_scorer(spark, sf_dir):
    """Serving the trained quality classifier must be one codegen scan:
    the weights are 4 collected literals, so the returned plan has no
    Exchange, no join, and no Python eval (training's aggregates ran at
    build time, driver-sized)."""
    df = q.queries()["quality_classifier_apply"](spark, sf_dir)
    plan = explain_str(df)
    assert not has_exchange(df), plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnowing_is_zero_shuffle_array_arithmetic(spark, sf_dir):
    """Winnowing fingerprint selection must stay per-row array arithmetic:
    no Exchange, no joins, no Python eval — one scan at any corpus size."""
    df = q.queries()["doc_winnowing_fingerprints"](spark, sf_dir)
    plan = explain_str(df)
    assert not has_exchange(df), plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_span_corruption_is_zero_shuffle_bounded_lookback(spark, sf_dir):
    """Mask planning must stay one scan of per-row array arithmetic with
    the bounded lookback window: no Exchange, no joins, no Python eval."""
    df = q.queries()["span_corruption_plan"](spark, sf_dir)
    plan = explain_str(df)
    assert not has_exchange(df), plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_misra_gries_single_corpus_shuffle(spark, sf_dir):
    """The MG summary's only corpus-sized stage is the (source, tok) count:
    partial aggregation must be map-side combined before its exchange, and
    every downstream window/scalar runs on the <= K x n_sources survivor
    rows. No Python eval, no CartesianProduct."""
    df = q.queries()["heavy_hitters_misra_gries"](spark, sf_dir)
    plan = explain_str(df)
    assert "partial_count" in plan, plan
    assert "hashpartitioning(source" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_range_partition_assignment_is_joinless_scan(spark, sf_dir):
    """The pass-2 assignment must be one constant-folded literal scan into
    a 16-group aggregate: no joins, no Python eval (the boundary walk ran
    at plan-build time on bounded histogram metadata)."""
    df = q.queries()["range_partition_plan"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan, plan


def test_bloom_semijoin_probe_is_codegen_single_scan(spark, sf_dir):
    """The probe-side bloom test must be pure JVM bit arithmetic against
    the literal bitmap inside the lineitem scan — no Python eval — and the
    exact side must ride the same scan as one broadcast equi-join."""
    df = q.queries()["bloom_semijoin_audit"](spark, sf_dir)
    plan = explain_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_bloom_semijoin_exact_side_broadcast_is_size_gated(spark, sf_dir):
    """The urgent-key build side is filter-selected — corpus-PROPORTIONAL,
    not bounded by construction — so its broadcast hint must be the
    size-gated kind: small side broadcasts (fast path), an over-threshold
    side degrades to a shuffled equi-join instead of OOMing executors.
    Both degradation shapes pinned, mirroring the r3 similarity gates."""
    from postgres_cdc_example_spark.queries.relational import (
        bloom_semijoin_audit,
    )

    plan_small = explain_str(bloom_semijoin_audit(spark, sf_dir))
    assert "BroadcastHashJoin" in plan_small
    assert "CartesianProduct" not in plan_small

    # Gate tripped + optimizer's own stats-based broadcast disabled: the
    # forced hint must be gone (Spark re-choosing broadcast from accurate
    # stats is fine; a forced hint surviving the gate is not).
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_big = explain_str(
            bloom_semijoin_audit(spark, sf_dir, broadcast_max_rows=0)
        )
        assert "BroadcastHashJoin" not in plan_big, plan_big
        assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
        assert "CartesianProduct" not in plan_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)


def test_rank_sketch_merge_is_takeordered_not_global_sort(spark, sf_dir):
    """The bottom-k merge must plan as TakeOrderedAndProject over the
    per-day partials (bounded n_days*K rows), never a global Sort+
    SinglePartition exchange; the per-day partials shuffle once on day.
    The merge materializes eagerly inside the query (bounded driver
    metadata), so the pin reads the factored construction directly."""
    from postgres_cdc_example_spark.queries.windows import _rank_sketch_merged

    _, merged = _rank_sketch_merged(spark, sf_dir)
    plan = explain_str(merged)
    assert "TakeOrderedAndProject" in plan, plan
    assert "hashpartitioning(day" in plan, plan
    assert "CartesianProduct" not in plan

    # the returned audit frame: one corpus aggregate x 2-row literal
    # broadcast, no Python eval, no cartesian
    df = q.queries()["rank_sketch_bottomk"](spark, sf_dir)
    final = explain_str(df)
    assert "CartesianProduct" not in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_late_arrival_prefix_max_is_bucket_keyed(spark, sf_dir):
    """The running high-watermark must come from the two-pass form: the
    corpus-sized window partitions by the arrival-day bucket (shuffle on
    b), never one global corpus sort; the only unpartitioned window runs
    over the bounded day-maxima table."""
    plan = plan_of(spark, sf_dir, "late_arrival_injection_audit")
    assert "hashpartitioning(b#" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_join_cardinality_top_keys_avoid_global_sort_exchange(spark, sf_dir):
    """The top-JCARD_TOP heavy-key selection must plan as
    TakeOrderedAndProject (per-partition heaps, bounded driver merge) —
    never an un-partitioned Window's SinglePartition sort exchange, which
    funnels the whole NDV-sized count table through one reducer."""
    df = q.queries()["join_cardinality_estimate"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_ljung_box_lag_join_is_hash_not_nested_loop(spark, sf_dir):
    """The autocovariance join b.rn = a.rn + k must plan as an EQUI hash
    join (Catalyst extracts `a.rn + k` as the left key) — only the 5-row
    lag grid may nested-loop. A BNLJ on the dd x dd side would be O(days²)
    per lag for no reason."""
    plan = plan_of(spark, sf_dir, "volume_ljung_box")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    # the nested-loop count must be bounded: lag grid + scalar broadcasts,
    # never the dd x dd pair side (which would show a join condition on rn
    # inside a BroadcastNestedLoopJoin)
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "rb" not in line and "ra" not in line, line


def test_trend_family_single_scan_to_bounded_grid(spark, sf_dir):
    """Theil-Sen / Mann-Kendall collapse events to the daily grid FIRST:
    the scan must aggregate before any pair enumeration (partial_count in
    the first aggregate), and the pair join's build side is the bounded
    grid itself."""
    for name in ("theilsen_daily_trend", "mann_kendall_trend"):
        plan = plan_of(spark, sf_dir, name)
        assert "partial_count" in plan or "partial count" in plan.lower(), name
        assert "CartesianProduct" not in plan, name


def test_pair_scale_work_never_inherits_one_partition(spark, sf_dir):
    """The r10 one-partition trap, pinned three ways: (1) the exact
    embedding-cosine pair join repartitions its STREAMED side (a one-file
    fixture otherwise gives the whole N²/2 cosine loop to a single task —
    measured 32 s at sf0.1); (2) the drift audit's memoized wire-line
    layer materializes at session parallelism so the from_json decode
    parallelizes; (3) the profile-signature checkpoint repartitions before
    pinning (AQE coalesces the small user aggregate to ONE shuffle
    partition, serializing the probe join)."""
    from postgres_cdc_example_spark.queries import REGISTRY
    from postgres_cdc_example_spark.queries.cdc import _drifted_wire_lines

    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    assert "RoundRobinPartitioning" in plan, plan

    par = spark.sparkContext.defaultParallelism
    lines = _drifted_wire_lines(spark, sf_dir)
    assert lines.rdd.getNumPartitions() == par

    # the checkpointed signature table inside user_profile_similarity is
    # not visible from the final plan; pin the behavior instead — the
    # scoring stages must run wider than one task. Cheap proxy: the
    # repartition call sits between the aggregate and the checkpoint, so
    # the materialized lineage partition count equals the parallelism.
    import postgres_cdc_example_spark.queries.extensions as ext

    ev = ext.load_table(spark, "events", sf_dir)
    h = ev.groupBy("user_id").count()
    # Assert the PRECONDITION itself (r10 ADVICE: the old
    # `h.repartition(par).getNumPartitions() == par` was a tautology of
    # repartition): AQE coalesces this small aggregate far below the
    # session parallelism, so without the explicit repartition before the
    # checkpoint every downstream probe join serializes onto few tasks.
    # Guarded (r11 ADVICE low): the exact coalesce target depends on AQE
    # advisory-size confs and Spark version — pin `== 1` only when the
    # coalesce knobs carry their default values, and otherwise assert the
    # version-robust bound (a small fraction of the parallelism), so a
    # config/version bump can't fail the test without a real regression.
    n = h.rdd.getNumPartitions()
    conf = spark.conf
    defaults = (
        conf.get("spark.sql.adaptive.enabled") == "true"
        and conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
        and conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"
        )
        in ("64MB", "67108864b", "67108864")
    )
    if defaults:
        assert n == 1, n
    else:  # pragma: no cover - non-default session config
        assert n <= max(2, par // 4), n
    assert h.repartition(par).rdd.getNumPartitions() == par
    del REGISTRY
