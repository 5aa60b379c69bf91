#!/usr/bin/env python
"""Headline benchmark: runs the engine's heavy queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Results are forced with the noop sink (full distributed computation, no
driver collect) for row-heavy outputs, and collect() for scalar aggregates.

Regression adjudication compares against TWO baselines (r9 verdict #1):
the previous on-disk BENCH_DETAIL_last.json (within-round `flagged`) and
the newest committed per-round snapshot BENCH_DETAIL_r{N}.json
(`flagged_vs_round`) — a regression that creeps across a round boundary
was structurally invisible to the within-round compare alone. Each round's
final detail gets committed as BENCH_DETAIL_r{N}.json.

`bench.py --full` (r9 verdict #3): times EVERY registered query once
(single timed pass after sf0.001 warm-up, no retries) and writes the map
to BENCH_FULL_last.json. This pass is EXCLUDED from the headline number —
its purpose is round-over-round visibility for the queries outside
BENCH_QUERIES (they were each timed once at registration but otherwise
had no committed tracking); single samples are noisier than the headline's
interleaved best-of-2, so treat --full deltas as leads, not verdicts.

Headline membership rule (r10 verdict #4, re-keyed r12): a query enters
BENCH_QUERIES when it is registered as a headline operator OR when its
--full WARM sample exceeds 2 s. The r12 gap adjudication (verdict #4)
found the --full single sample runs up to ~2x the interleaved number for
two mechanical reasons: (a) first-run-at-SF overhead — codegen/JIT for
the sf0.1-shaped AQE plan that the sf0.001 warm-up does not compile
(measured: dedup_substring_removal 4.87 s run-0 vs 2.80 s steady state in
ONE session) and (b) a formerly leaked in-query persist whose
CacheManager plan-match served the interleaved pass's second sample from
the first's cache (dedup_simhash_calibration — now the governed
simhash_cand layer, so both passes see the same warm state). To keep the
promotion rule honest, the --full pass re-times any query whose first
sample exceeds 2 s and records it under `second_sample`; the rule keys
off that warm number, and the cold number stays visible for the
first-run-latency story.

Every artifact carries env_before/env_after machine-load stamps
(load1/5/15, MemAvailable; r10 verdict #1) and self-declares
`load_contaminated` when load1 exceeds LOAD_CONTAMINATION_LINE (= 18, 2x
the bench's observed self-load ceiling; recalibrated r12) at either stamp;
flags raised under load are annotated (`flags_raised_under_load`), never
suppressed.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _env_stamp() -> dict:
    """Machine-load stamp written into every bench artifact (r10 verdict #1:
    the driver's closing run diverged 7x from the committed detail on
    unchanged code and NOTHING recorded environment state, so contention
    could not be distinguished from regression). load1/5/15 from
    os.getloadavg(), MemAvailable from /proc/meminfo, and the cpu count the
    loads are judged against, plus the /proc/stat iowait/steal/busy tick
    counters so a between-stamps delta quantifies foreign machine activity.

    Contamination line (recalibrated r12, verdict #3): the original
    1.5x-cpus rule (load1 > 48) could never catch the 10-20-point
    co-tenant load that actually contaminated the r10 driver run — the
    bench's own measured self-load is 6-9 (load1 across every committed
    r10/r11 stamp: 3.9-9.2), so the line is now load1 > 18, i.e. 2x the
    observed self-load ceiling. The r12 drift adjudication
    (BENCH_ADJUDICATION_r12.json) separately established that CLEAN-stamp
    cross-round drift up to ~1.4x on sub-second queries is machine-
    baseline change between round containers — the stamps bound
    contention, not hardware generation."""
    stamp: dict = {"ts_epoch": round(time.time(), 1)}
    try:
        l1, l5, l15 = os.getloadavg()
        stamp.update(load1=round(l1, 2), load5=round(l5, 2), load15=round(l15, 2))
    except OSError:  # pragma: no cover
        pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    stamp["mem_available_kb"] = int(line.split()[1])
                    break
    except (OSError, ValueError, IndexError):  # pragma: no cover
        pass
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()  # "cpu user nice system idle iowait irq softirq steal ..."
        ticks = [int(x) for x in parts[1:9]]
        stamp["cpu_busy_ticks"] = sum(ticks) - ticks[3] - ticks[4]
        stamp["cpu_iowait_ticks"] = ticks[4]
        stamp["cpu_steal_ticks"] = ticks[7] if len(ticks) > 7 else 0
    except (OSError, ValueError, IndexError):  # pragma: no cover
        pass
    stamp["cpus"] = os.cpu_count()
    return stamp


# 2x the bench's own measured self-load ceiling (load1 6-9 across every
# committed r10/r11 stamp) — a co-tenant adding 10+ now trips the line,
# where the old 1.5x-cpus (=48) rule needed a 40-point intruder.
LOAD_CONTAMINATION_LINE = 18.0


def _load_contaminated(*stamps: dict) -> bool:
    return any(
        s.get("load1", 0.0) > LOAD_CONTAMINATION_LINE for s in stamps
    )

# Governance for the UNTIMED layer prebuild (r8 verdict #1: it grew 51% in
# one round with nothing to stop the next +7 s). Budget = ~1.3x the r9
# committed build (the PQ trio fused into one pass); exceeding it flags the
# JSON artifact and fails the exit code AFTER the line is emitted. Adding a
# genuinely new layer means re-measuring and consciously re-setting this.
# r12 re-set: +simhash_cand (2.6 s measured — the formerly leaked in-query
# persist, now governed; r11 committed build 11.6 s -> expected ~14.2 s) and
# the r12 container's slower sub-second baseline (BENCH_ADJUDICATION_r12)
# push the old 18 s line; 22 = ~1.5x the expected build, same margin as r9.
LAYER_BUILD_BUDGET_SEC = 22.0

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_orders",
    "nation_revenue",
    "top_orders_per_customer",
    "event_time_tumbling",
    "cdc_compaction",
    "cdc_apply_full",
    "monitor_sync_check",
    # extension ops (training-data pipeline surface)
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "text_quality",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "multimodal_frame_sample",
    "event_sessionization",
    "event_time_sliding",
    "skew_salted_agg",
    "high_volume_orders",
    # TPC-H join family
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q14_promo_revenue_share",
    # relational surface + CDC-native maintenance
    "rollup_region_revenue",
    "pivot_priority_by_status",
    "order_value_percentiles",
    "clicks_asof_errors",
    "incremental_agg_maintenance",
    "dedup_clusters",
    "corpus_curation_pipeline",
    "skew_salted_join",
    # model-centric LLM-data surface (queries/llmdata.py)
    "text_unigram_nll",
    "tfidf_keywords",
    "benchmark_contamination",
    "text_repetition",
    "dedup_incremental",
    "event_hourly_gapfill",
    "corpus_curation_v2",
    "doc_novelty",
    "bm25_doc_ranking",
    "source_token_kl",
    "dedup_cross_source_matrix",
    "ann_ivf_kmeans_topk",
    "retention_cohorts",
    "q9_product_type_profit",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    # round-4 additions: suffix-array-family substring dedup + perceptual hash
    "dedup_exact_substring",
    "dedup_substring_removal",
    "multimodal_phash_neardup",
    # round-4 continued: semantic dedup, leakage-safe splits, bigram LM,
    # chunking — the curation surface a training pipeline runs per batch
    "semantic_dedup",
    "split_leakage_safe",
    "text_bigram_nll",
    "doc_chunks",
    "quality_curriculum",
    "lsh_band_bucket_stats",
    # r10 adjudication of the r9 drift nits (both re-measured isolated,
    # best-of-5 idle, code unchanged per git): lsh_recall_audit 1.95 s
    # (r8 1.70) and zorder_overlap_depth 0.81 s (r8 0.64) — a uniform
    # ~1.2x environment drift also visible on untouched sub-second
    # queries, not a plan regression; the cross-round drift-normalized
    # flagged_vs_round compare (below) now absorbs exactly this shape.
    "lsh_recall_audit",
    "mixture_epoch_plan",
    "corpus_manifest",
    "ann_quantized_recall_audit",
    "incremental_join_maintenance",
    "audience_overlap",
    "token_count_min_sketch",
    "contamination_bloom_prefilter",
    "text_mixed_language",
    "event_rate_anomaly",
    "vocab_zipf_slope",
    "bpe_merge_steps",
    "user_erasure_audit",
    "user_path_trigrams",
    "corpus_snapshot_diff",
    "embedding_covariance",
    "vocab_coverage",
    "length_quality_grid",
    "text_bigram_entropy",
    # round-5 additions: PCA projection, bulk BPE apply, classifier
    # training, first-fit-decreasing packing, HLL audit, quota admission
    "embedding_pca_project",
    "embedding_pca_top2",
    "bpe_apply_tokens",
    "quality_classifier_train",
    "pack_documents_ffd",
    "vocab_hll_audit",
    "source_quota_admission",
    # round-5 continued: market-basket mining, graph centrality, moment
    # IVM, PCA-space outlier gate
    "basket_part_pairs",
    "event_type_pagerank",
    "covariance_incremental",
    "embedding_outliers",
    "ann_pq_topk",
    "ann_pq_recall_audit",
    "ann_ivfpq_topk",
    # round-5 continued: exact 2-pass quantiles, C4 boilerplate removal,
    # truncation audit, funnel, Benford screen
    "order_value_quantiles_2pass",
    "boilerplate_segment_removal",
    "ann_truncated_recall_audit",
    "event_funnel",
    "orders_benford_audit",
    "tfidf_cosine_pairs",
    "orders_zorder_layout",
    # round-5 tail (registered in r5 but missed the bench list — r5 verdict #2)
    "stratified_sample",
    "orders_rfm_segments",
    "attribution_multitouch",
    "source_fertility_stats",
    # round-6 additions
    "hybrid_rank_fusion",
    "pii_redaction_audit",
    "boilerplate_incremental",
    "join_skew_audit",
    "hybrid_recall_audit",
    "quality_classifier_apply",
    "doc_winnowing_fingerprints",
    "dedup_winnowing_pairs",
    "hll_merge_rollup",
    "span_corruption_plan",
    "dedup_prefix_filter_pairs",
    "heavy_hitters_misra_gries",
    "dedup_containment_pairs",
    "audience_overlap_kmv",
    "range_partition_plan",
    "bloom_semijoin_audit",
    "join_cardinality_estimate",
    "semantic_decontam_audit",
    "contrastive_negatives_plan",
    "dedup_sorted_neighborhood",
    "quantile_histogram_rollup",
    "dedup_graph_shape_audit",
    "cdc_gap_detection",
    "audience_churn_kmv",
    "event_volume_trend",
    "join_order_advisor",
    "lang_id_confusion",
    "user_activity_gini",
    "order_priority_chi2",
    "value_distribution_ks",
    "length_quality_spearman",
    "prefix_filter_volume_stats",
    # round-7 additions (timed individually at sf0.1 before listing:
    # 0.69 / 0.86 / 2.06 s best-of-3 idle)
    "rank_sketch_bottomk",
    "mixed_language_injection_audit",
    "ann_staleness_audit",
    "late_arrival_injection_audit",  # 0.91 s best-of-3 idle at sf0.1
    "watermark_sizing_advisor",  # 1.30 s best-of-3 idle at sf0.1
    "value_location_mannwhitney",  # 0.71 s best-of-3 idle at sf0.1
    "dedup_substring_incremental",  # 1.79 s best-of-3 idle at sf0.1
    # round-8 additions
    "multimodal_decoded_parity",  # real-codec round-trip; 1.17 s best-of-3 idle at sf0.1
    "value_location_kruskalwallis",  # 0.91 s best-of-3 idle at sf0.1
    "dedup_winnowing_incremental",  # 1.15 s best-of-3 idle at sf0.1
    "text_kneser_ney_nll",  # 1.58 s best-of-3 idle at sf0.1
    "length_quality_kendall",  # 1.71 s best-of-3 idle at sf0.1
    "cdc_schema_drift_audit",  # 2.40 s best-of-3 idle at sf0.1 (JSON wire round-trip)
    "k_anonymity_audit",  # 0.42 s best-of-3 idle at sf0.1
    "orders_column_profile",  # 0.92 s best-of-3 idle at sf0.1
    "event_volume_cusum",  # 0.91 s best-of-3 idle at sf0.1
    "zorder_overlap_depth",  # 1.22 s best-of-3 idle at sf0.1 (composes the layout scan)
    "value_location_friedman",  # 0.65 s best-of-3 idle at sf0.1
    "value_cochran_q",  # 0.95 s best-of-3 idle at sf0.1
    "dedup_snm_multipass",  # 3.61 s best-of-3 idle at sf0.1 (two full SNM passes by design)
    "pipeline_end_to_end",  # 2.55 s best-of-5 idle at sf0.1 r11 (chains 5 member queries; +0.6 s vs r10 = the added quota member, adjudicated real)
    "semantic_dedup_incremental",  # 1.96 s best-of-3 idle at sf0.1 (delta x cluster join)
    "perplexity_bucket_plan",  # 1.16 s best-of-3 idle at sf0.1 (per-lang two-pass rank)
    "doc_chunk_plan",  # 0.48 s best-of-3 idle at sf0.1 (one scan + sequence explode)
    "golden_record_survivorship",  # 1.85 s best-of-3 idle at sf0.1 (composes dedup_clusters)
    "length_mad_gate",  # 1.09 s best-of-3 idle at sf0.1 (histogram order statistics)
    "dedup_edit_distance_verify",  # 2.06 s best-of-3 idle at sf0.1 (SNM block + bounded DP)
    "cube_priority_status_volume",  # 0.25 s best-of-3 idle at sf0.1 (Expand x4, one agg)
    # round-9 continuation additions (timed best-of-3 idle at sf0.1):
    "theilsen_daily_trend",  # 0.47 s (bounded daily-grid pair enumeration)
    "mann_kendall_trend",  # 0.47 s (same pair grid + tie scalars)
    "volume_ljung_box",  # 0.57 s (hash lag join on the bounded grid)
    "volume_runs_test",  # 0.37 s (two bounded-grid windows)
    "priority_status_cramers_v",  # 0.41 s (bounded cell table + scalars)
    "token_good_turing",  # 0.29 s (count-of-counts off the shared occ layer)
    "source_lexical_diversity",  # 0.29 s (one (source, tok) aggregate)
    "orders_fd_audit",  # 0.68 s (four determinant-keyed aggregates)
    "orders_key_candidates",  # 0.39 s (four DISTINCT arms + row-count scalar)
    "event_dow_seasonality",  # 0.24 s (daily aggregate + 7-row rollup)
    "event_ewma_anomaly",  # 0.28 s (10-lag window on the bounded grid)
    "dedup_minhash_oph",  # 0.58 s (1 hash/shingle off the shared ngram layer)
    "source_token_js",  # 0.83 s (vocab-bounded margins + anti-join arm)
    "text_pmi_collocations",  # 0.88 s (bigram count + TakeOrdered top-20)
    "sample_poisson_bootstrap",  # 2.10 s (16 weight projections in one scan)
    "orders_seasonal_decompose",  # 0.50 s (bounded month-grid +-6 join)
    "cohort_revenue_ltv",  # 0.47 s (custkey-keyed joins, cohort windows)
    "funnel_latency_quantiles",  # 0.75 s (user-keyed mins + latency histogram)
    "customer_order_rank_suite",  # 0.22 s (one fused Window, one shuffle)
    "vocab_oov_rate",  # 0.53 s (top-K vocab + broadcast membership join)
    "event_transition_matrix",  # 0.52 s (one user-keyed lead window)
    "orders_interarrival_stats",  # 0.76 s (custkey lag window + gap histogram)
    "token_burstiness",  # 0.50 s (tok-keyed moments + TakeOrdered top-20)
    "vocab_heaps_law",  # 0.63 s (first-occurrence buckets + 10-row OLS)
    "shipping_latency_by_priority",  # 1.04 s (fact-fact join + day histogram)
    "supplier_acctbal_outlier_fences",  # 0.63 s (per-nation cents histogram)
    "dedup_transitivity_audit",  # 3.19 s (re-verifies the pair set + wedge join)
    "user_bot_regularity",  # 0.52 s (one user-keyed window + moment aggregate)
    # round-10 additions (timed best-of-3 idle at sf0.1):
    "value_levene_brownforsythe",  # 0.87 s (bounded value-grid medians + 3-row agg)
    "customer_churn_hazard",  # 0.89 s (custkey lag window + duration histogram)
    "user_type_entropy",  # 0.38 s (two keyed aggregates, one ln per (user,type))
    "orders_daily_autocorr",  # 0.56 s (bounded daily grid, rn+k hash lag join)
    "quality_filter_funnel",  # 0.54 s (one scan, one wide agg, 6-row pivot)
    "lm_dirichlet_ranking",  # 0.63 s (shared occ layer + broadcast 5-term join)
    "gram_novelty_curve",  # 0.79 s (shared gram layer, min-bucket aggregate)
    "packing_waste_curve",  # 0.70 s (one scan x 5-row literal granularity grid)
    "dedup_minhash_calibration",  # 1.33 s (band candidates + sig/shingle joins)
    "orders_pareto_concentration",  # 0.61 s (customer-bounded rank + 4-row grid)
    "split_kfold_plan",  # 1.79 s (composes the cluster member + hash folds)
    "text_mattr",  # 0.89 s (zero-shuffle per-row sliding windows)
    "embedding_label_separation",  # 1.37 s (label-dim agg + bounded centroid grid)
    "orders_abc_classification",  # 0.54 s (part-bounded rank/cumsum window)
    "benchmark_coverage_report",  # 0.75 s (gram-keyed join off the shared g8 layer)
    "dedup_shingle_df_profile",  # 0.62 s (shingle df count + log2 bucket rollup)
    "event_hour_dow_heatmap",  # 0.48 s (one agg onto <=168 cells + grid math)
    "purchase_asof_after_error",  # 0.80 s (one user-keyed DESC window, no range join)
    "priority_mix_monthly_drift",  # 0.73 s (month x 5 grid, cleared chi-square)
    # r11 cost-based promotions (r10 verdict #4): every registered query
    # with a --full pass time > 2 s gets headline (interleaved) tracking —
    # selection by cost, not just history. corpus_dedup_summary was
    # previously excluded as double-charging its already-benched members;
    # the 6.75 s full-pass lead earned it round-over-round adjudication
    # anyway (the members' sum is 9.1 s — composition beats rerunning, and
    # the count-only aggregation cannot prune the verification joins).
    "corpus_dedup_summary",  # 7.35 s best-of-3 idle (7 member pair pipelines)
    "event_reach_approx_error",  # 3.07 s (exact-distinct audit join vs HLL)
    "text_fingerprint",  # 2.47 s (per-doc rolling-hash winnowing projection)
    # r11 additions
    "dedup_oph_calibration",  # 2.51 s (full OPH collision curve + exact-J verify)
    "source_hapax_profile",  # 0.39 s (two keyed counts off the shared occ layer)
    "supplier_nation_hhi",  # 0.58 s (supplier cents agg + 25-row rollup)
    "cdc_tombstone_retention",  # 0.51 s (one key-shuffle, two windows, wm bcast)
    "dedup_quality_interaction",  # 2.20 s (cluster + quality members, 15-row tab)
    "token_budget_frontier",  # 1.63 s (two-pass token cumsum x 5-budget grid)
    "ann_pq_distortion_by_cluster",  # 2.98 s (PQ encode + d2 + literal assign)
    "dedup_mixture_shift",  # 2.04 s (exact+cluster members, source rollup)
    "dedup_simhash_calibration",  # 3.86 s (dense band collisions on the
    # closed-vocab corpus — measured + documented; verification stratified)
    "contamination_by_source",  # 0.67 s (member doc set + source rollup)
    "split_temporal_leakage",  # 0.71 s (one (cut, user) keyed aggregate)
    "event_markov_nll",  # 0.64 s (one user window + vocab-bounded count joins)
    "text_jm_lambda_grid",  # 1.11 s (train counts + held bigrams x 5-lambda grid)
    "dedup_embedding_cosine",  # 2.12 s in the r11 --full pass -> headline by the
    # >2s rule (the LABELED exact all-pairs baseline; scale path = semantic_dedup)
    # r12 additions (>2 s warm best-of-3 at registration -> headline)
    "embedding_intrinsic_dim",  # 2.46 s (TwoNN all-pairs 2-NN baseline, repartitioned)
    "ann_probe_recall_curve",  # 2.56 s (4-probe candidate scoring + brute truth)
    "retrieval_rank_agreement",  # 2.84 s (BM25 + QL members + bounded pair rollup)
    "cdc_apply_idempotence",  # 2.18 s warm at bench config (two localCheckpointed
    # key-bounded folds + symmetric diff) -> headline by the >2 s warm rule
]


def _force(df) -> None:
    # noop sink: full execution on executors, zero driver materialization
    df.write.format("noop").mode("overwrite").save()


# Mutable run state the SIGTERM handler reads: if the driver's bench window
# closes mid-run (timeout sends SIGTERM), emit the compact stdout line from
# whatever samples exist instead of dying line-less — the r4/r5 artifacts
# were lost to tail truncation; a WINDOW kill must not lose r6+'s the same
# way. "partial" marks the line honestly (queries with zero samples are
# excluded from the total and counted in n_missing).
_RUN_STATE: dict = {"samples": None, "layer_build": None, "sf": None, "done": False}


def _emit_line(partial: bool) -> None:
    samples = _RUN_STATE["samples"] or {}
    per = {n: round(min(s), 3) for n, s in samples.items() if s}
    spreads = [max(s) / min(s) for s in samples.values() if s]
    out = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "n_queries": len(per),
        "sf": _RUN_STATE["sf"],
        "layer_build_sec": _RUN_STATE["layer_build"],
        "max_spread": round(max(spreads), 2) if spreads else None,
        "detail_file": "BENCH_DETAIL_last.json",
        "value": round(sum(per.values()), 3),
    }
    if _RUN_STATE.get("layer_over_budget"):
        out["layer_build_over_budget"] = True
    if partial:
        out["partial"] = True
        out["n_missing"] = len(BENCH_QUERIES) - len(per)
    print(json.dumps(out), flush=True)


def _sigterm_handler(signum, frame):  # pragma: no cover - timing-dependent
    if not _RUN_STATE["done"]:
        try:
            _emit_line(partial=True)
        finally:
            os._exit(124)
    os._exit(124)


# Trained inside their timed queries (ann_ivfpq_topk, quality_classifier_apply)
# since they were added, so the headline's timed scope keeps their training.
TRAIN_IN_QUERY = ("ivfpq", "quality_weights")


def _build_layers(spark) -> dict[str, float]:
    """Materialize every registered shared layer (except TRAIN_IN_QUERY)
    once, in registration order (each layer registers after the layers it
    reads), returning per-layer build seconds (see the methodology comment
    in main())."""
    from pyspark.sql import DataFrame

    from postgres_cdc_example_spark.layers import LAYERS
    from postgres_cdc_example_spark.queries import _load_all

    _load_all()  # each query module registers its layers on import
    layer_times: dict[str, float] = {}
    for lay in LAYERS.values():
        if lay.name in TRAIN_IN_QUERY:
            continue
        t0 = time.perf_counter()
        val = lay(spark, SF_DIR)
        if isinstance(val, DataFrame):
            val.count()
        layer_times[lay.name] = round(time.perf_counter() - t0, 3)
    return layer_times


def full_registry_pass() -> None:
    """--full: one warm-up at sf0.001 + ONE timed sample per REGISTERED
    query at SF_DIR, written to BENCH_FULL_last.json. Excluded from the
    headline (single samples are noise-prone); provides the committed
    round-over-round timing trail for queries outside BENCH_QUERIES."""
    from postgres_cdc_example_spark import queries as q
    from postgres_cdc_example_spark.session import get_spark

    spark = get_spark(app_name="bench-full")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    names = sorted(registry)
    for name in names:
        try:
            _force(registry[name](spark, "/root/testdata/sf0.001"))
        except Exception as e:  # pragma: no cover - env-specific
            print(f"# warmup {name} failed: {e}", file=sys.stderr)
    layer_times = _build_layers(spark)
    env0 = _env_stamp()
    per: dict[str, float] = {}
    second: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name in names:
        t0 = time.perf_counter()
        # per-query guard in the TIMED loop too (r10 ADVICE low): one
        # failing query must not abort the pass after the warm-up cost and
        # lose every timing already collected — record it, keep going,
        # still write the sidecar.
        try:
            _force(registry[name](spark, SF_DIR))
        except Exception as e:  # pragma: no cover - env-specific
            failures[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# TIMED PASS FAILED {name}: {failures[name]}", file=sys.stderr)
            continue
        per[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {per[name]:.3f}s", file=sys.stderr)
        if per[name] > 2.0:
            # r12 (verdict #4): the >2 s headline-promotion rule keys off a
            # WARM second sample, not the cold first one — the single-pass
            # number includes first-run-at-SF codegen/JIT that best-of-N
            # sheds, and promoting on the inflated sample made the rule
            # conservative-noisy. Cold stays in `queries`, warm goes to
            # `second_sample`.
            t1 = time.perf_counter()
            try:
                _force(registry[name](spark, SF_DIR))
                second[name] = round(time.perf_counter() - t1, 3)
                print(f"#   warm re-sample {name}: {second[name]:.3f}s",
                      file=sys.stderr)
            except Exception as e:  # pragma: no cover - env-specific
                print(f"# warm re-sample failed {name}: {e}", file=sys.stderr)
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    out = {
        "metric": "full_registry_total",
        "unit": "sec",
        "sf": sf,
        "n_queries": len(per),
        "n_failures": len(failures),
        "layer_build_sec": round(sum(layer_times.values()), 3),
        "n_headline": sum(1 for n in per if n in BENCH_QUERIES),
        "value": round(sum(per.values()), 3),
    }
    if failures:
        # annotate-never-suppress (r11 ADVICE low): a failing query is
        # excluded from `per`, silently shrinking the summed `value`; a
        # round-over-round reader comparing `value` without checking
        # n_failures would misread a failure as a speedup. Self-declare
        # the changed denominator the way load_contaminated does.
        out["value_incomparable"] = (
            f"{len(failures)} quer{'y' if len(failures) == 1 else 'ies'}"
            " failed and are excluded from the sum — do not compare"
            " `value` round-over-round without accounting for them"
        )
    detail = dict(out)
    detail["layers"] = layer_times
    detail["queries"] = per
    detail["second_sample"] = second
    detail["failures"] = failures
    detail["env_before"] = env0
    detail["env_after"] = _env_stamp()
    if _load_contaminated(detail["env_before"], detail["env_after"]):
        detail["load_contaminated"] = True
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL_last.json"
    )
    try:
        with open(path, "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
    except OSError as e:  # pragma: no cover
        print(f"# could not write {path}: {e}", file=sys.stderr)
    print(json.dumps(out), flush=True)


def main() -> None:
    from postgres_cdc_example_spark import queries as q
    from postgres_cdc_example_spark.layers import clear_layers
    from postgres_cdc_example_spark.session import get_spark

    signal.signal(signal.SIGTERM, _sigterm_handler)
    spark = get_spark(app_name="bench")
    registry = q.queries()
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen per query shape on the smallest SF so per-query
    # numbers measure the plan, not first-run class loading / broadcast setup
    for name in BENCH_QUERIES:
        try:
            _force(registry[name](spark, "/root/testdata/sf0.001"))
        except Exception:
            pass

    # Materialize the shared shingle/occurrence layer once, OUTSIDE the
    # timed region. The layer is a session-wide persisted cache shared by
    # the whole dedup/LM family; charging its one-time build to whichever
    # family member ran first made per-query numbers incomparable across
    # rounds (dedup_minhash_lsh +18% in r2 was cost *attribution*, not cost
    # creation). A real deployment amortizes it the same way: build once,
    # reuse per batch.
    # The build cost is reported as its own line item (layer_build_sec) rather
    # than charged to whichever family member runs first — a real deployment
    # amortizes it the same way (build once, reuse per batch). Methodology
    # note: r1/r2 bench files charged this cost to the first dedup query; r3+
    # do not, so cross-round comparisons for that family need rebaselining.
    # r8+: per-layer timings go to the detail artifact so a layer-induced
    # build regression bisects from BENCH_DETAIL_last.json instead of a
    # diagnosis session. r9+: the three PQ trainings fuse into ONE
    # shared layer (extensions._pq_trio), one line item in the map.
    # The layer set comes from the registry (layers.LAYERS) via
    # _build_layers (shared with --full).
    layer_times = _build_layers(spark)
    layer_build = round(sum(layer_times.values()), 3)
    if layer_build > LAYER_BUILD_BUDGET_SEC:
        # Cold-container adjudication (r12 verdict #2): the r12 driver
        # container's FIRST run measured the build at 31.4 s where the
        # immediately-following run on the same box measured 12.5 s —
        # first-run cold state (page cache / JIT warm-up), not a layer
        # regression, yet it failed the exit code and emptied PERF's
        # per-query block. Re-measure ONCE from cleared layers before
        # judging: a real layer regression reproduces warm; a cold-start
        # artifact does not. Both numbers go into the artifact
        # (layer_build_cold_sec keeps the cold-start story visible).
        cold_build = layer_build
        clear_layers()
        layer_times = _build_layers(spark)
        layer_build = round(sum(layer_times.values()), 3)
        _RUN_STATE["layer_build_cold"] = cold_build
        print(
            f"# layer build {cold_build:.1f}s exceeded the"
            f" {LAYER_BUILD_BUDGET_SEC:.1f}s budget; steady-state rebuild"
            f" measured {layer_build:.1f}s",
            file=sys.stderr,
        )
    if layer_build > LAYER_BUILD_BUDGET_SEC:
        # Loud governance (r8 verdict #1): the untimed prebuild grew 51% in
        # one round before the per-layer map existed. Exceeding the budget
        # flags the artifact AND fails the process exit code after the line
        # is emitted (see main's tail) — never silently absorbs a new layer.
        print(
            f"# LAYER BUILD OVER BUDGET: {layer_build:.1f}s >"
            f" {LAYER_BUILD_BUDGET_SEC:.1f}s — a new/regressed layer must be"
            " re-measured and the budget consciously re-set",
            file=sys.stderr,
        )
        _RUN_STATE["layer_over_budget"] = True

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    _RUN_STATE["sf"] = float(sf)
    _RUN_STATE["layer_build"] = layer_build
    env_before = _env_stamp()
    # Interleaved repetitions: 3 full passes over ALL queries, taking the min
    # per query ACROSS passes. Back-to-back best-of-3 shares one contention
    # window — when the sandbox is busy for ~10 s, all three samples of one
    # query inflate together (r3 recorded 4.7× on dedup_incremental that
    # re-measured at 0.84× idle). Interleaving separates a query's samples by
    # a full pass (~30 s), so a contention burst can sink at most one of them.
    # r6: 2 passes (was 3) — the list grew well past 95 queries (131 at the
    # r6 cut) and three full passes no longer fit the driver's bench window
    # with headroom; the
    # retry pass below still re-measures anything whose two samples spread
    # >1.5x, so a single contention burst cannot fix a query's recorded min.
    N_PASSES = 2
    samples: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    _RUN_STATE["samples"] = samples
    for pass_i in range(N_PASSES):
        for name in BENCH_QUERIES:
            fn = registry[name]
            t0 = time.perf_counter()
            _force(fn(spark, SF_DIR))
            samples[name].append(time.perf_counter() - t0)
        print(f"# pass {pass_i + 1}/{N_PASSES} done", file=sys.stderr)

    # Retry pass: a query whose max/min spread across the interleaved passes
    # exceeds 1.5x was likely hit by a contention burst in every sample window
    # it got; re-measure just those once more and fold the new sample into the
    # min, so a single burst can't leave a 2x spread (or an inflated min) in
    # the round artifact. The slow tail (min > 2 s) gets a tighter spread
    # trigger: those queries dominate round-over-round comparisons and their
    # pass-1 sample is routinely JIT-inflated at the sf0.1 shape, so an
    # unsettled pair (spread > 1.15) earns a third sample (~a handful of
    # queries, a few seconds of wall).
    suspect = [
        n
        for n in BENCH_QUERIES
        if max(samples[n]) / min(samples[n]) > 1.5
        or (min(samples[n]) > 2.0 and max(samples[n]) / min(samples[n]) > 1.15)
    ]
    for name in suspect:
        fn = registry[name]
        t0 = time.perf_counter()
        _force(fn(spark, SF_DIR))
        samples[name].append(time.perf_counter() - t0)
        print(f"# retry {name}: {samples[name][-1]:.3f}s", file=sys.stderr)

    # Previous committed detail (if present): lets this run adjudicate
    # noise vs real regression per query (r8 verdict #2 — a 1.27x drift
    # with only a GLOBAL spread stat could not be judged from the artifact).
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo_dir, "BENCH_DETAIL_last.json")
    prev_queries: dict[str, float] = {}
    try:
        with open(detail_path) as f:
            prev_queries = json.load(f).get("queries", {}) or {}
    except (OSError, ValueError):
        pass

    # Newest committed per-round snapshot (BENCH_DETAIL_r{N}.json): the
    # cross-round baseline (r9 verdict #1 — zorder_overlap_depth regressed
    # 1.42x ACROSS the r8->r9 boundary at spread 1.03 and the within-round
    # compare could not see it; only the judge's manual diff did).
    import glob as _glob

    round_files = sorted(_glob.glob(os.path.join(repo_dir, "BENCH_DETAIL_r*.json")))
    round_queries: dict[str, float] = {}
    round_base = None
    if round_files:
        round_base = os.path.basename(round_files[-1])
        try:
            with open(round_files[-1]) as f:
                round_queries = json.load(f).get("queries", {}) or {}
        except (OSError, ValueError):
            round_queries = {}

    per_query: dict[str, float] = {}
    per_spread: dict[str, float] = {}
    ratios: dict[str, float] = {}
    total = 0.0
    for name in BENCH_QUERIES:
        s = samples[name]
        dt = round(min(s), 3)
        per_query[name] = dt
        total += dt
        # max/min ratio per query: >~1.5 flags contention-suspect samples.
        # Full spread map stays on stderr — the final JSON line must remain
        # compact enough for the driver's tail-capture window (the r4 artifact
        # was truncated mid-line once the spread map doubled the line length).
        spread = max(s) / min(s)
        per_spread[name] = round(spread, 2)
        prev = prev_queries.get(name)
        if prev and prev > 0:
            ratios[name] = dt / prev
        print(f"# {name}: {dt:.3f}s (spread {spread:.2f}x)", file=sys.stderr)
    # noise-aware regression flag, DRIFT-NORMALIZED: the box is never equally
    # idle run to run, so raw vs-prev ratios flag en masse under global
    # slowdown (a contended run once flagged 19 unrelated queries at ~1.15x
    # each). Normalize each ratio by the MEDIAN ratio across common queries
    # (the global-drift estimate — robust to the few genuine regressions),
    # then flag STABLE measurements (spread < 1.2, trustworthy) that still
    # sit > 1.25x above the drift. A wide-spread query is contention, not a
    # plan regression — it stays out of `flagged` by design.
    def _drift_flag(
        ratio_map: dict[str, float], base_map: dict[str, float]
    ) -> tuple[float, list[str]]:
        d = sorted(ratio_map.values())[len(ratio_map) // 2] if ratio_map else 1.0
        fl = [
            n
            for n, r in sorted(ratio_map.items())
            if r / max(d, 1e-9) > 1.25
            and per_spread[n] < 1.2
            # absolute floor: sub-quarter-second deltas are scheduler jitter
            # on sub-second queries, never an actionable plan regression
            and per_query[n] - base_map[n] > 0.25
        ]
        return d, fl

    drift, flagged = _drift_flag(ratios, prev_queries)
    if flagged:
        print(
            f"# FLAGGED stable regressions vs prev detail"
            f" (median drift {drift:.2f}x): {flagged}",
            file=sys.stderr,
        )
    ratios_round = {
        n: per_query[n] / round_queries[n]
        for n in BENCH_QUERIES
        if round_queries.get(n)
    }
    drift_round, flagged_vs_round = _drift_flag(ratios_round, round_queries)
    if flagged_vs_round:
        print(
            f"# FLAGGED stable regressions vs committed round baseline"
            f" {round_base} (median drift {drift_round:.2f}x):"
            f" {flagged_vs_round}",
            file=sys.stderr,
        )
    # Uniform-slowdown alert (r9 ADVICE): drift normalization makes a
    # GLOBAL ~1.3x slowdown (e.g. a shared-layer change taxing everything)
    # produce zero per-query flags — only median_drift records it, and
    # nothing alerted on it. When the measurements themselves are stable
    # (median per-query spread < 1.15, so it is not box contention) and the
    # median vs-round ratio exceeds 1.15x, flag the artifact loudly.
    spread_vals = sorted(per_spread.values())
    spread_median = spread_vals[len(spread_vals) // 2] if spread_vals else 1.0
    median_drift_alert = bool(
        ratios_round and spread_median < 1.15 and drift_round > 1.15
    )
    if median_drift_alert:
        print(
            f"# MEDIAN-DRIFT ALERT: uniform slowdown {drift_round:.2f}x vs"
            f" {round_base} on a stable run (median spread"
            f" {spread_median:.2f}) — suspect a shared layer/session change,"
            " not per-query noise",
            file=sys.stderr,
        )

    max_spread = max(max(samples[n]) / min(samples[n]) for n in BENCH_QUERIES)
    # Per-query map goes to a SIDECAR file + stderr, NOT the final stdout
    # line. The driver's tail-capture window is ~2.2 KB and truncated the
    # r4 AND r5 artifacts mid-line once the map outgrew it ("parsed": null
    # two rounds running). The stdout line stays <300 bytes, and "value" is
    # ordered LAST so even a truncated tail-capture keeps the headline.
    env_after = _env_stamp()
    contaminated = _load_contaminated(env_before, env_after)
    detail = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "sf": float(sf),
        "layer_build_sec": layer_build,
        "layer_build_budget_sec": LAYER_BUILD_BUDGET_SEC,
        "layers": layer_times,
        "max_spread": round(max_spread, 2),
        "queries": per_query,
        "spreads": per_spread,
        "flagged": flagged,
        "median_drift": round(drift, 3) if ratios else None,
        "round_baseline": round_base,
        "flagged_vs_round": flagged_vs_round,
        "median_drift_vs_round": round(drift_round, 3) if ratios_round else None,
        "env_before": env_before,
        "env_after": env_after,
        "value": round(total, 3),
    }
    if median_drift_alert:
        detail["median_drift_alert"] = True
    if _RUN_STATE.get("layer_build_cold") is not None:
        detail["layer_build_cold_sec"] = _RUN_STATE["layer_build_cold"]
    if contaminated:
        # annotate, never suppress (r10 verdict #1): flags raised on a
        # loaded box stay in the artifact but self-identify as suspect
        detail["load_contaminated"] = True
        if flagged or flagged_vs_round:
            detail["flags_raised_under_load"] = True
        print(
            "# LOAD-CONTAMINATED RUN: load1 exceeded 1.5x cpus at a stamp —"
            " treat flags/drift as suspect and re-measure isolated",
            file=sys.stderr,
        )
    if _RUN_STATE.get("layer_over_budget"):
        detail["layer_build_over_budget"] = True
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
            f.write("\n")
    except OSError as e:  # read-only checkout: stderr copy below still has it
        print(f"# could not write {detail_path}: {e}", file=sys.stderr)
    print("# per-query detail: " + json.dumps(per_query), file=sys.stderr)
    _RUN_STATE["done"] = True
    _emit_line(partial=False)
    if _RUN_STATE.get("layer_over_budget"):
        # loud exit AFTER the artifact line: the driver keeps the numbers,
        # the nonzero status makes the budget breach impossible to miss
        sys.exit(3)


if __name__ == "__main__":
    if "--full" in sys.argv[1:]:
        full_registry_pass()
    else:
        main()
