#!/usr/bin/env python
"""Scale-up stress measurement: the heavy query families at 1× vs 10× corpus.

Builds a 10× documents/embeddings corpus in /tmp by replicating the sf0.1
fixture with per-replica TOKEN REMAPPING (every token gets a replica
suffix), so replicas share no shingles/grams/tokens: per-replica duplicate
structure is identical to the original and cross-replica collisions are
zero — the fair linear-scaling test (plain copies would manufacture
10-cliques of near-duplicates and measure a pathological corpus instead).
Embeddings replicate with remapped ids; the fixed query/audit samples stay
bounded by construction.

Prints per-query wall time at both scales and the scaling factor.
Ideal ≈ 10× (linear in rows) or below (fixed overheads amortize);
a factor well above 10× flags super-linear work. Results are recorded in
SCALING.md.

Usage: python scripts/bench_scale.py [replicas] [comma-separated-query-subset]

The optional subset (e.g. ``50 tfidf_cosine_pairs,dedup_containment_pairs``)
runs the 50x validation of the measured superlinear growers without paying
for the whole list at that scale; each replica count builds its own corpus
directory, so 10x and 50x results coexist.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"

# Shared layers built (untimed per query) before each scale's rows. The
# other registered layers (doc_gram_df, simhash_cand, drift_wire_lines, ...)
# stay inside the rows of the queries that read them, so those rows' 1x->Nx
# factors keep measuring the layer's growth (SCALING.md).
PREBUILT_LAYERS = (
    "doc_ngrams",
    "doc_occurrences",
    "doc_bands",
    "doc_grams8",
    "kmeans_centroids",
    "pca_fit",
    "pq_trio",
    "doc_winnow_fps",
)


def scale_dir(replicas: int) -> str:
    return f"/tmp/spark_graft_scale{replicas}"

QUERIES = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_exact_substring",
    "text_unigram_nll",
    "benchmark_contamination",
    "contamination_bloom_prefilter",
    "corpus_curation_v2",
    "semantic_dedup",
    "ann_ivf_kmeans_topk",
    "bpe_merge_steps",
    "quality_curriculum",
    "corpus_manifest",
    "token_count_min_sketch",
    "embedding_covariance",
    # round-5 families
    "embedding_pca_top2",
    "bpe_apply_tokens",
    "quality_classifier_train",
    "pack_documents_ffd",
    "vocab_hll_audit",
    "source_quota_admission",
    "basket_part_pairs",
    "event_type_pagerank",
    "covariance_incremental",
    "embedding_outliers",
    "ann_pq_topk",
    "ann_pq_recall_audit",
    # round-5 continued
    "ann_ivfpq_topk",
    "boilerplate_segment_removal",
    "ann_truncated_recall_audit",
    # round-6 families (documents/embeddings-based; the symlinked tables'
    # queries would measure nothing here)
    "tfidf_cosine_pairs",
    "hybrid_rank_fusion",
    "hybrid_recall_audit",
    "pii_redaction_audit",
    "boilerplate_incremental",
    "doc_winnowing_fingerprints",
    "dedup_winnowing_pairs",
    "quality_classifier_apply",
    "dedup_prefix_filter_pairs",
    "span_corruption_plan",
    # round-6 second wave
    "heavy_hitters_misra_gries",
    "dedup_containment_pairs",
    "semantic_decontam_audit",
    "dedup_sorted_neighborhood",
    "contrastive_negatives_plan",
    "dedup_graph_shape_audit",
    # round-7 (embeddings-based; the events-based late/rank queries would
    # measure nothing against the symlinked events table)
    "ann_staleness_audit",
    # round-8 (documents-based; the events/orders-keyed KW/CUSUM/drift/
    # k-anonymity/profile queries would measure nothing here)
    "text_kneser_ney_nll",
    "length_quality_kendall",
    "multimodal_decoded_parity",
    "dedup_winnowing_incremental",
    # round-9 (documents-based)
    "dedup_snm_multipass",
    "pipeline_end_to_end",
    "semantic_dedup_incremental",
    "perplexity_bucket_plan",
    "doc_chunk_plan",
    "golden_record_survivorship",
    "length_mad_gate",
    "dedup_edit_distance_verify",
    # round-9 continuation (documents-based; the events/orders-keyed trend,
    # constraint, and bootstrap queries would measure nothing here)
    "dedup_minhash_oph",
    "source_token_js",
    "text_pmi_collocations",
    "token_good_turing",
    "source_lexical_diversity",
    # round-10 (documents/embeddings-based; the orders/events-keyed spread,
    # hazard, ACF, entropy, Pareto and ABC queries would measure nothing
    # against the symlinked fixtures)
    "gram_novelty_curve",
    "text_mattr",
    "quality_filter_funnel",
    "lm_dirichlet_ranking",
    "dedup_minhash_calibration",
    # round-11 (documents/embeddings-based; the orders/events-keyed HHI,
    # tombstone, leakage and Benford queries would measure nothing here)
    "dedup_oph_calibration",
    "dedup_simhash_calibration",
    "source_hapax_profile",
    "dedup_quality_interaction",
    "token_budget_frontier",
    "ann_pq_distortion_by_cluster",
    "dedup_mixture_shift",
    "contamination_by_source",
    "corpus_dedup_summary",
    # round-12: the two r11 late-landers (VERDICT missing #3) — events are
    # now replicated too (marker v2), so the Markov query measures a real
    # 10x behavioral corpus
    "event_markov_nll",
    "text_jm_lambda_grid",
    # round-12 additions (documents/embeddings/events-based)
    "event_session_gap_curve",
    "cdc_erasure_roundtrip",
    "doc_nll_outlier_fences",
    "pack_efficiency_audit",
    "embedding_intrinsic_dim",
    "ann_probe_recall_curve",
    "retrieval_rank_agreement",
    "lang_source_association",
    "cdc_apply_idempotence",
]


def build_scale_corpus(spark, replicas: int) -> None:
    from pyspark.sql import functions as F

    SCALE_DIR = scale_dir(replicas)
    # marker v2: events are replicated too (r12 — the Markov/behavioral
    # queries need a real 10x events corpus, not a symlink); a v1 corpus
    # on disk is rebuilt so its symlinked events can't silently measure 1x
    if os.path.exists(os.path.join(SCALE_DIR, "_SUCCESS_MARKER_v2")):
        return
    import shutil

    if os.path.exists(SCALE_DIR):
        shutil.rmtree(SCALE_DIR)
    os.makedirs(SCALE_DIR, exist_ok=True)
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for r in range(replicas):
        if r == 0:
            parts.append(docs)
            continue
        suffixed = docs.select(
            (F.col("doc_id") + r * n_docs).alias("doc_id"),
            # remap every token with a replica suffix: replicas share NOTHING
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                    lambda x: F.concat(x, F.lit(f"_r{r}")),
                ),
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        parts.append(suffixed)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    stage = os.path.join(SCALE_DIR, "docs_stage")
    out.repartition(32).write.mode("overwrite").parquet(stage)
    # fixtures are single files named <table>.parquet; here a DIRECTORY is
    # fine — load_table reads the path it is given
    os.replace(stage, os.path.join(SCALE_DIR, "documents.parquet"))

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    eparts = [emb] + [
        emb.select((F.col("vec_id") + r * n_vec).alias("vec_id"), "embedding", "label")
        for r in range(1, replicas)
    ]
    eo = eparts[0]
    for p in eparts[1:]:
        eo = eo.unionByName(p)
    estage = os.path.join(SCALE_DIR, "emb_stage")
    eo.repartition(8).write.mode("overwrite").parquet(estage)
    os.replace(estage, os.path.join(SCALE_DIR, "embeddings.parquet"))

    # events: replicate with remapped event ids, DISJOINT user ids and a
    # replica-suffixed type vocabulary — per-replica behavioral structure
    # (per-user sequences, transition matrix, temporal span) is identical
    # to the original and replicas share nothing, the same fairness
    # doctrine as the token remap above (plain copies would interleave
    # duplicate timestamps inside one user's sequence and measure a
    # pathological total order instead)
    ev = spark.read.parquet(f"{BASE}/events.parquet")
    n_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    n_usr = ev.agg(F.max("user_id")).collect()[0][0] + 1
    vparts = [ev] + [
        ev.select(
            (F.col("event_id") + r * n_ev).alias("event_id"),
            "ts",
            (F.col("user_id") + r * n_usr).alias("user_id"),
            F.concat(F.col("event_type"), F.lit(f"_r{r}")).alias("event_type"),
            "value",
            "props",
        )
        for r in range(1, replicas)
    ]
    vo = vparts[0]
    for p in vparts[1:]:
        vo = vo.unionByName(p)
    vstage = os.path.join(SCALE_DIR, "ev_stage")
    vo.repartition(16).write.mode("overwrite").parquet(vstage)
    os.replace(vstage, os.path.join(SCALE_DIR, "events.parquet"))

    # remaining tables: symlink the originals (unused by the doc families)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        dst = os.path.join(SCALE_DIR, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    open(os.path.join(SCALE_DIR, "_SUCCESS_MARKER_v2"), "w").write("ok")


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    subset = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    from pyspark.sql import DataFrame

    from postgres_cdc_example_spark import queries as q
    from postgres_cdc_example_spark.layers import LAYERS
    from postgres_cdc_example_spark.session import get_spark

    spark = get_spark(app_name="bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()

    SCALE_DIR = scale_dir(replicas)
    queries = [n for n in QUERIES if subset is None or n in subset]
    print(f"# building {replicas}x corpus in {SCALE_DIR}", file=sys.stderr)
    build_scale_corpus(spark, replicas)

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    results = {}
    for sf_dir, tag in ((BASE, "1x"), (SCALE_DIR, f"{replicas}x")):
        t0 = time.perf_counter()
        for name in PREBUILT_LAYERS:
            val = LAYERS[name](spark, sf_dir)
            if isinstance(val, DataFrame):
                val.count()
        layer = time.perf_counter() - t0
        results[("_layer_build", tag)] = layer
        print(f"# layer build {tag}: {layer:.1f}s", file=sys.stderr)
        for name in queries:
            ts = []
            for _ in range(2):
                t0 = time.perf_counter()
                force(registry[name](spark, sf_dir))
                ts.append(time.perf_counter() - t0)
            results[(name, tag)] = min(ts)
            print(f"# {name} {tag}: {min(ts):.2f}s", file=sys.stderr)

    print(f"{'query':34s} {'1x':>8s} {replicas:>6d}x  factor")
    for name in ["_layer_build"] + queries:
        a, b = results[(name, "1x")], results[(name, f"{replicas}x")]
        print(f"{name:34s} {a:8.2f} {b:7.2f}  {b / a:5.1f}x")


if __name__ == "__main__":
    main()
