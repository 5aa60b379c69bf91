"""Degenerate-input robustness: empty frames, empty/whitespace text, and a
serial-replay check for the packing operator.

At 100 TB these aren't corner cases — some partition, some micro-batch,
some source WILL be empty or pathological, and an operator that throws on
it kills the whole job. Each test drives an operator family with the
degenerate shape it must absorb."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from postgres_cdc_example_spark.operators import dedup, similarity, text
from postgres_cdc_example_spark.operators.cdc_apply import apply_changes
from postgres_cdc_example_spark.queries import REGISTRY, _load_all
from postgres_cdc_example_spark.schemas import PERSON_SCHEMA
from postgres_cdc_example_spark.sources.tables import load_table

_load_all()

DOCS_SCHEMA = "doc_id long, text string, source string, lang string, n_chars long"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_cdc_apply_empty_changes_is_identity(spark, sf_dir):
    state = spark.createDataFrame(
        [(1, "a", "u1", 10, None)], PERSON_SCHEMA
    )
    changes = spark.createDataFrame(
        [], "action string, id int, name string, uid string, score int, "
        "created_at timestamp_ntz, seq long"
    )
    out = apply_changes(state, changes)
    assert [(r.id, r.name) for r in out.collect()] == [(1, "a")]


def test_cdc_apply_empty_state_applies_inserts(spark):
    state = spark.createDataFrame([], PERSON_SCHEMA)
    changes = spark.createDataFrame(
        [("I", 5, "n", "u", 7, None, 1)],
        "action string, id int, name string, uid string, score int, "
        "created_at timestamp_ntz, seq long",
    )
    out = apply_changes(state, changes)
    assert [(r.id, r.score) for r in out.collect()] == [(5, 7)]


def test_dedup_absorbs_empty_and_whitespace_docs(spark):
    docs = _docs(
        spark,
        [
            (1, "", "s", "en", 0),
            (2, "   ", "s", "en", 3),
            (3, "real words here", "s", "en", 15),
            (4, "real words here", "s", "en", 15),
        ],
    )
    # exact dedup groups the two empty-normalized docs and the two real ones
    exact = {(r.n_docs, r.keeper_id) for r in dedup.exact_dedup(docs).collect()}
    assert (2, 1) in exact and (2, 3) in exact
    # zero-token docs yield NO gram rows (documented tail rule) — and the
    # minhash pipeline over the remainder still runs
    grams = dedup.ngram_rows(docs)
    assert grams.filter(F.col("doc_id").isin(1, 2)).count() == 0
    assert dedup.minhash_lsh_pairs(docs, shingles=grams).count() >= 1


def test_exact_substring_absorbs_short_and_empty_docs(spark):
    """Docs shorter than the run width yield no positional grams (no
    complete window exists) and the span pipeline still runs over the rest;
    two docs sharing a full 20-token run produce exactly one maximal span
    covering it."""
    run = " ".join(f"w{i}" for i in range(25))
    docs = _docs(
        spark,
        [
            (1, "", "s", "en", 0),
            (2, "too short", "s", "en", 9),
            (3, run + " tail-a extra-a", "s", "en", 0),
            (4, "head-b " + run, "s", "en", 0),
        ],
    )
    assert (
        dedup.positional_gram_rows(docs).filter(F.col("doc_id").isin(1, 2)).count()
        == 0
    )
    spans = dedup.exact_substring_spans(docs).collect()
    assert [(r.doc_a, r.doc_b, r.a_start, r.b_start, r.run_tokens) for r in spans] == [
        (3, 4, 1, 2, 25)
    ]


def test_substring_removal_policies(spark):
    """Single-pass removal semantics pinned: the span is cut from the LATER
    doc only; a doc that is one big duplicated run empties entirely (hash of
    the empty stream); empty/short docs pass through untouched."""
    run = " ".join(f"w{i}" for i in range(20))
    docs = _docs(
        spark,
        [
            (1, "", "s", "en", 0),
            (2, "too short", "s", "en", 9),
            (3, "lead-in " + run + " tail-a", "s", "en", 0),
            (4, run, "s", "en", 0),  # doc 4 IS the duplicated run -> empties
        ],
    )
    rows = {
        r.doc_id: (r.n_tokens_before, r.n_tokens_after, r.n_tokens_removed, r.n_spans)
        for r in dedup.substring_removal(docs).collect()
    }
    assert rows[1] == (0, 0, 0, 0)
    assert rows[2] == (2, 2, 0, 0)
    assert rows[3] == (22, 22, 0, 0), "first occurrence (lower id) keeps the span"
    assert rows[4] == (20, 0, 20, 1), "later doc loses the whole duplicated run"


def test_average_hash_empty_payload_is_zero(spark):
    from postgres_cdc_example_spark.operators import multimodal

    docs = _docs(spark, [(1, "", "s", "en", 0), (2, "some real text here", "s", "en", 19)])
    rows = {
        r.doc_id: (r.n_bytes, r.phash_hi, r.phash_lo)
        for r in multimodal.average_hash(multimodal.with_payload(docs)).collect()
    }
    assert rows[1] == (0, 0, 0)
    assert rows[2][0] == 19 and (rows[2][1], rows[2][2]) != (0, 0)


def test_text_ops_absorb_empty_text(spark):
    docs = _docs(spark, [(1, "", "s", "en", 0), (2, "one word", "s", "en", 8)])
    stats = {r.doc_id: r.n_tokens for r in text.token_stats(docs).collect()}
    assert stats[1] == 0 and stats[2] == 2


def test_quality_score_excludes_zero_token_docs(spark, sf_dir):
    """The linear gate divides by n_tokens — zero-token docs must be
    filtered out, not produce NULL/NaN rows."""
    fn = REGISTRY["quality_linear_score"].fn
    out = fn(spark, sf_dir)
    assert out.filter(F.col("n_tokens") <= 0).count() == 0
    assert out.filter(F.col("quality_micro").isNull()).count() == 0


def test_pack_documents_matches_serial_greedy_replay(spark, sf_dir):
    """The windowed pack assignment must equal a driver-side serial greedy
    fold over (bucket, doc_id) order — the independent formulation of the
    same semantics (the SCD2-style property check, applied to packing)."""
    fn = REGISTRY["pack_documents"].fn
    got = {
        (r.bucket, r.pack_id): (r.n_docs, r.pack_tokens)
        for r in fn(spark, sf_dir).collect()
    }

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("bucket"),
        F.size(dedup.word_tokens(F.col("text"))).alias("n_toks"),
    )
    want: dict = {}
    cum: dict = {}
    for r in docs.orderBy("bucket", "doc_id").collect():
        start = cum.get(r.bucket, 0)
        pack = start // 2048
        cum[r.bucket] = start + r.n_toks
        n, tot = want.get((r.bucket, pack), (0, 0))
        want[(r.bucket, pack)] = (n + 1, tot + r.n_toks)
    assert got == want


def test_pack_ffd_exact_arm_matches_serial_and_beats_running_sum(spark, sf_dir):
    """The exact arm must equal an INDEPENDENT linear-scan first-fit
    replay (the segment tree is an optimization, not a semantic), keep
    every bin within capacity, and use no more bins than the running-sum
    baseline (FFD's whole point)."""
    from postgres_cdc_example_spark.queries.extensions import FFD_CAP

    fn = REGISTRY["pack_documents_ffd"].fn
    got = {(r.doc_id): (r.n_toks, r.bin_id, r.bin_fill) for r in fn(spark, sf_dir).collect()}

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.size(dedup.word_tokens(F.col("text"))).alias("n_toks")
    )
    items = sorted(
        ((r.doc_id, r.n_toks) for r in docs.collect()), key=lambda x: (-x[1], x[0])
    )
    rem: list = []
    assign: dict = {}
    for did, nt in items:
        for ix in range(len(rem)):
            if rem[ix] >= nt:
                rem[ix] -= nt
                assign[did] = (nt, ix + 1)
                break
        else:
            rem.append(FFD_CAP - nt)
            assign[did] = (nt, len(rem))
    fills: dict = {}
    for nt, b in assign.values():
        fills[b] = fills.get(b, 0) + nt
    want = {d: (nt, b, fills[b]) for d, (nt, b) in assign.items()}
    assert got == want
    assert all(f <= FFD_CAP for f in fills.values())

    # utilization: no worse than a doc_id-order running-sum bucketer
    cum, baseline_bins = 0, 0
    for _, nt in sorted(items):
        if baseline_bins == 0 or cum + nt > FFD_CAP:
            baseline_bins += 1
            cum = 0
        cum += nt
    assert len(rem) <= baseline_bins


def test_pack_ffd_harmonic_arm_properties(spark, sf_dir):
    """The distributed >threshold arm: deterministic, every doc assigned
    exactly once, per-bin fill <= cap by the k-per-bin construction, and
    the bin_fill audit column equals the true per-bin sum."""
    from postgres_cdc_example_spark.queries.extensions import (
        FFD_CAP,
        _pack_documents_ffd,
    )

    out1 = sorted(map(tuple, _pack_documents_ffd(spark, sf_dir, driver_max=0).collect()))
    out2 = sorted(map(tuple, _pack_documents_ffd(spark, sf_dir, driver_max=0).collect()))
    assert out1 == out2, "distributed packing must be deterministic"
    n_docs = load_table(spark, "documents", sf_dir).count()
    assert len(out1) == n_docs
    assert len({r[0] for r in out1}) == n_docs
    fills: dict = {}
    for _, nt, b, _bf in out1:
        fills[b] = fills.get(b, 0) + nt
    for _, _, b, bf in out1:
        assert bf == fills[b], "bin_fill audit must equal the true bin sum"
    assert all(f <= FFD_CAP for f in fills.values())


def test_gram_oracles_survive_empty_docs(spark, sf_dir, tmp_path):
    """The divergence class the round-3 self-review found: a zero-token
    document must behave identically in the Spark operators (ngram_rows
    emits no gram rows) and every gram-based DuckDB oracle (guarded with
    len(tk) >= 1). Build a fixture that actually CONTAINS empty and
    whitespace-only docs — including an empty BENCHMARK doc (doc_id % 20
    == 0) — and run full oracle parity for the whole gram family over it."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_empty"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    extra = spark.createDataFrame(
        [
            (100001, "", "en", "srcE", 0),
            (100003, "   ", "en", "srcE", 3),
            (100020, "", "en", "srcE", 0),  # % 20 == 0: empty BENCHMARK doc
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # fixtures are single FILES named <table>.parquet; Spark writes a dir,
    # so stage and move the lone part file into place
    stage = str(tmp_path / "docs_stage")
    docs.unionByName(extra).coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.replace(os.path.join(stage, part), mini / "documents.parquet")

    for name in [
        "dedup_minhash_lsh",
        "dedup_incremental",
        "dedup_ngram_jaccard",
        "dedup_clusters",
        "common_ngram_spans",
        "doc_novelty",
        "benchmark_contamination",
        "corpus_curation_v2",
        "dedup_exact",
        # round-4 additions over the same documents fixture — including an
        # empty BENCHMARK doc hitting the bloom build and the gram family
        "contamination_bloom_prefilter",
        "text_mixed_language",
        "quality_curriculum",
        "corpus_manifest",
        "token_count_min_sketch",
        "vocab_zipf_slope",
        "lsh_band_bucket_stats",
        "lsh_recall_audit",
        "mixture_epoch_plan",
        # round-8 additions over the same degenerate fixture: single-token
        # docs carry no bigrams (KN), zero-token docs are excluded from the
        # quality grid (kendall), empty text still md5-derives pixels
        # (decoded parity), and the winnowing delta slice absorbs the
        # empties
        "text_kneser_ney_nll",
        "length_quality_kendall",
        "multimodal_decoded_parity",
        "dedup_winnowing_incremental",
    ]:
        q = REGISTRY[name]
        compare_to_oracle(spark, str(mini), q.fn, q.oracle)


def test_location_tests_survive_single_event_type(spark, sf_dir, tmp_path):
    """Degenerate cohort shapes for the location tests: an events table
    with ONE event type (k = 1 for Kruskal-Wallis; an empty 'view' cohort
    for Mann-Whitney) must produce the documented degenerate outputs
    IDENTICALLY in both engines — KW reports no-reject (k <= 1 guard), MW's
    rank-biserial is NULL in both (the empty-cohort guard; Spark's NULL
    division vs DuckDB's IEEE inf was the r8 ADVICE divergence), and CUSUM
    still locates its change-point on the surviving series."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_onetype"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        "event_type = 'purchase'"
    )
    stage = str(tmp_path / "ev_stage")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.replace(os.path.join(stage, part), mini / "events.parquet")

    for name in (
        "value_location_kruskalwallis",
        "value_location_mannwhitney",
        "event_volume_cusum",
    ):
        q = REGISTRY[name]
        compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    kw = REGISTRY["value_location_kruskalwallis"].fn(spark, str(mini)).first()
    assert kw.n_groups == 1 and kw.reject_same_location == 0
    mw = REGISTRY["value_location_mannwhitney"].fn(spark, str(mini)).first()
    assert mw.nb == 0 and mw.rank_biserial_micro is None
    assert mw.reject_same_location == 0


def test_bpe_equal_symbol_chains_match_oracle(spark, sf_dir, tmp_path):
    """Force the pa == pb merge (the run-chain case the fixture's top pairs
    never hit): a corpus dominated by equal-symbol runs must take the
    greedy FOLD branch (non-overlapping alternate merges inside each run)
    and still match the DuckDB list_reduce oracle exactly — including odd
    runs ('x x x' merges once, the tail survives) across all three
    unrolled steps."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_runs"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)

    rows = [
        (1, "x x x x x", "s0", "en", 9),       # run of 5: merges at 0,2; tail x
        (2, "x x x", "s0", "en", 5),           # odd run of 3
        (3, "x x y x x", "s0", "en", 9),       # two runs split by y
        (4, "y y y y", "s1", "en", 7),         # competing equal-symbol pair
        (5, "x y x y", "s1", "en", 7),         # alternating, no equal pair
        (6, "", "s1", "en", 0),                # empty doc through the fold
    ]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    stage = str(tmp_path / "docs_stage_runs")
    docs.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.replace(os.path.join(stage, part), mini / "documents.parquet")

    q = REGISTRY["bpe_merge_steps"]
    compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    got = {r.step: (r.pair, r.pair_count) for r in q.fn(spark, str(mini)).collect()}
    # step 1 learns the x|x chain (8 adjacent occurrences beats y|y's 3)
    assert got[1][0] == "x|x"


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:

    def _ref_bpe_merge(seq, pa, pb):
        """Serial greedy left-to-right non-overlapping merge — the
        independent reference both engine branches must equal."""
        out: list = []
        for t in seq:
            if out and out[-1] == pa and t == pb:
                out[-1] = out[-1] + " " + t
            else:
                out.append(t)
        return out

    @settings(
        max_examples=12,  # each example is a full Spark round-trip
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
        derandomize=True,
    )
    @given(
        seqs=st.lists(
            st.lists(st.sampled_from(["a", "b"]), max_size=10), min_size=1, max_size=8
        ),
        pa=st.sampled_from(["a", "b"]),
        pb=st.sampled_from(["a", "b"]),
    )
    def test_property_bpe_rewrite_matches_serial_merge(spark, seqs, pa, pb):
        """For ANY sequences over a dense 2-symbol alphabet and ANY merge
        pair — including pa == pb chains and empty sequences — BOTH engine
        formulations (the closed-form pa != pb transform and the pa == pb
        fold, selected inside bpe_rewrite_expr) must equal the serial
        Python merge. Hypothesis shrinks any counterexample to a minimal
        sequence."""
        from postgres_cdc_example_spark.queries.llmdata import bpe_rewrite_expr

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(seqs)], "id long, s array<string>"
        ).select("id", "s", F.lit(pa).alias("pa"), F.lit(pb).alias("pb"))
        got = {
            r.id: list(r.m)
            for r in df.select("id", bpe_rewrite_expr().alias("m")).collect()
        }
        want = {i: _ref_bpe_merge(s, pa, pb) for i, s in enumerate(seqs)}
        assert got == want


def test_classifier_training_loss_decreases_and_weights_move(spark, sf_dir):
    """The GD chain must actually LEARN on the fixture: pre-update MSE
    strictly decreases step over step (step 1's row records the loss at
    zero weights, so each later row must improve on it), and the weights
    move monotonically away from zero in the first steps."""
    fn = REGISTRY["quality_classifier_train"].fn
    rows = sorted(fn(spark, sf_dir).collect(), key=lambda r: r.step)
    assert len(rows) == 3
    mses = [r.mse_micro2 for r in rows]
    assert mses[0] > mses[1] > mses[2], f"loss must strictly decrease: {mses}"
    assert rows[0].bias_micro != 0, "step 1 must move the bias off zero"
    assert all(r.n_train > 0 for r in rows)


def _write_empty_tables(spark, sf_dir, out_dir, tables):
    """Zero-row parquet fixtures with the real tables' schemas."""
    for t in tables:
        load_table(spark, t, sf_dir).limit(0).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )


def test_quantiles_2pass_empty_orders_returns_empty(spark, sf_dir, tmp_path):
    """An empty orders table has no rank-k values: the two-pass quantile
    query must return a 0-row frame with the result schema instead of
    raising at plan-construction time (min() over no target buckets)."""
    _write_empty_tables(spark, sf_dir, str(tmp_path), ["orders"])
    out = REGISTRY["order_value_quantiles_2pass"].fn(spark, str(tmp_path))
    assert out.columns == ["quantile_pct", "value_cents", "target_rank", "n_orders"]
    assert out.count() == 0


def test_pq_ann_empty_embeddings_returns_empty(spark, sf_dir, tmp_path):
    """PQ / IVF-PQ over an empty embeddings table: no codebook can train
    and no query sample exists — both searches must return the empty ANN
    result frame, not an invalid explode(array()) plan or IndexError."""
    _write_empty_tables(spark, sf_dir, str(tmp_path), ["embeddings"])
    for name in ("ann_pq_topk", "ann_ivfpq_topk"):
        out = REGISTRY[name].fn(spark, str(tmp_path))
        assert out.columns == ["q_id", "nbr_id", "pq_dist", "rank"], name
        assert out.count() == 0, name


def test_pq_ann_short_corpus_trains_short_codebook(spark, sf_dir, tmp_path):
    """A corpus smaller than PQ_K (16) init vectors yields a shorter
    codebook; search must size its ADC tables to the trained codebook
    (len(cb[0])), not the configured K — and still return neighbors."""
    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 5)
    emb.write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "embeddings.parquet")
    )
    out = REGISTRY["ann_pq_topk"].fn(spark, str(tmp_path)).collect()
    assert out, "5-vector corpus must still produce neighbor rows"
    qids = {r.q_id for r in out}
    assert qids, qids
    for r in out:
        assert r.q_id != r.nbr_id


def test_pii_redaction_residual_is_zero_and_nonvacuous(spark, sf_dir):
    """The compliance contract: every affected doc re-scans to literally
    ZERO residual hits after redaction, all three detector classes fire
    somewhere in the corpus, and untouched docs never appear."""
    rows = REGISTRY["pii_redaction_audit"].fn(spark, sf_dir).collect()
    assert rows, "injection must affect a nonempty doc subset"
    assert all(r.residual_hits == 0 for r in rows), "redaction left PII behind"
    assert sum(r.n_email for r in rows) > 0
    assert sum(r.n_uuid for r in rows) > 0
    assert sum(r.n_digit_run for r in rows) > 0
    assert all(r.n_email + r.n_uuid + r.n_digit_run > 0 for r in rows)


# ---------------------------------------------------------------------------
# round 9 continuation: trend family, constraint audits, OPH
# ---------------------------------------------------------------------------


def _stage_single_parquet(spark_df, tmp_path, mini, table, stage_name):
    stage = str(tmp_path / stage_name)
    spark_df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.replace(os.path.join(stage, part), mini / f"{table}.parquet")


def test_ewma_constant_series_is_exact_identity(spark, sf_dir, tmp_path):
    """A constant daily series must report ewma ≡ c (milli = 1000·c) from
    the FIRST day — this pins the partial-window normalization (the sum of
    the weights actually present, 2^W - 2^(W-1-t)); the naive 2^(t+1)-1
    denominator inflates early EWMAs 512× and flags day one a 'dip'."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_const"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)
    rows = [
        (i * 5 + j, f"2024-03-{i + 1:02d} 12:00:0{j}", 7, "click", 1.0, "{}")
        for i in range(4)
        for j in range(5)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string"
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    _stage_single_parquet(ev, tmp_path, mini, "events", "ev_stage")
    q = REGISTRY["event_ewma_anomaly"]
    compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    out = q.fn(spark, str(mini)).collect()
    assert len(out) == 4
    for r in out:
        assert r.ewma_milli == 5000, (r.day, r.ewma_milli)
        assert r.spike == 0 and r.dip == 0


def test_trend_family_single_day_degenerates_honestly(spark, sf_dir, tmp_path):
    """One-day grids: Theil-Sen has no pairs (EMPTY result in both engines
    — 'no trend estimable'), Mann-Kendall reports S=0/no-reject (the
    COALESCE keeps S an honest 0, not NULL), the runs test reports one run
    and no-reject, Ljung-Box has no realizable lags (empty)."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_oneday"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        "CAST(date_trunc('day', ts) AS DATE) = (SELECT min(CAST(date_trunc('day', ts) AS DATE)) FROM {})".format(
            "parquet.`" + sf_dir + "/events.parquet`"
        )
    )
    _stage_single_parquet(ev, tmp_path, mini, "events", "ev1_stage")
    for name in (
        "theilsen_daily_trend",
        "mann_kendall_trend",
        "volume_ljung_box",
        "volume_runs_test",
    ):
        q = REGISTRY[name]
        compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    assert REGISTRY["theilsen_daily_trend"].fn(spark, str(mini)).count() == 0
    mk = REGISTRY["mann_kendall_trend"].fn(spark, str(mini)).first()
    assert mk.s_stat == 0 and mk.reject_no_trend == 0 and mk.trend == 0
    rt = REGISTRY["volume_runs_test"].fn(spark, str(mini)).first()
    assert rt.runs == 1 and rt.reject_random == 0
    assert REGISTRY["volume_ljung_box"].fn(spark, str(mini)).count() == 0


def test_fd_audit_catches_planted_violation(spark, sf_dir, tmp_path):
    """Plant a PK violation (same o_orderkey, different o_custkey): the FD
    o_orderkey→o_custkey must flip to holds=0 with the violator counted,
    and o_orderkey must drop out of the key candidates — in BOTH engines."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_fdviol"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    first = orders.orderBy("o_orderkey").limit(1)
    clash = first.select(
        "o_orderkey",
        (F.col("o_custkey") + 1).alias("o_custkey"),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    _stage_single_parquet(
        orders.unionByName(clash), tmp_path, mini, "orders", "ord_stage"
    )
    for name in ("orders_fd_audit", "orders_key_candidates"):
        q = REGISTRY[name]
        compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    fd = {
        r.fd: r for r in REGISTRY["orders_fd_audit"].fn(spark, str(mini)).collect()
    }
    row = fd["o_orderkey->o_custkey"]
    assert row.holds == 0 and row.n_violating == 1 and row.max_dependents == 2
    keys = {
        r.candidate: r
        for r in REGISTRY["orders_key_candidates"].fn(spark, str(mini)).collect()
    }
    assert keys["o_orderkey"].is_key == 0
    assert keys["o_orderkey"].n_dup_rows == 1


def test_oph_finds_planted_near_duplicate(spark, sf_dir, tmp_path):
    """Plant a near-duplicate (one word substituted mid-document): OPH must
    surface the pair with exact-verified Jaccard ≥ 0.5, matching the DuckDB
    oracle on the same fixture — the same contract the classic minhash
    query honors."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_ophdup"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    base = docs.orderBy("doc_id").first()
    words = base.text.split()
    words[len(words) // 2] = "substituted"
    near = spark.createDataFrame(
        [(900001, " ".join(words), base.lang, base.source, len(base.text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _stage_single_parquet(
        docs.unionByName(near), tmp_path, mini, "documents", "doc_stage"
    )
    q = REGISTRY["dedup_minhash_oph"]
    compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    pairs = {
        (r.doc_a, r.doc_b): r.jac_micro for r in q.fn(spark, str(mini)).collect()
    }
    assert (base.doc_id, 900001) in pairs
    assert pairs[(base.doc_id, 900001)] >= 500000


def test_trend_family_detects_planted_monotone_trend(spark, sf_dir, tmp_path):
    """POSITIVE control for the trend family: a synthetic 20-day strictly
    increasing volume series (day k has 2k+3 events) must make
    Mann-Kendall reject no-trend with trend=+1, Theil-Sen report the
    exact slope 2 (every pairwise slope IS 2 — num/den = 2(j-i)/(j-i)),
    and the runs test reject randomness (perfect above/below-median
    separation gives exactly 2 runs). Degenerate-input tests prove the
    guards; this proves the POWER — a sign error in S or a mis-ordered
    median would silently pass every no-trend fixture."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_trend"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)
    rows = []
    eid = 0
    for day in range(20):
        for j in range(2 * day + 3):
            rows.append(
                (eid, f"2024-05-{day + 1:02d} 08:00:{j % 60:02d}", 1,
                 "click", 1.0, "{}")
            )
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string"
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    _stage_single_parquet(ev, tmp_path, mini, "events", "evtrend_stage")
    for name in ("theilsen_daily_trend", "mann_kendall_trend", "volume_runs_test"):
        q = REGISTRY[name]
        compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    ts = REGISTRY["theilsen_daily_trend"].fn(spark, str(mini)).first()
    assert ts.slope_milli == 2000 and ts.n_days == 20 and ts.n_pairs == 190
    mk = REGISTRY["mann_kendall_trend"].fn(spark, str(mini)).first()
    assert mk.trend == 1 and mk.s_stat == 190 and mk.reject_no_trend == 1
    rt = REGISTRY["volume_runs_test"].fn(spark, str(mini)).first()
    assert rt.runs == 2 and rt.reject_random == 1


def test_oph_adaptive_threshold_catches_short_doc_duplicate(
    spark, sf_dir, tmp_path
):
    """r9 ADVICE regression: a doc with only 3 distinct shingles occupies
    at most 3 of the 16 nibble buckets, so under the old fixed matches>=8
    rule even its EXACT duplicate could never become a candidate. The
    adaptive rule (2*matches >= min occupied) must surface the pair with
    verified Jaccard = 1.0, and both engines must agree on the whole
    result set for the planted fixture."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_ophshort"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    # 5 words -> 3 distinct 3-gram shingles -> <= 3 occupied buckets
    short = "alpha beta gamma delta epsilon"
    extra = spark.createDataFrame(
        [
            (900101, short, "en", "planted", len(short)),
            (900102, short, "en", "planted", len(short)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _stage_single_parquet(
        docs.unionByName(extra), tmp_path, mini, "documents", "ophshort_stage"
    )
    q = REGISTRY["dedup_minhash_oph"]
    compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    rows = {(r.doc_a, r.doc_b): r for r in q.fn(spark, str(mini)).collect()}
    assert (900101, 900102) in rows, "short-doc exact dup must be a candidate"
    r = rows[(900101, 900102)]
    assert r.jac_micro == 1_000_000 and r.common == r.size_a == r.size_b
    # precondition that makes this a regression test: the doc occupies
    # fewer buckets than the old fixed threshold of 8
    assert r.matches < 8


def test_source_token_js_single_source_degenerate_is_zero(
    spark, sf_dir, tmp_path
):
    """r9 ADVICE regression: with ONE source the rest-of-corpus mass is
    empty (t_r = 0), which used to drive lp_micro's ln-argument to
    0/0 = NaN — DuckDB errors on CAST(NaN AS BIGINT) while Spark
    non-ANSI-casts NaN to 0, so the engines diverged. Both arms are now
    guarded and a single-source corpus must report js_micro = 0 in BOTH
    engines (zero q-mass: the source IS the corpus, divergence 0)."""
    import shutil

    from tests.oracle_utils import compare_to_oracle

    mini = tmp_path / "sf_onesrc"
    mini.mkdir()
    for fname in os.listdir(sf_dir):
        shutil.copy(os.path.join(sf_dir, fname), mini / fname)
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(25)
        .withColumn("source", F.lit("only_source"))
    )
    _stage_single_parquet(docs, tmp_path, mini, "documents", "onesrc_stage")
    q = REGISTRY["source_token_js"]
    compare_to_oracle(spark, str(mini), q.fn, q.oracle)
    rows = q.fn(spark, str(mini)).collect()
    assert len(rows) == 1 and rows[0].source == "only_source"
    assert rows[0].js_micro == 0 and rows[0].n_tokens > 0


EMB_SCHEMA = "vec_id long, embedding array<float>"
V1 = [math.sin(i + 1.0) for i in range(64)]
V2 = [x + 0.1 * math.cos(i) for i, x in enumerate(V1)]


def _near_dup_by_fold(df):
    """The near-dup pairs as the nested-loop join and the JVM fold compute
    them: the reference the Arrow kernel must reproduce, rows or error."""
    base = similarity._normed(df)
    a = base.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = similarity.cosine_rounded(F.col("va"), F.col("na"), F.col("vb"), F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cos_r"))
        .filter(F.col("cos_r") >= 0.45)
    )


def _near_dup_pairs(spark, rows):
    """Kernel rows, asserted equal to the fold's (doubles compared with ==)."""
    df = spark.createDataFrame(rows, EMB_SCHEMA)
    got = sorted(tuple(r) for r in similarity.embedding_near_dup_pairs(df).collect())
    assert got == sorted(tuple(r) for r in _near_dup_by_fold(df).collect())
    return got


def test_cosine_kernel_null_vectors_make_no_pair(spark):
    holed = list(V2)
    holed[3] = None
    got = _near_dup_pairs(spark, [(1, V1), (2, V2), (3, None), (4, holed)])
    assert [(a, b) for a, b, _ in got] == [(1, 2)]


def test_cosine_kernel_pairs_only_equal_lengths(spark):
    """``zip_with`` pads the shorter vector with nulls, so a 32-dim row never
    pairs with a 64-dim one, even where it is the longer one's prefix."""
    got = _near_dup_pairs(spark, [(1, V1), (2, V1[:32]), (3, V2[:32])])
    assert [(a, b) for a, b, _ in got] == [(2, 3)]


def test_cosine_kernel_zero_vector_raises_like_the_fold(spark):
    rows = [(1, [0.0] * 64), (2, V1)]
    df = spark.createDataFrame(rows, EMB_SCHEMA)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _near_dup_by_fold(df).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        similarity.embedding_near_dup_pairs(df).collect()
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:  # without ANSI the division is null, and the pair is dropped
        assert _near_dup_pairs(spark, rows) == []
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_cosine_kernel_exact_duplicate_is_one(spark):
    assert _near_dup_pairs(spark, [(1, V1), (2, V1)]) == [(1, 2, 1.0)]


def test_cosine_kernel_empty_and_single_row_tables(spark):
    assert _near_dup_pairs(spark, []) == []
    assert _near_dup_pairs(spark, [(1, V1)]) == []


def test_cosine_kernel_refuses_a_side_over_the_broadcast_limit(spark):
    """The collected side obeys the session's broadcast limit, and the
    error names the scale path."""
    df = spark.createDataFrame([(1, V1), (2, V2)], EMB_SCHEMA)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1000")
    try:
        with pytest.raises(ValueError, match="IVF"):
            similarity.embedding_near_dup_pairs(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
