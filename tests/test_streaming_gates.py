"""Stateless ingest gates: the streaming decontamination filter must admit
exactly the batch-eligible set over a replayed corpus, across a restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from postgres_cdc_example_spark.queries import REGISTRY
from postgres_cdc_example_spark.queries.llmdata import BENCH_MOD
from postgres_cdc_example_spark.sources.tables import load_table
from postgres_cdc_example_spark.streaming.gates import (
    benchmark_bitmap,
    decontamination_gate,
)
from tests.test_stateful_streaming import _drain


def test_decontamination_gate_stream_matches_batch_eligible(spark, sf_dir, tmp_path):
    """Replay the corpus split in two micro-batches with a RESTART between
    drains (shared checkpoint): the admitted doc_id set must equal the
    batch eligible set — corpus minus ``contamination_bloom_prefilter``'s
    flagged docs — because the gate is stateless over a frozen bitmap.
    Both directions pinned: every flagged doc blocked, every clean doc
    admitted exactly once."""
    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    words = benchmark_bitmap(spark, sf_dir)

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    corpus.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    emitted: list = []
    _drain(decontamination_gate(stream, words), ckpt, emitted)
    n_first = len(emitted)
    corpus.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(
        src
    )
    _drain(decontamination_gate(stream, words), ckpt, emitted)
    assert n_first and len(emitted) > n_first, "both halves must admit docs"

    admitted = [r.doc_id for r in emitted]
    assert len(admitted) == len(set(admitted)), "restart must not re-admit"

    flagged = {
        r.doc_id
        for r in REGISTRY["contamination_bloom_prefilter"].fn(spark, sf_dir).collect()
    }
    assert flagged, "fixture must actually block something (non-vacuous)"
    want = {r.doc_id for r in corpus.select("doc_id").collect()} - flagged
    assert set(admitted) == want


def test_decontamination_gate_is_stateless_projection(spark, sf_dir):
    """The gate's batch-DataFrame plan must be a pure scan+filter: no
    Exchange, no state store, no Python eval — the property that makes the
    restart-consistency argument trivial."""
    from postgres_cdc_example_spark.plans.inspect import explain_str, has_exchange

    docs = load_table(spark, "documents", sf_dir)
    gated = decontamination_gate(docs, benchmark_bitmap(spark, sf_dir))
    plan = explain_str(gated)
    assert not has_exchange(gated), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quota_gate_stream_matches_batch_admission(spark, sf_dir, tmp_path):
    """Two doc_id-ordered micro-batches with a restart between: per-source
    admitted sets must equal the batch cum<=budget rule, a closed source
    must stay closed across the restart, and every doc gets exactly one
    verdict."""
    from postgres_cdc_example_spark.streaming.stateful import quota_gate_stream

    docs = load_table(spark, "documents", sf_dir)
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    emitted: list = []
    _drain(quota_gate_stream(stream), ckpt, emitted)
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode("append").parquet(src)
    _drain(quota_gate_stream(stream), ckpt, emitted)

    assert len(emitted) == docs.count(), "every doc gets exactly one verdict"
    got = {(r.source, r.doc_id): r.admitted for r in emitted}
    batch = REGISTRY["source_quota_admission"].fn(spark, sf_dir)
    want = {(r.source, r.doc_id): r.admitted for r in batch.collect()}
    assert got == want
    n_adm = sum(got.values())
    assert 0 < n_adm < len(got), "budget must genuinely bite (non-vacuous)"


def test_quota_gate_stream_flags_out_of_order_docs(spark, sf_dir, tmp_path):
    """Ordering violations must be OBSERVABLE, not silent: replay the
    HIGH-doc_id half first, then the low half. Every doc in the second
    batch arrives below the per-source high-watermark and must come back
    late=True / admitted=False, with the quota state untouched (the
    first batch's admissions are unchanged by the late arrivals)."""
    from postgres_cdc_example_spark.streaming.stateful import quota_gate_stream

    docs = load_table(spark, "documents", sf_dir)
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    emitted: list = []
    _drain(quota_gate_stream(stream), ckpt, emitted)
    first = {(r.source, r.doc_id): r for r in emitted}
    assert all(not r.late for r in first.values()), "in-order batch: no lates"
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.mode("append").parquet(src)
    _drain(quota_gate_stream(stream), ckpt, emitted)

    late = [r for r in emitted if r.late]
    assert late, "out-of-order replay must produce flagged rows"
    assert {r.doc_id for r in late} == {
        r.doc_id for r in docs.filter(F.col("doc_id") <= mid).collect()
    }, "exactly the below-watermark docs are flagged"
    assert all(not r.admitted for r in late), "late docs are never admitted"


def test_pq_encode_gate_stream_matches_batch_codes(spark, sf_dir, tmp_path):
    """Frozen-codebook PQ encoding at ingest: replay the embeddings in two
    micro-batches with a restart between — the stream-emitted (vec_id,
    cid, c0..c7) rows must equal the batch IVF-PQ encoder's codes exactly
    (stateless broadcast literals: no state store, nothing to drift)."""
    from postgres_cdc_example_spark.operators import similarity
    from postgres_cdc_example_spark.queries.extensions import _trained_ivfpq
    from postgres_cdc_example_spark.streaming.gates import pq_encode_gate

    emb = load_table(spark, "embeddings", sf_dir)
    cents, cb = _trained_ivfpq(spark, sf_dir)
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    emb.filter(F.col("vec_id") <= mid).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    emitted: list = []
    _drain(pq_encode_gate(stream, cb, cents), ckpt, emitted)
    n_first = len(emitted)
    emb.filter(F.col("vec_id") > mid).coalesce(1).write.mode("append").parquet(src)
    _drain(pq_encode_gate(stream, cb, cents), ckpt, emitted)
    assert n_first and len(emitted) > n_first, "both halves must emit codes"

    M = similarity.PQ_M
    got = {
        r.vec_id: (r.cid, tuple(r[f"c{s}"] for s in range(M))) for r in emitted
    }
    batch = similarity.pq_encode_base(
        similarity.ivfpq_residual_subvecs(emb, cents), cb, carry=("cid",)
    )
    want = {
        r.vec_id: (r.cid, tuple(r[f"c{s}"] for s in range(M)))
        for r in batch.collect()
    }
    assert got == want
    assert len({c for c, _ in got.values()}) > 1, "codes must span >1 coarse list"
