"""Extension-operator tests: oracle parity for every dedup / similarity /
text / multimodal query, plus behavioral checks the oracle can't express
(planted near-dup detection, LSH candidate ⊆ all-pairs soundness, stub
gating)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgres_cdc_example_spark import queries as q
from postgres_cdc_example_spark.operators import dedup, multimodal, similarity
from postgres_cdc_example_spark.sources.tables import load_table
from tests.oracle_utils import compare_to_oracle

EXTENSION_QUERIES = [
    "text_token_stats",
    "text_quality",
    "text_lang_id",
    "text_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "multimodal_features",
    "multimodal_frame_sample",
    "skew_salted_agg",
]


@pytest.mark.parametrize("name", EXTENSION_QUERIES)
def test_extension_matches_oracle(spark, sf_dir, name):
    registry = q.queries()
    oracles = q.oracle_sql()
    compare_to_oracle(spark, sf_dir, registry[name], oracles[name])


def test_minhash_finds_high_jaccard_pairs(spark, sf_dir):
    """Every exact-Jaccard ≥ 0.9 pair must survive LSH banding (at s=0.9 the
    4×4 banding miss probability is (1-0.9^4)^4 ≈ 1.6% per pair — the planted
    fixture dups are all well above it, so equality should hold here)."""
    docs = load_table(spark, "documents", sf_dir)
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.0).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    missed = exact - lsh
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


@pytest.mark.parametrize("max_df", [1, 2, dedup.MAX_DOC_FREQ])
def test_ngram_jaccard_gram_df_applies_max_df(spark, sf_dir, max_df):
    """The shared df-annotated layer input (``gram_df=``) must honour
    ``max_df`` exactly like the in-plan df aggregate does."""
    from postgres_cdc_example_spark.queries.extensions import _doc_gram_df

    docs = load_table(spark, "documents", sf_dir)

    def pairs(**kw):
        return sorted(
            tuple(r)
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.2, max_df=max_df, **kw
            ).collect()
        )

    in_plan = pairs()
    assert pairs(gram_df=_doc_gram_df(spark, sf_dir)) == in_plan
    if max_df == 1:  # a gram in one doc pairs nothing
        assert not in_plan
    if max_df == dedup.MAX_DOC_FREQ:
        assert in_plan, "fixture should contain planted near-duplicates"


def test_ivf_is_subset_quality_of_brute_force(spark, sf_dir):
    """IVF probe=1 returns ranked neighbors drawn from the query's cluster;
    each returned neighbor's cosine can't exceed the brute-force rank-1."""
    emb = load_table(spark, "embeddings", sf_dir)
    bf = {
        (r.q_id, r.rank): r.cos_r for r in similarity.brute_force_topk(emb).collect()
    }
    ivf = similarity.ivf_topk(emb).collect()
    assert ivf, "IVF should return neighbors"
    for r in ivf:
        assert r.cos_r <= bf[(r.q_id, 1)] + 1e-9


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must be invisible in the result: salted fact⋈dim == plain
    fact⋈dim (the dim replicated n_salts times meets each scattered row
    exactly once)."""
    from pyspark.sql import functions as F

    from postgres_cdc_example_spark.operators import skew

    ev = load_table(spark, "events", sf_dir)
    dim = ev.select("event_type").distinct().withColumn(
        "weight", F.length("event_type").cast("double")
    )
    plain = ev.join(dim, "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("wv")
    )
    salted = skew.salted_join(ev, dim).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum(F.col("value") * F.col("weight")), 4).alias("wv")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_multimodal_decode_codec_gating():
    # PNG/WAV decode via the stdlib path everywhere; formats that genuinely
    # need an external codec stay gated behind PIL / soundfile.
    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\xff\xd8\xff\xe0 jpeg bytes")
    if importlib.util.find_spec("soundfile") is None:
        with pytest.raises(NotImplementedError):
            multimodal.decode_audio(b"OggS not a wav")
    # malformed PNG is a loud ValueError, never silent garbage
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n truncated")


def test_frame_sample_covers_every_doc(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    frames = multimodal.sample_frames(multimodal.with_payload(docs))
    n_docs = docs.count()
    assert frames.select("doc_id").distinct().count() == n_docs
    assert frames.filter(frames.frame_idx % multimodal.FRAME_STRIDE != 0).count() == 0


def test_arrow_kernel_cosine_equals_jvm_fold(spark, sf_dir):
    """The all-pairs kernel's arithmetic (the in-order fold, the norms, one
    division) gives the JVM fold's raw cosines bit for bit, over every
    sf0.001 pair: rounding to 6 dp can then never differ."""
    emb = load_table(spark, "embeddings", sf_dir)
    side = similarity.collect_vectors(emb)
    ((ids, mt, nrm),) = similarity._by_length(
        side["vec_id"].combine_chunks(), side["embedding"].combine_chunks()
    ).values()
    raw = similarity._fold_pairs(mt, mt) / (nrm[:, None] * nrm)
    kernel = {
        (int(a), int(b)): raw[i, j]
        for i, a in enumerate(ids)
        for j, b in enumerate(ids)
        if a < b
    }
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    va, vb = similarity.as_double(F.col("va")), similarity.as_double(F.col("vb"))
    jvm = similarity.dot(va, vb) / (similarity.norm(va) * similarity.norm(vb))
    rows = a.join(b, F.col("ia") < F.col("ib")).select("ia", "ib", jvm.alias("raw")).collect()
    assert len(rows) == len(kernel) > 0
    assert all(kernel[(r.ia, r.ib)] == r.raw for r in rows)


def test_kmeans_centroids_deterministic_and_complete(spark, sf_dir):
    """k clusters, every vector assigned, and two runs agree exactly
    (deterministic init + rounded outputs)."""
    emb = load_table(spark, "embeddings", sf_dir)
    c1 = similarity.kmeans_centroids(emb).collect()
    assert len(c1) == similarity.N_CENTROIDS
    assert sum(r.n_members for r in c1) == emb.count()
    assert all(len(r.centroid_r) == 64 for r in c1)
    c2 = similarity.kmeans_centroids(emb).collect()
    assert sorted(map(tuple, c1)) == sorted(map(tuple, c2))


def test_hash_sample_is_partitioning_invariant(spark, sf_dir):
    """The whole point vs df.sample(): the sampled id set must not change
    when the data is repartitioned."""
    from postgres_cdc_example_spark.operators import sampling

    docs = load_table(spark, "documents", sf_dir)
    a = {r.doc_id for r in sampling.hash_sample(docs).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in sampling.hash_sample(docs.repartition(7)).select("doc_id").collect()
    }
    assert a == b and 0 < len(a) < docs.count()


def test_quantize_int8_error_bound(spark, sf_dir):
    """Symmetric int8: worst-case reconstruction error <= scale/2 per vector."""
    from postgres_cdc_example_spark.operators import sampling

    rows = sampling.quantize_int8(load_table(spark, "embeddings", sf_dir)).collect()
    assert rows
    for r in rows:
        assert r.max_abs_err_nano <= r.scale_nano / 2 + 1  # +1 for floor slack
        assert -127 <= r.q_first <= 127


def test_hyperplane_lsh_recall_and_consistency(spark, sf_dir):
    """Sign-LSH: every neighbor shares the query's bucket, and per query the
    result is EXACTLY the cosine ranking restricted to same-bucket
    candidates (recall vs global top-k is a property of the data — random
    fixture embeddings collide rarely — so correctness is bucket-local)."""
    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir)
    lsh = similarity.hyperplane_topk(emb).collect()
    assert lsh
    w = similarity.hyperplane_weights()
    assert len(w) == 8 and len(w[0]) == 64
    rows = (
        similarity._normed(emb)
        .withColumn("bucket", similarity.hyperplane_bucket(F.col("v"), w))
        .collect()
    )
    buckets = {r.vec_id: r.bucket for r in rows}
    vecs = {r.vec_id: np.array(r.v) for r in rows}
    for r in lsh:
        assert buckets[r.nbr_id] == buckets[r.q_id] == r.bucket
    got = {}
    for r in lsh:
        got.setdefault(r.q_id, []).append((r.rank, r.nbr_id))
    got = {q: [i for _, i in sorted(v)] for q, v in got.items()}
    for q_id, nbrs in got.items():
        cands = [i for i in vecs if i != q_id and buckets[i] == buckets[q_id]]
        qv = vecs[q_id]
        scored = sorted(
            (
                (
                    -round(
                        float(np.dot(qv, vecs[i]))
                        / (float(np.linalg.norm(qv)) * float(np.linalg.norm(vecs[i]))),
                        6,
                    ),
                    i,
                )
                for i in cands
            ),
        )[:5]
        assert nbrs == [i for _, i in scored]


def test_multiprobe_lsh_dominates_single_probe(spark, sf_dir):
    """Hamming-1 probing must (a) return a superset-or-equal recall vs
    single-probe against the exact top-5, (b) only return candidates whose
    bucket is within Hamming distance 1 of the query's."""
    emb = load_table(spark, "embeddings", sf_dir)
    single = {(r.q_id, r.nbr_id) for r in similarity.hyperplane_topk(emb).collect()}
    multi_rows = similarity.hyperplane_topk_multiprobe(emb).collect()
    multi = {(r.q_id, r.nbr_id) for r in multi_rows}
    exact = {(r.q_id, r.nbr_id) for r in similarity.brute_force_topk(emb).collect()}
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)
    w = similarity.hyperplane_weights()
    buckets = {
        r.vec_id: r.bucket
        for r in similarity._normed(emb)
        .withColumn("bucket", similarity.hyperplane_bucket(F.col("v"), w))
        .collect()
    }
    for r in multi_rows:
        assert bin(buckets[r.q_id] ^ buckets[r.nbr_id]).count("1") <= 1


def test_text_operators_survive_degenerate_docs(spark):
    """Empty strings, whitespace-only, single-char, and shorter-than-shingle
    docs must flow through every text/dedup stage without raising — the rows
    that crash a 100 TB job at hour nine. Contract: per-doc ops (exact
    dedup, token stats, quality) cover ALL docs; token-set ops (n-grams,
    simhash, minhash) cover exactly the token-bearing docs (zero-token docs
    are deliberately outside the Jaccard universe — see ngram_rows)."""
    from postgres_cdc_example_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "", "en", "s", 0),
            (2, "   ", "en", "s", 3),
            (3, "x", "en", "s", 1),
            (4, "one two", "en", "s", 7),  # < 3 tokens, < 8 chars normalized
            (5, "a perfectly ordinary document with enough words", "en", "s", 47),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    n = docs.count()
    tokened = {3, 4, 5}
    assert dedup.exact_dedup(docs).agg(F.sum("n_docs")).collect()[0][0] == n
    assert text.token_stats(docs).count() == n
    assert text.quality_score(docs).count() == n
    ng_docs = {r.doc_id for r in dedup.ngram_rows(docs).select("doc_id").distinct().collect()}
    assert ng_docs == tokened
    sig_docs = {
        r.doc_id
        for r in dedup.minhash_signatures(
            dedup.ngram_rows(docs).withColumnRenamed("g", "s")
        ).collect()
    }
    assert sig_docs == tokened
    sh_docs = {r.doc_id for r in dedup.simhash_buckets(docs).collect()}
    assert sh_docs == tokened
    # pair discovery must not crash and must never pair a zero-token doc
    pairs = dedup.minhash_lsh_pairs(docs).collect()
    for p in pairs:
        assert p.doc_a in tokened and p.doc_b in tokened
    # exact dedup groups the two empty-content docs together
    empties = [
        r for r in dedup.exact_dedup(docs).collect() if r.n_docs == 2
    ]
    assert len(empties) == 1 and empties[0].keeper_id == 1


def test_resize_payload_contracts(spark, sf_dir):
    """Resize: binary out through Arrow, sizes contracted by the scale
    factor, deterministic across runs, payload prefix preserved."""
    docs = load_table(spark, "documents", sf_dir)
    resized = multimodal.resize_payload(multimodal.with_payload(docs))
    rows = resized.collect()
    assert len(rows) == docs.count()
    import hashlib
    import math as m

    for r in rows:
        assert r.n_bytes == max(m.ceil(r.orig_bytes * 0.5), 1)
        assert len(r.payload) == r.n_bytes
        assert hashlib.md5(bytes(r.payload)).hexdigest() == r.resized_md5
    again = {r.doc_id: r.resized_md5 for r in resized.collect()}
    assert again == {r.doc_id: r.resized_md5 for r in rows}


def test_leakage_safe_split_never_straddles_near_dup_pairs(spark, sf_dir):
    """The property the split exists for: every LSH-verified near-dup pair
    lands wholly inside one split, and every document gets exactly one
    assignment with all three splits populated."""
    from postgres_cdc_example_spark.queries.extensions import (
        _doc_ngrams,
        split_leakage_safe,
    )

    docs = load_table(spark, "documents", sf_dir)
    rows = split_leakage_safe(spark, sf_dir).collect()
    split_of = {r.doc_id: r.split for r in rows}
    assert len(rows) == docs.count() == len(split_of)
    assert {r.split for r in rows} == {"train", "val", "test"}
    pairs = dedup.minhash_lsh_pairs(
        docs, shingles=_doc_ngrams(spark, sf_dir)
    ).collect()
    assert pairs, "fixture should contain near-dup pairs"
    for p in pairs:
        assert split_of[p.doc_a] == split_of[p.doc_b], (
            f"near-dup pair ({p.doc_a},{p.doc_b}) straddles splits "
            f"{split_of[p.doc_a]}/{split_of[p.doc_b]} — leakage"
        )


def test_lang_injection_devacuizes_confusion_and_code_switch(spark, sf_dir):
    """The injected eval corpus must make the language surface
    NON-DEGENERATE (the r6 verdict's all-'en' complaint): the confusion
    matrix carries de/fr/es DIAGONAL mass (injected slices recovered by
    the detector) and off-diagonal mass (fixture-labeled non-en rows whose
    text is English), and the code-switch gate FIRES on the injected
    foreign-tail slice while untouched docs stay a quiet floor."""
    conf = q.queries()["lang_id_confusion"](spark, sf_dir).collect()
    cells = {(r.actual_lang, r.detected_lang): r.n_docs for r in conf}
    for lg in ("de", "fr", "es"):
        assert cells.get((lg, lg), 0) > 0, f"injected {lg} slice must recover"
        assert cells.get((lg, "en"), 0) > 0, (
            f"fixture-labeled {lg} rows with English text must confuse"
        )
    assert len({d for (_, d) in cells}) >= 4, "detector output must span langs"

    audit = q.queries()["mixed_language_injection_audit"](spark, sf_dir).collect()
    by_group = {r.injected: r for r in audit}
    assert set(by_group) == {True, False}
    assert by_group[True].n_flagged > 0, "injected code-switch must flag"
    assert by_group[True].flag_share_micro > by_group[False].flag_share_micro


def test_ann_staleness_audit_shows_retrain_gain(spark, sf_dir):
    """The retrain-trigger property: over the SAME drifted delta pool and
    the same query sample, the codebook retrained on the current corpus
    must beat the frozen (base-trained) one — the controlled gap that
    makes the audit a trigger rather than a pool-size artifact. Both
    rows must be non-degenerate."""
    rows = {
        r.codebook: r
        for r in q.queries()["ann_staleness_audit"](spark, sf_dir).collect()
    }
    assert set(rows) == {"frozen", "retrained"}
    for r in rows.values():
        assert r.n_truth > 0 and r.n_delta_vectors > 0
    assert (
        rows["retrained"].recall_micro > rows["frozen"].recall_micro
    ), "injected drift must make retraining measurably worth it"


def test_late_arrival_injection_is_informative_and_bounded(spark, sf_dir):
    """The bounded-jitter reordering must produce a NON-SATURATED lateness
    distribution (the full-permutation variant measured ~100% late/dropped
    and was rejected): some but not all events late, dropped count
    strictly below late count, and every lateness under 2x the injected
    displacement bound — the by-construction sanity line."""
    from postgres_cdc_example_spark.queries.windows import LATE_JITTER_US

    rows = q.queries()["late_arrival_injection_audit"](spark, sf_dir).collect()
    assert rows
    n = sum(r.n_events for r in rows)
    late = sum(r.n_late for r in rows)
    dropped = sum(r.n_dropped_10min for r in rows)
    assert 0 < late < n, "bounded jitter must leave both late and on-time events"
    assert 0 < dropped < late, "10-min watermark must drop some, not all, lates"
    assert all(r.max_late_us < 2 * LATE_JITTER_US for r in rows)


def test_watermark_sizing_advisor_is_feasible_and_monotone(spark, sf_dir):
    """Each recommended delay must actually meet its target
    (achieved <= target), be MINIMAL on the second grid in spirit
    (achieved at delay-1s would exceed the target is implied by the
    rank-1 selection; here we pin feasibility + monotonicity), and
    tighter targets must never get shorter delays."""
    rows = sorted(
        q.queries()["watermark_sizing_advisor"](spark, sf_dir).collect(),
        key=lambda r: -r.target_micro,
    )
    assert [r.target_micro for r in rows] == [10_000, 1_000, 100]
    for r in rows:
        assert r.achieved_micro <= r.target_micro
        assert r.n_dropped * 1_000_000 <= r.target_micro * r.n_events
    delays = [r.delay_sec for r in rows]
    assert delays == sorted(delays), "tighter target => longer (or equal) delay"


def test_substring_incremental_equals_full_run_filtered(spark, sf_dir):
    """The zero-drift contract: the incremental (delta-vs-corpus) spans
    must equal the FULL batch run's spans filtered to delta doc_b — same
    df cutoffs, same islands, nothing created or lost by the b-side
    shrink. Non-vacuous: the delta slice must actually carry spans."""
    docs = load_table(spark, "documents", sf_dir)
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t = ((int(mx) + 1) * 9) // 10
    full = {
        tuple(r)
        for r in dedup.exact_substring_spans(docs).collect()
        if r.doc_b >= t
    }
    inc = {
        tuple(r)
        for r in q.queries()["dedup_substring_incremental"](spark, sf_dir).collect()
    }
    assert inc == full
    assert inc, "fixture must plant spans in the delta slice"


def test_winnowing_incremental_equals_full_run_filtered(spark, sf_dir):
    """Zero-drift contract for the winnowing per-batch arm: the incremental
    (delta-b-side) pairs must equal the FULL pair run filtered to delta
    doc_b — df cutoffs over the union universe, so the b-side shrink
    creates and loses nothing. Non-vacuous: the delta must carry pairs."""
    docs = load_table(spark, "documents", sf_dir)
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    t = ((int(mx) + 1) * 9) // 10
    full = {
        tuple(r)
        for r in q.queries()["dedup_winnowing_pairs"](spark, sf_dir).collect()
        if r.doc_b >= t
    }
    inc = {
        tuple(r)
        for r in q.queries()["dedup_winnowing_incremental"](spark, sf_dir).collect()
    }
    assert inc == full
    assert inc, "fixture must plant winnowing pairs in the delta slice"


def test_snm_multipass_rotated_key_catches_first_word_edit(spark, tmp_path):
    """The planted blind-spot pair: two documents identical except for the
    FIRST word, with >SNM_WINDOW unrelated docs sorting lexicographically
    between them. Pass 1 (prefix key) must MISS the pair (adjacency broken
    at char 1); pass 2 (rotated key dropping the first 3 tokens) must
    CATCH it (the rotated keys are identical, so the two docs rank
    adjacent). The multipass union reports it with in_pass1=0, in_pass2=1,
    and both engines agree on the full result (oracle parity on the same
    planted corpus)."""
    import os

    import duckdb as _duckdb

    tail = (
        "shared trailing content stretches across many words so the"
        " three gram jaccard overlap stays comfortably above one half"
        " for the planted duplicate pair"
    )
    rows = [
        (1, f"aardvark {tail}", "en", "s", 0),
        (2, f"zebra {tail}", "en", "s", 0),
    ]
    # 12 fillers whose prefix keys sort strictly between 'aardvark' and
    # 'zebra' (first letters b..y), each with a unique low-overlap tail —
    # more than SNM_WINDOW of them, so pass 1 cannot bridge the pair
    for i in range(12):
        first = chr(ord("b") + i * 2)  # b d f h j l n p r t v x
        rows.append(
            (
                10 + i,
                f"{first}unique filler document number {i} carrying its own"
                f" distinct words {first}{i} nothing shared with others",
                "en",
                "s",
                0,
            )
        )
    rows = [(d, t, lg, so, len(t)) for d, t, lg, so, _ in rows]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "snm")
    os.makedirs(d)
    docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        (r.doc_a, r.doc_b): (r.in_pass1, r.in_pass2)
        for r in q.queries()["dedup_snm_multipass"](spark, d).collect()
    }
    assert (1, 2) in got, "rotated-key pass must catch the first-word edit"
    assert got[(1, 2)] == (0, 1), "pass 1 must miss it; pass 2 must catch it"
    # single-pass SNM on the same corpus confirms the blind spot directly
    single = {
        (r.doc_a, r.doc_b)
        for r in q.queries()["dedup_sorted_neighborhood"](spark, d).collect()
    }
    assert (1, 2) not in single and (2, 1) not in single

    # both engines agree on the planted corpus (same compare as the driver)
    from postgres_cdc_example_spark.queries import REGISTRY
    from tests.oracle_utils import normalize_result

    con = _duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(d, 'documents.parquet', '*.parquet')}')"
    )
    sdf = q.queries()["dedup_snm_multipass"](spark, d)
    res = con.sql(REGISTRY["dedup_snm_multipass"].oracle)
    s = normalize_result(list(sdf.columns), [tuple(r) for r in sdf.collect()])
    o = normalize_result(list(res.columns), [tuple(r) for r in res.fetchall()])
    assert s == o


def test_pipeline_end_to_end_stage_invariants(spark, sf_dir):
    """Cross-stage contract pins for the curation capstone: survivor
    counts/tokens decrease monotonically through the doc stages, the
    mixture rows partition the quota stage exactly, and packing carries
    exactly the quota-stage token mass (nothing dropped or double-packed).
    Each gating stage must actually remove something on this fixture
    (non-vacuous) — including the r11 quota stage, whose budget bites
    every fixture source."""
    rows = q.queries()["pipeline_end_to_end"](spark, sf_dir).collect()
    docs = {r.stage_no: r for r in rows if r.unit == "docs"}
    assert sorted(docs) == [0, 1, 2, 3, 4, 5]
    for k in range(1, 6):
        assert docs[k].n_units <= docs[k - 1].n_units
        assert docs[k].total_tokens <= docs[k - 1].total_tokens
    assert docs[5].n_units < docs[0].n_units, "pipeline must prune something"
    assert 0 < docs[5].n_units < docs[4].n_units, "quota must bind, not erase"
    mix = [r for r in rows if r.stage == "mixture"]
    assert sum(r.n_units for r in mix) == docs[5].n_units
    assert sum(r.total_tokens for r in mix) == docs[5].total_tokens
    (pack,) = [r for r in rows if r.stage == "packing"]
    assert pack.total_tokens == docs[5].total_tokens
    assert 0 < pack.n_units <= docs[5].n_units
