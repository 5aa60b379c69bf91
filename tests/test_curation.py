"""The streaming curation pipeline: stream ≡ batch members across a
restart, crash before the one ``_LATEST`` flip, the quota gate's doc_id
ordering sentinel and the planning snapshot."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from postgres_cdc_example_spark.sources.tables import load_table


def _quality_passing_docs(spark, sf_dir, n=8):
    """Fixture docs that survive the capstone's quality gate, one source,
    sorted by doc_id — the raw material for ordered/out-of-order drops."""
    from postgres_cdc_example_spark.operators.text import quality_score
    from postgres_cdc_example_spark.streaming.curation import QUALITY_GATE

    docs = load_table(spark, "documents", sf_dir)
    src = docs.groupBy("source").count().orderBy(F.desc("count")).first().source
    qd = (
        docs.filter(F.col("source") == src)
        .join(quality_score(docs).select("doc_id", "quality"), "doc_id")
        .filter(F.col("quality") >= QUALITY_GATE)
        .orderBy("doc_id")
        .limit(n)
        .collect()
    )
    assert len(qd) >= 6, "fixture must supply enough quality-passing docs"
    return qd


def _lines(docs, seq0=0):
    from postgres_cdc_example_spark.streaming.curation import (
        document_change_json,
    )

    out = []
    for i, r in enumerate(docs):
        out.append(
            document_change_json(
                seq0 + i + 1,
                {
                    "doc_id": r.doc_id,
                    "text": r.text,
                    "lang": r.lang,
                    "source": r.source,
                    "n_chars": r.n_chars,
                },
            )
        )
    return out


def _drain(spark, src, store, ckpt):
    from postgres_cdc_example_spark.streaming.curation import (
        StreamingCurationPipeline,
    )

    p = StreamingCurationPipeline(
        spark, src, store, ckpt, decontam_bitmap_words=None,
        quota_tokens=10**9,
    )
    q = p.start()
    q.awaitTermination()
    return p


def test_curation_pipeline_matches_batch_members_across_restart(
    spark, sf_dir, tmp_path
):
    """The STREAMING curation capstone (r9 verdict #2; gates folded in for
    r10 verdict #2): one foreachBatch pipeline chains good-rows-only
    ingest -> schema-drift gate -> content dedup-at-ingest -> near-dup
    candidate detection -> decontamination bloom gate -> quality gate ->
    per-source token-quota gate -> per-stage totals in versioned keyed
    state, each stage delegating to the registered member fns. Restarting
    mid-stream (second file drop under the same checkpoint + stores) must
    leave final totals, the survivor set, and the candidate-pair set
    EXACTLY equal to the batch members composed over the same wire lines —
    nothing lost, nothing double-counted, no stage recomputing another
    stage's work."""
    import os

    from postgres_cdc_example_spark.operators import bloom, dedup
    from postgres_cdc_example_spark.sources.changelog import (
        decode_change_lines,
        drift_split,
        flatten_changes,
        split_corrupt,
    )
    from postgres_cdc_example_spark.streaming.curation import (
        DOC_COLUMNS,
        DOC_DECLARED,
        StreamingCurationPipeline,
        document_change_json,
    )
    from postgres_cdc_example_spark.streaming.gates import (
        decontamination_gate,
        gram8_array,
    )

    docs = sorted(
        load_table(spark, "documents", sf_dir).collect(), key=lambda r: r.doc_id
    )[:120]
    lines: list[str] = []
    seq = 0
    for r in docs:
        seq += 1
        row = {
            "doc_id": r.doc_id,
            "text": r.text,
            "lang": r.lang,
            "source": r.source,
            "n_chars": r.n_chars,
        }
        extra = (
            {"crawl_url": f"https://example.com/{r.doc_id}"}
            if r.doc_id % 23 == 0
            else None
        )
        omit = (
            ("lang",) if (r.doc_id % 29 == 0 and r.doc_id % 23 != 0) else ()
        )
        lines.append(document_change_json(seq, row, extra=extra, omit=omit))
    # planted EXACT duplicates (later ids, same text -> swallowed at ingest)
    for i, r in enumerate(docs[5:10]):
        seq += 1
        lines.append(
            document_change_json(
                seq,
                {
                    "doc_id": 900000 + i,
                    "text": r.text,
                    "lang": r.lang,
                    "source": "dup",
                    "n_chars": r.n_chars,
                },
            )
        )
    # planted NEAR-duplicate (one word substituted -> band collision pair)
    base = docs[12]
    words = base.text.split()
    words[len(words) // 2] = "substituted"
    seq += 1
    lines.append(
        document_change_json(
            seq,
            {
                "doc_id": 910000,
                "text": " ".join(words),
                "lang": base.lang,
                "source": "near",
                "n_chars": base.n_chars,
            },
        )
    )
    # malformed lines (good-rows-only ingest must dead-letter, not crash)
    garbage = ["{not json", "[]", "totally plain text"]
    all_lines = lines[:60] + garbage[:2] + lines[60:] + garbage[2:]

    src, ckpt = str(tmp_path / "cur_src"), str(tmp_path / "cur_ckpt")
    store = str(tmp_path / "cur_store")
    os.makedirs(src)

    # frozen benchmark bitmap: the grams of ONE corpus doc (docs[3] plays
    # the held-out benchmark) — its stream twin must fall at the decontam
    # gate; bloom false positives may drop more, identically in the batch
    # composition below (same gate fn, same bitmap)
    bench_grams = spark.createDataFrame(
        [(docs[3].text,)], "text string"
    ).select(F.explode(gram8_array(F.col("text"))).alias("g"))
    bitmap = bloom.bitmap_from_grams(bench_grams)
    budget = 300  # binds per source on this 120-doc slice (~6k quality tokens)

    def drain():
        p = StreamingCurationPipeline(
            spark, src, store, ckpt,
            decontam_bitmap_words=bitmap, quota_tokens=budget,
        )
        q = p.start()
        q.awaitTermination()
        return p

    half = len(all_lines) // 2
    with open(os.path.join(src, "chunk1.txt"), "w") as f:
        f.write("\n".join(all_lines[:half]))
    drain()
    with open(os.path.join(src, "chunk2.txt"), "w") as f:
        f.write("\n".join(all_lines[half:]))
    pipe = drain()  # fresh pipeline object, same checkpoint + stores

    # --- batch members composed over the SAME lines ----------------------
    ldf = spark.createDataFrame([(ln,) for ln in all_lines], "value string")
    decoded = decode_change_lines(ldf)
    valid, corrupt = split_corrupt(decoded)
    clean, drifted = drift_split(valid, "documents", DOC_DECLARED)
    bdocs = flatten_changes(clean, "documents", DOC_COLUMNS, key="doc_id").select(
        "doc_id",
        "text",
        F.size(dedup.word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    hashed = bdocs.select(
        "doc_id", F.md5(dedup.normalized(F.col("text"))).alias("h"), "n_toks"
    )
    keepers = (
        hashed.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(hashed.select("doc_id", "n_toks"), "doc_id")
    )
    want_keepers = {
        (r.h, r.doc_id, r.n_toks) for r in keepers.collect()
    }
    bands = dedup.minhash_bands(
        dedup.minhash_signatures(
            dedup.shingle_rows(
                keepers.select("doc_id").join(bdocs, "doc_id").select("doc_id", "text")
            )
        )
    )
    want_pairs = {
        (r.doc_a, r.doc_b)
        for r in bands.alias("x")
        .join(bands.alias("y"), ["band_idx", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
        .collect()
    }
    n_corrupt = corrupt.count()
    n_drifted = drifted.count()
    brow = bdocs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_toks").alias("t")
    ).collect()[0]
    krow = keepers.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_toks").alias("t")
    ).collect()[0]

    got = {int(r.stage_no): r for r in pipe.totals().collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5, 6, 7, 8}
    assert got[0].n_units == len(all_lines)
    assert got[1].n_units == n_corrupt == len(garbage)
    assert got[2].n_units == n_drifted
    assert (got[3].n_units, got[3].total_tokens) == (int(brow.n), int(brow.t))
    assert (got[4].n_units, got[4].total_tokens) == (int(krow.n), int(krow.t))
    assert got[5].n_units == len(want_pairs)

    # survivor set and candidate-pair set equal the batch members' exactly
    assert {
        (r.content_hash, r.keeper_id, r.n_toks)
        for r in pipe.survivors().collect()
    } == want_keepers
    assert {
        (r.doc_a, r.doc_b) for r in pipe.candidate_pairs().collect()
    } == want_pairs

    # stages 6-8: decontam gate -> quality gate -> quota rule, each the
    # registered member composed over the keeper corpus
    from postgres_cdc_example_spark.operators.text import quality_score
    from postgres_cdc_example_spark.streaming.curation import QUALITY_GATE

    kdocs = keepers.select("doc_id", "n_toks").join(
        bdocs.select("doc_id", "text"), "doc_id"
    )
    # source column: re-derive from the decoded lines like the pipeline
    ksrc = flatten_changes(clean, "documents", DOC_COLUMNS, key="doc_id").select(
        "doc_id", "source"
    )
    dgate = decontamination_gate(kdocs, bitmap)
    drow = dgate.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_toks").alias("t")
    ).collect()[0]
    assert (got[6].n_units, got[6].total_tokens) == (int(drow.n), int(drow.t))
    assert got[6].n_units < got[4].n_units, "planted benchmark doc must fall"

    qdocs = (
        dgate.join(quality_score(dgate).select("doc_id", "quality"), "doc_id")
        .filter(F.col("quality") >= QUALITY_GATE)
        .select("doc_id", "n_toks")
    )
    qrow = qdocs.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_toks").alias("t")
    ).collect()[0]
    assert (got[7].n_units, got[7].total_tokens) == (int(qrow.n), int(qrow.t))
    assert 0 < got[7].n_units <= got[6].n_units, "gate must bind, not erase"

    # quota: the batch source_quota_admission rule (global per-source
    # cumsum in doc_id order, admitted iff cum <= budget) over the
    # quality survivors of the WHOLE replay
    wq = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    adm = (
        qdocs.join(ksrc, "doc_id")
        .select("source", "doc_id", "n_toks", F.sum("n_toks").over(wq).alias("cum"))
        .filter(F.col("cum") <= budget)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_toks").alias("t"))
        .collect()[0]
    )
    assert (got[8].n_units, got[8].total_tokens) == (int(adm.n), int(adm.t))
    assert 0 < got[8].n_units < got[7].n_units, "quota must bind, not erase"

    # and the quota STATE equals the batch per-source input-token totals
    want_state = {
        (r.source, r.t)
        for r in qdocs.join(ksrc, "doc_id")
        .groupBy("source")
        .agg(F.sum("n_toks").cast("long").alias("t"))
        .collect()
    }
    assert {
        (r.source, r.cum_tokens) for r in pipe.quota_state().collect()
    } == want_state

    # non-vacuous: every stage actually exercised
    assert n_drifted > 0, "drift injection must dead-letter some events"
    assert got[4].n_units < got[3].n_units, "planted dups must be swallowed"
    assert (base.doc_id, 910000) in want_pairs, "planted near-dup pair"


def test_curation_pipeline_partial_commit_replay_heals(spark, sf_dir, tmp_path):
    """Crash-consistency pin for the one-pointer commit: simulate a crash
    after some of a version's tables are written but before ``_LATEST``
    flips, then replay the same batch. The partial version must stay
    invisible (every accessor still reads the previous version), the replay
    must land on exactly the uncrashed run's totals, survivors, pairs and
    quota state, and a clean redelivery must be a no-op."""
    import os
    import shutil

    import pytest
    from pyspark.sql import DataFrameWriter

    from postgres_cdc_example_spark.streaming.curation import (
        StreamingCurationPipeline,
        document_change_json,
    )

    docs = sorted(
        load_table(spark, "documents", sf_dir).collect(), key=lambda r: r.doc_id
    )[:20]
    lines = [
        document_change_json(
            i + 1,
            {
                "doc_id": r.doc_id,
                "text": r.text,
                "lang": r.lang,
                "source": r.source,
                "n_chars": r.n_chars,
            },
        )
        for i, r in enumerate(docs)
    ]
    b0, b1 = (
        spark.createDataFrame([(ln,) for ln in part], "value string")
        for part in (lines[:10], lines[10:])
    )

    def pipeline(name):
        return StreamingCurationPipeline(
            spark, str(tmp_path / "unused_src"), str(tmp_path / name),
            str(tmp_path / "unused_ckpt"),
        )

    def snapshot(p):
        return [
            sorted(tuple(r) for r in df.collect())
            for df in (p.totals(), p.survivors(), p.candidate_pairs(),
                       p.quota_state())
        ]

    clean = pipeline("clean")
    clean._apply_batch(b0, 0)
    after_b0 = snapshot(clean)
    shutil.copytree(tmp_path / "clean", tmp_path / "crashed")
    clean._apply_batch(b1, 1)
    want = snapshot(clean)

    # crash: the 4th table write of version 2 raises, 3 are on disk
    crashed = pipeline("crashed")
    real_write = DataFrameWriter.parquet
    written = []

    def crashing_write(self, path, *args, **kwargs):
        if len(written) == 3:
            raise OSError("crash")
        real_write(self, path, *args, **kwargs)
        written.append(path)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crashing_write)
        with pytest.raises(OSError, match="crash"):
            crashed._apply_batch(b1, 1)
    assert len(os.listdir(tmp_path / "crashed" / "v00000002")) == 3
    assert crashed.store.latest_version() == 1
    assert snapshot(crashed) == after_b0

    crashed._apply_batch(b1, 1)  # foreachBatch redelivery of the same batch
    assert crashed.store.latest_version() == 2
    assert snapshot(crashed) == want

    # and a clean full redelivery (the version committed) is a pure no-op
    crashed._apply_batch(b1, 1)
    assert snapshot(crashed) == want


def test_quota_gate_ordering_sentinel_both_arms(spark, sf_dir, tmp_path):
    """NEGATIVE arm: ascending doc_id batches leave order_violations == 0
    and max_doc_id at the true high-water mark. POSITIVE arm: a later
    batch delivering a LOWER doc_id for a committed source is counted in
    the versioned quota state (and via quota_order_violations()) instead
    of silently diverging from the batch source_quota_admission rule the
    stream claims equality with."""
    qd = _quality_passing_docs(spark, sf_dir)
    lo, hi = qd[: len(qd) // 2], qd[len(qd) // 2 :]

    # ---- in-order: lo ids then hi ids -> zero violations ----------------
    src = str(tmp_path / "ord_src"); os.makedirs(src)
    store, ckpt = str(tmp_path / "ord_store"), str(tmp_path / "ord_ckpt")
    with open(os.path.join(src, "c1.txt"), "w") as f:
        f.write("\n".join(_lines(lo)))
    _drain(spark, src, store, ckpt)
    with open(os.path.join(src, "c2.txt"), "w") as f:
        f.write("\n".join(_lines(hi, seq0=100)))
    pipe = _drain(spark, src, store, ckpt)
    assert pipe.quota_order_violations() == 0
    state = {r.source: r for r in pipe.quota_state().collect()}
    srcname = lo[0].source
    assert state[srcname].max_doc_id == max(r.doc_id for r in qd)
    assert state[srcname].order_violations == 0

    # ---- out-of-order: hi ids committed first, then lo ids --------------
    src2 = str(tmp_path / "ooo_src"); os.makedirs(src2)
    store2, ckpt2 = str(tmp_path / "ooo_store"), str(tmp_path / "ooo_ckpt")
    with open(os.path.join(src2, "c1.txt"), "w") as f:
        f.write("\n".join(_lines(hi)))
    _drain(spark, src2, store2, ckpt2)
    with open(os.path.join(src2, "c2.txt"), "w") as f:
        f.write("\n".join(_lines(lo, seq0=100)))
    pipe2 = _drain(spark, src2, store2, ckpt2)
    # every lo doc arrived below the committed high-water mark
    assert pipe2.quota_order_violations() == len(lo)
    st2 = {r.source: r for r in pipe2.quota_state().collect()}
    assert st2[srcname].order_violations == len(lo)
    # high-water mark never regresses
    assert st2[srcname].max_doc_id == max(r.doc_id for r in qd)
    # cumulative tokens still fold additively (count, don't corrupt)
    assert st2[srcname].cum_tokens == state[srcname].cum_tokens


def test_plan_pack_budget_synced_with_batch_capstone():
    """The streaming planning snapshot and the batch capstone pack with one
    budget — pin them equal."""
    from postgres_cdc_example_spark.queries.windows import PIPE_PACK_TOKENS
    from postgres_cdc_example_spark.streaming.curation import (
        PLAN_PACK_TOKENS,
    )

    assert PLAN_PACK_TOKENS == PIPE_PACK_TOKENS


def test_planning_snapshot_restart_equivalent_to_batch(
    spark, sf_dir, tmp_path
):
    """r11 verdict #5: the streaming capstone's planning snapshot
    (per-source mixture shares + temperature keep-ratios + bucketed
    next-fit pack plan) over two file drops WITH a pipeline restart
    between them must equal the batch formulas computed over the same
    admitted corpus: a pure-Python integer/IEEE mirror for shares and
    the pack plan, and the REGISTERED mixture_temperature_resample
    member (run on a mini documents table of exactly the admitted docs)
    for the keep-ratio — proving the bounded state loses nothing across
    the restart and the stream's plan is the batch plan."""
    import hashlib
    import math

    from postgres_cdc_example_spark.operators import dedup
    from postgres_cdc_example_spark.queries import REGISTRY
    from postgres_cdc_example_spark.streaming.curation import (
        PLAN_PACK_TOKENS,
    )
    from tests.test_round11 import _mini, _stage_single_parquet
    import postgres_cdc_example_spark.queries as q

    q.queries()
    from postgres_cdc_example_spark.operators.text import quality_score
    from postgres_cdc_example_spark.streaming.curation import QUALITY_GATE

    # quality-passing docs from EVERY source (mixture needs >= 2 sources)
    docs_t = load_table(spark, "documents", sf_dir)
    qd = (
        docs_t.join(quality_score(docs_t).select("doc_id", "quality"),
                    "doc_id")
        .filter(F.col("quality") >= QUALITY_GATE)
        .select(
            "doc_id", "text", "lang", "source", "n_chars",
            F.size(dedup.word_tokens(F.col("text"))).cast("long")
            .alias("n_toks"),
        )
        .orderBy("doc_id")
        .limit(40)
        .collect()
    )
    assert len({r.source for r in qd}) >= 2

    budget = 150  # binds per source on this slice (~43-token docs)
    src = str(tmp_path / "plan_src"); os.makedirs(src)
    store, ckpt = str(tmp_path / "plan_store"), str(tmp_path / "plan_ckpt")
    half = len(qd) // 2
    with open(os.path.join(src, "c1.txt"), "w") as f:
        f.write("\n".join(_lines(qd[:half])))
    from postgres_cdc_example_spark.streaming.curation import (
        StreamingCurationPipeline,
    )

    def drain():
        p = StreamingCurationPipeline(
            spark, src, store, ckpt, decontam_bitmap_words=None,
            quota_tokens=budget,
        )
        qq = p.start()
        qq.awaitTermination()
        return p

    drain()
    with open(os.path.join(src, "c2.txt"), "w") as f:
        f.write("\n".join(_lines(qd[half:], seq0=100)))
    pipe = drain()  # RESTART: fresh pipeline object, same stores

    # ---- batch mirror over the same corpus ------------------------------
    cum: dict[str, int] = {}
    admitted = []
    for r in qd:  # already in ascending doc_id order
        c = cum.get(r.source, 0) + r.n_toks
        cum[r.source] = c
        if c <= budget:
            admitted.append(r)
    assert admitted and len(admitted) < len(qd), "budget must bind"
    mix: dict[str, tuple[int, int]] = {}
    for r in admitted:
        n, t = mix.get(r.source, (0, 0))
        mix[r.source] = (n + 1, t + r.n_toks)
    tot_t = sum(t for _, t in mix.values())
    ws = sum(math.floor(math.sqrt(float(t)) * 1e6) for _, t in mix.values())
    expect = {}
    for s, (n, t) in mix.items():
        w = math.floor(math.sqrt(float(t)) * 1e6)
        keep = min(
            1_000_000,
            math.floor((float(tot_t) * float(w)) * 1e6 / (float(ws) * float(t))),
        )
        expect[s] = (n, t, t * 1_000_000 // tot_t, keep)
    # bucketed next-fit pack plan, the capstone stage-7 formulas
    packs: dict[str, list[int]] = {}
    bcum: dict[str, int] = {}
    for r in admitted:
        b = hashlib.md5(str(r.doc_id).encode()).hexdigest()[0]
        c0 = bcum.get(b, 0)
        pid = (c0) // PLAN_PACK_TOKENS
        packs.setdefault(b, [])
        if pid not in packs[b]:
            packs[b].append(pid)
        bcum[b] = c0 + r.n_toks
    n_packs = sum(len(v) for v in packs.values())

    snap = {r.unit: r for r in pipe.planning_snapshot().collect()}
    for s, (n, t, share, keep) in expect.items():
        row = snap[s]
        assert (row.n_units, row.total_tokens) == (n, t), s
        assert row.share_micro == share, s
        assert row.keep_ratio_micro == keep, s
    pk = snap["packs"]
    assert pk.n_units == n_packs
    assert pk.total_tokens == sum(t for _, t in mix.values())

    # ---- the REGISTERED batch member agrees on the keep-ratio ----------
    mini = _mini(sf_dir, tmp_path, "sf_plan_mini")
    adm_df = spark.createDataFrame(
        [(r.doc_id, r.text, r.lang, r.source, r.n_chars) for r in admitted],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    _stage_single_parquet(adm_df, tmp_path, mini, "documents", "plan_st")
    member = REGISTRY["mixture_temperature_resample"].fn(spark, str(mini))
    ratios = {
        r.source: r.keep_ratio_micro
        for r in member.select("source", "keep_ratio_micro").distinct()
        .collect()
    }
    for s, (_, _, _, keep) in expect.items():
        assert ratios[s] == keep, s
