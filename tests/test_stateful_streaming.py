"""Stateful streaming operators: cross-restart session state via
applyInPandasWithState, and watermarked windowed aggregation — both checked
against their batch twins (the DuckDB-oracled queries in
queries/windows.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from postgres_cdc_example_spark.queries.windows import event_sessionization
from postgres_cdc_example_spark.sources.tables import load_table
from postgres_cdc_example_spark.streaming.stateful import (
    sessionize_stream,
    windowed_counts,
)

SPLIT_TS = "2024-01-16 00:00:00"


def _drain(stream_df, ckpt, sink: list) -> None:
    """availableNow drain through foreachBatch (checkpoint-recoverable)."""

    def collect_batch(bdf, _bid):
        sink.extend(bdf.collect())

    q = (
        stream_df.writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_sessionize_stream_matches_batch_minus_open_tails(spark, sf_dir, tmp_path):
    """Two runs sharing one checkpoint: run 2 resumes the open-session state
    run 1 left in the state store (restart durability). Emitted (closed)
    sessions must equal the batch gaps-and-islands sessions minus each
    user's final (still-open) session."""
    ev = load_table(spark, "events", sf_dir)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.filter(F.col("ts") < SPLIT_TS).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(sessionize_stream(stream), ckpt, emitted)
    n_first_run = len(emitted)

    ev.filter(F.col("ts") >= SPLIT_TS).coalesce(1).write.mode("append").parquet(src)
    _drain(sessionize_stream(stream), ckpt, emitted)
    assert len(emitted) > n_first_run, "second run must close run-1 sessions"

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 4))
        for r in emitted
    }
    batch = event_sessionization(spark, sf_dir)
    last = batch.groupBy("user_id").agg(F.max("session_seq").alias("session_seq"))
    closed_batch = batch.join(last, ["user_id", "session_seq"], "left_anti")
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 4))
        for r in closed_batch.collect()
    }
    assert got == want


def test_windowed_counts_append_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked tumbling windows in append mode: every emitted window must
    carry exactly the batch-computed aggregate, and the windows closed by the
    final watermark must all have been emitted."""
    ev = load_table(spark, "events", sf_dir)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.filter(F.col("ts") < SPLIT_TS).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(windowed_counts(stream), ckpt, emitted)
    ev.filter(F.col("ts") >= SPLIT_TS).coalesce(1).write.mode("append").parquet(src)
    _drain(windowed_counts(stream), ckpt, emitted)

    assert emitted, "watermark advancement must have finalized some windows"
    got = {
        r.window_start: (r.n_events, round(r.total_value, 4)) for r in emitted
    }
    batch = {
        r.window_start: (r.n_events, round(r.total_value, 4))
        for r in (
            ev.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
            .collect()
        )
    }
    for ws, agg in got.items():
        assert batch[ws] == agg, f"window {ws}: stream={agg} batch={batch[ws]}"
    # run-1's data (split minus 2h watermark) must be fully finalized by run 2
    import datetime

    cutoff = datetime.datetime(2024, 1, 15, 22, 0, 0)
    finalized = {ws for ws in batch if ws < cutoff}
    assert finalized <= set(got), "all watermark-passed windows must be emitted"


def test_dedup_stream_emits_each_key_once(spark, sf_dir, tmp_path):
    """A doubled stream (every event written twice across two files) must
    come out with each event_id exactly once."""
    ev = load_table(spark, "events", sf_dir).limit(500)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.coalesce(1).write.parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)  # exact duplicates

    stream = spark.readStream.schema(ev.schema).parquet(src)
    from postgres_cdc_example_spark.streaming.stateful import dedup_stream

    emitted: list = []
    _drain(dedup_stream(stream), ckpt, emitted)
    ids = [r.event_id for r in emitted]
    assert len(ids) == len(set(ids)), "no key may be emitted twice"
    assert set(ids) == {r.event_id for r in ev.collect()}, "every key emitted once"


def test_late_event_beyond_watermark_is_dropped(spark, tmp_path):
    """An event arriving far behind the watermark must be DROPPED: its
    (already finalized) window is never re-emitted and never re-counted —
    the bounded-state guarantee that keeps streaming aggregation viable on
    an unbounded feed."""
    import datetime as dt

    def rows(*ts_list):
        return [(dt.datetime(2024, 1, d, h, m), 1.0) for d, h, m in ts_list]

    schema = "ts timestamp_ntz, value double"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    # run 1: steady stream 10:00→23:00 advances watermark to 21:00,
    # finalizing windows that end at or before it
    first = spark.createDataFrame(
        rows(*[(1, h, 0) for h in range(10, 24)]), schema
    )
    first.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(first.schema).parquet(src)
    emitted: list = []
    _drain(windowed_counts(stream), ckpt, emitted)
    first_emission = {r.window_start: r.n_events for r in emitted}
    assert dt.datetime(2024, 1, 1, 10, 0) in first_emission
    assert first_emission[dt.datetime(2024, 1, 1, 10, 0)] == 1

    # run 2: one VERY late event (10:30 day 1 — 2 days behind) + one fresh
    # event (day 3) that advances the watermark past everything from run 1
    late_and_fresh = spark.createDataFrame(
        rows((1, 10, 30), (3, 12, 0)), schema
    )
    late_and_fresh.coalesce(1).write.mode("append").parquet(src)
    _drain(windowed_counts(stream), ckpt, emitted)

    counts_10 = [
        r.n_events
        for r in emitted
        if r.window_start == dt.datetime(2024, 1, 1, 10, 0)
    ]
    assert counts_10 == [1], (
        f"late event must be dropped, not re-emitted/re-counted: {counts_10}"
    )


def test_heavy_hitters_stream_exact_under_capacity(spark, sf_dir, tmp_path):
    """Fixture user cardinality fits the space-saving capacity, so the final
    snapshot must equal the exact batch top-10 per event type — run across
    TWO drains sharing a checkpoint to prove the summary state survives
    restarts."""
    from postgres_cdc_example_spark.streaming.stateful import (
        HH_TOPK,
        heavy_hitters_stream,
    )

    ev = load_table(spark, "events", sf_dir)
    assert ev.select("user_id").distinct().count() <= 32, "fixture fits capacity"
    src, ckpt = str(tmp_path / "hh_src"), str(tmp_path / "hh_ckpt")
    ev.filter(F.col("ts") < SPLIT_TS).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(heavy_hitters_stream(stream), ckpt, emitted)

    ev.filter(F.col("ts") >= SPLIT_TS).coalesce(1).write.mode("append").parquet(src)
    final: list = []
    _drain(heavy_hitters_stream(stream), ckpt, final)

    got = {(r.event_type, r.user_id, r.est_count, r.rank) for r in final}

    from pyspark.sql import Window

    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("est_count"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(
                    F.col("est_count").desc(), "user_id"
                )
            ),
        )
        .filter(F.col("rank") <= HH_TOPK)
    )
    want = {
        (r.event_type, r.user_id, r.est_count, r.rank) for r in exact.collect()
    }
    assert got == want


def test_content_dedup_stream_matches_batch_keepers(spark, sf_dir, tmp_path):
    """Dedup-at-ingest ≡ batch dedup_exact keepers on the same replayed
    corpus, across a restart: run 1 ingests the low-id half, run 2 (same
    checkpoint — fresh query object, state restored from the state store)
    ingests the high-id half PLUS re-issued copies of run-1 content under
    new ids PLUS an in-batch duplicate pair. Copies of run-1 content must be
    swallowed by restored state; the in-batch pair must emit exactly its min
    id."""
    from postgres_cdc_example_spark.operators.dedup import exact_dedup
    from postgres_cdc_example_spark.streaming.stateful import content_dedup_stream

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    first = docs.filter(F.col("doc_id") < 250)
    second = docs.filter(F.col("doc_id") >= 250)
    redub = (
        docs.filter(F.col("doc_id") < 5)
        .select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    )
    pair = spark.createDataFrame(
        [(20000, "a novel duplicated sentence"), (20001, "a novel duplicated sentence")],
        "doc_id long, text string",
    )
    second_full = second.unionByName(redub).unionByName(pair)

    src, ckpt = str(tmp_path / "cd_src"), str(tmp_path / "cd_ckpt")
    first.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(first.schema).parquet(src)
    emitted: list = []
    # ttl_ms=None → NoTimeout: availableNow drains terminate (with a TTL the
    # ProcessingTimeTimeout plan asks for batches forever; see the operator
    # docstring — the TTL path is driven by Trigger.Once in the test below)
    _drain(content_dedup_stream(stream, ttl_ms=None), ckpt, emitted)
    assert len(emitted) == 250  # no duplicates in the fixture half

    second_full.coalesce(1).write.mode("append").parquet(src)
    _drain(content_dedup_stream(stream, ttl_ms=None), ckpt, emitted)

    union = first.unionByName(second_full)
    want = {r.keeper_id for r in exact_dedup(union).collect()}
    got = [r.doc_id for r in emitted]
    assert len(got) == len(set(got)), "a content hash emitted twice"
    assert set(got) == want  # first-seen in id order == batch min-id keepers
    assert not any(d >= 10000 and d != 20000 for d in got), "restored state leaked"


def _drain_once(stream_df, ckpt, sink: list) -> None:
    """Trigger.Once drain: exactly ONE micro-batch per start — the executor
    that makes the ProcessingTimeTimeout (TTL) path terminate deterministically
    (availableNow would keep scheduling batches waiting for timers)."""

    def collect_batch(bdf, _bid):
        sink.extend(bdf.collect())

    q = (
        stream_df.writeStream.foreachBatch(collect_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(once=True)
        .start()
    )
    q.awaitTermination()


def test_content_dedup_stream_ttl_readmits(spark, tmp_path):
    """TTL trade-off pinned: after `ttl_ms` with no sighting, the hash is
    forgotten (timeout cleanup fires on a later batch) and the next copy
    re-admits as novel."""
    import time

    from postgres_cdc_example_spark.streaming.stateful import content_dedup_stream

    src, ckpt = str(tmp_path / "ttl_src"), str(tmp_path / "ttl_ckpt")
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, "expiring content")], schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.createDataFrame([], schema).schema).parquet(src)
    emitted: list = []
    _drain_once(content_dedup_stream(stream, ttl_ms=1500), ckpt, emitted)
    assert [r.doc_id for r in emitted] == [1]

    time.sleep(2)  # let the deadline pass, then run a batch so cleanup fires
    spark.createDataFrame([(2, "other content")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _drain_once(content_dedup_stream(stream, ttl_ms=1500), ckpt, emitted)

    spark.createDataFrame([(3, "expiring content")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _drain_once(content_dedup_stream(stream, ttl_ms=1500), ckpt, emitted)
    assert [r.doc_id for r in emitted] == [1, 2, 3], "expired hash must re-admit"


def test_neardup_candidates_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming MinHash/LSH candidate detection ≡ the batch band
    self-join on the same replayed corpus, across a restart: run 1 ingests
    the low-id half, run 2 (same checkpoint, state restored) the high-id
    half — cross-half near-dup pairs can only come from restored bucket
    state. Distinct (doc_a, doc_b) must equal the batch candidate set."""
    from postgres_cdc_example_spark.operators import dedup
    from postgres_cdc_example_spark.streaming.stateful import (
        neardup_candidates_stream,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    src, ckpt = str(tmp_path / "nd_src"), str(tmp_path / "nd_ckpt")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    emitted: list = []
    _drain(neardup_candidates_stream(stream), ckpt, emitted)
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(src)
    _drain(neardup_candidates_stream(stream), ckpt, emitted)

    got = {(r.doc_a, r.doc_b) for r in emitted}

    bands = dedup.minhash_bands(
        dedup.minhash_signatures(
            dedup.ngram_rows(docs).withColumnRenamed("g", "s")
        )
    )
    ba = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("band_idx").alias("bi"),
        F.col("band_key").alias("bk"),
    )
    bb = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band_idx").alias("bi"),
        F.col("band_key").alias("bk"),
    )
    want = {
        (r.doc_a, r.doc_b)
        for r in ba.join(bb, ["bi", "bk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .collect()
    }
    assert want, "fixture must contain at least one near-dup candidate"
    assert any(a < 250 <= b for a, b in want), "need a cross-restart pair"
    assert got == want


def test_manifest_stream_matches_batch_manifest(spark, sf_dir, tmp_path):
    """Streaming integrity manifest ≡ the batch corpus_manifest query over
    the rows ingested so far — across a RESTART (run 2 restores per-source
    state from the checkpoint's state store). The fold is XOR/sum, so the
    equality must hold no matter how the corpus is sliced into batches;
    a lost or duplicated row would flip the checksum."""
    from postgres_cdc_example_spark import queries as q
    from postgres_cdc_example_spark.streaming.stateful import manifest_stream

    batch_manifest = q.queries()["corpus_manifest"]

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "source"
    )
    first = docs.filter(F.col("doc_id") < 250)
    second = docs.filter(F.col("doc_id") >= 250)

    src, ckpt = str(tmp_path / "mf_src"), str(tmp_path / "mf_ckpt")
    first.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(first.schema).parquet(src)
    emitted: list = []
    _drain(manifest_stream(stream), ckpt, emitted)

    second.coalesce(1).write.mode("append").parquet(src)
    _drain(manifest_stream(stream), ckpt, emitted)

    # last emitted snapshot per source == batch manifest over the full corpus
    final = {}
    for r in emitted:
        final[r.source] = (r.n_docs, r.total_toks, r.content_xor60)
    want = {
        r.source: (r.n_docs, r.total_toks, r.content_xor60)
        for r in batch_manifest(spark, sf_dir).collect()
    }
    assert final == want


def test_anomaly_stream_matches_batch_closed_hours(spark, sf_dir, tmp_path):
    """Streaming rate monitor ≡ the batch event_rate_anomaly rows for
    every CLOSED hour (hour < the type's newest observed hour), over a
    ts-ordered replay split across two runs against one checkpoint (state
    — trailing counts, prune counter, close watermark — restored across
    the restart). The z arithmetic is the same exact-integer formula, so
    equality is bitwise, not approximate."""
    from postgres_cdc_example_spark import queries as q
    from postgres_cdc_example_spark.streaming.stateful import anomaly_stream

    batch_fn = q.queries()["event_rate_anomaly"]

    ev = load_table(spark, "events", sf_dir).select("event_type", "ts", "event_id")
    # ts-ordered replay, cut at the midpoint — the cut may land mid-hour on
    # purpose (hours straddling batches exercise the state merge)
    rows = ev.orderBy("ts").collect()
    half = len(rows) // 2
    first = spark.createDataFrame(rows[:half], ev.schema)
    second = spark.createDataFrame(rows[half:], ev.schema)

    src, ckpt = str(tmp_path / "an_src"), str(tmp_path / "an_ckpt")
    first.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(first.schema).parquet(src)
    emitted: list = []
    _drain(anomaly_stream(stream), ckpt, emitted)
    second.coalesce(1).write.mode("append").parquet(src)
    _drain(anomaly_stream(stream), ckpt, emitted)

    got = {
        (r.event_type, r.hour): (
            r.n_events,
            r.trailing_mean_micro,
            r.z_micro,
            r.is_anomaly,
        )
        for r in emitted
    }
    assert len(got) == len(emitted), "an hour emitted twice"

    batch = batch_fn(spark, sf_dir).collect()
    max_hour = {}
    hourly = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    for r in hourly:
        cur = max_hour.get(r.event_type)
        if cur is None or r.hour > cur:
            max_hour[r.event_type] = r.hour
    want = {
        (r.event_type, r.hour): (
            r.n_events,
            r.trailing_mean_micro,
            r.z_micro,
            r.is_anomaly,
        )
        for r in batch
        if r.hour < max_hour[r.event_type]
    }
    assert got == want


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:

    class _FakeState:
        """Minimal GroupState stand-in for driving the anomaly group
        function without a streaming query (pure-Python property test)."""

        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    def _batch_reference(counts_by_hour):
        """The batch event_rate_anomaly arithmetic over a closed prefix —
        independent serial implementation (same exact-integer formula)."""
        import math

        hours = sorted(counts_by_hour)
        rows = {}
        for idx, h in enumerate(hours):
            if idx < 24:
                continue
            window = [counts_by_hour[x] for x in hours[idx - 24 : idx]]
            c = counts_by_hour[h]
            sum_c, sum_c2 = sum(window), sum(v * v for v in window)
            var_num = 24 * sum_c2 - sum_c * sum_c
            mean_micro = (sum_c * 1_000_000) // 24
            if var_num > 0:
                z = math.floor(
                    (24 * c - sum_c) * 1_000_000.0 / math.sqrt(var_num)
                )
                rows[h] = (c, mean_micro, z, abs(z) >= 3_000_000)
            else:
                rows[h] = (c, mean_micro, None, False)
        return rows

    @settings(max_examples=200, deadline=None, derandomize=True)
    @given(
        counts=st.lists(st.integers(0, 50), min_size=1, max_size=80),
        cuts=st.lists(st.integers(0, 1_000_000), min_size=0, max_size=6),
    )
    def test_property_anomaly_state_split_invariant(counts, cuts):
        """For ANY hourly count sequence and ANY slicing of its events into
        micro-batches (including batches that straddle hours), the stateful
        fold must emit exactly the batch-formula rows for every closed hour
        — the merge/prune/close/watermark logic is what's under test."""
        import pandas as pd

        from postgres_cdc_example_spark.streaming.stateful import _anomaly_group

        # expand (hour -> count) into an event list in ts order, then cut it
        # into batches at arbitrary positions
        events = []
        counts_by_hour = {}
        for h, n in enumerate(counts):
            if n:
                counts_by_hour[h] = n
                events.extend([h] * n)
        if not events:
            return
        positions = sorted({c % (len(events) + 1) for c in cuts})
        batches, prev = [], 0
        for p in positions + [len(events)]:
            if p > prev:
                batches.append(events[prev:p])
                prev = p

        state = _FakeState()
        emitted = {}
        for b in batches:
            pdf = pd.DataFrame({"hour_epoch": b})
            for out in _anomaly_group(("t",), iter([pdf]), state):
                for r in out.itertuples(index=False):
                    h = int(r.hour.timestamp() // 3600)
                    assert h not in emitted, "hour emitted twice"
                    emitted[h] = (
                        r.n_events,
                        r.trailing_mean_micro,
                        r.z_micro,
                        r.is_anomaly,
                    )

        want = _batch_reference(counts_by_hour)
        closed = {h for h in counts_by_hour if h < max(counts_by_hour)}
        want_closed = {h: v for h, v in want.items() if h in closed}
        assert emitted == want_closed


def test_funnel_stream_matches_batch_stages_across_restart(spark, sf_dir, tmp_path):
    """Replaying events in two time-ordered batches with a restart between
    them, the funnel stream's emitted stage completions must equal the
    batch window-chain's non-null (user, stage, ts) triples — and stages
    straddling the split (e.g. view before, click after) must still fire."""
    from postgres_cdc_example_spark.queries.windows import funnel_user_stages
    from postgres_cdc_example_spark.streaming.stateful import funnel_stream

    # earlier split than SPLIT_TS: the fixture's funnels all complete within
    # the first week, and the restart must land MID-funnel to prove anything
    split = "2024-01-03 00:00:00"
    ev = load_table(spark, "events", sf_dir)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.filter(F.col("ts") < split).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(funnel_stream(stream), ckpt, emitted)
    n_first = len(emitted)
    assert n_first > 0, "first run must complete some stages"

    ev.filter(F.col("ts") >= split).coalesce(1).write.mode("append").parquet(src)
    _drain(funnel_stream(stream), ckpt, emitted)
    assert len(emitted) > n_first, "second run must advance stages"

    got = {(r.user_id, r.stage, r.ts) for r in emitted}
    stages = funnel_user_stages(ev).collect()
    want = set()
    for r in stages:
        for stage, t in ((1, r.t1), (2, r.t2), (3, r.t3)):
            if t is not None:
                want.add((r.user_id, stage, t))
    assert got == want
    assert {s for _, s, _ in want} == {1, 2, 3}, "fixture must exercise all stages"


def test_funnel_stream_flags_out_of_order_events(spark, sf_dir, tmp_path):
    """Ordering violations must be observable: replay the LATE half of the
    event log first, then the early half. Second-batch events land below
    each user's high-watermark and must be emitted as dead-letter rows
    (stage == FUNNEL_LATE_STAGE) without advancing any funnel state."""
    from postgres_cdc_example_spark.streaming.stateful import (
        FUNNEL_LATE_STAGE,
        funnel_stream,
    )

    ev = load_table(spark, "events", sf_dir)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.filter(F.col("ts") >= SPLIT_TS).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(funnel_stream(stream), ckpt, emitted)
    assert all(r.stage != FUNNEL_LATE_STAGE for r in emitted), "in-order: no lates"
    n_stages_first = len(emitted)

    ev.filter(F.col("ts") < SPLIT_TS).coalesce(1).write.mode("append").parquet(src)
    _drain(funnel_stream(stream), ckpt, emitted)
    late = [r for r in emitted if r.stage == FUNNEL_LATE_STAGE]
    assert late, "out-of-order replay must produce dead-letter rows"
    # late events touch only users who already had watermarks from run 1
    users_run1 = {
        r.user_id for r in ev.filter(F.col("ts") >= SPLIT_TS).collect()
    }
    assert {r.user_id for r in late} <= users_run1
    # no stage may be derived from a flagged event: a run-1 user's
    # watermark is >= SPLIT_TS, so ALL their run-2 (pre-SPLIT) events are
    # late — fresh completions can only belong to users new in run 2
    fresh = [
        r for r in emitted[n_stages_first:] if r.stage != FUNNEL_LATE_STAGE
    ]
    assert all(r.user_id not in users_run1 for r in fresh), (
        "a flagged event advanced a funnel"
    )


def test_funnel_stream_equal_ts_cross_batch_uses_batch_tiebreak(
    spark, tmp_path
):
    """A later-batch event whose ts EQUALS the user's high-watermark must
    be judged by the batch twin's (ts, event_id) tiebreak, not arrival
    order: event_id <= the watermark's is out of order (dead-letter),
    event_id above it occupies its legitimate batch-order position
    (applied, no flag)."""
    import datetime

    from postgres_cdc_example_spark.streaming.stateful import (
        FUNNEL_LATE_STAGE,
        funnel_stream,
    )

    T = datetime.datetime(2024, 1, 1, 12, 0, 0)
    T1 = T + datetime.timedelta(seconds=1)
    schema = "user_id long, event_id long, ts timestamp, event_type string"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    b1 = spark.createDataFrame([(1, 10, T, "view")], schema)
    b1.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    emitted: list = []
    _drain(funnel_stream(stream), ckpt, emitted)
    assert [(r.user_id, r.stage) for r in emitted] == [(1, 1)]

    b2 = spark.createDataFrame(
        [
            (1, 5, T, "view"),  # ties hw ts, eid below hw's -> late
            (1, 20, T, "click"),  # ties hw ts, eid above -> applied
            (1, 30, T1, "click"),  # strictly later -> stage 2
        ],
        schema,
    )
    b2.coalesce(1).write.mode("append").parquet(src)
    _drain(funnel_stream(stream), ckpt, emitted)
    batch2 = emitted[1:]
    late = [r for r in batch2 if r.stage == FUNNEL_LATE_STAGE]
    assert len(late) == 1 and late[0].ts == T, (
        "exactly the eid-below-watermark tie must dead-letter"
    )
    stages = [(r.stage, r.ts) for r in batch2 if r.stage != FUNNEL_LATE_STAGE]
    # eid=20 click at ts==t1 cannot advance (strictly-after spec); the
    # T1 click completes stage 2 — and was judged against the (T, 20)
    # watermark the applied tie advanced
    assert stages == [(2, T1)]


def test_hll_reach_stream_matches_batch_rollup(spark, sf_dir, tmp_path):
    """The mergeable-sketch contract: replay the event log in two
    micro-batches with a restart between — each day's FINAL emitted HLL
    estimate must equal the batch hll_merge_rollup column exactly
    (register max is order/batching/duplicate-proof), and the mid-stream
    snapshot after batch 1 must equal a Python-recomputed sketch over
    just the first half (prefix property)."""
    import hashlib

    from postgres_cdc_example_spark.queries import REGISTRY
    from postgres_cdc_example_spark.queries.llmdata import HLL_M, HLL_RHO_MAX
    from postgres_cdc_example_spark.streaming.stateful import (
        _hll_estimate_from_regs,
        hll_reach_stream,
    )

    ev = load_table(spark, "events", sf_dir)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.filter(F.col("ts") < SPLIT_TS).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(hll_reach_stream(stream), ckpt, emitted)
    first = {r.day: r.hll_estimate for r in emitted}

    def py_sketch(rows):
        regs: dict = {}
        for day, uid in rows:
            h = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16)
            j, w = h % HLL_M, h // HLL_M
            rho = HLL_RHO_MAX if w == 0 else HLL_RHO_MAX - w.bit_length()
            r = regs.setdefault(day, [0] * HLL_M)
            if rho > r[j]:
                r[j] = rho
        return {d: _hll_estimate_from_regs(r)[1] for d, r in regs.items()}

    half1 = [
        (r.ts.strftime("%Y-%m-%d"), r.user_id)
        for r in ev.filter(F.col("ts") < SPLIT_TS).collect()
    ]
    assert first == py_sketch(half1), "prefix property must hold after batch 1"

    ev.filter(F.col("ts") >= SPLIT_TS).coalesce(1).write.mode("append").parquet(src)
    _drain(hll_reach_stream(stream), ckpt, emitted)
    final: dict = {}
    for r in emitted:  # later emissions overwrite: keep each day's last
        final[r.day] = r.hll_estimate
    batch = {
        r.day: r.hll_estimate
        for r in REGISTRY["hll_merge_rollup"].fn(spark, sf_dir).collect()
    }
    assert final == batch, "final stream snapshot must equal the batch rollup"


def test_quantile_rollup_stream_matches_batch(spark, sf_dir, tmp_path):
    """The additive-histogram contract: replay the event log in two
    micro-batches with a restart between — each day's FINAL emitted
    (n, p50, p90) must equal the batch quantile_histogram_rollup's
    (n, p50_est_milli, p90_est_milli) exactly (bucket addition is
    order/batching-proof under exactly-once replay), and the mid-stream
    snapshot after batch 1 must equal a Python-recomputed histogram over
    just the first half (prefix property)."""
    from postgres_cdc_example_spark.queries import REGISTRY
    from postgres_cdc_example_spark.queries.windows import QHR_BUCKET_MILLI
    from postgres_cdc_example_spark.streaming.stateful import (
        QH_STREAM_BUCKETS,
        _qh_estimates,
        quantile_rollup_stream,
    )

    ev = load_table(spark, "events", sf_dir)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.filter(F.col("ts") < SPLIT_TS).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(quantile_rollup_stream(stream), ckpt, emitted)
    assert all(r.n_oob == 0 for r in emitted), (
        "fixture values live in [0, 640) — nothing may dead-letter"
    )
    first = {r.day: (r.n, r.p50_est_milli, r.p90_est_milli) for r in emitted}

    def py_hist(rows):
        import math

        days: dict = {}
        for day, value in rows:
            b = int(math.floor(value * 1000 + 0.5)) // QHR_BUCKET_MILLI
            assert 0 <= b < QH_STREAM_BUCKETS
            days.setdefault(day, [0] * QH_STREAM_BUCKETS)[b] += 1
        return {d: _qh_estimates(c) for d, c in days.items()}

    half1 = [
        (r.ts.strftime("%Y-%m-%d"), r.value)
        for r in ev.filter(F.col("ts") < SPLIT_TS).collect()
    ]
    assert first == py_hist(half1), "prefix property must hold after batch 1"
    assert first, "first half must emit at least one day"

    ev.filter(F.col("ts") >= SPLIT_TS).coalesce(1).write.mode("append").parquet(src)
    _drain(quantile_rollup_stream(stream), ckpt, emitted)
    assert all(r.n_oob == 0 for r in emitted)
    final: dict = {}
    for r in emitted:  # later emissions overwrite: keep each day's last
        final[r.day] = (r.n, r.p50_est_milli, r.p90_est_milli)
    batch = {
        r.day: (r.n, r.p50_est_milli, r.p90_est_milli)
        for r in REGISTRY["quantile_histogram_rollup"].fn(spark, sf_dir).collect()
    }
    assert final == batch, "final stream snapshot must equal the batch rollup"


def test_quantile_rollup_stream_dead_letters_out_of_domain(spark, tmp_path):
    """Out-of-domain values (negative, or at/above the 640-unit domain
    ceiling) must land in the visible n_oob counter — NOT wrap (negative
    Python list index) into a top bucket or collapse into bucket B-1 —
    and must leave the in-domain estimates untouched."""
    import datetime

    from postgres_cdc_example_spark.streaming.stateful import (
        _qh_estimates,
        QH_STREAM_BUCKETS,
        quantile_rollup_stream,
    )
    from postgres_cdc_example_spark.queries.windows import QHR_BUCKET_MILLI

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    in_domain = [5.0, 25.0, 25.0, 487.5]  # buckets 0, 2, 2, 48
    out_domain = [-3.0, -0.2, 640.0, 1e9]  # below 0 / at+above ceiling
    rows = [(ts, float(v)) for v in in_domain + out_domain]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    emitted: list = []
    _drain(quantile_rollup_stream(stream), ckpt, emitted)
    (r,) = emitted
    assert r.n_oob == len(out_domain)
    counts = [0] * QH_STREAM_BUCKETS
    for v in in_domain:
        counts[int(v * 1000 + 0.5) // QHR_BUCKET_MILLI] += 1
    n, p50, p90 = _qh_estimates(counts)
    assert (r.n, r.p50_est_milli, r.p90_est_milli) == (n, p50, p90)


def test_volume_trend_stream_matches_batch(spark, sf_dir, tmp_path):
    """The mergeable-moments contract: replay events in two micro-batches
    with a restart — shifting each type's FINAL emitted epoch-anchored
    moments to the batch query's corpus-min-day anchor (exact integer
    identities) and applying the identical IEEE divisions must reproduce
    event_volume_trend's slope/intercept/r2 columns exactly."""
    import math

    from postgres_cdc_example_spark.queries import REGISTRY
    from postgres_cdc_example_spark.streaming.stateful import volume_trend_stream

    ev = load_table(spark, "events", sf_dir)
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.filter(F.col("ts") < SPLIT_TS).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(volume_trend_stream(stream), ckpt, emitted)
    ev.filter(F.col("ts") >= SPLIT_TS).coalesce(1).write.mode("append").parquet(src)
    _drain(volume_trend_stream(stream), ckpt, emitted)
    final: dict = {}
    for r in emitted:
        final[r.event_type] = (r.n, r.sx, r.sy, r.sxx, r.sxy, r.syy)

    d0 = (
        ev.select(
            F.datediff(
                F.min(F.col("ts").cast("date")), F.lit("1970-01-01").cast("date")
            ).alias("d0")
        ).collect()[0]["d0"]
    )

    def coeffs(n, sx_e, sy, sxx_e, sxy_e, syy):
        sx = sx_e - n * d0
        sxx = sxx_e - 2 * d0 * sx_e + n * d0 * d0
        sxy = sxy_e - d0 * sy
        den = n * sxx - sx * sx
        num = n * sxy - sx * sy
        slope = int(math.floor(float(num) / den * 1_000_000 + 0.5))
        intercept = int(
            math.floor(float(sy * den - num * sx) / (float(n) * den) * 1_000_000 + 0.5)
        )
        r2 = int(
            math.floor(
                float(num) * num / (float(den) * (n * syy - sy * sy)) * 1_000_000
                + 0.5
            )
        )
        return slope, intercept, r2

    batch = {
        r.event_type: (r.slope_micro, r.intercept_micro, r.r2_micro)
        for r in REGISTRY["event_volume_trend"].fn(spark, sf_dir).collect()
    }
    assert batch, "batch trend must be non-empty"
    got = {t: coeffs(*m) for t, m in final.items()}
    assert got == batch, "shifted stream moments must reproduce the batch fit"


def test_rank_sample_stream_matches_batch_and_merges(spark, sf_dir, tmp_path):
    """The idempotent-monoid contract for the bottom-k rank sample:
    replay the event log in two micro-batches with a restart between —
    each day's FINAL emitted (k, p50, p90) must equal a Python mirror of
    the batch per-day bottom-k + sample-rank rule (prefix property holds
    mid-stream too, since bottom-k is replay/batching-proof), and merging
    the mirrored per-day samples with the batch monoid must reproduce
    rank_sketch_bottomk's corpus estimates exactly — the per-day state IS
    the batch query's serving layer."""
    import hashlib

    from postgres_cdc_example_spark.queries import REGISTRY
    from postgres_cdc_example_spark.queries.windows import (
        RANK_SKETCH_K,
        RANK_SKETCH_QS,
    )
    from postgres_cdc_example_spark.streaming.stateful import (
        _rank_sample_estimates,
        rank_sample_stream,
    )

    def h(eid: int) -> int:
        return int(hashlib.md5(str(eid).encode()).hexdigest()[:15], 16)

    import math

    def mirror(rows):
        days: dict = {}
        for day, eid, value in rows:
            m = int(math.floor(value * 1000 + 0.5))
            days.setdefault(day, []).append((h(eid), eid, m))
        out = {}
        for day, rs in days.items():
            rs.sort()
            rs = rs[:RANK_SKETCH_K]
            p50, p90 = _rank_sample_estimates([r[2] for r in rs])
            out[day] = (len(rs), p50, p90, rs)
        return out

    ev = load_table(spark, "events", sf_dir)
    rows_all = [
        (r.ts.strftime("%Y-%m-%d"), int(r.event_id), float(r.value))
        for r in ev.collect()
    ]
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.filter(F.col("ts") < SPLIT_TS).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    emitted: list = []
    _drain(rank_sample_stream(stream), ckpt, emitted)
    first = {r.day: (r.k_sketch, r.p50_est_milli, r.p90_est_milli) for r in emitted}
    half1 = [
        (r.ts.strftime("%Y-%m-%d"), int(r.event_id), float(r.value))
        for r in ev.filter(F.col("ts") < SPLIT_TS).collect()
    ]
    m1 = mirror(half1)
    assert first == {d: v[:3] for d, v in m1.items()}, "prefix property"

    ev.filter(F.col("ts") >= SPLIT_TS).coalesce(1).write.mode("append").parquet(src)
    _drain(rank_sample_stream(stream), ckpt, emitted)
    final: dict = {}
    for r in emitted:
        final[r.day] = (r.k_sketch, r.p50_est_milli, r.p90_est_milli)
    m_all = mirror(rows_all)
    assert final == {d: v[:3] for d, v in m_all.items()}, (
        "final stream snapshot must equal the batch per-day bottom-k"
    )

    # merge the per-day samples with the batch monoid -> corpus estimates
    union = [t for _, v in m_all.items() for t in v[3]]
    union.sort()
    merged = union[:RANK_SKETCH_K]
    ests = dict(zip(RANK_SKETCH_QS, _rank_sample_estimates([t[2] for t in merged])))
    batch = {
        int(r.quantile_pct): int(r.est_milli)
        for r in REGISTRY["rank_sketch_bottomk"].fn(spark, sf_dir).collect()
    }
    assert ests == batch, "merged per-day samples must reproduce the batch sketch"


def _arrival_ordered_rows(spark, sf_dir):
    """Events sorted by the INJECTED arrival order (the bounded-jitter
    reordering from queries/windows._injected_lateness — same md5 recipe),
    as plain tuples in the events schema plus (arr_us, us) for simulation."""
    from postgres_cdc_example_spark.queries.windows import LATE_JITTER_US

    ev = load_table(spark, "events", sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("a:"), F.col("event_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    with_arr = ev.withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    ).withColumn("arr_us", F.col("us") + h % LATE_JITTER_US)
    rows = sorted(with_arr.collect(), key=lambda r: (r.arr_us, r.event_id))
    cols = ev.columns
    return ev.schema, cols, [
        (tuple(r[c] for c in cols), r.us, r.arr_us) for r in rows
    ]


def _replay_session_stream(
    spark, schema, cols, ordered, tmp_path, watermark, n_chunks=10,
    gap="6 hours", chunks_per_run=5,
):
    """Replay `ordered` events in arrival order as n_chunks single-file
    micro-batches (maxFilesPerTrigger=1), restarting the query every
    `chunks_per_run` chunks (each _drain is a fresh query resuming the
    checkpoint — the restart commits the watermark, which matters: Spark's
    late-row filter lags the in-run watermark by one batch, but a restart
    applies the committed watermark immediately). Two flush events at the
    end advance the watermark past everything so every real session
    closes. Returns emitted rows (flush user excluded)."""
    from postgres_cdc_example_spark.streaming.stateful import session_window_stream

    import datetime as dt

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    n = len(ordered)

    def write_chunk(lo, hi):
        spark.createDataFrame(
            [t for t, _, _ in ordered[lo:hi]], schema
        ).coalesce(1).write.mode("append").parquet(src)

    def flush_row(i):
        far = dt.datetime(2025, 6, 1) + dt.timedelta(days=60 * i)
        base = dict(zip(cols, ordered[0][0]))
        base.update(event_id=10**9 + i, ts=far, user_id=-1, value=0.0)
        return tuple(base[c] for c in cols)

    emitted: list = []
    stream = None
    for k in range(n_chunks):
        write_chunk(k * n // n_chunks, (k + 1) * n // n_chunks)
        if stream is None:
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
        if (k + 1) % chunks_per_run == 0 or k == n_chunks - 1:
            _drain(
                session_window_stream(stream, gap=gap, watermark=watermark),
                ckpt,
                emitted,
            )
    spark.createDataFrame([flush_row(1)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _drain(session_window_stream(stream, gap=gap, watermark=watermark), ckpt, emitted)
    # second flush advances the watermark past flush 1, closing all real
    # sessions (watermark updates between micro-batches, not within)
    spark.createDataFrame([flush_row(2)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _drain(session_window_stream(stream, gap=gap, watermark=watermark), ckpt, emitted)
    return [r for r in emitted if r.user_id != -1]


def test_session_window_stream_matches_batch_on_injected_arrival(
    spark, sf_dir, tmp_path
):
    """Native session_window + watermark over the INJECTED out-of-order
    arrival stream (the de-vacuized late-data surface): with a watermark
    delay at least the jitter bound (2 h > 2×30 min), nothing drops and the
    emitted sessions across a mid-stream restart must equal the batch
    islands oracle (event_session_window) EXACTLY — session merging under
    out-of-order delivery is what's being proven."""
    from postgres_cdc_example_spark.queries.windows import event_session_window

    schema, cols, ordered = _arrival_ordered_rows(spark, sf_dir)
    got = {
        (r.user_id, r.window_start, r.window_end, r.n_events, round(r.total_value, 4))
        for r in _replay_session_stream(
            spark, schema, cols, ordered, tmp_path, watermark="2 hours",
            n_chunks=10, chunks_per_run=5,
        )
    }
    want = {
        (r.user_id, r.window_start, r.window_end, r.n_events, round(r.total_value, 4))
        for r in event_session_window(spark, sf_dir).collect()
    }
    assert got == want


def test_session_window_stream_tight_watermark_drops_within_advisor_model(
    spark, sf_dir, tmp_path
):
    """Dropped-late accounting under a TIGHT configuration (1-minute gap,
    10-second watermark): the stream must drop SOME events (non-vacuous on
    the injected reordering) but never more than the
    watermark_sizing_advisor model counts for the equivalent delay. Spark
    drops a session-window row when its window END (ts + gap) falls below
    the watermark (verified empirically), so the per-event drop condition
    is lateness > gap + delay against the RESTART-COMMITTED high-watermark
    (one restart per chunk: Spark's in-run late filter lags a batch, but a
    restarted query applies the committed watermark immediately — probed
    empirically). That committed watermark lags the advisor's continuous
    per-event high-watermark, so the stream's drop set is a subset of the
    advisor's suffix count at delay = gap + watermark. The exact expected
    count is also simulated per run boundary and must match (the one
    dropped event on this fixture sits 240 s from the boundary — no
    ms-rounding knife edge)."""
    from postgres_cdc_example_spark.queries.windows import _injected_lateness

    schema, cols, ordered = _arrival_ordered_rows(spark, sf_dir)
    n_chunks, gap_us, delay_us = 10, 60_000_000, 10_000_000
    emitted = _replay_session_stream(
        spark, schema, cols, ordered, tmp_path, watermark="10 seconds",
        n_chunks=n_chunks, gap="1 minute", chunks_per_run=1,
    )
    n = len(ordered)
    kept = sum(r.n_events for r in emitted)
    dropped_stream = n - kept

    model_dropped = (
        _injected_lateness(spark, sf_dir)
        .filter(F.col("late_us") > gap_us + delay_us)
        .count()
    )
    assert 0 < dropped_stream <= model_dropped

    # exact per-run-boundary simulation: one chunk per run, so the filter
    # watermark for chunk k is the committed max event time of chunks < k
    # minus the delay; drop rule is session END below it (us + gap < wm)
    wm = None
    sim = 0
    for k in range(n_chunks):
        chunk = ordered[k * n // n_chunks : (k + 1) * n // n_chunks]
        if wm is not None:
            sim += sum(1 for _, us, _ in chunk if us + gap_us < wm)
        wm = max(wm or 0, max(us for _, us, _ in chunk) - delay_us)
    assert dropped_stream == sim


def test_schema_drift_stream_matches_batch_audit_across_restart(
    spark, sf_dir, tmp_path
):
    """The streaming schema-drift GATE (r8 verdict #4): the real wire
    decode runs inside the micro-batch, per-signature totals accumulate in
    keyed state, and a RESTART between chunks must not lose or double-count
    anything — final signature totals equal the batch audit's on the same
    injected lines. Also pins drift_split's good-rows-only contract: the
    drifted rows routed to the dead-letter frame are exactly the events
    the audit counts."""
    import os

    from postgres_cdc_example_spark.queries.cdc import _drifted_wire_lines
    from postgres_cdc_example_spark.sources.changelog import (
        PERSON_COLUMNS,
        decode_change_lines,
        drift_split,
        schema_drift_audit,
    )
    from postgres_cdc_example_spark.streaming.stateful import schema_drift_stream

    declared = ["id", *PERSON_COLUMNS.keys()]
    lines = _drifted_wire_lines(spark, sf_dir)
    vals = [r.value for r in lines.collect()]
    assert len(vals) > 10
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    os.makedirs(src)

    emitted: list = []

    def drain():
        stream = spark.readStream.schema("value string").text(src)
        q = (
            schema_drift_stream(stream, declared)
            .writeStream.foreachBatch(lambda bdf, _b: emitted.extend(bdf.collect()))
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    half = len(vals) // 2
    with open(os.path.join(src, "chunk1.txt"), "w") as f:
        f.write("\n".join(vals[:half]))
    drain()
    n_first = len(emitted)
    assert n_first, "first chunk must already carry drift signatures"
    with open(os.path.join(src, "chunk2.txt"), "w") as f:
        f.write("\n".join(vals[half:]))
    drain()  # fresh query, same checkpoint: state restored from the store

    # last emission per signature is the running total after all chunks
    final: dict = {}
    for r in emitted:
        final[(r.unknown_cols, r.missing_cols)] = (
            r.n_events,
            r.first_seq,
            r.last_seq,
        )
    want = {
        (r.unknown_cols, r.missing_cols): (r.n_events, r.first_seq, r.last_seq)
        for r in schema_drift_audit(decode_change_lines(lines), declared).collect()
    }
    assert final == want
    assert want, "fixture must produce drift signatures"

    # dead-letter routing: drifted rows = exactly the audited event count
    clean, drifted = drift_split(decode_change_lines(lines), "person", declared)
    n_drifted = drifted.count()
    assert n_drifted == sum(n for n, _f, _l in want.values())
    assert clean.count() + n_drifted == len(vals)
    # and the clean frame really is drift-free under the same audit
    assert schema_drift_audit(clean, declared).count() == 0


def test_ivf_assign_stream_matches_batch_bucketing_across_restart(
    spark, sf_dir, tmp_path
):
    """r10 verdict #6 — streaming IVF assignment maintenance: replay the
    embeddings table in two micro-batches with a restart between. (a) The
    stateless assignment projection over the stream equals the batch
    ivf_topk_learned bucketing (same memoized trained centroids)
    row-for-row; (b) each cluster's FINAL emitted (count, drift) snapshot
    equals the batch groupBy over the same projection of the full corpus;
    (c) the mid-stream snapshot after batch 1 equals the batch groupBy
    over just the first half (prefix property)."""
    from postgres_cdc_example_spark.operators.similarity import (
        ivf_assign_projection,
        rounded_centroids,
    )
    from postgres_cdc_example_spark.queries.extensions import (
        _trained_centroids,
    )
    from postgres_cdc_example_spark.streaming.stateful import ivf_assign_stream

    cents = rounded_centroids(spark, _trained_centroids(spark, sf_dir))
    vecs = load_table(spark, "embeddings", sf_dir)
    n_all = vecs.count()
    split = n_all // 2

    src, ckpt = str(tmp_path / "ivf_src"), str(tmp_path / "ivf_ckpt")
    asrc, ackpt = str(tmp_path / "ivfa_src"), str(tmp_path / "ivfa_ckpt")
    half1 = vecs.filter(F.col("vec_id") < split)
    half2 = vecs.filter(F.col("vec_id") >= split)
    half1.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(vecs.schema).parquet(src)
    emitted: list = []
    _drain(ivf_assign_stream(stream, cents), ckpt, emitted)

    def snap_of(rows):
        out = {}
        for r in rows:  # later emissions overwrite: keep each cluster's last
            out[r.cluster_id] = (r.n_total, r.sum_drift_micro, r.mean_drift_micro)
        return out

    def batch_snap(df):
        g = (
            ivf_assign_projection(df, cents)
            .groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("drift_micro").cast("long").alias("sd"),
            )
            .collect()
        )
        return {r.cluster_id: (r.n, r.sd, r.sd // r.n) for r in g}

    assert snap_of(emitted) == batch_snap(half1), "prefix property"

    # restart: second file drop under the same checkpoint + state
    half2.coalesce(1).write.mode("append").parquet(src)
    _drain(ivf_assign_stream(stream, cents), ckpt, emitted)
    assert snap_of(emitted) == batch_snap(vecs), "final snapshot == batch"

    # (a) stateless assignment stream == the batch ivf_topk_learned
    # bucketing: same projection, same centroids, replayed as a stream
    # (with its own restart) and collected per vector
    half1.coalesce(1).write.parquet(asrc)
    astream = spark.readStream.schema(vecs.schema).parquet(asrc)
    arows: list = []
    _drain(ivf_assign_projection(astream, cents), ackpt, arows)
    half2.coalesce(1).write.mode("append").parquet(asrc)
    _drain(ivf_assign_projection(astream, cents), ackpt, arows)
    got_assign = {r.vec_id: r.cluster_id for r in arows}
    # the want-side is built with ivf_topk_learned's OWN assignment stage
    # (_normed + assign_to_literal_centroids over the same rounded
    # centroids), so the equality pins the stream to the batch bucketing
    from postgres_cdc_example_spark.operators.similarity import (
        _normed,
        assign_to_literal_centroids,
    )

    want_assign = {
        r.vec_id: r.cluster_id
        for r in _normed(vecs)
        .select("vec_id", assign_to_literal_centroids(cents))
        .collect()
    }
    assert got_assign == want_assign
    assert len(got_assign) == n_all
    # drift evidence is non-trivial: some vector sits off its centroid
    assert any(r.drift_micro > 0 for r in arows)
    assert all(r.drift_micro >= 0 for r in arows)
