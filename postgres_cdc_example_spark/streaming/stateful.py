"""Custom stateful streaming operators (``applyInPandasWithState``).

The reference's only stateful construct is the target table itself (T5,
``replicator/main.go:195-269``) — handled by the CDC pipeline. This module
adds the *in-engine keyed state* flavor a training-data/event pipeline
needs: per-key session state that survives micro-batches AND restarts (state
lives in the checkpoint's state store), plus the watermarked windowed
aggregation builder.

Semantics contract: the streaming sessionizer must agree with the batch
``event_sessionization`` query (queries/windows.py) — same 6 h gap, same
(ts, event_id) ordering, session_end = last event's ts. Each key's final
session stays open in state (a stream never ends); tests therefore compare
emitted sessions against batch sessions minus each user's last.

Scale shape: state is partitioned by the grouping key across executors
(shuffle on ``user_id``); per-batch work is Arrow-batched pandas per key
group — no driver involvement, no collect.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_NS = 6 * 3600 * 1_000_000_000  # 6 hours, matches queries/windows.py

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp_ntz, session_end timestamp_ntz, "
    "n_events long, total_value double"
)
# state carried between micro-batches: open session per user (ns epoch ints)
SESSION_STATE_SCHEMA = "start_ns long, last_ns long, n_events long, total_value double"


def _sessionize_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    batch = pd.concat(list(pdfs))
    batch = batch.sort_values(["ts", "event_id"])
    ts_ns = pd.DatetimeIndex(batch["ts"]).asi8
    values = batch["value"].to_numpy()

    if state.exists:
        start_ns, last_ns, n_events, total_value = state.get
    else:
        start_ns = last_ns = None
        n_events, total_value = 0, 0.0

    closed: list[tuple] = []
    for t, v in zip(ts_ns, values):
        if last_ns is not None and t - last_ns > SESSION_GAP_NS:
            closed.append((user_id, start_ns, last_ns, n_events, total_value))
            start_ns = last_ns = None
        if last_ns is None:
            start_ns, last_ns, n_events, total_value = t, int(t), 1, float(v)
        else:
            last_ns, n_events, total_value = int(t), n_events + 1, total_value + float(v)

    state.update((int(start_ns), int(last_ns), int(n_events), float(total_value)))
    if closed:
        out = pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )
        out["session_start"] = pd.to_datetime(out["session_start"])
        out["session_end"] = pd.to_datetime(out["session_end"])
        yield out


def sessionize_stream(events: DataFrame) -> DataFrame:
    """6-hour-gap sessionization as a custom stateful operator: state is the
    open session per user; a batch's events close sessions whose gap elapsed
    and the closed sessions are appended downstream. ``NoTimeout`` keeps the
    tail session open indefinitely (swap in ``EventTimeTimeout`` + watermark
    to flush idle sessions in production)."""
    return events.select("user_id", "event_id", "ts", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Exact streaming deduplication: first occurrence of each key wins;
    keyed state is dropped once the watermark passes, so state stays bounded
    by the (horizon × arrival rate) instead of growing with the stream —
    the only viable exact-dedup shape on an unbounded 100 TB/day feed.
    Duplicates straggling in later than the watermark are the documented
    trade-off (tighten or widen per pipeline SLA)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )


def windowed_counts(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window aggregation (append mode): the streaming
    twin of the batch ``event_time_tumbling`` query. Late data beyond the
    watermark is dropped; a window is emitted once the watermark passes its
    end."""
    # watermarks require TIMESTAMP (with tz); sessions run in UTC so the
    # NTZ→TZ cast is instant-preserving, and outputs cast back to NTZ
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


def session_window_stream(
    events: DataFrame, gap: str = "6 hours", watermark: str = "2 hours"
) -> DataFrame:
    """Native ``F.session_window`` + watermark in append mode — the
    streaming twin of the batch ``event_session_window`` query (same gap,
    same aggregate, same output columns), and the one event-time window
    shape that MERGES state (two open sessions fuse when a bridging event
    arrives). Late data beyond the watermark is dropped BEFORE the
    stateful aggregation; a session is emitted once the watermark passes
    its end (last event + gap). On the injected out-of-order arrival
    stream (``queries/windows._injected_lateness``'s bounded-jitter
    reordering) this is non-vacuous: a watermark at least as large as the
    jitter bound reproduces the batch islands oracle exactly across
    restarts, and a tighter one drops a subset of the events the
    ``watermark_sizing_advisor`` model counts for delay = gap + watermark
    — never more, for two compounding reasons probed empirically: the
    drop rule fires on the session END (ts + gap, not raw ts), and the
    late filter uses the previous-batch-committed watermark (in-run it
    lags one extra batch; a restart applies the committed value
    immediately), both of which trail the advisor's continuous per-event
    high-watermark (pinned in tests/test_stateful_streaming.py)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


# --- dedup-at-ingest (content-hash keyed state) --------------------------------

CONTENT_DEDUP_OUTPUT_SCHEMA = "doc_id long, content_hash string"
CONTENT_DEDUP_STATE_SCHEMA = "keeper_id long"
CONTENT_DEDUP_TTL_MS = 3600_000  # default: an hour of first-seen memory


def _make_content_dedup_group(ttl_ms: int | None):
    def _group(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState):
        (content_hash,) = key
        if state.hasTimedOut:
            # TTL passed with no sighting: forget the hash — the next copy
            # re-admits as novel (the documented trade-off that bounds state)
            state.remove()
            return
        if not state.exists:
            batch = pd.concat(list(pdfs))
            # first-seen wins; within one micro-batch, min doc_id (deterministic
            # under any partitioning of the batch)
            keeper = int(batch["doc_id"].min())
            state.update((keeper,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame({"doc_id": [keeper], "content_hash": [content_hash]})
        else:
            # duplicate arrival: emit nothing, refresh the TTL (state expires
            # after `ttl` of NOT seeing the content, not after first sight)
            state.update((int(state.get[0]),))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)

    return _group


def content_dedup_stream(
    docs: DataFrame, ttl_ms: int | None = CONTENT_DEDUP_TTL_MS
) -> DataFrame:
    """Dedup-at-ingest: exactly-one-keeper streaming dedup keyed on the
    normalized CONTENT hash — the operator that makes the batch dedup family
    incremental at the source. Emits only novel documents; every later copy
    of the same content (same batch, later batch, or after a restart — state
    lives in the checkpoint's state store) is swallowed.

    Scale shape: the only shuffle is on ``md5(normalized(text))`` — uniform
    by construction, so state spreads evenly across executors; per-key state
    is ONE long (the keeper id), and the processing-time TTL bounds total
    state at (arrival rate × ttl) distinct hashes instead of corpus
    lifetime. Stragglers past the TTL re-admit as novel — the same
    documented trade-off as :func:`dedup_stream`'s watermark.

    Agreement contract with batch ``dedup_exact`` (operators/dedup.py:80):
    replaying a corpus in id order yields exactly the batch keeper set
    (min doc_id per content hash) — pinned by
    ``tests/test_stateful_streaming.py::test_content_dedup_stream``.

    Trigger caveat: with a TTL, the plan uses ``ProcessingTimeTimeout``,
    whose ``shouldRunAnotherBatch`` is unconditionally true — Spark's
    ``availableNow`` multi-batch executor would therefore keep scheduling
    (empty) batches forever waiting for timers. Use a real processing-time
    trigger (production) or ``Trigger.Once`` (exactly one batch per start)
    with a TTL; pass ``ttl_ms=None`` (→ ``NoTimeout``, state bounded only
    by distinct content) when draining with ``availableNow``.
    """
    from postgres_cdc_example_spark.operators.dedup import normalized

    keyed = docs.select(
        F.col("doc_id"),
        F.md5(normalized(F.col("text"))).alias("content_hash"),
    )
    return keyed.groupBy("content_hash").applyInPandasWithState(
        _make_content_dedup_group(ttl_ms),
        outputStructType=CONTENT_DEDUP_OUTPUT_SCHEMA,
        stateStructType=CONTENT_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


# --- streaming ordered-funnel stage tracking -----------------------------------

FUNNEL_OUTPUT_SCHEMA = "user_id long, stage int, ts timestamp_ntz"
# per-user funnel state: first-completion ns timestamps, -1 = not reached,
# plus the per-user event-time high-watermark — (max ts, its event_id),
# the SAME (ts, event_id) lexicographic order the batch funnel sorts by —
# that makes cross-batch ordering violations OBSERVABLE instead of silent.
# STATE-SCHEMA MIGRATION: this grew 4 -> 5 longs when hw_eid was added; a
# checkpoint written under the old 4-long layout cannot be resumed (Spark
# would misread the tuple) — upgrading a deployed funnel_stream means a
# NEW checkpointLocation (state rebuilds from the source), the same
# discard-on-upgrade rule as every state-schema change in this module.
FUNNEL_STATE_SCHEMA = (
    "t1_ns long, t2_ns long, t3_ns long, hw_ns long, hw_eid long"
)
_FUNNEL_STEPS = ("view", "click", "purchase")
# output stage for an event that arrived BELOW the user's high-watermark:
# the ordering assumption was violated, the event is NOT applied to the
# funnel, and this dead-letter row flags it for the consumer
FUNNEL_LATE_STAGE = -1


def _funnel_group(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    ts_ns = pd.DatetimeIndex(batch["ts"]).asi8
    eids = batch["event_id"].to_numpy()
    types = batch["event_type"].to_numpy()
    t1, t2, t3, hw, hw_eid = (
        state.get if state.exists else (-1, -1, -1, -1, -1)
    )
    hits: list[tuple[int, int, int]] = []
    # events at-or-below the (ts, event_id) high-watermark arrived AFTER
    # a lexicographically-later event was already processed: the
    # cross-batch ordering contract is broken for them. Applying them
    # would silently disagree with the batch funnel's (ts, event_id)
    # sort, so they are flagged (stage = FUNNEL_LATE_STAGE) and skipped.
    # Tracking the watermark's event_id (not just its ts) means a
    # later-batch event with ts EXACTLY equal to the watermark is judged
    # by the same tiebreak the batch twin sorts by: eid > hw_eid is the
    # position it would occupy in batch order anyway (applied), eid <=
    # hw_eid is genuinely out of order (dead-lettered).
    late = (ts_ns < hw) | ((ts_ns == hw) & (eids <= hw_eid))
    for t in ts_ns[late]:
        hits.append((user_id, FUNNEL_LATE_STAGE, int(t)))
    ts_ns, types = ts_ns[~late], types[~late]
    eids = eids[~late]
    if len(ts_ns):
        # batch is (ts, event_id)-sorted and every kept row is above the
        # old watermark, so the last kept row IS the new watermark
        hw, hw_eid = int(ts_ns[-1]), int(eids[-1])
    for t, et in zip(ts_ns, types):
        if t1 < 0:
            if et == _FUNNEL_STEPS[0]:
                t1 = int(t)
                hits.append((user_id, 1, t1))
        elif t2 < 0:
            if et == _FUNNEL_STEPS[1] and t > t1:
                t2 = int(t)
                hits.append((user_id, 2, t2))
        elif t3 < 0:
            if et == _FUNNEL_STEPS[2] and t > t2:
                t3 = int(t)
                hits.append((user_id, 3, t3))
        else:
            break  # funnel complete: nothing left to track for this user
    state.update((int(t1), int(t2), int(t3), int(hw), int(hw_eid)))
    if hits:
        out = pd.DataFrame(hits, columns=["user_id", "stage", "ts"])
        out["ts"] = pd.to_datetime(out["ts"])
        yield out


def funnel_stream(events: DataFrame) -> DataFrame:
    """Ordered-funnel tracking at ingest: per-user state is three first-
    completion timestamps (view, click strictly after it, purchase
    strictly after that — the exact spec of the batch ``event_funnel``
    window chain); each micro-batch advances the stages over its events in
    (ts, event_id) order and APPENDS one row per stage completion, so the
    running per-stage user counts downstream are always funnel-correct
    without rescanning history.

    Scale shape: one shuffle on user_id (same key the batch funnel
    partitions by), 5 longs of state per user ever seen, and completed
    funnels short-circuit (a user past stage 3 costs an O(1) state probe
    per batch). Correctness requires batches to arrive in event-time order
    ACROSS batches (within a batch the group sorts) — the replay/CDC-tail
    shape every twin in this module assumes. A violated assumption is no
    longer silent: the per-user high-watermark — the (max processed ts,
    its event_id) pair, i.e. the SAME (ts, event_id) lexicographic order
    the batch twin sorts by — flags any event arriving at-or-below it as
    a dead-letter row with ``stage = FUNNEL_LATE_STAGE`` and leaves the
    funnel state untouched, so consumers can count/route ordering
    violations instead of getting quietly wrong stage counts. Carrying
    the event_id closes the equal-timestamp edge: a later-batch event
    tied on ts is applied iff its event_id places it AFTER the watermark
    in batch order, so cross-batch ties replay in batch tiebreak order
    rather than arrival order.

    Agreement contract (pinned in tests/test_stateful_streaming.py):
    replaying the corpus in ts order — across a restart — emits exactly
    the non-null (user, stage, ts) triples of the batch
    ``funnel_user_stages`` table (queries/windows.py).
    """
    return events.select("user_id", "event_id", "ts", "event_type").groupBy(
        "user_id"
    ).applyInPandasWithState(
        _funnel_group,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming near-dup candidate detection (MinHash/LSH at ingest) ------------

NEARDUP_BUCKET_CAP = 64  # ids tracked per LSH bucket (the memory bound)
NEARDUP_OUTPUT_SCHEMA = "doc_a long, doc_b long, band_idx int"
NEARDUP_STATE_SCHEMA = "ids array<long>, saturated boolean"


def _gram_array(text_col):
    """Per-row word-3-gram array — value-identical to the batch
    ``dedup.ngram_rows`` universe (full windows for >= 3 tokens, ONE short
    gram for 1-2 tokens, nothing for empty docs) but computed as a pure
    projection so it is legal on a streaming DataFrame (``ngram_rows``'s
    lead() window + global distinct are not). Duplicate grams are harmless:
    min over a multiset equals min over its set, so signatures match the
    distinct batch universe exactly."""
    from postgres_cdc_example_spark.operators.dedup import word_tokens

    tk = word_tokens(text_col)
    m = F.size(tk)
    full = F.transform(
        F.sequence(F.lit(1), m - F.lit(2)),
        lambda i: F.concat_ws(" ", F.slice(tk, i, 3)),
    )
    short = F.array(F.concat_ws(" ", tk))
    return F.when(m >= 3, full).when(m >= 1, short).otherwise(
        F.array().cast("array<string>")
    )


def _neardup_group(key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState):
    # key is "band_idx|band_key" — one STRING column. A composite
    # (int, string) grouping key silently failed cross-restart state
    # lookups (run-2 groups saw state.exists == False for keys written
    # in run 1; single-column string keys restore fine — reproduced on
    # Spark 4.1.2, see test_neardup_candidates_stream_matches_batch),
    # so the band coordinates are packed into one string and unpacked
    # here.
    band_idx = int(key[0].split("|", 1)[0])
    ids, saturated = (
        (list(state.get[0]), bool(state.get[1])) if state.exists else ([], False)
    )
    known = set(ids)
    new = sorted(
        {int(d) for pdf in pdfs for d in pdf["doc_id"]} - known
    )
    out_a: list[int] = []
    out_b: list[int] = []
    for nid in new:
        if saturated or len(ids) >= NEARDUP_BUCKET_CAP:
            # hot-bucket cutoff: a bucket past the cap stops producing
            # candidates entirely (and is flagged), the streaming twin
            # of the batch family's df cutoffs — bounded state beats
            # quadratic emission on boilerplate collisions
            saturated = True
            break
        for eid in ids:
            out_a.append(min(eid, nid))
            out_b.append(max(eid, nid))
        ids.append(nid)
    state.update((ids, saturated))
    if out_a:
        yield pd.DataFrame(
            {"doc_a": out_a, "doc_b": out_b, "band_idx": band_idx}
        )


def neardup_candidates_stream(docs: DataFrame) -> DataFrame:
    """Streaming MinHash/LSH near-dup CANDIDATE detection at ingest: each
    arriving doc's 16-hash signature and 4 LSH band keys are pure per-row
    projections (no shuffle before the state stage); keyed state per
    ``(band_idx, band_key)`` holds the bucket's doc ids, and every arrival
    emits a candidate pair per bucket colleague — the streaming twin of the
    batch band self-join, with per-bucket state bounded by ``NEARDUP_BUCKET_CAP``.

    Contract (pinned by ``test_neardup_candidates_stream_matches_batch``):
    on any replayed corpus whose buckets stay under ``NEARDUP_BUCKET_CAP``, the distinct
    (doc_a, doc_b) set equals the BATCH band-collision candidate set across
    restarts. Division of labor is the production one: the stream detects
    candidates with O(bucket) state and no shingle storage; exact-Jaccard
    verification joins shingles downstream (batch `minhash_lsh_pairs`'s
    verification stage), since keeping shingle sets in stream state would
    grow it by orders of magnitude. A pair colliding in several bands emits
    once per band (like the pre-distinct batch join) — consumers dedup by
    (doc_a, doc_b). NoTimeout keeps availableNow drains terminating; add a
    processing-time TTL via the ``content_dedup_stream`` pattern when
    bucket churn needs bounding in wall-clock too."""
    from postgres_cdc_example_spark.operators.dedup import NUM_BANDS, NUM_HASHES

    rows = NUM_HASHES // NUM_BANDS
    grams = _gram_array(F.col("text"))
    sig = docs.select(
        F.col("doc_id"), grams.alias("gr")
    ).filter(F.size("gr") > 0)

    def _mh(i: int):
        # salt must bind via an outer closure, NOT a `lambda g, i=i:`
        # default arg: a two-parameter lambda makes F.transform pass the
        # array INDEX column as the second arg, shadowing the salt — the
        # f-string then embeds str(Column) (a fresh auto-named variable per
        # call), yielding garbage, non-deterministic salts that broke
        # cross-restart state lookups before emitting a single wrong pair
        salt = f"{i}:"
        return F.array_min(
            F.transform(F.col("gr"), lambda g: F.md5(F.concat(F.lit(salt), g)))
        ).alias(f"mh{i}")

    sig = sig.select("doc_id", *[_mh(i) for i in range(NUM_HASHES)])
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                            )
                        ).alias("band_key"),
                    )
                    for b in range(NUM_BANDS)
                ]
            )
        ).alias("band"),
    ).select(
        "doc_id",
        F.concat_ws("|", "band.band_idx", "band.band_key").alias("band"),
    )
    return banded.groupBy("band").applyInPandasWithState(
        _neardup_group,
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- bounded-state heavy hitters (space-saving top-k) --------------------------

HH_CAPACITY = 32  # tracked entries per key group (the memory bound)
HH_TOPK = 10

HH_OUTPUT_SCHEMA = "event_type string, user_id long, est_count long, rank int"
HH_STATE_SCHEMA = "users array<long>, counts array<long>"


def _heavy_hitters_group(key, pdfs, state: GroupState):
    """Space-saving summary per event_type: at most ``HH_CAPACITY`` (user →
    estimated count) entries survive between batches; an unseen user evicts
    the current minimum and inherits its count (the classic overestimate
    bound: err ≤ min_count). When distinct users ≤ capacity the counts are
    EXACT — the property the test pins against the batch aggregate.
    Deterministic: batch increments are merged in sorted-user order and the
    eviction victim is the (count, user) minimum."""
    (event_type,) = key
    batch = pd.concat(list(pdfs))
    inc = batch.groupby("user_id").size().sort_index()

    if state.exists:
        users, counts = state.get
        summary = dict(zip(users, counts))
    else:
        summary = {}

    for user, n in inc.items():
        user, n = int(user), int(n)
        if user in summary:
            summary[user] += n
        elif len(summary) < HH_CAPACITY:
            summary[user] = n
        else:
            victim = min(summary, key=lambda u: (summary[u], u))
            floor_count = summary.pop(victim)
            summary[user] = floor_count + n

    users = sorted(summary)
    state.update(([int(u) for u in users], [int(summary[u]) for u in users]))

    top = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))[:HH_TOPK]
    yield pd.DataFrame(
        {
            "event_type": [event_type] * len(top),
            "user_id": [u for u, _ in top],
            "est_count": [c for _, c in top],
            "rank": list(range(1, len(top) + 1)),
        }
    )


def heavy_hitters_stream(events: DataFrame) -> DataFrame:
    """Streaming top-k users per event type under a HARD state bound —
    the monitoring-over-unbounded-cardinality shape: exact per-key counting
    of a 100 TB/day stream needs O(distinct users) state, while the
    space-saving summary holds ``HH_CAPACITY`` entries per event type,
    period, and still guarantees every true heavy hitter above the floor
    survives. Each micro-batch re-emits the current top-``HH_TOPK``
    snapshot (update-style monitoring output, like the reference's 5 s
    monitor loop, pubsub/main.go:128-209)."""
    return (
        events.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            _heavy_hitters_group,
            outputStructType=HH_OUTPUT_SCHEMA,
            stateStructType=HH_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- streaming corpus manifest (running per-source integrity checksum) --------

MANIFEST_OUTPUT_SCHEMA = (
    "source string, n_docs long, total_toks long, content_xor60 long"
)
MANIFEST_STATE_SCHEMA = "n_docs long, total_toks long, x long"


def _manifest_group(key, pdfs, state: GroupState):
    """Fold a batch of pre-hashed doc rows into the per-source manifest
    state (count, token sum, XOR of 60-bit content hashes). XOR and sums
    are commutative+associative, so any batch slicing / arrival order
    yields the same final state — the property the stream==batch test
    pins. Emits the UPDATED snapshot each batch (monitoring-style)."""
    (source,) = key
    batch = pd.concat(list(pdfs))
    n = int(len(batch))
    t = int(batch["n_toks"].sum()) if n else 0
    x = 0
    for v in batch["h60"]:
        x ^= int(v)
    if state.exists:
        pn, pt, px = state.get
        n += int(pn)
        t += int(pt)
        x ^= int(px)
    state.update((n, t, x))
    yield pd.DataFrame(
        {
            "source": [source],
            "n_docs": [n],
            "total_toks": [t],
            "content_xor60": [x],
        }
    )


def manifest_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the ``corpus_manifest`` batch query: a running
    per-source (doc count, token mass, XOR-of-md5-prefix) integrity
    checksum maintained at ingest. The hash and token count are computed
    JVM-side as a per-row projection BEFORE the stateful stage (codegen,
    not pandas), so the Arrow hop carries three narrow columns; state is
    three longs per source — O(sources), the smallest possible stateful
    footprint. Because the fold is an XOR/sum, the snapshot after any
    prefix of batches equals the batch query over the rows ingested so
    far — restart-safe by construction (state store) and
    arrival-order-independent, which is what makes it an INTEGRITY check:
    replaying a corpus through any batching must land on the identical
    checksum or data was lost/duplicated en route."""
    from postgres_cdc_example_spark.operators import text as text_ops
    from postgres_cdc_example_spark.operators.dedup import word_tokens

    prepped = docs.select(
        "source",
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_toks"),
        text_ops.content_hash60(F.col("doc_id"), F.col("text")).alias("h60"),
    )
    return prepped.groupBy("source").applyInPandasWithState(
        _manifest_group,
        outputStructType=MANIFEST_OUTPUT_SCHEMA,
        stateStructType=MANIFEST_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

# --- streaming schema-drift gate (CDC wire decode at ingest) -------------------

DRIFT_OUTPUT_SCHEMA = (
    "unknown_cols string, missing_cols string, n_events long, "
    "first_seq long, last_seq long"
)
DRIFT_STATE_SCHEMA = "n long, first_seq long, last_seq long"


def _drift_group(key, pdfs, state: GroupState):
    """Fold a batch of drifted events into the per-signature state
    (count, min seq, max seq). Count/min/max are commutative+associative,
    so any batch slicing or restart point lands on the same totals — the
    stream ≡ batch property the restart test pins."""
    unknown, missing = key
    batch = pd.concat(list(pdfs))
    n = int(len(batch))
    fs = int(batch["seq"].min())
    ls = int(batch["seq"].max())
    if state.exists:
        pn, pf, pl = state.get
        n += int(pn)
        fs = min(fs, int(pf))
        ls = max(ls, int(pl))
    state.update((n, fs, ls))
    yield pd.DataFrame(
        {
            "unknown_cols": [unknown],
            "missing_cols": [missing],
            "n_events": [n],
            "first_seq": [fs],
            "last_seq": [ls],
        }
    )


def schema_drift_stream(lines: DataFrame, declared: list[str]) -> DataFrame:
    """Streaming twin of ``sources.changelog.schema_drift_audit`` (table ``person``):
    production catches schema drift AT INGEST, not in a nightly batch
    audit. The REAL wire decode path (``decode_change_lines`` →
    ``with_drift_signature``) runs inside the micro-batch; drifted events
    accumulate per-signature running totals (count, first/last WAL
    position — the operator's backfill bounds) in keyed state across
    batches AND restarts. Pair with ``changelog.drift_split`` in the same
    ``foreachBatch`` to route the drifted rows themselves to the
    dead-letter frame (T7's good-rows-only contract) while this stream
    maintains the observable totals. Scale shape: the signature is a
    per-row JVM projection (one Generate barrier, set arithmetic in
    codegen) and the Arrow hop carries three narrow columns of DRIFTED
    rows only — state is O(distinct signatures), the smallest possible
    footprint."""
    from postgres_cdc_example_spark.sources.changelog import (
        decode_change_lines,
        with_drift_signature,
    )

    sig = with_drift_signature(decode_change_lines(lines), "person", declared)
    drifted = sig.filter(
        (F.col("unknown_cols") != "") | (F.col("missing_cols") != "")
    ).select(
        "unknown_cols", "missing_cols", F.col("change.seq").alias("seq")
    )
    return drifted.groupBy("unknown_cols", "missing_cols").applyInPandasWithState(
        _drift_group,
        outputStructType=DRIFT_OUTPUT_SCHEMA,
        stateStructType=DRIFT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming event-rate anomaly (trailing-24-observed-hours z-score) --------

ANOM_OUTPUT_SCHEMA = (
    "event_type string, hour timestamp_ntz, n_events long, "
    "trailing_mean_micro long, z_micro long, is_anomaly boolean"
)
ANOM_STATE_SCHEMA = (
    "hours array<long>, counts array<long>, n_pruned long, emitted_until long"
)
ANOM_TRAIL = 24  # trailing observed hours (matches queries/windows.py)


def _anomaly_row(counts: list, idx: int):
    """z-row inputs for the hour at ``idx`` from its 24 retained trailing
    neighbours — the EXACT integer arithmetic of the batch query
    (24·Σc²−(Σc)² variance, one sqrt+division in IEEE double, floor onto
    the micro grid)."""
    import math

    c = counts[idx]
    window = counts[idx - ANOM_TRAIL : idx]
    sum_c = sum(window)
    sum_c2 = sum(v * v for v in window)
    var_num = ANOM_TRAIL * sum_c2 - sum_c * sum_c
    mean_micro = (sum_c * 1_000_000) // ANOM_TRAIL
    if var_num > 0:
        z = math.floor((ANOM_TRAIL * c - sum_c) * 1_000_000.0 / math.sqrt(var_num))
        return c, mean_micro, z, abs(z) >= 3_000_000
    return c, mean_micro, None, False


def _anomaly_group(key, pdfs, state: GroupState):
    """Per-event-type hourly rate monitor: merge the batch's per-hour
    counts (an hour may straddle micro-batches), CLOSE every hour once a
    strictly later hour has been observed (the arrival-order watermark),
    and emit the z-row for closed hours with ≥24 observed predecessors —
    value-identical to the batch ``event_rate_anomaly`` rows over the
    same prefix. State retains the trailing window plus the open hour
    (≤25 longs per key) with a pruned-hours counter preserving the
    predecessor count across pruning; events for already-closed hours
    are dropped (late beyond the watermark)."""
    import bisect

    (event_type,) = key
    batch = pd.concat(list(pdfs))
    inc = batch.groupby("hour_epoch").size()

    if state.exists:
        hours, counts, n_pruned, emitted_until = state.get
        hours, counts = list(hours), list(counts)
        n_pruned, emitted_until = int(n_pruned), int(emitted_until)
    else:
        hours, counts, n_pruned, emitted_until = [], [], 0, -1

    for h, n in sorted(inc.items()):
        h, n = int(h), int(n)
        if h <= emitted_until:
            continue  # late beyond the close watermark: dropped
        i = bisect.bisect_left(hours, h)
        if i < len(hours) and hours[i] == h:
            counts[i] += n
        else:
            hours.insert(i, h)
            counts.insert(i, n)

    out = []
    # close ascending: every retained hour except the newest is closed by
    # the newest's existence; predecessors are final at close time because
    # arrivals for earlier hours would be <= emitted_until afterwards
    for idx in range(len(hours) - 1):
        h = hours[idx]
        if h <= emitted_until:
            continue
        if n_pruned + idx >= ANOM_TRAIL and idx >= ANOM_TRAIL:
            c, mean_micro, z, flag = _anomaly_row(counts, idx)
            out.append((h, c, mean_micro, z, flag))
        emitted_until = h

    # prune: keep the last ANOM_TRAIL closed hours + the open hour — the
    # exact set future closes need
    keep_from = max(0, (len(hours) - 1) - ANOM_TRAIL)
    n_pruned += keep_from
    hours, counts = hours[keep_from:], counts[keep_from:]

    state.update((hours, counts, int(n_pruned), int(emitted_until)))
    yield pd.DataFrame(
        {
            "event_type": [event_type] * len(out),
            "hour": [pd.Timestamp(h * 3600, unit="s") for h, *_ in out],
            "n_events": [r[1] for r in out],
            "trailing_mean_micro": [r[2] for r in out],
            # object dtype so a None (flat-window hour) survives a mixed
            # batch without pandas coercing the column to float64/NaN —
            # Arrow then converts None to a true null, matching the batch
            # query's NULL z_micro bit-for-bit
            "z_micro": pd.Series([r[3] for r in out], dtype=object),
            "is_anomaly": [r[4] for r in out],
        }
    )


def anomaly_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``event_rate_anomaly`` query: per
    (event_type, hour) z-score against the trailing 24 observed hours,
    maintained as keyed streaming state at ingest. The hour bucket is a
    codegen projection before the stateful stage; state is ≤25 longs per
    event type. An hour closes when a later hour for the same type
    arrives, so over a ts-ordered replay the emitted rows equal the batch
    query's rows for every hour strictly before each type's newest — the
    behavioral test pins exactly that equality, across a restart."""
    prepped = events.select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000))
        .cast("long")
        .alias("hour_epoch"),
    )
    return prepped.groupBy("event_type").applyInPandasWithState(
        _anomaly_group,
        outputStructType=ANOM_OUTPUT_SCHEMA,
        stateStructType=ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- per-source token-quota admission at ingest --------------------------------

QUOTA_OUTPUT_SCHEMA = (
    "source string, doc_id long, n_toks long, admitted boolean, late boolean"
)
# used tokens, closed flag, plus the per-source doc_id high-watermark that
# makes cross-batch ordering violations observable
QUOTA_STATE_SCHEMA = "used long, closed boolean, hw_doc long"


def _quota_group(key, pdfs, state: GroupState):
    from postgres_cdc_example_spark.streaming.curation import QUOTA_TOKENS

    (source,) = key
    used, closed, hw = (
        (int(state.get[0]), bool(state.get[1]), int(state.get[2]))
        if state.exists
        else (0, False, -1)
    )
    batch = pd.concat(list(pdfs)).sort_values("doc_id")
    out_doc, out_tok, out_adm, out_late = [], [], [], []
    for did, nt in zip(batch["doc_id"], batch["n_toks"]):
        did, nt = int(did), int(nt)
        if did <= hw:
            # arrived after a HIGHER doc_id was already decided: the
            # cross-batch ordering contract is broken for this doc.
            # Deciding it now would disagree with the batch cumsum, so
            # it is flagged (late=True, admitted=False) and does NOT
            # touch the quota state — a dead-letter verdict.
            out_doc.append(did)
            out_tok.append(nt)
            out_adm.append(False)
            out_late.append(True)
            continue
        hw = did
        if not closed and used + nt <= QUOTA_TOKENS:
            used += nt
            adm = True
        else:
            # first overflow closes the source for good — monotone
            # cumsum makes this identical to the batch cum <= budget
            closed = True
            adm = False
        out_doc.append(did)
        out_tok.append(nt)
        out_adm.append(adm)
        out_late.append(False)
    state.update((used, closed, hw))
    yield pd.DataFrame(
        {
            "source": [source] * len(out_doc),
            "doc_id": out_doc,
            "n_toks": out_tok,
            "admitted": out_adm,
            "late": out_late,
        }
    )


def quota_gate_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``source_quota_admission`` query: keyed
    state per source is THREE scalars (tokens admitted, closed flag,
    doc_id high-watermark) no matter the stream length — the
    bounded-state shape of a per-source ingest quota. Token counting is a
    codegen projection BEFORE the stateful stage (the text never enters
    state); contract (pinned by the behavioral test): over a
    doc_id-ordered replay the admitted set equals the batch
    ``cum_tokens <= QUOTA_TOKENS`` set for every source, across a restart, and
    a source once closed stays closed. A doc arriving at-or-below the
    high-watermark broke the ordering contract: it is emitted with
    ``late=True, admitted=False`` and leaves the quota state untouched —
    a dead-letter verdict the consumer can route, instead of a silently
    order-dependent admission."""
    from postgres_cdc_example_spark.operators.dedup import word_tokens

    prepped = docs.select(
        "source",
        "doc_id",
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    return prepped.groupBy("source").applyInPandasWithState(
        _quota_group,
        outputStructType=QUOTA_OUTPUT_SCHEMA,
        stateStructType=QUOTA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming HLL reach (mergeable-sketch state per day) ----------------------

HLL_STREAM_OUTPUT_SCHEMA = (
    "day string, v_empty long, hll_estimate long"
)
HLL_STREAM_STATE_SCHEMA = "regs array<long>"


def _hll_estimate_from_regs(regs: list[int]) -> tuple[int, int]:
    """(V, estimate) from a register vector — the IDENTICAL arithmetic the
    batch ``hll_merge_rollup`` runs JVM-side: exact bigint shift sum, one
    IEEE double division (Python floats ARE IEEE doubles — bit-identical
    +,*,/), linear-counting floors from the shared literal table."""
    from postgres_cdc_example_spark.queries.llmdata import (
        _HLL_LC_FLOOR,
        HLL_M,
        HLL_RHO_MAX,
    )

    S = sum(1 << (HLL_RHO_MAX - mj) for mj in regs)
    V = sum(1 for mj in regs if mj == 0)
    # Every constant is DERIVED from the shared llmdata parameters so a
    # register-count change there cannot silently desync this estimator
    # from the batch hll_merge_rollup it pins equality with. HLL_M is a
    # power of two, so alpha*m*m*2^rho_max re-associates bit-identically
    # to the former literal product (power-of-two multiplies are exact
    # exponent shifts in IEEE doubles).
    m = float(HLL_M)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * m * m * float(1 << HLL_RHO_MAX) / float(S)
    if raw <= 2.5 * m and V > 0:
        return V, _HLL_LC_FLOOR[V - 1]
    import math

    return V, int(math.floor(raw))


def _hll_group(key, pdfs, state: GroupState):
    """Fold a batch of (j, rho) rows into the day's 256-register maxima.
    max is commutative+associative+idempotent, so any batch slicing or
    arrival order (and even replayed duplicates) yields the same register
    vector — the mergeable-sketch property the stream==batch test pins.
    Emits the UPDATED day snapshot each batch (monitoring-style)."""
    from postgres_cdc_example_spark.queries.llmdata import HLL_M

    (day,) = key
    regs = list(state.get[0]) if state.exists else [0] * HLL_M
    batch = pd.concat(list(pdfs))
    for j, rho in zip(batch["j"], batch["rho"]):
        j = int(j)
        if int(rho) > regs[j]:
            regs[j] = int(rho)
    state.update((regs,))
    v, est = _hll_estimate_from_regs(regs)
    yield pd.DataFrame(
        {"day": [day], "v_empty": [v], "hll_estimate": [est]}
    )


def hll_reach_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``hll_merge_rollup``: per-day distinct
    users tracked at ingest as a 256-register HLL — the mergeable sketch
    AS keyed state. Hashing/register/rank computations run JVM-side as
    codegen projections BEFORE the stateful stage (the Arrow hop carries
    two small ints per event); state is {M} longs per day, PERIOD — the
    bounded footprint that answers "distinct users today so far" on a
    100 TB event stream where exact distinct would hold every user id.
    Register max is commutative, associative and idempotent, so the
    snapshot after any prefix of batches equals the batch query over the
    events ingested so far, under any batching, even with replayed
    duplicates — restart-safe by construction.

    Contract (pinned in tests/test_stateful_streaming.py): the final
    emitted estimate per day over a replayed corpus, across a restart,
    equals ``hll_merge_rollup``'s hll_estimate column exactly."""
    from postgres_cdc_example_spark.queries.llmdata import HLL_M, HLL_RHO_MAX

    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    prepped = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), h.alias("h")
    ).select(
        "day",
        (F.col("h") % HLL_M).cast("int").alias("j"),
        F.when(F.expr(f"h div {HLL_M}") == 0, F.lit(HLL_RHO_MAX))
        .otherwise(F.lit(HLL_RHO_MAX) - F.length(F.bin(F.expr(f"h div {HLL_M}"))))
        .cast("int")
        .alias("rho"),
    )
    return prepped.groupBy("day").applyInPandasWithState(
        _hll_group,
        outputStructType=HLL_STREAM_OUTPUT_SCHEMA,
        stateStructType=HLL_STREAM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


hll_reach_stream.__doc__ = hll_reach_stream.__doc__.format(M=256)


# --- streaming quantile-histogram rollup (bounded-error percentiles) ---------

QH_STREAM_OUTPUT_SCHEMA = (
    "day string, n long, p50_est_milli long, p90_est_milli long, n_oob long"
)
QH_STREAM_STATE_SCHEMA = "counts array<long>, n_oob long"
QH_STREAM_BUCKETS = 64  # value domain [0, 640) units at width 10; fixture max 490


def _qh_estimates(counts: list[int]) -> tuple[int, int, int]:
    """(n, p50_est, p90_est) from a bucket-count vector — the identical
    rank rule the batch ``quantile_histogram_rollup`` runs JVM-side:
    k = ceil(q·n/100) via (q·n + 99) // 100, estimate = lower edge of the
    first bucket whose cumulative count reaches k. All integer."""
    from postgres_cdc_example_spark.queries.windows import QHR_BUCKET_MILLI

    n = sum(counts)
    out = []
    for q in (50, 90):
        k = (q * n + 99) // 100
        cum = 0
        est = 0
        for b, c in enumerate(counts):
            cum += c
            if cum >= k:
                est = b * QHR_BUCKET_MILLI
                break
        out.append(est)
    return n, out[0], out[1]


def _qh_group(key, pdfs, state: GroupState):
    """Fold a batch of bucket ids into the day's count vector. Addition is
    commutative and associative, so any batch slicing or arrival order
    yields the same vector (NOT idempotent — counters need the file
    source's exactly-once replay);
    emits the updated day snapshot each batch (monitoring-style).

    Rows whose bucket falls OUTSIDE [0, QH_STREAM_BUCKETS) — a value below
    0 or at/above the domain ceiling — are DEAD-LETTERED into the visible
    ``n_oob`` counter instead of being folded in: a negative bucket would
    silently wrap (Python negative list index) into a top bucket, and a
    too-large one would collapse into bucket B-1, both corrupting
    p50/p90 with no signal while the uncapped batch twin diverges. The
    same flag-and-exclude pattern the quota/funnel gates use."""
    (day,) = key
    if state.exists:
        counts, n_oob = list(state.get[0]), int(state.get[1])
    else:
        counts, n_oob = [0] * QH_STREAM_BUCKETS, 0
    batch = pd.concat(list(pdfs))
    for b in batch["bucket"]:
        b = int(b)
        if 0 <= b < QH_STREAM_BUCKETS:
            counts[b] += 1
        else:
            n_oob += 1
    state.update((counts, n_oob))
    n, p50, p90 = _qh_estimates(counts)
    yield pd.DataFrame(
        {
            "day": [day],
            "n": [n],
            "p50_est_milli": [p50],
            "p90_est_milli": [p90],
            "n_oob": [n_oob],
        }
    )


def quantile_rollup_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``quantile_histogram_rollup``: per-day
    value histograms tracked at ingest as keyed state ({B} longs per day,
    PERIOD — the bounded footprint that answers "today's p50/p90 so far"
    on a stream where exact rank quantiles would hold every value). The
    milli-grid and bucket id are computed JVM-side as codegen projections
    BEFORE the stateful stage (the Arrow hop carries one long per event);
    bucket-count ADDITION is commutative and associative, so the
    snapshot after any prefix of batches equals the batch query over the
    events ingested so far under any batching/order — unlike the HLL
    gate's max it is NOT idempotent, so the counter contract leans on the
    checkpointed source's exactly-once replay (the same deal every
    counting stream in this repo documents). Estimates inherit the batch
    side's by-construction bound: 0 <= exact - est < bucket width.

    Out-of-domain values (bucket outside [0, {B})) are DEAD-LETTERED into
    the emitted ``n_oob`` counter — excluded from the histogram and from
    ``n`` — instead of being clamped into a boundary bucket: clamping
    would keep the stream "green" while the uncapped batch twin diverges,
    exactly the silent failure this flag exists to surface. n_oob == 0
    certifies the equals-batch contract below holds unconditionally.

    Contract (pinned in tests/test_stateful_streaming.py): with n_oob == 0
    (the whole [0, 640) fixture domain), the final emitted (n, p50, p90)
    per day over a replayed corpus, across a restart, equals
    ``quantile_histogram_rollup``'s (n, p50_est_milli, p90_est_milli)
    columns exactly; the mid-stream snapshot equals a Python-recomputed
    histogram over just the first half; and injected out-of-domain values
    land in n_oob without disturbing the in-domain estimates."""
    from postgres_cdc_example_spark.queries.windows import QHR_BUCKET_MILLI

    # UNCAPPED floor-division bucket (sign-safe: `div` truncates toward
    # zero, so negative milli gets the explicit floor correction) — the
    # stateful stage dead-letters anything outside [0, B) into n_oob
    # rather than capping it into a real bucket, so an out-of-domain value
    # is a visible counter, never a silent histogram corruption.
    prepped = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").alias("m"),
    ).select(
        "day",
        F.expr(
            f"m div {QHR_BUCKET_MILLI}"
            f" - (CASE WHEN m < 0 AND m % {QHR_BUCKET_MILLI} != 0"
            "      THEN 1 ELSE 0 END)"
        ).alias("bucket"),
    )
    return prepped.groupBy("day").applyInPandasWithState(
        _qh_group,
        outputStructType=QH_STREAM_OUTPUT_SCHEMA,
        stateStructType=QH_STREAM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


quantile_rollup_stream.__doc__ = quantile_rollup_stream.__doc__.replace(
    "{B}", str(QH_STREAM_BUCKETS)
)


# --- streaming OLS volume-trend moments (mergeable regression state) ----------

TREND_STREAM_OUTPUT_SCHEMA = (
    "event_type string, n long, sx long, sy long, sxx long, sxy long, syy long"
)
TREND_STREAM_STATE_SCHEMA = (
    "days array<long>, counts array<long>"
)


def _trend_group(key, pdfs, state: GroupState):
    """Fold arriving (day_offset) rows into per-day counts, then emit the
    exact regression moments over the days seen so far. Per-day counting
    is additive (order/batching-proof under exactly-once replay); moments
    are recomputed from the compact (day -> count) map each emission so a
    day receiving MORE events in a later batch updates y, which running
    moment sums could not do. State is bounded by the day domain, not the
    event count."""
    (event_type,) = key
    if state.exists:
        days, counts = state.get
        per_day = dict(zip(days, counts))
    else:
        per_day = {}
    batch = pd.concat(list(pdfs))
    for x in batch["x"]:
        per_day[int(x)] = per_day.get(int(x), 0) + 1
    ds = sorted(per_day)
    state.update(([int(d) for d in ds], [int(per_day[d]) for d in ds]))
    n = len(per_day)
    sx = sum(per_day.keys())
    sy = sum(per_day.values())
    sxx = sum(x * x for x in per_day)
    sxy = sum(x * y for x, y in per_day.items())
    syy = sum(y * y for y in per_day.values())
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n": [n],
            "sx": [sx],
            "sy": [sy],
            "sxx": [sxx],
            "sxy": [sxy],
            "syy": [syy],
        }
    )


def volume_trend_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``event_volume_trend``: the exact OLS
    moment vector per event type maintained as keyed state — the
    regression analogue of the HLL/quantile gates, and the demonstration
    that a CLOSED-FORM model needs no training loop even on a stream
    (contrast the GD classifier). The day offset x anchors at the fixed
    epoch (``to_date(ts)`` day number) rather than the batch query's
    corpus-min-day, because a stream cannot know the global minimum up
    front; the slope is SHIFT-INVARIANT so the anchor choice cancels,
    and the restart test recovers the batch-anchored moments exactly via
    the integer shift identities (sx = sx' - n·d0, sxx = sxx' - 2·d0·sx'
    + n·d0², sxy = sxy' - d0·sy) before applying the identical IEEE
    coefficient divisions. State per type is the (day -> count) map —
    bounded by the day DOMAIN, never the event count."""
    prepped = events.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("x"),
    )
    return prepped.groupBy("event_type").applyInPandasWithState(
        _trend_group,
        outputStructType=TREND_STREAM_OUTPUT_SCHEMA,
        stateStructType=TREND_STREAM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming bottom-k rank sample (mergeable quantile state, unbounded domain)

RANK_STREAM_OUTPUT_SCHEMA = (
    "day string, k_sketch long, p50_est_milli long, p90_est_milli long"
)
RANK_STREAM_STATE_SCHEMA = "hs array<long>, eids array<long>, ms array<long>"


def _rank_sample_estimates(ms: list[int]) -> list[int]:
    """Sample-rank estimates from a bottom-k sample's values — the
    IDENTICAL rule the batch ``rank_sketch_bottomk`` applies to its
    merged sample: value at sample rank ceil(q*k/100)."""
    vals = sorted(ms)
    k = len(vals)
    return [int(vals[(q * k + 99) // 100 - 1]) for q in (50, 90)]


def _rank_sample_group(key, pdfs, state: GroupState):
    """Fold a batch of (h, event_id, m) rows into the day's bottom-K
    sample under the (h, event_id) total order. Bottom-k is a
    commutative, associative, IDEMPOTENT monoid — any batch slicing,
    arrival order, or replayed duplicate yields the same sample, the
    restart-safe-by-construction property the HLL gate's register max
    has (contrast the additive quantile-histogram counters, which need
    exactly-once replay). Emits the day's updated estimates each batch
    (monitoring-style)."""
    from postgres_cdc_example_spark.queries.windows import RANK_SKETCH_K

    (day,) = key
    rows: list[tuple[int, int, int]] = []
    if state.exists:
        hs, eids, ms = state.get
        rows = list(zip([int(x) for x in hs], [int(x) for x in eids],
                        [int(x) for x in ms]))
    batch = pd.concat(list(pdfs))
    for h, e, m in zip(batch["h"], batch["event_id"], batch["m"]):
        rows.append((int(h), int(e), int(m)))
    rows.sort()  # (h, event_id, m): unique event_id => total order
    rows = rows[:RANK_SKETCH_K]
    state.update((
        [r[0] for r in rows],
        [r[1] for r in rows],
        [r[2] for r in rows],
    ))
    p50, p90 = _rank_sample_estimates([r[2] for r in rows])
    yield pd.DataFrame(
        {
            "day": [day],
            "k_sketch": [len(rows)],
            "p50_est_milli": [p50],
            "p90_est_milli": [p90],
        }
    )


def rank_sample_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``rank_sketch_bottomk``'s per-day
    partials: the bottom-{K} rank sample AS keyed state — quantiles on an
    UNBOUNDED value domain at ingest, the case ``quantile_rollup_stream``'s
    fixed bucket grid cannot serve. Hash/milli computations run JVM-side
    as codegen projections BEFORE the stateful stage (the Arrow hop
    carries three longs per event); state is at most {K} (hash, event_id,
    value) triples per day, PERIOD — independent of stream length AND of
    the value domain. Bottom-k under the (hash, event_id) total order is
    commutative, associative and idempotent, so the snapshot after any
    prefix of batches equals the batch construction over the events
    ingested so far, under any batching, even with replayed duplicates —
    restart-safe by construction (no exactly-once lean).

    Contract (pinned in tests/test_stateful_streaming.py): each day's
    FINAL emitted (k, p50, p90) over a replayed corpus, across a restart,
    equals a mirror of the batch per-day bottom-k + sample-rank rule; and
    merging the per-day samples with the batch monoid reproduces
    ``rank_sketch_bottomk``'s corpus estimates exactly — the persisted
    per-day partials ARE the serving layer the batch query's 100 TB note
    describes."""
    from postgres_cdc_example_spark.queries.windows import RANK_SKETCH_K  # noqa: F401

    h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    prepped = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        h.alias("h"),
        F.col("event_id").cast("long").alias("event_id"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("m"),
    )
    return prepped.groupBy("day").applyInPandasWithState(
        _rank_sample_group,
        outputStructType=RANK_STREAM_OUTPUT_SCHEMA,
        stateStructType=RANK_STREAM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


rank_sample_stream.__doc__ = rank_sample_stream.__doc__.replace("{K}", "512")


# --- streaming IVF assignment maintenance (frozen codebook + drift state) -----

IVF_ASSIGN_OUTPUT_SCHEMA = (
    "cluster_id int, n_total long, batch_n long, sum_drift_micro long,"
    " mean_drift_micro long"
)
IVF_ASSIGN_STATE_SCHEMA = "n long, sum_drift long"


def _ivf_assign_group(key, pdfs, state: GroupState):
    """Fold a batch of per-vector drift_micro values into the cluster's
    (count, drift-sum) pair. Addition is commutative and associative, so
    any batch slicing or arrival order yields the same totals (NOT
    idempotent — counters lean on the file source's exactly-once
    replay); emits the updated cluster
    snapshot each batch (monitoring-style)."""
    (cid,) = key
    n, sdrift = (
        (int(state.get[0]), int(state.get[1])) if state.exists else (0, 0)
    )
    batch = pd.concat(list(pdfs))
    bn = len(batch)
    n += bn
    sdrift += int(batch["drift_micro"].sum())
    state.update((n, sdrift))
    yield pd.DataFrame(
        {
            "cluster_id": [int(cid)],
            "n_total": [n],
            "batch_n": [bn],
            "sum_drift_micro": [sdrift],
            "mean_drift_micro": [sdrift // n if n else 0],
        }
    )


def ivf_assign_stream(
    vecs: DataFrame, cent_rows: list[tuple[int, list[float]]]
) -> DataFrame:
    """Streaming IVF ASSIGNMENT MAINTENANCE (r10 verdict #6) — how a
    production vector pipeline actually ingests: the coarse quantizer is
    trained ONCE offline (``similarity.train_kmeans``, memoized by
    ``extensions._trained_centroids``), every ARRIVING vector is assigned
    to its max-cosine centroid by a stateless literal-codebook projection
    (``similarity.ivf_assign_projection`` — zero shuffle, pure codegen,
    the ``pq_encode_gate`` shape), and per-cluster (count, drift-sum)
    keyed state tracks how far new traffic sits from the frozen centroids
    — the retraining trigger: a cluster whose ``mean_drift_micro`` climbs
    is receiving vectors its centroid no longer represents (the batch
    ``ann_staleness_audit`` measures the same decay retrospectively; this
    is its at-ingest twin).

    Scale shape: assignment never enters Python (codegen projection
    against a k x dim literal codebook); the Arrow hop carries
    (cluster_id, drift_micro) pairs only — never embeddings; state is TWO
    longs per cluster, PERIOD (k rows total, however many vectors ever
    arrive). Drift is integer micro (1e6 − round-6 cosine·1e6 — exact, no
    float accumulation), so totals are bit-stable across batchings.

    Contract (pinned in tests/test_stateful_streaming.py): over a
    replayed corpus, across a restart, (a) the stateless assignment
    stream equals the batch ``ivf_topk_learned`` bucketing (same memoized
    centroids) row-for-row, and (b) each cluster's FINAL emitted snapshot
    equals the batch groupBy over ``ivf_assign_projection`` of the full
    corpus."""
    from postgres_cdc_example_spark.operators.similarity import (
        ivf_assign_projection,
    )

    assigned = ivf_assign_projection(vecs, cent_rows)
    return assigned.select("cluster_id", "drift_micro").groupBy(
        "cluster_id"
    ).applyInPandasWithState(
        _ivf_assign_group,
        outputStructType=IVF_ASSIGN_OUTPUT_SCHEMA,
        stateStructType=IVF_ASSIGN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
