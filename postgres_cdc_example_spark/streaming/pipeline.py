"""The end-to-end CDC pipeline — the reference's replicator + pubsub as ONE
Structured Streaming query (SURVEY.md §3.3: "this is literally one streaming
query").

Reference shape (``replicator/main.go`` / ``pubsub/main.go``):

    slot create ──► snapshot copy ──► poll wal2json every 2 s ──► parse
    ──► filter table ──► [row filter] ──► apply I/U/D per event ──► target

Spark shape::

    backfill batch (snapshot_copy)            # T3 snapshot+stream handoff
    readStream (JSON lines)                   # S5 — file source in tests,
                                              #      Kafka/Debezium in prod
      → decode_change_lines                   # S6 + T7 dead letters,
                                              #      counted by an Observation
      → flatten_person_changes                # P2/P7
      → filter(predicate)                     # P4 publication row filter
      → foreachBatch: apply_changes + commit  # P3/J1-J4/T5, versioned state
    checkpointLocation                        # S7 — the "replication slot":
                                              # offset tracking, drop dir =
                                              # drop slot

Delivery: checkpointed offsets + idempotent per-version state commit =
exactly-once state (strictly stronger than the reference's at-most-once slot
consumption, T2 — deliberate divergence documented in SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from postgres_cdc_example_spark.operators.cdc_apply import apply_changes
from postgres_cdc_example_spark.schemas import PERSON_SCHEMA
from postgres_cdc_example_spark.sources.changelog import (
    decode_change_lines,
    flatten_person_changes,
    is_valid_change,
)
from postgres_cdc_example_spark.sources.snapshot import snapshot_copy
from postgres_cdc_example_spark.streaming.state import VersionedStateStore


def start_change_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    apply_batch,
    trigger_interval: str,
    available_now: bool,
) -> StreamingQuery:
    """The one change-line stream: JSON lines from ``source_dir`` →
    ``foreachBatch(apply_batch)`` with offsets checkpointed in
    ``checkpoint_dir``. ``available_now=True`` drains the backlog and stops;
    otherwise it fires every ``trigger_interval``."""
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 16)  # T8 backpressure
        .load(source_dir)
    )
    writer = (
        lines.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


class CdcPipeline:
    """Filtered CDC replication: change-log JSON lines → person state table.

    Parameters mirror the reference's deployment knobs:

    - ``predicate``: the publication row filter (``WHERE (score %% 2 = 0)``,
      ``pubsub/main.go:79``) — None replicates everything (replicator mode).
    - ``trigger_interval``: the 2 s poll cadence
      (``time.NewTicker(2*time.Second)``, ``replicator/main.go:154``);
      ``available_now=True`` drains the backlog and stops (tests).
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        state_root: str,
        checkpoint_dir: str,
        predicate: Column | None = None,
        trigger_interval: str = "2 seconds",
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.predicate = predicate
        self.trigger_interval = trigger_interval
        self.store = VersionedStateStore(spark, state_root, PERSON_SCHEMA)
        self.dead_letter_count = 0  # observability counter (T7)

    # --- T3: snapshot + stream handoff ------------------------------------
    def backfill(self, source_snapshot: DataFrame) -> None:
        """Initial copy (Phase B, ``replicator/main.go:95-140``): filtered
        insert-if-absent into state version 0.  Like the reference (slot
        created *before* copy), the stream's checkpoint starts at offset 0,
        so events concurrent with the copy are replayed and deduped by the
        idempotent apply."""
        snap = source_snapshot
        if self.predicate is not None:
            snap = snap.filter(self.predicate)
        merged = snapshot_copy(self.store.read(), snap)
        self.store.commit(merged, version=0)

    # --- the per-micro-batch apply (P3/J1-J4/T5) ---------------------------
    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # version = batch_id + 1 (0 is the backfill). A crash between commit
        # and checkpoint ack replays this batch: without the guard the replay
        # would read v{batch_id+1} and overwrite the same directory — Spark
        # refuses ("Cannot overwrite a path that is also being read from")
        # and the pipeline wedges. An already-committed version makes the
        # replay a no-op, which is exactly the exactly-once contract (T2).
        # The guard runs first, so a replay runs no job and counts no dead
        # letters twice.
        version = batch_id + 1
        latest = self.store.latest_version()
        if latest is not None and latest >= version:
            return
        # Dead letters (the reference logs & skips them, T7) are counted by
        # an Observation on the decoded batch, filled in by the state commit,
        # so the commit is the batch's only read and numInputRows equals the
        # lines read. An Observation fires only for an action run in the
        # batch frame's session: apply_changes puts the changes side on the
        # left of its join, so the commit's frame is in that session (a
        # write led by a frame from the outer session would leave
        # ``obs.get`` blocked forever).
        obs = Observation()
        decoded = decode_change_lines(batch_df).observe(
            obs, F.count_if(~is_valid_change()).alias("dead")
        )
        changes = flatten_person_changes(decoded.filter(is_valid_change()))
        if self.predicate is not None:
            # Publication row filter on the event's new image, with
            # Postgres's filter-crossing UPDATE transform (UPDATE docs,
            # "publication row filters"): an UPDATE whose new image leaves
            # the filter becomes a DELETE on the key (else the stale row
            # lingers in the target), and one whose new image satisfies it
            # is applied as an upsert I (the old image may have failed the
            # filter, so the key can be absent — plain U would no-op).
            # Deletes carry no image and always replicate.
            a = F.col("action")
            passes = F.coalesce(self.predicate, F.lit(False))
            changes = changes.withColumn(
                "action",
                F.when((a == "U") & ~passes, F.lit("D"))
                .when(a == "U", F.lit("I"))
                .otherwise(a),
            ).filter((F.col("action") == "D") | passes)
        self._commit(self.store.read(), changes, version)
        self.dead_letter_count += obs.get["dead"]

    def _commit(self, state: DataFrame, changes: DataFrame, version: int) -> None:
        """Apply one batch's filtered changes to ``state`` and commit the
        result as ``version``. Subclasses that keep derived stores commit
        them first, then call this."""
        new_state = apply_changes(state, changes)
        self.store.commit(new_state.select(*state.columns), version=version)

    def start(self, available_now: bool = False) -> StreamingQuery:
        return start_change_stream(
            self.spark,
            self.source_dir,
            self.checkpoint_dir,
            self._apply_batch,
            self.trigger_interval,
            available_now,
        )

    def state(self) -> DataFrame:
        return self.store.read()
