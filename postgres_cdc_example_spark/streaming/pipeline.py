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
      → filter(predicate)                     # P4 publication row filter,
                                              #      I/U/D rows observed
      → foreachBatch: write the change rows   # P3/J1-J4/T5, merge-on-read
                                              #      state, O(batch) commit
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

from postgres_cdc_example_spark.sources.changelog import (
    decode_change_lines,
    flatten_person_changes,
    is_valid_change,
)
from postgres_cdc_example_spark.sources.snapshot import snapshot_copy
from postgres_cdc_example_spark.streaming.state import MergeOnReadStateStore


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
        self.store = MergeOnReadStateStore(spark, state_root)
        # Observability counters (T7), summed over committed batches: dead
        # letters, and change rows written per action after the row filter.
        self.dead_letter_count = 0
        self.rows_written = {"I": 0, "U": 0, "D": 0}
        self.last_batch: dict[str, int] = {}  # the newest batch's counts

    # --- T3: snapshot + stream handoff ------------------------------------
    def backfill(self, source_snapshot: DataFrame) -> None:
        """Initial copy (Phase B, ``replicator/main.go:95-140``): filtered
        insert-if-absent into the base at version 0.  Like the reference (slot
        created *before* copy), the stream's checkpoint starts at offset 0,
        so events concurrent with the copy are replayed and deduped by the
        idempotent apply."""
        snap = source_snapshot
        if self.predicate is not None:
            snap = snap.filter(self.predicate)
        self.store.write_base(snapshot_copy(self.store.read(), snap), version=0)
        self.store.publish(0)

    # --- the per-micro-batch apply (P3/J1-J4/T5) ---------------------------
    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # version = batch_id + 1 (0 is the backfill). A crash between commit
        # and checkpoint ack replays this batch; an already-committed version
        # makes the replay a no-op, which is exactly the exactly-once
        # contract (T2). The guard runs first, so a replay runs no job and
        # counts nothing twice.
        version = batch_id + 1
        latest = self.store.latest_version()
        if latest is not None and latest >= version:
            return
        # Dead letters (the reference logs & skips them, T7) and the I/U/D
        # rows written are counted by Observations filled in by the write of
        # the change rows, the batch's only read, so numInputRows equals the
        # lines read. An Observation fires only for an action run in the
        # batch frame's session, which that write is (a write led by a frame
        # from the outer session would leave ``obs.get`` blocked forever).
        dead_obs, rows_obs = Observation(), Observation()
        decoded = decode_change_lines(batch_df).observe(
            dead_obs, F.count_if(~is_valid_change()).alias("dead")
        )
        changes = flatten_person_changes(decoded.filter(is_valid_change()))
        a = F.col("action")
        if self.predicate is not None:
            # Publication row filter on the event's new image, with
            # Postgres's filter-crossing UPDATE transform (UPDATE docs,
            # "publication row filters"): an UPDATE whose new image leaves
            # the filter becomes a DELETE on the key (else the stale row
            # lingers in the target), and one whose new image satisfies it
            # is applied as an upsert I (the old image may have failed the
            # filter, so the key can be absent — plain U would no-op).
            # Deletes carry no image and always replicate.
            passes = F.coalesce(self.predicate, F.lit(False))
            changes = changes.withColumn(
                "action",
                F.when((a == "U") & ~passes, F.lit("D"))
                .when(a == "U", F.lit("I"))
                .otherwise(a),
            ).filter((a == "D") | passes)
        changes = changes.observe(
            rows_obs, *[F.count_if(a == k).alias(k) for k in self.rows_written]
        )
        self._commit(changes, version)
        self.last_batch = {**rows_obs.get, "dead": dead_obs.get["dead"]}
        for k in self.rows_written:
            self.rows_written[k] += self.last_batch[k]
        self.dead_letter_count += self.last_batch["dead"]

    def _commit(self, changes: DataFrame, version: int) -> None:
        """Commit one batch's filtered change rows as ``version``."""
        self.store.commit(changes, version=version)

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
