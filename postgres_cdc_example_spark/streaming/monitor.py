"""T6: stream monitoring — the pubsub monitor loop (``pubsub/main.go:128-209``)
as engine primitives.

The reference polls every 5 s: subscription status, source/target counts,
filtered-count compare ("✓ In sync" / "⟳ Syncing"), and replication lag in
seconds.  Spark-side: a count-compare DataFrame (the exact invariant) plus a
StreamingQueryListener capturing per-batch progress (rows/sec, batch
durations) — the engine's replacement for ``pg_stat_subscription``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener


def sync_check(source: DataFrame, target: DataFrame, predicate: Column | None) -> DataFrame:
    """One-row verdict: ``target == σ(predicate)(source)``
    (``pubsub/main.go:186-198``)."""
    filtered = source.filter(predicate) if predicate is not None else source
    s = filtered.agg(F.count(F.lit(1)).alias("source_filtered_count"))
    t = target.agg(F.count(F.lit(1)).alias("target_count"))
    return s.crossJoin(t).select(
        "source_filtered_count",
        "target_count",
        (F.col("target_count") == F.col("source_filtered_count"))
        .cast("int")
        .alias("in_sync"),
        F.when(
            F.col("target_count") == F.col("source_filtered_count"),
            F.lit("✓ In sync"),
        )
        .otherwise(F.lit("⟳ Syncing"))
        .alias("status"),
    )


def replication_lag_seconds(target: DataFrame, ts_col: str) -> DataFrame:
    """``EXTRACT(EPOCH FROM now() - pg_last_xact_replay_timestamp())::int``
    (``pubsub/main.go:202-208``): processing-time minus max applied event
    time."""
    return target.agg(
        (
            F.unix_timestamp(F.current_timestamp())
            - F.unix_timestamp(F.max(ts_col).cast("timestamp"))
        )
        .cast("int")
        .alias("lag_seconds")
    )


class ProgressListener(StreamingQueryListener):
    """Collects per-batch progress — counts applied per micro-batch (A4
    running counters) and processing rates, queryable like
    ``pg_stat_subscription`` (``pubsub/main.go:135-155``)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.progress.append(
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": p.inputRowsPerSecond,
                "durationMs": dict(p.durationMs) if p.durationMs else {},
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
