"""Streaming materialized aggregate view — incremental maintenance wired
into the CDC stream.

The reference's pubsub monitor polls full-table COUNT(*)s every 5 s
(``pubsub/main.go:159-169``) — an O(state) rescan per tick. This module
keeps a grouped aggregate (rows + exact integer sum per group) continuously
current by folding :func:`operators.incremental.maintain_agg` over the same
change stream the state pipeline consumes: per micro-batch the cost is
O(|changes| + touched keys), never O(state), so a 100 TB state table costs
the same per tick as a 100 MB one.

Crash consistency (exactly-once, both stores versioned at ``batch_id + 1``):
a batch writes the state's change directory, commits the aggregate, then
flips the state's ``_LATEST``, so at any crash point

- agg @ v+1, state @ v   → replay: the change directory is rewritten, agg
  skips (version check), state publishes — both land at v+1;
- agg @ v,   state @ v   → replay recomputes the delta from the untouched
  pre-state — correct by construction.

State can therefore never be AHEAD of the aggregate, which is the one
ordering that would poison the delta (a pre-state slice that already
contains the batch yields a zero delta, silently freezing the view).
The aggregate reads the batch back from the change directory just written,
so the stream reads each micro-batch once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from postgres_cdc_example_spark.operators.incremental import agg_snapshot, maintain_agg
from postgres_cdc_example_spark.streaming.pipeline import CdcPipeline
from postgres_cdc_example_spark.streaming.state import VersionedStateStore

AGG_SCHEMA = StructType(
    [
        StructField("name", StringType(), True),
        StructField("n_rows", LongType(), True),
        StructField("sum_cents", LongType(), True),  # exact integer units
    ]
)

_APPLY_KW = dict(value_cols=["name", "uid", "score"], created_col="created_at")


def _score() -> Column:  # lazy: Column creation needs a live session
    return F.col("score").cast("long")


class StreamingAggView(CdcPipeline):
    """person change-lines → state table + continuously-maintained
    ``(name, n_rows, sum_cents=Σscore)`` aggregate. The stream, decode,
    dead-letter count and replay guard are :class:`CdcPipeline`'s; this
    class only adds the aggregate commit between writing the state's change
    rows and publishing them."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        store_root: str,
        checkpoint_dir: str,
    ):
        super().__init__(spark, source_dir, store_root + "/state", checkpoint_dir)
        self.agg_store = VersionedStateStore(
            spark, store_root + "/agg", {"agg": AGG_SCHEMA}
        )

    def _commit(self, changes: DataFrame, version: int) -> None:
        # The state replay guard already ran, so only the aggregate can be
        # ahead here (crash between the aggregate commit and the publish):
        # it then skips.
        self.store.write_changes(changes, version)
        agg_v = self.agg_store.latest_version()
        if agg_v is None or agg_v < version:
            state = self.store.read()  # the pre-state, at version - 1
            if agg_v is None:
                # seed from the current state (empty on a fresh pipeline; the
                # snapshot when backfill() ran before the stream)
                self.agg_store.commit(
                    {"agg": agg_snapshot(state, "name", _score())},
                    version=version - 1,
                )
            new_agg = maintain_agg(
                self.agg_store.read("agg"),
                state,
                self.store.read_changes(version),
                group_col="name",
                cents=_score(),
                **_APPLY_KW,
            )
            self.agg_store.commit({"agg": new_agg}, version=version)
        self.store.publish(version)

    def view(self) -> DataFrame:
        return self.agg_store.read("agg")
