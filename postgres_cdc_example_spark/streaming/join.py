"""Stream-stream interval join — the streaming twin of the batch range join.

The batch surface correlates error events with nearby clicks
(``errors_nearby_clicks``, ``operators/rangejoin.py``); this is the same
semantics over two LIVE streams: each error joins the clicks of the same
user whose event time falls in a bounded interval before it. Structured
Streaming requires exactly what the 100 TB design needs anyway:

- **watermarks on both sides** — without them the join state is unbounded
  (every row must wait for a possible future match forever). The watermark
  is the state-eviction contract: a side's rows are dropped once the other
  side's watermark passes the end of their match window.
- **a time-range condition on event time** — this is what turns the join
  from "keep everything" into "keep one interval per key"; Spark derives
  the state retention bound from it.

Plan shape: both sides shuffle on the join key into the same state-store
partitioning; per-batch work is O(new rows + expired state), never
O(retained history). Inner joins emit as matches arrive (append mode);
outer joins additionally emit unmatched rows only when the watermark
passes their window — correct, but late by one watermark delay (the same
trade every streaming engine makes).

The reference has no stream-stream surface (it replicates one table); this
is SURVEY.md §2.7 extension work alongside sessionization and the
materialized view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Join each ``right`` (error) row to the ``left`` (click) rows of the
    same ``user_id`` whose ``click_ts`` falls within
    ``(error_ts - 10 minutes, error_ts]`` — left events lead up to each
    right event ("what led up to this right event"). The interval is
    asymmetric: a left row AFTER its right row never matches (pinned by
    ``tests/test_stream_join.py``). Both inputs must be streaming
    DataFrames with event-time columns; all non-key columns should be
    disjointly named (rename before calling, as with any self-ish join).

    The 10-minute watermark bounds BOTH sides' lateness; together with the
    interval it fixes the state-store retention Spark computes per side.
    """
    l = left.withWatermark("click_ts", "10 minutes")
    r = right.withWatermark("error_ts", "10 minutes")
    cond = (
        (l["user_id"] == r["user_id"])
        & (l["click_ts"] > r["error_ts"] - F.expr("INTERVAL 10 minutes"))
        & (l["click_ts"] <= r["error_ts"])
    )
    # drop the duplicate key column from the left side after the join
    return l.join(r, cond, "inner").drop(l["user_id"])
