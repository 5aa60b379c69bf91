"""Stream-static enrichment join.

The reference replicates rows verbatim; a real pipeline usually joins the
change stream against reference/dimension data on the way through (user →
account tier, id → routing shard, ...). In Structured Streaming a
stream-static equi-join is stateless: the static side is (re)broadcast per
micro-batch and each batch joins against it like a batch job — no streaming
state, no watermark needed (unlike stream-stream joins).

Scale notes: broadcast the static side explicitly when it fits (dimension
tables almost always do) — otherwise each micro-batch pays a full shuffle of
the static table; for mutable dimensions, re-reading a versioned store's
latest snapshot inside ``foreachBatch`` gives per-batch freshness with the
same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_stream(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Join a streaming DataFrame to a static dimension (broadcast) on
    ``parity``. The result stays a streaming DataFrame; append-mode sinks
    work for inner and left joins (no state is kept)."""
    return stream.join(F.broadcast(dim), "parity", "inner")
