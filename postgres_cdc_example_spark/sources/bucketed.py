"""Bucketed (co-located) tables — shuffle-free joins for repeated big⋈big.

A fact⋈fact join (e.g. lineitem⋈orders at 100 TB) shuffles BOTH sides on
the key every time it runs. Writing the tables bucketed on the join key
(``bucketBy(n, key)`` + ``sortBy``) pre-partitions them identically on disk,
so every later join on that key runs as a sort-merge join with ZERO
exchanges — the shuffle is paid once at write time and amortized over every
subsequent query. ``tests/test_plans.py::test_bucketed_join_has_no_exchange``
asserts the Exchange-free plan.

Tables here are bucketed on ``o_orderkey`` into 8 buckets. Bucket counts
must match on both sides (Spark also accepts multiples); at scale, pick n
so each bucket ≈ 100-500 MB at target scale (100 TB / 4096 ≈ 25 GB
per bucket per table is too big — 65536 buckets lands at ~1.5 GB).

The reference has no join surface at all (SURVEY.md §2.3) — this is scale
infrastructure for the engine's general join family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def save_bucketed(df: DataFrame, table: str) -> None:
    """Persist ``df`` as a parquet table bucketed (and bucket-sorted) on
    ``o_orderkey``. Pays one shuffle now so joins/aggregations on the key
    never shuffle again."""
    writer = df.write.format("parquet").mode("overwrite").bucketBy(8, "o_orderkey")
    writer.sortBy("o_orderkey").saveAsTable(table)


def bucketed_join(spark: SparkSession, left: str, right: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key: Catalyst sees the
    matching output partitioning and plans a sort-merge join with no
    Exchange on either side."""
    return spark.table(left).join(spark.table(right), "o_orderkey")
