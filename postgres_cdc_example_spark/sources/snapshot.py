"""S3/J2/S11: snapshot copy path (reference ``replicator/main.go:95-150``).

Phase B of the replicator: bulk-copy all existing rows into the target with
``INSERT … ON CONFLICT (id) DO NOTHING`` in 100-row batches, then advance the
id sequence to ``COALESCE(MAX(id),0)+1``.

Spark-first: the copy is one anti-join + union (set-wise, no batching knob —
partition-level writes replace the hand-rolled 100-row pgx batches, S4), and
the sequence watermark is a one-row aggregate the caller persists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_copy(target: DataFrame, source: DataFrame) -> DataFrame:
    """Insert-if-absent: target ∪ (source ⟕anti target) on the key
    (``ON CONFLICT DO NOTHING``, ``replicator/main.go:118-122``).

    Rows already in ``target`` win — the reference never overwrites during
    snapshot, so concurrent CDC updates applied before the copy lands are
    preserved.
    """
    fresh = source.join(target.select("id"), "id", "left_anti")
    return target.unionByName(fresh)


def max_id_watermark(df: DataFrame) -> tuple[int, int]:
    """``SELECT COALESCE(MAX(id), 0)`` → (max_id, next_id)
    (``replicator/main.go:142-150``).  The RESTART is engine state the caller
    keeps (Spark has no transactional sequences — SURVEY.md §7.4 hard part 3).
    """
    row = df.agg(F.coalesce(F.max("id"), F.lit(0)).alias("m")).collect()[0]
    return int(row["m"]), int(row["m"]) + 1
