"""Bucketed range join — the scalable plan for temporal-proximity joins.

A naive range-predicate join (``ON abs(l.ts - r.ts) <= radius``) has no
equi-condition, so Spark executes it as BroadcastNestedLoopJoin: every left
row against every right row — O(L·R) comparisons, a non-starter at 100 TB.

The bucketed formulation makes it an EQUI-join: quantize time into buckets
of exactly ``radius`` micros, key the right side by its bucket, and explode
each left row to its three candidate buckets {b−1, b, b+1} (any right row
within ±radius lies in one of them — and only one, so no dedup pass is
needed). The join then shuffles on the bucket key — near-uniform for
time-spread data — and the residual ``abs(diff) <= radius`` filter runs
per matched pair. Cost: 3×|L| probe rows + matches bounded by event density
× radius, independent of |L|·|R|. Wider-than-radius windows generalize by
exploding ⌈window/radius⌉+1 probes; skewed hot buckets fall back to the
salting pattern in operators/skew.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ts_micros(ts: Column) -> Column:
    return F.unix_micros(ts.cast("timestamp"))


def bucketed_range_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Inner-join rows whose integer-microsecond keys ``left.e_us`` and
    ``right.c_us`` differ by at most 1_800_000_000 (30 minutes). Column sets
    must be disjoint (rename before calling). Returns left columns + right
    columns for every matching pair."""
    # integer division (`div`), not float division + floor: epoch micros sit
    # near 2^50 where double quotients can land a boundary row in the wrong
    # bucket
    b = F.expr("e_us div 1800000000L")
    probes = left.withColumn(
        "__bucket", F.explode(F.array(b - 1, b, b + 1))
    )
    keyed = right.withColumn("__bucket", F.expr("c_us div 1800000000L"))
    return (
        probes.join(keyed, "__bucket")
        .filter(F.abs(F.col("e_us") - F.col("c_us")) <= 1_800_000_000)
        .drop("__bucket")
    )
