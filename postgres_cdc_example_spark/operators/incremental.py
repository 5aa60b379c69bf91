"""Incremental aggregate maintenance over a CDC stream — materialized-view
delta maintenance, the operator that makes "keep a dashboard aggregate fresh
at 100 TB" tractable.

Problem: a grouped aggregate (count / sum per group) over a mutable state
table must stay current as I/U/D change batches arrive. Recomputing from the
full state is O(|state|) per batch — a non-starter when state is 100 TB and
a micro-batch touches a few thousand keys.

This operator's cost is O(|changes| + |touched keys| + |groups|), never
O(|state|):

1. project the TOUCHED KEYS from the change batch (distinct on key);
2. left-semi join state to touched keys — on a key-partitioned table
   format (Delta/Iceberg with file-level key stats) this prunes to the
   changed files, so even the state-side read is proportional to the delta;
3. apply the change batch to that slice only (per-key CDC semantics are
   closed under restriction to a key subset — :mod:`cdc_apply`'s fold is
   per-key, so applying to the slice equals slicing the applied whole);
4. the group delta = aggregate(post-slice) − aggregate(pre-slice);
5. merge the delta into the previous aggregate with one union + re-agg;
   groups whose row count reaches zero disappear (exactly as a recompute
   would drop them).

Sums are maintained in integer CENTS: bigint addition is associative, so the
incremental path is bit-identical to a from-scratch recompute — double sums
would drift between the two paths. The equivalence invariant
``maintain(agg(S), Δ) == agg(apply(S, Δ))`` is the oracle check
(`incremental_agg_maintenance` in queries/cdc.py) and the multi-batch fold
test; a production pipeline can assert it on sampled groups continuously.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from postgres_cdc_example_spark.operators.cdc_apply import apply_changes


def agg_snapshot(state: DataFrame, group_col: str, cents: Column) -> DataFrame:
    """The maintained aggregate, computed from scratch: rows + cents-sum per
    group. Used to seed maintenance and (in tests/oracles) as the recompute
    baseline the incremental path must equal."""
    return state.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("sum_cents"),
    )


def maintain_agg(
    prev_agg: DataFrame,
    state: DataFrame,
    changes: DataFrame,
    group_col: str,
    cents: Column,
    key: str = "id",
    **apply_kwargs,
) -> DataFrame:
    """Advance ``prev_agg`` (= ``agg_snapshot`` of ``state``) across a change
    batch without rescanning state. Returns the new aggregate; ``state`` is
    only read for the touched-key slice."""
    touched = changes.select(key).distinct()
    pre = state.join(touched, key, "left_semi")
    post = apply_changes(pre, changes, key=key, **apply_kwargs)
    neg = (
        pre.groupBy(group_col)
        .agg(
            (-F.count(F.lit(1))).alias("n_rows"),
            (-F.sum(cents)).alias("sum_cents"),
        )
    )
    pos = agg_snapshot(post, group_col, cents)
    return (
        prev_agg.unionByName(pos)
        .unionByName(neg)
        .groupBy(group_col)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_cents").alias("sum_cents"),
        )
        .filter(F.col("n_rows") > 0)
    )
