"""Batch CDC apply core — set-wise replacement for the reference's per-event
imperative loop.

Reference semantics (``replicator/main.go:175-270``), applied strictly in WAL
order, one event at a time:

- ``I`` → ``INSERT … ON CONFLICT (id) DO UPDATE SET name,uid,score`` —
  **created_at intentionally not updated** on conflict
  (``replicator/main.go:204-217``);
- ``U`` → ``UPDATE … WHERE id=$1`` (no-op when the row is absent;
  created_at untouched, ``replicator/main.go:234-243``);
- ``D`` → ``DELETE … WHERE id=$1`` (``replicator/main.go:252-268``).

Instead of replaying events one at a time, we compute the *closed form* of
that fold per key, which makes the whole apply three hash-exchanges on the
key (one window + one reusing its partitioning + one join) regardless of how
many events a key has — the idiomatic-Spark answer to "apply the log in
order" that scales to 100 TB where a per-row loop cannot:

Let, per key:
  d_max   = max seq among D events (None if no D)
  iu_last = max seq among I/U events
  i_first = min seq among I events with seq > coalesce(d_max, -inf)
            (= the event that *created* the row's current incarnation)

Then the final row exists iff
  (no D and the key was in state)  OR  i_first is not NULL,
its value columns come from the event at ``iu_last`` (falling back to state
values when U-events only touched some columns — not needed for the person
schema where events carry full images), and its created_at is
  state.created_at        if no D and the key was in state   (upsert keeps it)
  created_at @ i_first    otherwise                           (fresh insert).

This reproduces the serial fold exactly, including insert-after-delete
re-creation and "U on absent key is a no-op".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def compact_changes(
    changes: DataFrame,
    key: str = "id",
    seq: str = "seq",
) -> DataFrame:
    """Last-write-wins compaction: keep only each key's latest event.

    One shuffle on the key; ties broken deterministically by the highest
    ``seq`` (WAL order — never arrival order, SURVEY.md §7.4 hard part 2).
    """
    w = Window.partitionBy(key).orderBy(F.col(seq).desc())
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    state: DataFrame,
    changes: DataFrame,
    value_cols: list[str] | None = None,
    created_col: str | None = "created_at",
) -> DataFrame:
    """Apply a flat I/U/D change log to a state DataFrame; returns new state.

    ``changes`` columns: ``id``, ``seq``, ``action`` ("I"/"U"/"D"), value
    columns, and (optionally) ``created_col`` carried on insert events.
    ``state`` columns: ``id``, value columns, optional ``created_col``.
    """
    if value_cols is None:
        reserved = {"id", "seq", "action", created_col}
        value_cols = [c for c in changes.columns if c not in reserved]

    k, s, a = F.col("id"), F.col("seq"), F.col("action")
    is_iu = a.isin("I", "U")

    # One hash-exchange on `key`; the groupBy below reuses its partitioning.
    w = Window.partitionBy("id")
    ev = (
        changes.withColumn("__d_max", F.max(F.when(a == "D", s)).over(w))
        .withColumn("__iu_last", F.max(F.when(is_iu, s)).over(w))
        .withColumn(
            "__i_first",
            F.min(
                F.when((a == "I") & (s > F.coalesce(F.col("__d_max"), F.lit(-(1 << 62)))), s)
            ).over(w),
        )
    )

    val_struct = F.struct(*[F.col(c) for c in value_cols])
    aggs = [
        F.first("__d_max").alias("__d_max"),
        F.first("__i_first").alias("__i_first"),
        # exactly one row per key satisfies seq == __iu_last / __i_first;
        # max() over a single non-null value selects it.
        F.max(F.when(s == F.col("__iu_last"), val_struct)).alias("__vals"),
    ]
    if created_col is not None:
        aggs.append(
            F.max(F.when(s == F.col("__i_first"), F.col(created_col))).alias("__created_new")
        )
    summary = ev.groupBy("id").agg(*aggs)

    st = state.select(
        k.alias("__sk"),
        F.lit(True).alias("__in_state"),
        *[F.col(c).alias(f"__s_{c}") for c in value_cols],
        *( [F.col(created_col).alias("__s_created")] if created_col else [] ),
    )

    joined = summary.join(st, summary["id"] == st["__sk"], "full_outer")

    in_state = F.coalesce(F.col("__in_state"), F.lit(False))
    has_summary = F.col("id").isNotNull()
    exists_final = F.when(
        ~has_summary, in_state  # untouched state row
    ).otherwise(
        (F.col("__d_max").isNull() & in_state) | F.col("__i_first").isNotNull()
    )

    out_key = F.coalesce(F.col("id"), F.col("__sk")).alias("id")
    out_vals = [
        F.when(
            has_summary & F.col("__vals").isNotNull(), F.col("__vals")[c]
        )
        .otherwise(F.col(f"__s_{c}"))
        .alias(c)
        for c in value_cols
    ]
    out_cols = [out_key, *out_vals]
    if created_col is not None:
        keep_state_created = F.col("__d_max").isNull() & in_state
        out_cols.append(
            F.when(~has_summary | keep_state_created, F.col("__s_created"))
            .otherwise(F.col("__created_new"))
            .alias(created_col)
        )
    return joined.filter(exists_final).select(*out_cols)


def align_to_schema(df: DataFrame, target: "StructType") -> DataFrame:
    """Schema evolution for the state table (the ALTER TABLE the reference
    never faces, every long-lived CDC pipeline does):

    - columns missing from ``df`` are added as typed NULLs (ADD COLUMN —
      existing rows get NULL, exactly Postgres' default-less semantics);
    - columns present in both are cast to the target type (widening, e.g.
      int→bigint when a SERIAL overflows to BIGSERIAL);
    - columns absent from ``target`` are DROPPED.

    Pure projection — no shuffle, no data rewrite; the versioned store
    materializes the new shape at the next commit. Column ORDER follows the
    target schema so parquet footers stay uniform across versions.
    """
    from pyspark.sql import functions as F

    have = {f.name for f in df.schema.fields}
    cols = [
        (F.col(f.name).cast(f.dataType) if f.name in have
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in target.fields
    ]
    return df.select(*cols)


def scd2_history(
    changes: DataFrame, state_keys: DataFrame | None = None
) -> DataFrame:
    """SCD Type-2 view of a change log: instead of overwriting state (the
    reference's semantics), KEEP every version with its validity interval —
    the shape dimension history, auditing, and point-in-time training
    snapshots need.

    Versioning replicates the reference's replay EXACTLY (the subtle part is
    aliveness): an I always opens a version; a U opens one only if the row
    is alive at that point (U on a deleted/never-inserted row is a no-op,
    ``replicator/main.go:234-243``); a D on an alive row closes the open
    version and opens nothing; no-op events close nothing. Initial
    aliveness comes from ``state_keys`` (keys present in the snapshot);
    without it, only I-rooted lineages version.

    Aliveness is one ``last(ignorenulls)`` window over the key's log order
    (the last prior I/D boundary decides), and closing is one ``lead`` over
    the *effective* events only — two window passes sharing a single shuffle
    on the key, no joins, no recursion. ``is_current`` marks versions still
    open at end-of-log; the current set provably equals ``apply_changes``
    output values (tests/test_cdc_apply.py reconciliation).
    """
    value_cols = ["status", "amount"]
    ch = changes
    if state_keys is not None:
        ch = ch.join(
            F.broadcast(state_keys.select(F.col("id")).distinct().withColumn(
                "__in_state", F.lit(True)
            )),
            "id",
            "left",
        ).withColumn("__in_state", F.coalesce(F.col("__in_state"), F.lit(False)))
    else:
        ch = ch.withColumn("__in_state", F.lit(False))
    w_order = Window.partitionBy("id").orderBy("seq")
    # the most recent I/D at-or-before each event; for the event itself a U
    # contributes null, so a U row sees the PRIOR boundary
    boundary = F.last(
        F.when(F.col("action").isin("I", "D"), F.col("action")), ignorenulls=True
    ).over(w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # for a U row the inclusive-window boundary equals the PRIOR boundary
    # (U contributes null), so: alive iff last prior boundary is I, or no
    # boundary yet and the key was in the snapshot
    alive_for_u = (boundary == "I") | (boundary.isNull() & F.col("__in_state"))
    opens = (F.col("action") == "I") | ((F.col("action") == "U") & alive_for_u)
    # a D is effective (closes something) iff the row was alive: its
    # boundary-before is I, or no boundary and the key was in the snapshot
    prior_boundary = F.last(
        F.when(F.col("action").isin("I", "D"), F.col("action")), ignorenulls=True
    ).over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    d_effective = (F.col("action") == "D") & (
        (prior_boundary == "I") | (prior_boundary.isNull() & F.col("__in_state"))
    )
    marked = ch.select(
        F.col("id"), F.col("seq"), F.col("action"), *value_cols,
        opens.alias("__opens"), d_effective.alias("__closes"),
    ).filter(F.col("__opens") | F.col("__closes"))
    w_eff = Window.partitionBy("id").orderBy("seq")
    v = marked.withColumn("__next_seq", F.lead("seq").over(w_eff))
    return v.filter(F.col("__opens")).select(
        F.col("id"),
        F.col("seq").alias("version_seq"),
        *value_cols,
        F.col("__next_seq").alias("valid_to_seq"),
        F.col("__next_seq").isNull().alias("is_current"),
    )
