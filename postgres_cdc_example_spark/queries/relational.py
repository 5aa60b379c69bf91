"""Wider relational surface: grouping sets, pivot, exact percentiles,
as-of join, set operations, scalar subqueries, multi-distinct aggregation.

The reference's SQL surface is tiny (SURVEY.md §2.4-2.5: global counts, one
MAX, ORDER BY, LIMIT) — everything here is the surrounding relational family
a user migrating off a Postgres-backed pipeline expects to keep, expressed
Spark-first and oracle-checked:

- **rollup / cube** compile to Spark's ``Expand`` operator: each input row
  is replicated once per grouping set *before* one ordinary hash aggregate
  with map-side partial combine — no per-grouping re-scan at 100 TB.
- **pivot** with an explicit value list stays a single aggregate (no second
  pass to discover pivot values, which would scan the fact table twice).
- **exact percentiles** run on integer cents so linear interpolation
  ((1-f)*a + f*b, f ∈ {.25,.5,.75}) is bit-exact in IEEE doubles across
  engines regardless of each engine's interpolation formulation.
- **as-of join** uses the union + last(ignorenulls) window pattern: one
  shuffle on the key, no range-condition join (which Spark would execute as
  a broadcast-nested-loop — quadratic per key). DuckDB verifies with its
  *native* ASOF JOIN, a genuinely different implementation.
- **EXCEPT / INTERSECT** map to left-anti / left-semi hash joins over
  distinct keys (exactly how Catalyst lowers the SQL set operators).
- **scalar subquery** (global average) broadcasts a 1-row aggregate and
  cross-joins it — the filter stays distributed; no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_cdc_example_spark.operators import hints
from postgres_cdc_example_spark.queries import register
from postgres_cdc_example_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# grouping sets: ROLLUP / CUBE
# ---------------------------------------------------------------------------


@register(
    "rollup_region_revenue",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def rollup_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region→nation→grand-total in ONE aggregate:
    ``rollup`` expands each row into its 3 grouping sets (Expand operator),
    then a single hash agg with partial combine — never three scans.
    (`cube_priority_status_volume` is the all-combinations sibling.)"""
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(dims), o["o_custkey"] == dims["c_custkey"])
        .rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "cube_order_stats",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 4 grouping sets of (status, priority) in one Expand+agg pass."""
    return (
        load_table(spark, "orders", sf_dir)
        .cube(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# pivot
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["p_urgent", "p_high", "p_medium", "p_unspecified", "p_low"]


@register(
    "pivot_priority_by_status",
    oracle="""
    SELECT o_orderstatus AS status,
           count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
           count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
           count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium,
           count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p_unspecified,
           count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p_low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide in one aggregate. The pivot VALUE LIST is explicit — without
    it Spark runs a hidden distinct-scan of the fact table first to discover
    columns, doubling I/O at scale."""
    wide = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, subset=_PRIORITIES)
    )
    return wide.select(
        "status",
        *[F.col(f"`{v}`").alias(a) for v, a in zip(_PRIORITIES, _PRIORITY_ALIASES)],
    )


# ---------------------------------------------------------------------------
# exact percentiles (interpolated, bit-exact via integer cents)
# ---------------------------------------------------------------------------


@register(
    "order_value_percentiles",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS priority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    )
    SELECT priority,
           quantile_cont(cents, 0.25) AS p25_cents,
           quantile_cont(cents, 0.50) AS p50_cents,
           quantile_cont(cents, 0.75) AS p75_cents,
           count(*) AS n_orders
    FROM c GROUP BY priority
    """,
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of order value per priority. Computed on
    integer CENTS: (1-f)*a + f*b with f ∈ {.25,.5,.75} over ints < 2^53 is
    exact in doubles, so Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` agree bit-for-bit whatever formulation each uses.
    (Exact percentile needs the full sorted group — fine per-group; at 100 TB
    prefer ``percentile_approx`` whose sketch merges map-side.)"""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return (
        load_table(spark, "orders", sf_dir)
        .select(F.col("o_orderpriority").alias("priority"), cents.alias("cents"))
        .groupBy("priority")
        .agg(
            F.percentile("cents", 0.25).alias("p25_cents"),
            F.percentile("cents", 0.50).alias("p50_cents"),
            F.percentile("cents", 0.75).alias("p75_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# as-of join (most recent prior event, per key)
# ---------------------------------------------------------------------------


@register(
    "clicks_asof_errors",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, e.value AS error_value,
           c.ts AS click_ts, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def clicks_asof_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every error, the most recent click at-or-before it by
    the same user. Spark-first pattern: UNION both sides, one window per
    user ordered by time, ``last(click_ts, ignorenulls=True)`` carries the
    latest click forward, then keep error rows. ONE shuffle on user_id and a
    per-partition sort — never a range-condition join, which Spark executes
    as broadcast-nested-loop (per-key quadratic). The oracle runs DuckDB's
    native ASOF JOIN — an independent implementation of the same semantics."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("click", "error")
    )
    is_click = F.col("event_type") == "click"
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "event_type",
        F.when(is_click, F.col("ts")).alias("c_ts"),
        F.when(is_click, F.col("value")).alias("c_value"),
        # at equal ts a click must sort BEFORE the error that sees it
        # (ASOF's >= bound); event_id breaks any remaining tie deterministically
        F.when(is_click, F.lit(0)).otherwise(F.lit(1)).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("click_ts", F.last("c_ts", ignorenulls=True).over(w))
        .withColumn("click_value", F.last("c_value", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("error_value"),
            "click_ts",
            "click_value",
        )
    )


# ---------------------------------------------------------------------------
# set operations: EXCEPT / INTERSECT
# ---------------------------------------------------------------------------


@register(
    "error_days_without_purchase",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day
    FROM events WHERE event_type = 'error'
    EXCEPT
    SELECT user_id, CAST(ts AS DATE) AS day
    FROM events WHERE event_type = 'purchase'
    """,
)
def error_days_without_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): user-days with an error but no purchase. Lowers to
    distinct + left-anti hash join on (user_id, day)."""
    ev = load_table(spark, "events", sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.to_date("ts").alias("day")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("day")
    )
    return err.distinct().join(pur, ["user_id", "day"], "left_anti")


@register(
    "error_days_with_purchase",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day
    FROM events WHERE event_type = 'error'
    INTERSECT
    SELECT user_id, CAST(ts AS DATE) AS day
    FROM events WHERE event_type = 'purchase'
    """,
)
def error_days_with_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: user-days with both an error and a purchase — distinct +
    left-semi hash join."""
    ev = load_table(spark, "events", sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.to_date("ts").alias("day")
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("day")
    )
    return err.distinct().join(pur, ["user_id", "day"], "left_semi")


# ---------------------------------------------------------------------------
# scalar subquery + multi-distinct aggregation
# ---------------------------------------------------------------------------


@register(
    "orders_above_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price
    FROM orders
    WHERE o_totalprice > (SELECT round(avg(o_totalprice), 2) FROM orders)
    """,
)
def orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price. The 1-row
    average is broadcast-cross-joined so the comparison runs distributed —
    no driver collect, no second synchronization point. (Average rounded to
    cents so distributed summation order can't flip boundary rows.)"""
    o = load_table(spark, "orders", sf_dir)
    avg = o.agg(F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    return (
        o.crossJoin(F.broadcast(avg))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total_price")
        )
    )


@register(
    "event_type_reach",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT CAST(ts AS DATE)) AS n_days,
           round(sum(value), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def event_type_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact DISTINCT aggregates alongside plain ones: Catalyst
    Expand-rewrites the distincts into one multi-pass aggregate (no
    self-joins). At 100 TB swap in approx_count_distinct (HLL, map-side
    mergeable) — kept exact here for the oracle."""
    return (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(F.to_date("ts")).alias("n_days"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# window frames: running totals, time-range moving windows, lead/lag, ntile
# ---------------------------------------------------------------------------


@register(
    "customer_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS order_seq,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS running_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def customer_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative spend (ROWS frame): one shuffle on the
    partition key, per-partition sort, O(1) state per row. Integer cents so
    the prefix sums are exact. Tie-break by o_orderkey makes every prefix
    deterministic."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        "o_orderkey",
        F.row_number()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey"))
        .alias("order_seq"),
        F.sum(cents).over(w).alias("running_cents"),
    )


@register(
    "events_trailing_hour",
    oracle="""
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_window,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS sum_cents
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def events_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour moving window per user (RANGE frame over event time —
    a per-row window, unlike the bucketed F.window aggregates). Spark's
    rangeBetween needs a numeric sort key, so the frame runs over epoch
    microseconds with a [-3.6e9, 0] bound — semantically identical to the
    oracle's INTERVAL bound ((user_id, ts) is unique in the fixtures, so
    RANGE peers never differ)."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.sum(cents).over(w).alias("sum_cents"),
    )


@register(
    "event_lead_lag",
    oracle="""
    SELECT event_id, user_id, event_type,
           date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def event_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation per user: inter-event gap (exact integer
    microseconds) and the next action — the per-row flavor of the
    sessionization family, one shuffle + sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "order_value_quartile_stats",
    oracle="""
    WITH t AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT quartile, count(*) AS n_orders,
           min(cents) AS min_cents, max(cents) AS max_cents
    FROM t GROUP BY quartile
    """,
)
def order_value_quartile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing + per-bucket stats. The unpartitioned ORDER BY is a
    single-partition sort — fine for ranked summaries over aggregated or
    sampled inputs, and flagged here as the one operator in this family that
    does NOT scale unpartitioned (at 100 TB: approx quantile cutpoints +
    range-bucket join instead)."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    t = load_table(spark, "orders", sf_dir).select(
        cents.alias("cents"),
        F.ntile(4).over(Window.orderBy("o_totalprice", "o_orderkey")).alias("quartile"),
    )
    return t.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


# ---------------------------------------------------------------------------
# range join (temporal proximity) — bucketed equi-join plan
# ---------------------------------------------------------------------------


@register(
    "errors_nearby_clicks",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, count(c.event_id) AS n_nearby_clicks
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON abs(date_diff('microsecond', e.ts, c.ts)) <= 1800000000
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)
def errors_nearby_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-proximity join: clicks within ±30 min of each error, by
    anyone. Bucketed-range-join plan (operators/rangejoin.py): quantize,
    explode 3 probe buckets, EQUI-join on the bucket, residual-filter — an
    O(matches) shuffle plan where the naive range predicate (the oracle's
    formulation) is a nested-loop O(L·R)."""
    from postgres_cdc_example_spark.operators.rangejoin import (
        bucketed_range_join,
        ts_micros,
    )

    ev = load_table(spark, "events", sf_dir)
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", ts_micros(F.col("ts")).alias("e_us")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), ts_micros(F.col("ts")).alias("c_us")
    )
    pairs = bucketed_range_join(err, clk)
    counts = pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n"))
    return err.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_nearby_clicks"),
    )


# ---------------------------------------------------------------------------
# approximate sketches — the 100 TB path for the exact stats above
# ---------------------------------------------------------------------------


@register("event_reach_approx", oracle=None)  # sketch outputs are engine-specific
def event_reach_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user reach + approx quartiles per event type.
    These are the operators that REPLACE `event_type_reach` /
    `order_value_percentiles` at 100 TB: both sketches merge map-side
    (mergeable partial state), so cost is one combine-shuffle of sketch
    bytes instead of an Expand-rewrite (exact distinct) or a full per-group
    sort (exact percentile). Outputs are engine-specific (no DuckDB oracle);
    the accuracy contract vs the exact answers is pinned by
    tests/test_relational.py::test_approx_sketches_within_error_bounds and
    driver-checked via the ``event_reach_approx_error`` companion query."""
    return (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"),
            F.percentile_approx(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
                [0.25, 0.5, 0.75],
                10_000,
            ).alias("value_quartiles_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "event_reach_approx_error",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS reach_within_5pct,
           TRUE AS median_within_p40_p60
    FROM events
    GROUP BY event_type
    """,
)
def event_reach_approx_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy contract for the sketch operators: the raw
    sketch outputs are engine-specific (``event_reach_approx`` is rows-only),
    but the CLAIM — approx within bound of exact — is checkable anywhere.
    Emits, per event type, the exact reach plus two booleans: HLL++ reach
    (rsd=2%) within ±5% of exact (≈2.5σ), and the approx median landing
    between the exact 40th and 60th percentiles (rank error ≤ n/10000 makes
    both bounds loose). The oracle asserts TRUE literally: a sketch drifting
    out of bound hash-mismatches the row. Booleans absorb sketch
    merge-order variation, so the result is partitioning-stable."""
    ev = load_table(spark, "events", sf_dir)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    # Keep count(DISTINCT) in its OWN aggregate branch (r12 optimization,
    # guide §2.3): planned together, the distinct rewrite keys the first
    # aggregate level on (event_type, user_id), so every percentile/HLL
    # buffer is built and shuffle-serialized once per DISTINCT USER
    # (~100k object buffers through the exchange) instead of once per
    # event type. Split, each branch is one map-side-combined pass —
    # measured 2.4 s -> ~0.6 s at sf0.1 with bit-identical output (the
    # branches compute the same functions over the same groups; the
    # 5-row join is broadcast).
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    sketches = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"),
        F.percentile_approx(cents, 0.5, 10_000).alias("median_approx"),
        F.expr(
            "percentile(CAST(floor(value * 100 + 0.5) AS BIGINT), array(0.4, 0.6))"
        ).alias("p40_p60"),
    )
    agg = exact.join(F.broadcast(sketches), "event_type")
    return agg.select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("n_users_approx") - F.col("n_users_exact")) * 100
            <= F.col("n_users_exact") * 5
        ).alias("reach_within_5pct"),
        (
            (F.col("median_approx") >= F.col("p40_p60")[0])
            & (F.col("median_approx") <= F.col("p40_p60")[1])
        ).alias("median_within_p40_p60"),
    )


# ---------------------------------------------------------------------------
# fuzzy matching (edit distance over the distinct value set)
# ---------------------------------------------------------------------------


@register(
    "fuzzy_part_names",
    oracle="""
    WITH names AS (SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS dist,
           a.n_parts AS n_a, b.n_parts AS n_b
    FROM names a JOIN names b
      ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical name pairs by edit distance — the entity-resolution
    primitive. The 100 TB move is the FIRST line: aggregate the fact table
    to its distinct value set (vocabulary ≪ rows — 64 names for 20k parts
    here; product catalogs behave the same), THEN all-pairs-compare the tiny
    vocabulary broadcast-side. Levenshtein runs on pairs of distinct values,
    never per fact row; beyond ~100k distinct values add q-gram blocking in
    front (same inverted-index shape as dedup.ngram_jaccard_pairs)."""
    names = (
        load_table(spark, "part", sf_dir)
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("n_parts").alias("n_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("n_parts").alias("n_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(F.broadcast(b), F.col("name_a") < F.col("name_b"))
        .filter(dist <= 2)
        .select("name_a", "name_b", dist.alias("dist"), "n_a", "n_b")
    )


@register(
    "region_priority_grid",
    oracle="""
    WITH counts AS (
      SELECT r.r_name AS region, o.o_orderpriority AS priority, count(*) AS n_orders
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, o.o_orderpriority
    )
    SELECT g.region, g.priority, COALESCE(counts.n_orders, 0) AS n_orders
    FROM (SELECT r_name AS region, priority
          FROM region, (SELECT DISTINCT o_orderpriority AS priority FROM orders)) g
    LEFT JOIN counts ON g.region = counts.region AND g.priority = counts.priority
    """,
)
def region_priority_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense reporting grid: EVERY (region, priority) cell, zero-filled —
    the one place an explicit cross join is correct (dims × dims, 5×5 rows;
    the fact table never enters the cartesian). Absent combinations surface
    as 0 instead of silently missing, which sparse GROUP BY output would."""
    o = load_table(spark, "orders", sf_dir).select("o_custkey", "o_orderpriority")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_regionkey")
    r = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    counts = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = r.select(F.col("r_name").alias("region")).crossJoin(
        o.select(F.col("o_orderpriority").alias("priority")).distinct()
    )
    return grid.join(counts, ["region", "priority"], "left").select(
        "region", "priority", F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders")
    )


@register(
    "unpivot_priority_counts",
    oracle="""
    WITH wide AS (
      SELECT o_orderstatus AS status,
             count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p_urgent,
             count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p_high,
             count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p_medium,
             count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p_unspecified,
             count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p_low
      FROM orders GROUP BY o_orderstatus
    )
    SELECT status, priority_bucket, n_orders
    FROM wide
    UNPIVOT (n_orders FOR priority_bucket
             IN (p_urgent, p_high, p_medium, p_unspecified, p_low))
    """,
)
def unpivot_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long (the pivot inverse): `unpivot` lowers to a row-local Expand
    — one output row per (row × value column), no shuffle at all; the only
    shuffle in this plan is the upstream pivot aggregate it unpivots."""
    wide = pivot_priority_by_status(spark, sf_dir)
    return wide.unpivot(
        ids=["status"],
        values=_PRIORITY_ALIASES,
        variableColumnName="priority_bucket",
        valueColumnName="n_orders",
    )


@register(
    "grouping_sets_order_stats",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (two disjoint single-column sets plus the
    grand total) — the generalization ROLLUP/CUBE can't express: priority
    totals and status totals in ONE Expand+aggregate pass over the fact
    table instead of two scans unioned. ``gid`` (the grouping bit vector)
    disambiguates a real NULL group key from a rolled-up one. DataFrame
    API exposes only rollup/cube, so this goes through Spark SQL — same
    Catalyst Expand plan. Integer cents keep sums engine-exact."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders_gsets")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS BIGINT) AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
        FROM orders_gsets
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@register(
    "event_type_top_users",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, count(*) AS est_count
      FROM events GROUP BY event_type, user_id
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY est_count DESC, user_id) AS rnk
      FROM c
    )
    SELECT event_type, user_id, est_count, rnk AS rank FROM r WHERE rnk <= 10
    """,
)
def event_type_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 users per event type — the BATCH TWIN of
    ``streaming/stateful.py::heavy_hitters_stream`` (which computes the same
    ranking under a hard state bound; its test pins stream == this batch
    answer when cardinality fits capacity). One map-side-combined count +
    a per-type ranking window over the (small) per-user count table."""
    counts = (
        load_table(spark, "events", sf_dir)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("est_count"))
    )
    w = Window.partitionBy("event_type").orderBy(F.col("est_count").desc(), "user_id")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("event_type", "user_id", "est_count", "rank")
    )


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT
      (SELECT count(*) FROM lineitem l LEFT JOIN orders o
         ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
        AS orphan_lineitems,
      (SELECT count(*) FROM orders o LEFT JOIN customer c
         ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
        AS orphan_orders,
      (SELECT count(*) FROM lineitem) AS n_lineitems,
      (SELECT count(*) FROM orders) AS n_orders
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphaned fact rows per FK edge
    (lineitem→orders, orders→customer) next to the totals — the continuous
    data-quality check a CDC-replicated warehouse runs to prove the target
    hasn't drifted (the set-wise generalization of the reference's
    count-compare monitor, pubsub/main.go:159-198). Each orphan count is a
    LEFT ANTI hash join that shuffles only keys; at 100 TB the dimension
    sides broadcast and the audit costs two key-projected fact scans."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    orphan_li = li.join(
        o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    orphan_o = o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("orphan_orders")
    )
    totals = li.agg(F.count(F.lit(1)).alias("n_lineitems")).crossJoin(
        o.agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return orphan_li.crossJoin(orphan_o).crossJoin(totals)


@register(
    "audience_overlap",
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    per AS (SELECT event_type, count(*) AS n_users FROM tu GROUP BY event_type),
    ov AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_shared
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_shared,
           pa.n_users AS n_users_a, pb.n_users AS n_users_b,
           CAST((n_shared * 1000000)
                // (pa.n_users + pb.n_users - n_shared) AS BIGINT)
             AS jaccard_micro
    FROM ov
    JOIN per pa ON pa.event_type = ov.type_a
    JOIN per pb ON pb.event_type = ov.type_b
    """,
)
def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: shared distinct
    users per (type_a, type_b) plus per-type reach and integer-micro
    Jaccard — the segment-overlap matrix behind cohort targeting and
    feature-cannibalization questions. Shape: one distinct on
    (event_type, user_id) — the exact-distinct shuffle — then a self-join
    KEYED ON user_id (a user contributes |types_of_user|² pair rows, which
    is bounded by the type universe, never by N), and a |types|²-row
    rollup that two broadcast-sized per-type reach joins decorate. The
    exact twin of what a theta-sketch intersection estimates at 100 TB;
    here the type universe is small enough that exact is the right call."""
    ev = load_table(spark, "events", sf_dir)
    tu = ev.select("event_type", "user_id").distinct()
    per = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    ov = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        ov.join(
            F.broadcast(per.select(F.col("event_type").alias("type_a"),
                                   F.col("n_users").alias("n_users_a"))),
            "type_a",
        )
        .join(
            F.broadcast(per.select(F.col("event_type").alias("type_b"),
                                   F.col("n_users").alias("n_users_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_shared",
            "n_users_a",
            "n_users_b",
            F.expr(
                "(n_shared * 1000000) div (n_users_a + n_users_b - n_shared)"
            ).alias("jaccard_micro"),
        )
    )


ERASE_MOD = 97  # users with user_id % 97 == 0 form the erasure request set


@register(
    "user_erasure_audit",
    oracle=f"""
    WITH req AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % {ERASE_MOD} = 0
    ),
    ev AS (
      SELECT e.user_id, e.event_id,
             CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM events e LEFT JOIN req r ON e.user_id = r.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows_before,
           CAST(sum(hit) AS BIGINT) AS n_rows_erased,
           CAST(count(*) - sum(hit) AS BIGINT) AS n_rows_after,
           (SELECT CAST(count(*) AS BIGINT) FROM req) AS n_users_requested,
           CAST(0 AS BIGINT) AS n_residual_rows
    FROM ev
    """,
)
def user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten sweep: given an erasure request set (stand-in:
    ``user_id % {ERASE_MOD} == 0``), rewrite the events table WITHOUT those
    users (a left-anti join — the actual erasure operator) and audit the
    result: rows before/erased/after, request-set size, and — the claim a
    compliance audit actually needs — the RESIDUAL count, computed by
    re-scanning the erased output for requested users (a semi-join over
    the rewritten side, not arithmetic), which must be zero. The oracle
    states the expected counts arithmetically with a literal-zero
    residual, so a leaky anti-join hash-mismatches the row. Shape: one
    broadcast-able request set (bounded by the user universe), one
    anti-join + one semi-join over the fact scan — O(fact) total at any
    scale."""
    ev = load_table(spark, "events", sf_dir)
    req = (
        ev.filter(F.col("user_id") % ERASE_MOD == 0)
        .select("user_id")
        .distinct()
    )
    erased = ev.join(req, "user_id", "left_anti")
    residual = erased.join(req, "user_id", "left_semi")
    stats = ev.agg(F.count(F.lit(1)).cast("long").alias("n_rows_before")).crossJoin(
        F.broadcast(erased.agg(F.count(F.lit(1)).cast("long").alias("n_rows_after")))
    )
    return (
        stats.crossJoin(
            F.broadcast(req.agg(F.count(F.lit(1)).cast("long").alias("n_users_requested")))
        )
        .crossJoin(
            F.broadcast(
                residual.agg(F.count(F.lit(1)).cast("long").alias("n_residual_rows"))
            )
        )
        .select(
            "n_rows_before",
            (F.col("n_rows_before") - F.col("n_rows_after")).alias("n_rows_erased"),
            "n_rows_after",
            "n_users_requested",
            "n_residual_rows",
        )
    )


K_ANON_MIN = 5  # groups smaller than this are re-identification risks
L_DIV_MIN = 2  # QI groups whose sensitive attribute has < this diversity leak it


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey AS nation,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kilo,
             CAST(count(*) AS BIGINT) AS k_size,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_diversity
      FROM customer GROUP BY 1, 2
    )
    SELECT nation, bal_kilo, k_size, l_diversity,
           CAST(CASE WHEN k_size < {K_ANON_MIN} THEN 1 ELSE 0 END AS BIGINT)
             AS below_k,
           CAST(CASE WHEN l_diversity < {L_DIV_MIN} THEN 1 ELSE 0 END AS BIGINT)
             AS below_l
    FROM g WHERE k_size < {K_ANON_MIN} OR l_diversity < {L_DIV_MIN}
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY / L-DIVERSITY audit — the re-identification-risk half of
    the privacy surface (``pii_redaction_audit`` finds direct identifiers;
    this finds QUASI-identifier combinations that single people out after
    the direct ones are gone). Quasi-identifier = (nation, account-balance
    kilo-bucket); sensitive attribute = market segment. A QI group smaller
    than k = {{K}} is a linkage-attack risk (an adversary with the public
    QI pins the row set to < {{K}} candidates); a group whose sensitive
    attribute takes < {{L}} distinct values leaks it to EVERY member even
    at k ≥ {{K}} (homogeneity attack — the reason k-anonymity alone is not
    enough). Emits the risky groups with both statistics; the remediation
    ladder is generalization (widen the balance bucket, roll nation up to
    region) until the audit returns zero rows — each rung is this same
    query with a coarser QI, so the audit IS the tuning loop. Scale shape:
    one map-side-combined aggregate on the bounded QI space (|nations| ×
    |balance buckets|); count(DISTINCT) over the 5-value segment domain
    rewrites to a bounded expand — nothing corpus-proportional leaves the
    mappers. Everything integer; floor() explicit so Spark and DuckDB
    agree on the negative-balance bucket."""
    c = load_table(spark, "customer", sf_dir)
    g = (
        c.select(
            F.col("c_nationkey").alias("nation"),
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kilo"),
            "c_mktsegment",
        )
        .groupBy("nation", "bal_kilo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_size"),
            F.countDistinct("c_mktsegment").cast("long").alias("l_diversity"),
        )
    )
    return g.filter(
        (F.col("k_size") < K_ANON_MIN) | (F.col("l_diversity") < L_DIV_MIN)
    ).select(
        "nation",
        "bal_kilo",
        "k_size",
        "l_diversity",
        F.when(F.col("k_size") < K_ANON_MIN, 1).otherwise(0).cast("long").alias(
            "below_k"
        ),
        F.when(F.col("l_diversity") < L_DIV_MIN, 1).otherwise(0).cast("long").alias(
            "below_l"
        ),
    )


k_anonymity_audit.__doc__ = k_anonymity_audit.__doc__.replace(
    "{K}", str(K_ANON_MIN)
).replace("{L}", str(L_DIV_MIN))


# columns profiled by orders_column_profile: string/int/date only — double
# columns are EXCLUDED by policy (double→string formatting differs between
# engines; profile numeric distributions with the quantile/moment queries)
PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate")


@register(
    "orders_column_profile",
    oracle=f"""
    WITH pairs AS (
      {" UNION ALL ".join(
          f"SELECT '{c}' AS colname, CAST({c} AS VARCHAR) AS val FROM orders"
          for c in PROFILE_COLS
      )}
    ),
    hist AS (
      SELECT colname, val, CAST(count(*) AS BIGINT) AS c
      FROM pairs WHERE val IS NOT NULL GROUP BY colname, val
    ),
    tot AS (
      SELECT colname,
             CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM pairs GROUP BY colname
    ),
    ent AS (
      SELECT h.colname,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(CAST(floor(CAST(h.c AS DOUBLE) * ln(CAST(t.n_rows - t.n_nulls AS DOUBLE) / h.c)
                            / (t.n_rows - t.n_nulls) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS entropy_micro
      FROM hist h JOIN tot t ON h.colname = t.colname
      GROUP BY h.colname
    ),
    top AS (
      SELECT colname, val AS top_value, c AS top_freq
      FROM (SELECT *, row_number() OVER (PARTITION BY colname
                                         ORDER BY c DESC, val) AS rn FROM hist)
      WHERE rn = 1
    )
    SELECT t.colname, t.n_rows, t.n_nulls, e.n_distinct,
           top.top_value, top.top_freq, e.entropy_micro
    FROM tot t JOIN ent e ON t.colname = e.colname
    JOIN top ON top.colname = t.colname
    """,
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN PROFILER — the data-quality surface every ingest pipeline
    runs before training on a new drop (what Deequ/Great-Expectations
    compute): per column, row/null counts, distinct cardinality, the modal
    value with its frequency, and the Shannon entropy of the value
    distribution (the one-number summary that separates 'constant column'
    from 'uniform id' — entropy 0 vs ln(n)). One unpivot (explode of a
    per-row struct array — column count × rows, still one scan), one
    map-side-combined (column, value) histogram, then per-column
    aggregates over histogram rows only. Entropy follows the house
    transcendental policy: each histogram row's c·ln(n/c)/n term is
    micro-rounded BEFORE the per-column sum (both engines run the same
    double op on the same exact integers). Top-value ties break to the
    lexicographically smallest value — deterministic in both engines.
    Double-typed columns are excluded by policy: double→string casts
    format differently across engines, and numeric distributions belong
    to the quantile/moment queries anyway. Scale: the histogram is the
    only corpus-proportional stage and it combines map-side; everything
    after is bounded by distinct values per column."""
    o = load_table(spark, "orders", sf_dir)
    pairs = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("colname"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.colname", "p.val")
    hist = (
        pairs.filter(F.col("val").isNotNull())
        .groupBy("colname", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = pairs.groupBy("colname").agg(
        F.sum(F.when(F.col("val").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_nulls"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    ent = (
        hist.join(F.broadcast(tot), "colname")
        .select(
            "colname",
            F.expr(
                "CAST(floor(CAST(c AS DOUBLE)"
                " * ln(CAST(n_rows - n_nulls AS DOUBLE) / c)"
                " / (n_rows - n_nulls) * 1000000 + 0.5) AS BIGINT)"
            ).alias("term_micro"),
        )
        .groupBy("colname")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum("term_micro").cast("long").alias("entropy_micro"),
        )
    )
    w = Window.partitionBy("colname").orderBy(F.col("c").desc(), "val")
    top = (
        hist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("colname", F.col("val").alias("top_value"), F.col("c").alias("top_freq"))
    )
    return (
        tot.join(ent, "colname")
        .join(top, "colname")
        .select(
            "colname",
            "n_rows",
            "n_nulls",
            "n_distinct",
            "top_value",
            "top_freq",
            "entropy_micro",
        )
    )


BASKET_CAP = 64  # max items per basket entering the pair expansion
BASKET_MINSUP = 2  # pair support floor (count of co-occurring baskets)


@register(
    "basket_part_pairs",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    sized AS (
      SELECT o, p FROM b
      QUALIFY count(*) OVER (PARTITION BY o) <= {BASKET_CAP}
    ),
    n AS (SELECT count(DISTINCT o) AS n_orders FROM sized),
    ca AS (SELECT p, count(*) AS c FROM sized GROUP BY p),
    pr AS (
      SELECT a.p AS part_a, b2.p AS part_b, count(*) AS pair_count
      FROM sized a JOIN sized b2 ON a.o = b2.o AND a.p < b2.p
      GROUP BY 1, 2
      HAVING count(*) >= {BASKET_MINSUP}
    )
    SELECT part_a, part_b, CAST(pair_count AS BIGINT) AS pair_count,
           CAST(x.c AS BIGINT) AS count_a, CAST(y.c AS BIGINT) AS count_b,
           (pair_count * 1000000) // n_orders AS support_micro,
           (pair_count * 1000000) // x.c AS confidence_micro,
           (pair_count * n_orders * 1000000) // (x.c * y.c) AS lift_micro
    FROM pr JOIN ca x ON x.p = pr.part_a JOIN ca y ON y.p = pr.part_b, n
    """,
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining over order baskets: support /
    confidence / lift for every part pair co-occurring in >=
    {BASKET_MINSUP} orders — the co-purchase table recommendation and
    assortment pipelines start from. Scale shape: baskets larger than
    {BASKET_CAP} items are EXCLUDED before the pair expansion (the same
    hot-key cutoff as the dedup family's df guards — one pathological
    mega-order would otherwise contribute O(n^2) pairs), the pair
    expansion is a PER-ROW array comprehension off one grouped basket
    (never an order-keyed self-join shuffling the fact table twice), pair
    counts combine map-side on the (a, b) key, and the two part-frequency
    joins are keyed on the part. All three ratios are truncating integer
    micro-units: lift = pair * N * 1e6 div (ca * cb) stays inside int64
    for any corpus where part frequencies fit in ~3e9."""
    li = load_table(spark, "lineitem", sf_dir)
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    # r13 (guide §5): the basket table feeds THREE consumers (order count,
    # per-part frequencies, the pair expansion) — the distinct + grouped
    # collect_list over the fact table otherwise executes three times
    # (exchange reuse shares only the shuffle, not the array aggregate).
    # One lazy localCheckpoint = one aggregate + three cheap reads; at
    # 100 TB this is the basket table a production run would persist
    # anyway (MEMORY_AND_DISK, spills instead of OOM).
    baskets = (
        b.groupBy("o")
        .agg(F.array_sort(F.collect_list("p")).alias("items"))
        .filter(F.size("items") <= BASKET_CAP)
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    ca = baskets.select(F.explode("items").alias("p")).groupBy("p").agg(
        F.count(F.lit(1)).alias("c")
    )
    pair_arr = F.expr(
        "flatten(transform(items, (x, i) ->"
        " transform(slice(items, i + 2, size(items) - i - 1),"
        " y -> struct(x AS pa, y AS pb))))"
    )
    pr = (
        baskets.select(F.explode(pair_arr).alias("pp"))
        .select(F.col("pp.pa").alias("part_a"), F.col("pp.pb").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= BASKET_MINSUP)
    )
    return (
        pr.join(ca.select(F.col("p").alias("part_a"), F.col("c").alias("count_a")),
                "part_a")
        .join(ca.select(F.col("p").alias("part_b"), F.col("c").alias("count_b")),
              "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("pair_count").cast("long").alias("pair_count"),
            F.col("count_a").cast("long").alias("count_a"),
            F.col("count_b").cast("long").alias("count_b"),
            F.expr("pair_count * 1000000 div n_orders").alias("support_micro"),
            F.expr("pair_count * 1000000 div count_a").alias("confidence_micro"),
            F.expr("pair_count * n_orders * 1000000 div (count_a * count_b)").alias(
                "lift_micro"
            ),
        )
    )


basket_part_pairs.__doc__ = basket_part_pairs.__doc__.format(
    BASKET_MINSUP=BASKET_MINSUP, BASKET_CAP=BASKET_CAP
)


RFM_K = 5  # quintile scores per dimension
RFM_FREQ_BUCKET_CAP = 64  # frequency range-buckets above this collapse
RFM_MONEY_BUCKET_CENTS = 10_000_000  # $100k per monetary range-bucket
RFM_MONEY_BUCKET_CAP = 4096


def _bucket_global_rank(
    df: DataFrame, out: str, bucket: Column, order_cols: list
) -> DataFrame:
    """0-based GLOBAL rank under (order_cols) without a single-reducer
    sort: per-bucket row_number (the bucket must be a monotone coarsening
    of the sort key, so global order is bucket-major) plus broadcast
    cumulative offsets from the bounded bucket histogram — the
    corpus_shuffle_order / quality_curriculum two-pass shape, factored
    for reuse across the three RFM dimensions."""
    t = df.withColumn("__b", bucket)
    wb = Window.partitionBy("__b").orderBy(*order_cols)
    ranked = t.withColumn("__rk", F.row_number().over(wb))
    counts = t.groupBy("__b").agg(F.count(F.lit(1)).alias("__nb"))
    wo = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = counts.select(
        "__b", (F.sum("__nb").over(wo) - F.col("__nb")).alias("__off")
    )
    return (
        ranked.join(F.broadcast(offsets), "__b")
        .withColumn(out, F.col("__off") + F.col("__rk") - 1)
        .drop("__b", "__rk", "__off")
    )


@register(
    "orders_rfm_segments",
    oracle=f"""
    WITH c AS (
      SELECT o_custkey AS custkey, max(o_orderdate) AS recency,
             count(*) AS frequency,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ), n AS (SELECT count(*) AS n FROM c),
    r AS (
      SELECT custkey, recency, frequency, monetary_cents,
             row_number() OVER (ORDER BY recency, custkey) - 1 AS rr,
             row_number() OVER (ORDER BY frequency, custkey) - 1 AS fr,
             row_number() OVER (ORDER BY monetary_cents, custkey) - 1 AS mr
      FROM c
    )
    SELECT custkey, recency, CAST(frequency AS BIGINT) AS frequency,
           monetary_cents,
           CAST(rr * {RFM_K} // n + 1 AS BIGINT) AS r_score,
           CAST(fr * {RFM_K} // n + 1 AS BIGINT) AS f_score,
           CAST(mr * {RFM_K} // n + 1 AS BIGINT) AS m_score,
           CAST((rr * {RFM_K} // n + 1) * 100 + (fr * {RFM_K} // n + 1) * 10
                + (mr * {RFM_K} // n + 1) AS BIGINT) AS rfm_segment
    FROM r, n
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic lifecycle-marketing table: each customer scored 1..{RFM_K} on
    each dimension by exact rank-quantile (score = rank*{RFM_K} div n + 1,
    0-based rank, custkey tie-break — NOT ntile, whose uneven-group fill
    is harder to reason about at merge time), concatenated into the
    3-digit segment code. Monetary sums in exact cents (floor(price*100 +
    0.5) — 2-decimal fixture prices are exact), never order-dependent
    float. The oracle states each rank as one global row_number; the
    ENGINE computes identical ranks with the reusable two-pass bucket
    shape (per-bucket window + broadcast offsets — buckets: order month
    for recency, capped count for frequency, capped $100k steps for
    monetary; each a monotone coarsening of its sort key, each histogram
    bounded), so the customer table never funnels through one reducer:
    three bucket-keyed shuffles total, all map-side combinable upstream."""
    o = load_table(spark, "orders", sf_dir)
    cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("recency"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("monetary_cents"),
    )
    t = _bucket_global_rank(
        cust,
        "rr",
        F.year("recency") * 12 + F.month("recency"),
        [F.col("recency"), F.col("custkey")],
    )
    t = _bucket_global_rank(
        t,
        "fr",
        F.least(F.col("frequency"), F.lit(RFM_FREQ_BUCKET_CAP)),
        [F.col("frequency"), F.col("custkey")],
    )
    t = _bucket_global_rank(
        t,
        "mr",
        F.least(
            F.expr(f"monetary_cents div {RFM_MONEY_BUCKET_CENTS}"),
            F.lit(RFM_MONEY_BUCKET_CAP),
        ),
        [F.col("monetary_cents"), F.col("custkey")],
    )
    n = cust.agg(F.count(F.lit(1)).alias("n"))
    sc = lambda r: F.expr(f"{r} * {RFM_K} div n + 1")  # noqa: E731
    return (
        t.crossJoin(F.broadcast(n))
        .select(
            "custkey",
            "recency",
            F.col("frequency").cast("long").alias("frequency"),
            "monetary_cents",
            sc("rr").alias("r_score"),
            sc("fr").alias("f_score"),
            sc("mr").alias("m_score"),
            (sc("rr") * 100 + sc("fr") * 10 + sc("mr")).alias("rfm_segment"),
        )
    )


orders_rfm_segments.__doc__ = orders_rfm_segments.__doc__.format(RFM_K=RFM_K)


# ---------------------------------------------------------------------------
# two-pass exact quantiles (the scale path the percentile family promises)
# ---------------------------------------------------------------------------

Q2P_BUCKET_CENTS = 100_000  # $1k histogram buckets over order value
Q2P_TARGETS = (50, 90, 99)  # percentile targets


@register(
    "order_value_quantiles_2pass",
    oracle=f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    n AS (SELECT count(*) AS n FROM c),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM c),
    t AS (
      SELECT u.q AS q, (u.q * n.n + 99) // 100 AS k, n.n AS n
      FROM (SELECT unnest([{",".join(str(q) for q in Q2P_TARGETS)}]) AS q) u, n
    )
    SELECT t.q AS quantile_pct, r.cents AS value_cents,
           t.k AS target_rank, t.n AS n_orders
    FROM t JOIN r ON r.rn = t.k
    """,
)
def order_value_quantiles_2pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rank quantiles (p50/p90/p99, value at rank ceil(q*n/100)) via
    the two-pass histogram-prune algorithm — the 100 TB answer the
    ``order_value_quartile_stats`` docstring promises in place of its
    unpartitioned global sort. Pass 1: ONE map-side-combined aggregate
    over fixed ${Q2P_BUCKET_CENTS//100_000}k-wide cent buckets; the
    histogram is bounded by the VALUE DOMAIN (~500 buckets here),
    not the row count, so collecting it is bounded driver metadata of the
    same class as centroids/bloom bitmaps. The driver walks the cumulative
    counts to locate each target rank's bucket and in-bucket offset —
    all-integer (k = (q*n + 99) // 100 is exactly ceil). Pass 2 re-scans
    ONLY the target buckets: the bucket predicate is exact, and a
    conservative raw-column range predicate rides along so parquet
    row-group pruning fires (floats only ever WIDEN the range — never
    exclude a boundary row); each surviving bucket sorts locally under one
    per-bucket ranking window (never a global sort) and a broadcast 3-row
    (bucket, offset) table picks the answers. Equal-cents ties need no
    tie-break: any row at the target in-bucket rank carries the same
    value. The oracle states the spec as one global row_number."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    c = load_table(spark, "orders", sf_dir).select(
        F.col("o_totalprice").alias("price"), cents.alias("cents")
    )
    w = Q2P_BUCKET_CENTS
    hist = (
        c.groupBy(F.expr(f"cents div {w}").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    counts = sorted((int(r["bucket"]), int(r["cnt"])) for r in hist)
    n = sum(cnt for _, cnt in counts)
    if n == 0:  # empty table: no rank exists, return the empty result
        return c.select(
            F.col("cents").alias("quantile_pct"),
            F.col("cents").alias("value_cents"),
            F.col("cents").alias("target_rank"),
            F.col("cents").alias("n_orders"),
        )
    targets = []  # (q, k, bucket, in-bucket offset)
    for q in Q2P_TARGETS:
        k = (q * n + 99) // 100
        cum = 0
        for b, cnt in counts:
            if cum + cnt >= k:
                targets.append((q, k, b, k - cum))
                break
            cum += cnt
    want = sorted({b for _, _, b, _ in targets})
    lo = min(want) * w / 100.0 - 1.0  # conservative: widens, never excludes
    hi = (max(want) + 1) * w / 100.0 + 1.0
    pruned = c.filter(
        (F.col("price") >= F.lit(lo))
        & (F.col("price") <= F.lit(hi))
        & F.expr(f"cents div {w}").isin([int(b) for b in want])
    ).select("cents", F.expr(f"cents div {w}").alias("bucket"))
    rn = F.row_number().over(Window.partitionBy("bucket").orderBy("cents"))
    ranked = pruned.select("cents", "bucket", rn.alias("rn"))
    tgt = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast("long").alias("q"),
                        F.lit(k).cast("long").alias("k"),
                        F.lit(b).cast("long").alias("bucket"),
                        F.lit(off).alias("rn"),
                    )
                    for q, k, b, off in targets
                ]
            )
        ).alias("t")
    ).select("t.q", "t.k", "t.bucket", "t.rn")
    return (
        ranked.join(F.broadcast(tgt), ["bucket", "rn"])
        .select(
            F.col("q").alias("quantile_pct"),
            F.col("cents").alias("value_cents"),
            F.col("k").alias("target_rank"),
            F.lit(n).cast("long").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (fraud / data-entry anomaly screen)
# ---------------------------------------------------------------------------

import math as _math

# expected Benford share of each leading digit, on the micro grid; computed
# ONCE here in Python and injected as literals into BOTH engines, so no
# engine's log() implementation ever reaches a result value
_BENFORD_MICRO = {
    d: int(_math.floor(_math.log10(1 + 1 / d) * 1_000_000 + 0.5))
    for d in range(1, 10)
}
# chi-square 0.95 critical value at df = 8 (9 digits - 1), micro grid —
# documented literal, identical in both engines (r11: the audit gained a
# significance VERDICT; a deviation table without a decision line was the
# same half-an-audit shape as the pre-fix hour/dow heatmap)
CHI2_95_8_MICRO = 15_507_313


@register(
    "orders_benford_audit",
    oracle=f"""
    WITH c AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    n AS (SELECT count(*) AS n FROM c),
    o AS (SELECT digit, count(*) AS n_orders FROM c GROUP BY digit),
    e AS (
      SELECT u.d AS digit, u.m AS benford_micro
      FROM unnest([{",".join(
          f"struct_pack(d := CAST({d} AS BIGINT), m := CAST({m} AS BIGINT))"
          for d, m in _BENFORD_MICRO.items())}]) AS un(u)
    ),
    f AS (
      SELECT e.digit, e.benford_micro,
             coalesce(o.n_orders, 0) AS n_orders
      FROM e LEFT JOIN o ON o.digit = e.digit
    ),
    chi AS (
      -- cleared per-term form (the r11 heatmap recipe): each term is
      -- (obs*1e6 - n*p)^2 // (n*p) = chi2_term * 1e6 (the 1e12 from the
      -- squared numerator, divided by p's own 1e6 scale, leaves micro);
      -- the per-digit denominator cannot hoist past the sum, and each
      -- floor discards < 1 micro-unit
      SELECT CAST(sum((CAST(f.n_orders AS HUGEINT) * 1000000
                       - n.n * f.benford_micro)
                      * (CAST(f.n_orders AS HUGEINT) * 1000000
                         - n.n * f.benford_micro)
                      // (CAST(n.n AS HUGEINT) * f.benford_micro))
                  AS BIGINT) AS chi2_micro
      FROM f, n
    )
    SELECT f.digit, f.n_orders,
           f.n_orders * 1000000 // n.n AS share_micro,
           f.benford_micro,
           abs(f.n_orders * 1000000 // n.n - f.benford_micro) AS dev_micro,
           chi.chi2_micro,
           CAST(CASE WHEN n.n = 0 THEN NULL
                WHEN chi.chi2_micro > {CHI2_95_8_MICRO} THEN 1 ELSE 0 END
                AS BIGINT) AS reject_benford
    FROM f, n, chi
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order values — the classic
    forensic-accounting screen (fabricated or constrained amounts drift
    from the log-uniform leading-digit law). The digit comes from the
    DECIMAL STRING of integer cents (substr of a bigint cast — never
    floor(x/10^floor(log10 x)), whose float log misclassifies exact
    powers of ten), observed shares are truncating integer micro over the
    total, and the expected Benford table is computed ONCE in Python and
    injected into both engines as literals, so no engine libm reaches a
    value. All 9 digits always emit (absent digits as 0 with full
    deviation) — a digit with zero mass is the loudest possible signal,
    and dropping it would hide exactly the fraud the audit hunts. r11:
    the audit gained the DECISION line — a goodness-of-fit chi² in the
    cleared per-term integer form ((obs·10⁶ − n·p_micro)² // (n·p_micro)
    summed — that IS chi²·10⁶, the squared numerator's 10¹² net of
    p_micro's own 10⁶; the per-digit denominator cannot hoist past the
    sum, each floor discards < 1 micro-unit) judged against the
    χ²₀.₉₅(8) literal, with an honest-NULL verdict on an empty table.
    TPC-H's uniform price generator genuinely violates Benford, so the
    fixture is a built-in positive control (reject fires at every SF).
    One map-side-combined 9-group aggregate + a broadcast 9-row expected
    table; the 1-row total broadcasts like every scalar in this file."""
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    c = load_table(spark, "orders", sf_dir).select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit")
    )
    o = c.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    n = c.agg(F.count(F.lit(1)).alias("n"))
    e = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("digit"),
                        F.lit(m).cast("long").alias("benford_micro"),
                    )
                    for d, m in _BENFORD_MICRO.items()
                ]
            )
        ).alias("t")
    ).select("t.digit", "t.benford_micro")
    f = e.join(o, "digit", "left").select(
        "digit",
        "benford_micro",
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )
    chi = f.crossJoin(F.broadcast(n)).agg(
        F.expr(
            "CAST(sum((CAST(n_orders AS DECIMAL(38,0)) * 1000000"
            " - n * benford_micro)"
            " * (CAST(n_orders AS DECIMAL(38,0)) * 1000000"
            " - n * benford_micro)"
            " div (CAST(n AS DECIMAL(38,0)) * benford_micro))"
            " AS BIGINT)"
        ).alias("chi2_micro")
    )
    share = F.expr("n_orders * 1000000 div n")
    return (
        f.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(chi))
        .select(
            "digit",
            "n_orders",
            share.alias("share_micro"),
            "benford_micro",
            F.abs(share - F.col("benford_micro")).alias("dev_micro"),
            "chi2_micro",
            F.expr(
                f"CAST(CASE WHEN n = 0 THEN NULL"
                f" WHEN chi2_micro > {CHI2_95_8_MICRO} THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("reject_benford"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) data-layout audit for multi-dimensional file skipping
# ---------------------------------------------------------------------------

ZORDER_BITS = 16  # bits per dimension interleaved into the Morton code
ZORDER_FILES = 16  # files per layout in the audit


def _morton_sql(x: str, y: str) -> str:
    """Bit-interleave expression (identical Spark/DuckDB syntax): bit i of
    x lands at 2i, bit i of y at 2i+1.  Inputs are explicitly clamped into
    the {ZORDER_BITS}-bit domain first — ``greatest(v, 0)`` (days before
    the 1995 epoch would otherwise sign-extend) then ``& 65535`` (keys
    beyond 2^16 would otherwise alias cells silently); saturating at the
    domain edge keeps the curve monotone for out-of-range values instead
    of wrapping them back to cell 0."""
    mask = (1 << ZORDER_BITS) - 1
    mx = f"(least(greatest({x}, 0), {mask}))"
    my = f"(least(greatest({y}, 0), {mask}))"
    terms = [
        t
        for i in range(ZORDER_BITS)
        for t in (
            f"((({mx} >> {i}) & 1) << {2 * i})",
            f"((({my} >> {i}) & 1) << {2 * i + 1})",
        )
    ]
    return "(" + " | ".join(terms) + ")"


@register(
    "orders_zorder_layout",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey AS ok, CAST(o_custkey AS BIGINT) AS x,
             date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS y
      FROM orders
    ),
    zc AS (SELECT ok, x, y, {_morton_sql("x", "y")} AS z FROM o),
    m AS (SELECT max(ok) AS okmax, max(z) AS zmax FROM zc),
    f AS (
      SELECT x, y,
             least({ZORDER_FILES - 1}, ok * {ZORDER_FILES} // (m.okmax + 1))
               AS nat_f,
             least({ZORDER_FILES - 1}, zc.z * {ZORDER_FILES} // (m.zmax + 1))
               AS z_f
      FROM zc, m
    ),
    e AS (
      SELECT 'natural' AS layout, nat_f AS file_id, x, y FROM f
      UNION ALL
      SELECT 'zorder' AS layout, z_f AS file_id, x, y FROM f
    )
    SELECT layout, file_id, count(*) AS n_rows,
           min(x) AS cust_min, max(x) AS cust_max,
           min(y) AS day_min, max(y) AS day_max,
           (max(x) - min(x) + 1) * (max(y) - min(y) + 1) AS bbox_area
    FROM e GROUP BY layout, file_id
    """,
)
def orders_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout audit — the lakehouse data-clustering
    decision made measurable: orders are assigned to {NF} equal-key-range
    "files" under two layouts (natural o_orderkey insertion order vs the
    Morton code interleaving {B} bits each of customer and
    days-since-epoch), and each file reports its per-dimension min/max —
    exactly the footer stats parquet row-group skipping runs on. Z-ordered
    files show small bounding boxes in BOTH dimensions (bbox_area column),
    natural files span the whole customer range — the measured reason a
    2-D-filtered scan prunes ~sqrt fraction under Z-order and nothing
    under insertion order. Everything is integer bit arithmetic with
    IDENTICAL expression text in both engines (the Morton interleave is
    generated once and pasted into each); file assignment needs only the
    two maxima — a 1-row broadcast, never a sort. At 100 TB this audit is
    the cheap pre-check before paying for the actual rewrite: one narrow
    scan, one bounded explode (2 rows/order), one {NF}x2-group aggregate."""
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").cast("long").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).cast("long").alias("y"),
    )
    zc = o.select("ok", "x", "y", F.expr(_morton_sql("x", "y")).alias("z"))
    m = zc.agg(F.max("ok").alias("okmax"), F.max("z").alias("zmax"))
    NF = ZORDER_FILES
    f = zc.crossJoin(F.broadcast(m)).select(
        "x",
        "y",
        F.expr(f"least({NF - 1}, ok * {NF} div (okmax + 1))").alias("nat_f"),
        F.expr(f"least({NF - 1}, z * {NF} div (zmax + 1))").alias("z_f"),
    )
    e = f.select(
        "x",
        "y",
        F.explode(
            F.array(
                F.struct(
                    F.lit("natural").alias("layout"), F.col("nat_f").alias("file_id")
                ),
                F.struct(
                    F.lit("zorder").alias("layout"), F.col("z_f").alias("file_id")
                ),
            )
        ).alias("t"),
    ).select("x", "y", "t.layout", "t.file_id")
    return e.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("cust_min"),
        F.max("x").alias("cust_max"),
        F.min("y").alias("day_min"),
        F.max("y").alias("day_max"),
        (
            (F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1)
        ).alias("bbox_area"),
    )


orders_zorder_layout.__doc__ = orders_zorder_layout.__doc__.format(
    NF=ZORDER_FILES, B=ZORDER_BITS
)


def _register_zorder_overlap() -> None:
    """Registered via a closure so the oracle can interpolate the
    just-registered layout SQL (the corpus_dedup_summary composition
    pattern, applied within one module)."""
    from postgres_cdc_example_spark.queries import REGISTRY

    @register(
        "zorder_overlap_depth",
        oracle=f"""
        WITH files AS (
          {REGISTRY["orders_zorder_layout"].oracle}
        ),
        ev AS (
          SELECT layout, 'cust' AS dim, cust_min AS pos, 1 AS delta FROM files
          UNION ALL
          SELECT layout, 'cust', cust_max + 1, -1 FROM files
          UNION ALL
          SELECT layout, 'day', day_min, 1 FROM files
          UNION ALL
          SELECT layout, 'day', day_max + 1, -1 FROM files
        ),
        d AS (
          SELECT layout, dim, pos, CAST(sum(delta) AS BIGINT) AS dlt
          FROM ev GROUP BY layout, dim, pos
        ),
        dep AS (
          SELECT layout, dim,
                 sum(dlt) OVER (PARTITION BY layout, dim ORDER BY pos) AS depth
          FROM d
        ),
        nf AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_files
               FROM files GROUP BY layout)
        SELECT dep.layout, dep.dim, nf.n_files,
               CAST(max(depth) AS BIGINT) AS max_overlap_depth
        FROM dep JOIN nf ON dep.layout = nf.layout
        GROUP BY dep.layout, dep.dim, nf.n_files
        """,
    )
    def zorder_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
        """OVERLAP DEPTH of the layout's file key-ranges — the compaction
        trigger metric (Iceberg/LSM read amplification): for each layout ×
        dimension, the maximum number of files whose [min, max] key ranges
        cover any single point, i.e. how many files a point lookup on that
        key MUST read even with perfect footer-stat skipping. The natural
        (insertion-order) layout scores n_files-deep on the customer
        dimension — every file spans the whole customer range, skipping
        prunes nothing — while Z-order stays shallow on BOTH dimensions:
        together with ``orders_zorder_layout``'s bbox_area this is the
        before/after pair a re-clustering decision reads. Classic
        interval-sweep, distributed: files → ±1 boundary events, net delta
        per position (so coincident open/close events are order-unambiguous),
        one running-sum window over ≤ 2·n_files bounded rows per (layout,
        dim), max. The oracle interpolates the REGISTERED layout SQL, so
        the two audits can never drift apart. All integer; windows over
        file-stat rows only — the corpus is touched exactly once, by the
        layout query this composes."""
        from postgres_cdc_example_spark.queries import REGISTRY as _R

        files = _R["orders_zorder_layout"].fn(spark, sf_dir)
        ev = files.select(
            "layout",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("cust").alias("dim"),
                        F.col("cust_min").alias("pos"),
                        F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.lit("cust").alias("dim"),
                        (F.col("cust_max") + 1).alias("pos"),
                        F.lit(-1).alias("delta"),
                    ),
                    F.struct(
                        F.lit("day").alias("dim"),
                        F.col("day_min").alias("pos"),
                        F.lit(1).alias("delta"),
                    ),
                    F.struct(
                        F.lit("day").alias("dim"),
                        (F.col("day_max") + 1).alias("pos"),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("e"),
        ).select("layout", "e.dim", "e.pos", "e.delta")
        d = ev.groupBy("layout", "dim", "pos").agg(
            F.sum("delta").cast("long").alias("dlt")
        )
        w = Window.partitionBy("layout", "dim").orderBy("pos").rowsBetween(
            Window.unboundedPreceding, 0
        )
        dep = d.select("layout", "dim", F.sum("dlt").over(w).alias("depth"))
        nf = files.groupBy("layout").agg(
            F.count(F.lit(1)).cast("long").alias("n_files")
        )
        return (
            dep.groupBy("layout", "dim")
            .agg(F.max("depth").cast("long").alias("max_overlap_depth"))
            .join(F.broadcast(nf), "layout")
            .select("layout", "dim", "n_files", "max_overlap_depth")
        )


_register_zorder_overlap()


# ---------------------------------------------------------------------------
# join-skew audit: heavy-hitter keys + salt-factor recommendation
# ---------------------------------------------------------------------------

SKEW_TOP_N = 20  # heavy hitters reported
SKEW_SALT_TARGET = 256  # target rows per salted sub-key after the split


@register(
    "join_skew_audit",
    oracle=f"""
    WITH c AS (
      SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS n_keys FROM c)
    SELECT key, cnt,
           cnt * 1000000 // t.total AS share_micro,
           cnt * 1000000 // (t.total // t.n_keys) AS vs_avg_micro,
           (cnt + {SKEW_SALT_TARGET - 1}) // {SKEW_SALT_TARGET} AS salt_factor
    FROM c, t
    ORDER BY cnt DESC, key LIMIT {SKEW_TOP_N}
    """,
)
def join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostics — the planning query a 100 TB pipeline
    runs BEFORE shuffling two facts on a key: per-key multiplicities from
    ONE map-side-combined aggregate, the top-{TOPN} heavy hitters by
    count (TakeOrdered — never a global sort), each with its corpus share,
    its ratio to the mean key (both on the micro grid, pure integer:
    cnt*1e6 stays inside int64 for any per-key count < 9.2e12), and the
    SALT FACTOR the skew-join mitigation needs (ceil(cnt / {TARGET}) —
    the number of sub-keys that caps every salted partition at ~{TARGET}
    rows, the input ``skew_salted_join`` takes). AQE's runtime skew split
    handles the sort-merge case; this audit is for choosing STATIC
    layouts (bucketing, pre-salting, broadcast thresholds) where the
    decision must be made before the job runs. All-integer: the mean is
    the truncating total div n_keys, identical in both engines."""
    li = load_table(spark, "lineitem", sf_dir)
    c = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    t = c.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "key",
            "cnt",
            F.expr("cnt * 1000000 div total").alias("share_micro"),
            F.expr("cnt * 1000000 div (total div n_keys)").alias("vs_avg_micro"),
            F.expr(f"(cnt + {SKEW_SALT_TARGET - 1}) div {SKEW_SALT_TARGET}").alias(
                "salt_factor"
            ),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(SKEW_TOP_N)
    )


join_skew_audit.__doc__ = join_skew_audit.__doc__.format(
    TOPN=SKEW_TOP_N, TARGET=SKEW_SALT_TARGET
)


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch — mergeable audience-overlap estimator
# ---------------------------------------------------------------------------

KMV_K = 64  # sketch size: k smallest 60-bit hashes per daily audience
_KMV_DOMAIN = 1 << 60  # md5-prefix hash domain (15 hex digits)


@register(
    "audience_overlap_kmv",
    oracle=f"""
    WITH tu AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d, user_id
                FROM events),
    th AS (
      SELECT DISTINCT d,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM tu
    ),
    sk AS (
      SELECT d, h FROM (
        SELECT d, h,
               row_number() OVER (PARTITION BY d ORDER BY h) AS rn
        FROM th) WHERE rn <= {KMV_K}
    ),
    tp AS (SELECT DISTINCT d FROM th),
    pr AS (SELECT a.d AS day_a, b.d AS day_b
           FROM tp a JOIN tp b ON a.d < b.d),
    -- union sketch built DIRECTLY from the raw per-day hash sets: the
    -- engine merges the two k-sketches instead; hash equality proves
    -- bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B))
    uh AS (
      SELECT pr.day_a, pr.day_b, th.h
      FROM pr JOIN th ON th.d IN (pr.day_a, pr.day_b)
      GROUP BY 1, 2, 3
    ),
    usk AS (
      SELECT day_a, day_b, h FROM (
        SELECT day_a, day_b, h,
               row_number() OVER (PARTITION BY day_a, day_b ORDER BY h) AS rn
        FROM uh) WHERE rn <= {KMV_K}
    ),
    m AS (
      SELECT u.day_a, u.day_b,
             CAST(count(*) AS BIGINT) AS k_used,
             CAST(max(u.h) AS BIGINT) AS hk,
             CAST(sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS rho
      FROM usk u
      LEFT JOIN sk sa ON sa.d = u.day_a AND sa.h = u.h
      LEFT JOIN sk sb ON sb.d = u.day_b AND sb.h = u.h
      GROUP BY 1, 2
    ),
    est AS (
      SELECT day_a, day_b, k_used, rho,
             CASE WHEN k_used < {KMV_K} THEN k_used
                  ELSE CAST((CAST({KMV_K - 1} AS HUGEINT) * {_KMV_DOMAIN})
                            // hk AS BIGINT) END AS est_union,
             rho * 1000000 // k_used AS est_jaccard_micro
      FROM m
    ),
    ex AS (
      SELECT a.d AS day_a, b.d AS day_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.d < b.d
      GROUP BY 1, 2
    ),
    per AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY d)
    SELECT e.day_a, e.day_b,
           pa.n + pb.n - COALESCE(x.n_shared, 0) AS exact_union,
           e.est_union,
           abs(e.est_union - (pa.n + pb.n - COALESCE(x.n_shared, 0))) * 1000000
             // (pa.n + pb.n - COALESCE(x.n_shared, 0)) AS union_err_micro,
           COALESCE(x.n_shared, 0) * 1000000
             // (pa.n + pb.n - COALESCE(x.n_shared, 0)) AS exact_jaccard_micro,
           e.est_jaccard_micro,
           abs(e.est_jaccard_micro
               - COALESCE(x.n_shared, 0) * 1000000
                 // (pa.n + pb.n - COALESCE(x.n_shared, 0)))
             AS jaccard_err_micro
    FROM est e
    LEFT JOIN ex x ON x.day_a = e.day_a AND x.day_b = e.day_b
    JOIN per pa ON pa.d = e.day_a
    JOIN per pb ON pb.d = e.day_b
    """,
)
def audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketch estimator for the full daily-audience overlap
    matrix — the mergeable structure that replaces ``audience_overlap``'s
    exact user-keyed self-join once audiences stop fitting anywhere: keep
    only the {K} smallest 60-bit user-hash values per day, merge two
    sketches by taking the {K} smallest of their union, estimate |A ∪ B|
    as (k-1)·2^60/h_k (the KMV estimator of Bar-Yossef et al. / Beyer et
    al., SIGMOD'07) and Jaccard as rho/k — the fraction of union-sketch
    members present in BOTH input sketches (the theta-sketch intersection
    rule). The MERGE is the proof target: the engine builds each day
    pair's union sketch from the two {K}-row sketches alone, while the
    oracle bottom-ks the raw union of hash sets directly — the driver
    hash equality certifies bottom-k(A∪B) == bottom-k(bottom-k(A) ∪
    bottom-k(B)), the identity that lets 100 TB of per-shard sketches
    roll up at any fan-in carrying {K} longs per (shard, day).
    Deterministic end to end: md5-prefix hashes, row_number over distinct
    hash values (ties impossible), HUGEINT/DECIMAL(38,0)
    cleared-denominator estimator, truncating-div micro grids. The exact
    side rides along because this is the audit: union_err_micro /
    jaccard_err_micro quantify the sketch against the exact overlap
    (expected ~1/sqrt(k) ≈ 12% relative; the fixture's day-over-day
    Jaccard genuinely varies 0.47—0.91, so the estimate tracks a moving
    target, not a constant). Day universe is bounded (30 days → 435
    pairs), so the non-equi day-grid join is broadcast-bounded by
    construction; at production scale only the sketch columns run."""
    ev = load_table(spark, "events", sf_dir)
    tu = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"), "user_id"
    ).distinct()
    th = tu.select(
        "d",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w_t = Window.partitionBy("d").orderBy("h")
    sk = (
        th.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= KMV_K)
        .select("d", "h")
    )
    tp = th.select("d").distinct()
    pr = tp.select(F.col("d").alias("day_a")).join(
        F.broadcast(tp.select(F.col("d").alias("day_b"))),
        F.col("day_a") < F.col("day_b"),
    )
    # union sketch from the two k-sketches ONLY (the merge under test)
    ua = pr.join(
        sk.select(F.col("d").alias("day_a"), "h"), "day_a"
    ).select("day_a", "day_b", "h")
    ub = pr.join(
        sk.select(F.col("d").alias("day_b"), "h"), "day_b"
    ).select("day_a", "day_b", "h")
    uh = ua.union(ub).distinct()
    w_p = Window.partitionBy("day_a", "day_b").orderBy("h")
    usk = (
        uh.withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= KMV_K)
        .select("day_a", "day_b", "h")
    )
    sa = sk.select(F.col("d").alias("day_a"), F.col("h").alias("ha"))
    sb = sk.select(F.col("d").alias("day_b"), F.col("h").alias("hb"))
    m = (
        usk.join(
            sa,
            (sa.day_a == usk.day_a) & (F.col("ha") == F.col("h")),
            "left",
        )
        .drop(sa.day_a)
        .join(
            sb,
            (sb.day_b == usk.day_b) & (F.col("hb") == F.col("h")),
            "left",
        )
        .drop(sb.day_b)
        .groupBy("day_a", "day_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.max("h").cast("long").alias("hk"),
            F.sum(
                F.when(
                    F.col("ha").isNotNull() & F.col("hb").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("rho"),
        )
    )
    est = m.select(
        "day_a",
        "day_b",
        "k_used",
        "rho",
        F.when(F.col("k_used") < KMV_K, F.col("k_used"))
        .otherwise(
            F.expr(
                f"CAST(CAST({KMV_K - 1} AS DECIMAL(38,0)) * {_KMV_DOMAIN}"
                " div hk AS BIGINT)"
            )
        )
        .cast("long")
        .alias("est_union"),
        F.expr("rho * 1000000 div k_used").alias("est_jaccard_micro"),
    )
    a = tu.select(F.col("d").alias("day_a"), "user_id")
    b = tu.select(F.col("d").alias("day_b"), "user_id")
    ex = (
        a.join(b, "user_id")
        .filter(F.col("day_a") < F.col("day_b"))
        .groupBy("day_a", "day_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    per = tu.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = (
        est.join(ex, ["day_a", "day_b"], "left")
        .join(
            F.broadcast(
                per.select(F.col("d").alias("day_a"), F.col("n").alias("na"))
            ),
            "day_a",
        )
        .join(
            F.broadcast(
                per.select(F.col("d").alias("day_b"), F.col("n").alias("nb"))
            ),
            "day_b",
        )
        .withColumn("sh", F.coalesce("n_shared", F.lit(0)))
        .withColumn("xu", F.col("na") + F.col("nb") - F.col("sh"))
    )
    return out.select(
        "day_a",
        "day_b",
        F.col("xu").alias("exact_union"),
        "est_union",
        F.expr("abs(est_union - xu) * 1000000 div xu").alias("union_err_micro"),
        F.expr("sh * 1000000 div xu").alias("exact_jaccard_micro"),
        "est_jaccard_micro",
        F.expr("abs(est_jaccard_micro - sh * 1000000 div xu)").alias(
            "jaccard_err_micro"
        ),
    )


audience_overlap_kmv.__doc__ = audience_overlap_kmv.__doc__.format(K=KMV_K)


# ---------------------------------------------------------------------------
# range-partition layout planner (exact repartitionByRange boundary audit)
# ---------------------------------------------------------------------------

RP_PARTS = 16  # target range-partition count


@register(
    "range_partition_plan",
    oracle=f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    h AS (SELECT cents // {{w}} AS bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM c GROUP BY 1),
    n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
    cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM h),
    tg AS (SELECT i, (i * n.n) // {RP_PARTS} AS k
           FROM (SELECT unnest(generate_series(1, {RP_PARTS - 1})) AS i), n),
    ed AS (SELECT tg.i, min(cum.bucket) + 1 AS edge
           FROM tg JOIN cum ON cum.cum >= tg.k GROUP BY tg.i),
    p AS (SELECT cents,
                 (SELECT count(*) FROM ed WHERE ed.edge <= cents // {{w}})
                   AS pid
          FROM c)
    SELECT CAST(pid AS BIGINT) AS pid,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           count(*) * 1000000 // n.n AS share_micro,
           count(*) * {RP_PARTS} * 1000000 // n.n AS vs_ideal_micro
    FROM p, n GROUP BY pid, n.n
    """.format(w=Q2P_BUCKET_CENTS),
)
def range_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT range-partition layout planning — the audited version of what
    ``repartitionByRange`` does with reservoir sampling: choose {P}
    partition boundaries for orders by o_totalprice so downstream
    merge/sort/range-join stages get co-located, balanced splits, then
    PROVE the balance by scanning the assignment. Pass 1 is the
    ``order_value_quantiles_2pass`` histogram — one map-side-combined
    aggregate over fixed $1k cent buckets, bounded by the VALUE DOMAIN
    (~500 buckets), collected as driver metadata of the same class as
    centroids and bloom bitmaps. The driver walks cumulative counts once
    and emits {P_1} bucket-edge literals (rank targets k_i = (i·n) div
    {P}); pass 2 assigns pid = #edges <= bucket(x) as a constant-folded
    literal sum — ZERO joins, zero extra shuffles, one {P}-group
    aggregate. Boundaries sit on bucket edges (exactly how a real
    planner quantizes; sampling error replaced by bucket-granularity
    error), so vs_ideal_micro is genuinely informative — it measures the
    residual imbalance the $1k quantization leaves, the number you check
    before committing a static layout. The oracle recomputes edges via a
    windowed cumulative sum and a correlated boundary count. At 100 TB
    the histogram stays ~500 rows regardless of row count, the plan is
    one driver walk, and the assignment scan is the write pass you were
    already doing — this is the planning half of ``orders_zorder_layout``
    for 1-D sort keys, and the static sibling of AQE's runtime
    rebalancing."""
    w = Q2P_BUCKET_CENTS
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    c = load_table(spark, "orders", sf_dir).select(cents.alias("cents"))
    hist = (
        c.groupBy(F.expr(f"cents div {w}").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    counts = sorted((int(r["bucket"]), int(r["cnt"])) for r in hist)
    n = sum(cnt for _, cnt in counts)
    if n == 0:  # empty table: no boundaries exist, return the empty result
        return c.select(
            F.col("cents").alias("pid"),
            F.col("cents").alias("n_rows"),
            F.col("cents").alias("min_cents"),
            F.col("cents").alias("max_cents"),
            F.col("cents").alias("share_micro"),
            F.col("cents").alias("vs_ideal_micro"),
        )
    edges = []
    for i in range(1, RP_PARTS):
        k = (i * n) // RP_PARTS
        cum = 0
        for b, cnt in counts:
            cum += cnt
            if cum >= k:
                edges.append(b + 1)
                break
    pid = "CAST(" + " + ".join(
        f"(CASE WHEN cents div {w} >= {e} THEN 1 ELSE 0 END)" for e in edges
    ) + " AS BIGINT)"
    return (
        c.select("cents", F.expr(pid).alias("pid"))
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )
        .select(
            "pid",
            "n_rows",
            "min_cents",
            "max_cents",
            F.expr(f"n_rows * 1000000 div {n}").alias("share_micro"),
            F.expr(f"n_rows * {RP_PARTS} * 1000000 div {n}").alias(
                "vs_ideal_micro"
            ),
        )
    )


range_partition_plan.__doc__ = range_partition_plan.__doc__.replace(
    "{P_1}", str(RP_PARTS - 1)
).replace("{P}", str(RP_PARTS))


# ---------------------------------------------------------------------------
# bloom semi-join reduction audit (the runtime-join-filter discipline)
# ---------------------------------------------------------------------------


@register(
    "bloom_semijoin_audit",
    oracle="""
    WITH bk AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    bpos AS (
      SELECT DISTINCT
             ('0x' || substr(md5(h || ':' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
               % {M} AS pos
      FROM bk, (SELECT unnest(generate_series(0, {K1})) AS h) hs
    ),
    dk AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    dkp AS (
      SELECT k,
             sum(CASE WHEN bp.pos IS NOT NULL THEN 1 ELSE 0 END) AS nbits
      FROM (
        SELECT dk.k,
               ('0x' || substr(md5(h || ':' || CAST(dk.k AS VARCHAR)), 1, 8))::BIGINT
                 % {M} AS pos
        FROM dk, (SELECT unnest(generate_series(0, {K1})) AS h) hs
      ) x
      LEFT JOIN bpos bp ON bp.pos = x.pos
      GROUP BY k
    ),
    fl AS (
      SELECT d.k, (d.nbits = {K}) AS pass_bloom, (bk.k IS NOT NULL) AS is_true
      FROM dkp d LEFT JOIN bk ON bk.k = d.k
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_probe,
             CAST(sum(CASE WHEN f.pass_bloom THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_bloom,
             CAST(sum(CASE WHEN f.is_true THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_match
      FROM lineitem l JOIN fl f ON f.k = l.l_orderkey
    ),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build_keys FROM bk)
    SELECT nb.n_build_keys, agg.n_probe, agg.n_pass_bloom, agg.n_true_match,
           agg.n_pass_bloom - agg.n_true_match AS n_false_pos,
           (agg.n_pass_bloom - agg.n_true_match) * 1000000
             // greatest(agg.n_probe - agg.n_true_match, 1) AS fp_rate_micro,
           agg.n_pass_bloom * 1000000 // agg.n_probe AS pass_share_micro
    FROM agg, nb
    """.format(M=65536, K=3, K1=2),
)
def bloom_semijoin_audit(
    spark: SparkSession,
    sf_dir: str,
    broadcast_max_rows: int = hints.BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Bloom SEMI-JOIN reduction — the runtime-join-filter discipline
    (Spark's InjectRuntimeFilter / row-group bloom pruning) made auditable:
    the filtered build side (urgent orders) compresses its join keys into
    the shared 65536-bit / 3-hash bitmap (``operators/bloom.py``, verbatim
    the decontamination gate's primitives), and the probe side (lineitem)
    tests membership as pure codegen bit arithmetic INSIDE its scan — rows
    failing the bloom never reach the join exchange. The audit row carries
    the two numbers that decide whether to inject the filter at 100 TB:
    pass_share_micro (what fraction of probe I/O survives the bloom — the
    shuffle you no longer pay) and fp_rate_micro (measured false-positive
    rate among true non-matches; bloom guarantees no false negatives, so
    n_pass_bloom >= n_true_match always). The exact semi-join rides along
    in the same single probe scan as a SIZE-GATED broadcast join against
    the build-key set — that set is filter-selected (~urgent share of
    orders), i.e. corpus-PROPORTIONAL, not bounded by construction, so the
    hint goes through ``hints.broadcast_if_small`` with the already-known
    ``n_build`` as the (free) size evidence: below the gate it broadcasts,
    above it the plan degrades to a shuffled equi-join instead of OOMing
    executors (both shapes pinned in ``tests/test_plans.py``). The oracle
    recomputes the identical bitmap relationally
    (salted-md5 position sets, per-distinct-key membership), so the bit
    arithmetic is value-checked exactly. Scale shape: bitmap is bounded by
    construction (8 KiB regardless of build size), probe pass is one scan,
    and the per-distinct-key oracle grouping mirrors how a real filter
    pushes to row-group granularity."""
    from postgres_cdc_example_spark.operators import bloom

    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    bk = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").cast("string").alias("g"))
        .distinct()
    )
    # ONE driver job builds the bitmap AND the build-key count (r12,
    # guide §1/§5): bitmap_from_grams + a separate bk.count() each
    # re-ran the orders scan+distinct serially (two jobs, ~0.6 s of
    # pure latency per invocation). The explode emits exactly BLOOM_K
    # position rows per distinct key, so n_build = count/K exactly, and
    # the position set is bounded by M — both come out of one bounded
    # aggregate row.
    row = (
        bk.select(
            F.explode(
                F.array(
                    *[bloom.position(k, F.col("g")) for k in range(bloom.BLOOM_K)]
                )
            ).alias("pos")
        )
        .agg(
            F.collect_set("pos").alias("ps"),
            (F.count(F.lit(1)) / bloom.BLOOM_K).cast("long").alias("n"),
        )
        .collect()[0]
    )
    words = bloom.words_from_positions(int(p) for p in row["ps"])
    n_build = int(row["n"])
    # heal scan parallelism on the probe side (r12, guide §2.5): 3
    # salted md5s per lineitem row is the query's dominant per-row cost
    # and the single-row-group bench scan is one task; a no-op at scale.
    probe = hints.heal_scan_parallelism(
        li.select(F.col("l_orderkey").alias("k"))
    ).withColumn(
        "pass_bloom", bloom.gram_hit(words, F.col("k").cast("string"))
    )
    bk_keys = bk.select(F.col("g").cast("long").alias("k")).withColumn(
        "is_true", F.lit(1)
    )
    # n_build is already materialized for the output column — reuse it as
    # the gate's upper bound so the size check costs nothing extra.
    flagged = probe.join(
        hints.broadcast_if_small(
            bk_keys, broadcast_max_rows, upper_bound=n_build
        ),
        "k",
        "left",
    )
    agg = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.when(F.col("pass_bloom"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass_bloom"),
        F.sum(F.coalesce(F.col("is_true"), F.lit(0)))
        .cast("long")
        .alias("n_true_match"),
    )
    return agg.select(
        F.lit(n_build).cast("long").alias("n_build_keys"),
        "n_probe",
        "n_pass_bloom",
        "n_true_match",
        (F.col("n_pass_bloom") - F.col("n_true_match")).alias("n_false_pos"),
        F.expr(
            "(n_pass_bloom - n_true_match) * 1000000"
            " div greatest(n_probe - n_true_match, 1)"
        ).alias("fp_rate_micro"),
        F.expr("n_pass_bloom * 1000000 div n_probe").alias("pass_share_micro"),
    )


# ---------------------------------------------------------------------------
# join-output cardinality estimation (the optimizer's sizing discipline)
# ---------------------------------------------------------------------------

JCARD_TOP = 32  # heavy keys given exact treatment in the skew-aware estimate


@register(
    "join_cardinality_estimate",
    oracle=f"""
    WITH c AS (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS c
               FROM orders GROUP BY o_custkey),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS ndv,
                   CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS exact_rows
            FROM c),
    top AS (SELECT k, c FROM (
              SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS rn
              FROM c) WHERE rn <= {JCARD_TOP}),
    ts AS (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) AS n_top,
                  CAST(COALESCE(sum(CAST(c AS HUGEINT) * c), 0) AS BIGINT)
                    AS sq_top,
                  CAST(count(*) AS BIGINT) AS k_top
           FROM top),
    est AS (
      SELECT tot.n, tot.ndv, tot.exact_rows,
             CAST(CAST(tot.n AS HUGEINT) * tot.n // tot.ndv AS BIGINT)
               AS textbook_est,
             ts.sq_top
               + CAST(CAST(tot.n - ts.n_top AS HUGEINT) * (tot.n - ts.n_top)
                      // greatest(tot.ndv - ts.k_top, 1) AS BIGINT)
               AS skewaware_est
      FROM tot, ts
    )
    SELECT n AS n_rows, ndv AS ndv_keys, exact_rows,
           textbook_est,
           abs(textbook_est - exact_rows) * 1000000 // exact_rows
             AS textbook_err_micro,
           skewaware_est,
           abs(skewaware_est - exact_rows) * 1000000 // exact_rows
             AS skewaware_err_micro
    FROM est
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-output CARDINALITY estimation — the sizing step a planner runs
    before committing shuffle partitions, broadcast thresholds, or a salt
    factor (the decision input ``join_skew_audit``'s salt plan consumes):
    for the orders self-join on o_custkey, the true output size is
    sum_k c(k)^2 — computable EXACTLY from one map-side-combined key-count
    aggregate, never by running the join. Against it, two estimators the
    literature actually uses: the TEXTBOOK uniform-frequency estimate
    |A|·|B|/ndv (what a catalog with row count + NDV gives you — System R's
    assumption) and the SKEW-AWARE estimate that treats the top-{TOP}
    heavy keys exactly (their c^2 summed from the same count table) and
    applies uniformity only to the residual tail — the frequency-histogram
    refinement (end-biased histograms, Ioannidis & Christodoulakis).
    err_micro columns quantify what skew does to the textbook number and
    how much {TOP} exact entries recover — on a 100 TB fact table this
    pair of numbers is the difference between a plan that fits and an OOM.
    All integer: HUGEINT/DECIMAL(38,0) squares and cleared-denominator
    floor divisions in both engines; the top-{TOP} selection is
    deterministic under the (c DESC, k) total order — equal-count boundary
    ties pick the same keys in both engines (oracle row_number ≡ engine
    TakeOrdered on the same order). Scale shape: ONE corpus-sized
    aggregate; everything downstream is the {TOP}-row TakeOrderedAndProject
    (per-partition heaps, no SinglePartition sort exchange — plan-pinned)
    and 1-row scalar broadcasts."""
    orders = load_table(spark, "orders", sf_dir)
    c = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = c.agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("ndv"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).cast("long").alias(
            "exact_rows"
        ),
    )
    # orderBy+limit plans as TakeOrderedAndProject (per-partition heaps,
    # driver merge of JCARD_TOP rows) — never the SinglePartition sort
    # exchange an un-partitioned row_number() Window would force. The
    # (c DESC, k) total order makes the selected SET identical to the
    # oracle's row_number tie-break.
    top = c.orderBy(F.desc("c"), "k").limit(JCARD_TOP).select("k", "c")
    ts = top.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_top"),
        F.coalesce(F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")), F.lit(0))
        .cast("long")
        .alias("sq_top"),
        F.count(F.lit(1)).cast("long").alias("k_top"),
    )
    est = (
        tot.crossJoin(F.broadcast(ts))
        .withColumn(
            "textbook_est",
            F.expr("CAST(CAST(n AS DECIMAL(38,0)) * n div ndv AS BIGINT)"),
        )
        .withColumn(
            "skewaware_est",
            F.expr(
                "sq_top + CAST(CAST(n - n_top AS DECIMAL(38,0)) * (n - n_top)"
                " div greatest(ndv - k_top, 1) AS BIGINT)"
            ),
        )
    )
    return est.select(
        F.col("n").alias("n_rows"),
        F.col("ndv").alias("ndv_keys"),
        "exact_rows",
        "textbook_est",
        F.expr("abs(textbook_est - exact_rows) * 1000000 div exact_rows").alias(
            "textbook_err_micro"
        ),
        "skewaware_est",
        F.expr(
            "abs(skewaware_est - exact_rows) * 1000000 div exact_rows"
        ).alias("skewaware_err_micro"),
    )


join_cardinality_estimate.__doc__ = join_cardinality_estimate.__doc__.replace(
    "{TOP}", str(JCARD_TOP)
)


@register(
    "audience_churn_kmv",
    oracle=f"""
    WITH tu AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS d, user_id
                FROM events),
    th AS (
      SELECT DISTINCT d,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM tu
    ),
    sk AS (
      SELECT d, h FROM (
        SELECT d, h,
               row_number() OVER (PARTITION BY d ORDER BY h) AS rn
        FROM th) WHERE rn <= {KMV_K}
    ),
    tp AS (SELECT DISTINCT d FROM th),
    pr AS (SELECT a.d AS day_a, b.d AS day_b
           FROM tp a JOIN tp b
             ON CAST(b.d AS DATE) = CAST(a.d AS DATE) + INTERVAL 1 DAY),
    uh AS (
      SELECT pr.day_a, pr.day_b, sk.h
      FROM pr JOIN sk ON sk.d IN (pr.day_a, pr.day_b)
      GROUP BY 1, 2, 3
    ),
    usk AS (
      SELECT day_a, day_b, h FROM (
        SELECT day_a, day_b, h,
               row_number() OVER (PARTITION BY day_a, day_b ORDER BY h) AS rn
        FROM uh) WHERE rn <= {KMV_K}
    ),
    m AS (
      SELECT u.day_a, u.day_b,
             CAST(count(*) AS BIGINT) AS k_used,
             CAST(max(u.h) AS BIGINT) AS hk,
             CAST(sum(CASE WHEN sa.h IS NOT NULL AND sb.h IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS rho_lost,
             CAST(sum(CASE WHEN sa.h IS NULL AND sb.h IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS rho_new
      FROM usk u
      LEFT JOIN sk sa ON sa.d = u.day_a AND sa.h = u.h
      LEFT JOIN sk sb ON sb.d = u.day_b AND sb.h = u.h
      GROUP BY 1, 2
    ),
    est AS (
      SELECT day_a, day_b,
             CASE WHEN k_used < {KMV_K} THEN k_used
                  ELSE CAST((CAST({KMV_K - 1} AS HUGEINT) * {_KMV_DOMAIN})
                            // hk AS BIGINT) END AS est_union,
             k_used, rho_lost, rho_new
      FROM m
    ),
    ex AS (
      SELECT a.d AS day_a, b.d AS day_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM tu a JOIN tu b
        ON a.user_id = b.user_id
       AND CAST(b.d AS DATE) = CAST(a.d AS DATE) + INTERVAL 1 DAY
      GROUP BY 1, 2
    ),
    per AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY d)
    SELECT e.day_a, e.day_b,
           pa.n - COALESCE(x.n_shared, 0) AS exact_lost,
           CAST(e.rho_lost * e.est_union // e.k_used AS BIGINT) AS est_lost,
           abs(CAST(e.rho_lost * e.est_union // e.k_used AS BIGINT)
               - (pa.n - COALESCE(x.n_shared, 0))) * 1000000
             // greatest(pa.n - COALESCE(x.n_shared, 0), 1) AS lost_err_micro,
           pb.n - COALESCE(x.n_shared, 0) AS exact_new,
           CAST(e.rho_new * e.est_union // e.k_used AS BIGINT) AS est_new,
           abs(CAST(e.rho_new * e.est_union // e.k_used AS BIGINT)
               - (pb.n - COALESCE(x.n_shared, 0))) * 1000000
             // greatest(pb.n - COALESCE(x.n_shared, 0), 1) AS new_err_micro
    FROM est e
    LEFT JOIN ex x ON x.day_a = e.day_a AND x.day_b = e.day_b
    JOIN per pa ON pa.d = e.day_a
    JOIN per pb ON pb.d = e.day_b
    """,
)
def audience_churn_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV A-NOT-B — the set-difference estimator that completes the
    theta-sketch operation set next to ``audience_overlap_kmv``'s union
    and intersection: day-over-day LOST users (active day a, gone day b)
    and NEW users (absent day a, arrived day b), estimated from the two
    {K}-hash sketches alone. The correctness hinge is the theta-window
    argument, stated here because it is why the naive membership test is
    legitimately EXACT within the sketch: every union-sketch member h
    satisfies h <= theta_union <= theta_B (the union's k-th minimum can
    only be tighter than either input's), so "h not in B's sketch" IS
    "h not in B" for those h — no false negatives inside the window —
    and rho_lost/k_used is an unbiased Jaccard-style share that scales
    by the union estimate. The exact lost/new columns (one user-keyed
    join on consecutive days) ride along as the audit with relative-error
    micro columns, ~1/sqrt(k) expected; day pairs are consecutive only
    (29 rows), so the retention/churn dashboard this feeds is the
    classic DAU waterfall. Same determinism stack as the overlap query:
    md5-prefix hashes, tie-free row_numbers, HUGEINT/DECIMAL(38,0)
    cleared denominators, truncating div."""
    ev = load_table(spark, "events", sf_dir)
    tu = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("d"), "user_id"
    ).distinct()
    th = tu.select(
        "d",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ).distinct()
    w_t = Window.partitionBy("d").orderBy("h")
    sk = (
        th.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= KMV_K)
        .select("d", "h")
    )
    tp = th.select("d").distinct()
    pr = tp.select(F.col("d").alias("day_a")).join(
        F.broadcast(tp.select(F.col("d").alias("day_b"))),
        F.to_date("day_b") == F.date_add(F.to_date("day_a"), 1),
    )
    ua = pr.join(
        sk.select(F.col("d").alias("day_a"), "h"), "day_a"
    ).select("day_a", "day_b", "h")
    ub = pr.join(
        sk.select(F.col("d").alias("day_b"), "h"), "day_b"
    ).select("day_a", "day_b", "h")
    uh = ua.union(ub).distinct()
    w_p = Window.partitionBy("day_a", "day_b").orderBy("h")
    usk = (
        uh.withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= KMV_K)
        .select("day_a", "day_b", "h")
    )
    sa = sk.select(F.col("d").alias("day_a"), F.col("h").alias("ha"))
    sb = sk.select(F.col("d").alias("day_b"), F.col("h").alias("hb"))
    m = (
        usk.join(sa, (sa.day_a == usk.day_a) & (F.col("ha") == F.col("h")), "left")
        .drop(sa.day_a)
        .join(sb, (sb.day_b == usk.day_b) & (F.col("hb") == F.col("h")), "left")
        .drop(sb.day_b)
        .groupBy("day_a", "day_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.max("h").cast("long").alias("hk"),
            F.sum(
                F.when(F.col("ha").isNotNull() & F.col("hb").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("rho_lost"),
            F.sum(
                F.when(F.col("ha").isNull() & F.col("hb").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("rho_new"),
        )
    )
    est = m.select(
        "day_a",
        "day_b",
        "k_used",
        "rho_lost",
        "rho_new",
        F.when(F.col("k_used") < KMV_K, F.col("k_used"))
        .otherwise(
            F.expr(
                f"CAST(CAST({KMV_K - 1} AS DECIMAL(38,0)) * {_KMV_DOMAIN}"
                " div hk AS BIGINT)"
            )
        )
        .cast("long")
        .alias("est_union"),
    )
    a = tu.select(F.col("d").alias("day_a"), "user_id")
    b = tu.select(F.col("d").alias("day_b"), "user_id")
    ex = (
        a.join(b, "user_id")
        .filter(F.to_date("day_b") == F.date_add(F.to_date("day_a"), 1))
        .groupBy("day_a", "day_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    per = tu.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = (
        est.join(ex, ["day_a", "day_b"], "left")
        .join(
            F.broadcast(per.select(F.col("d").alias("day_a"), F.col("n").alias("na"))),
            "day_a",
        )
        .join(
            F.broadcast(per.select(F.col("d").alias("day_b"), F.col("n").alias("nb"))),
            "day_b",
        )
        .withColumn("sh", F.coalesce("n_shared", F.lit(0)))
        .withColumn("xl", F.col("na") - F.col("sh"))
        .withColumn("xn", F.col("nb") - F.col("sh"))
        .withColumn("el", F.expr("CAST(rho_lost * est_union div k_used AS BIGINT)"))
        .withColumn("en", F.expr("CAST(rho_new * est_union div k_used AS BIGINT)"))
    )
    return out.select(
        "day_a",
        "day_b",
        F.col("xl").alias("exact_lost"),
        F.col("el").alias("est_lost"),
        F.expr("abs(el - xl) * 1000000 div greatest(xl, 1)").alias(
            "lost_err_micro"
        ),
        F.col("xn").alias("exact_new"),
        F.col("en").alias("est_new"),
        F.expr("abs(en - xn) * 1000000 div greatest(xn, 1)").alias(
            "new_err_micro"
        ),
    )


# ---------------------------------------------------------------------------
# join-order advisor (exact-statistics ordering for the Q3 join chain)
# ---------------------------------------------------------------------------


@register(
    "join_order_advisor",
    oracle="""
    WITH co AS (
      SELECT o.o_orderkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < DATE '1995-03-15'
    ),
    ol AS (
      SELECT l.l_orderkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderdate < DATE '1995-03-15'
    ),
    fin AS (
      SELECT count(*) AS n FROM lineitem l JOIN co ON co.o_orderkey = l.l_orderkey
    ),
    ia AS (SELECT CAST(count(*) AS BIGINT) AS n FROM co),
    ib AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ol)
    SELECT plan, intermediate_rows, final_rows,
           CAST(CASE WHEN intermediate_rows =
                (SELECT least(ia.n, ib.n) FROM ia, ib)
                THEN 1 ELSE 0 END AS BIGINT) AS recommended
    FROM (
      SELECT '(customer x orders) x lineitem' AS plan,
             ia.n AS intermediate_rows,
             CAST(fin.n AS BIGINT) AS final_rows
      FROM ia, fin
      UNION ALL
      SELECT 'customer x (orders x lineitem)' AS plan,
             ib.n AS intermediate_rows,
             CAST(fin.n AS BIGINT) AS final_rows
      FROM ib, fin
    )
    """,
)
def join_order_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-ORDER advice from exact statistics — the other half of
    ``join_cardinality_estimate``'s sizing discipline, on TPC-H Q3's
    3-table chain (BUILDING customers x pre-cutoff orders x lineitem):
    for each left-deep order, the intermediate's exact row count computed
    from KEYED COUNT AGGREGATES — the filtered semi-join cardinalities —
    without materializing either join's payload columns. The two
    intermediates differ by ~8x on this fixture (selective dimension
    filter vs wide fact expansion), which is exactly the asymmetry a
    System-R enumerator exploits; `recommended` marks the smaller. At
    100 TB this IS the statistics-collection pass a CBO runs (per-key
    counts = the frequency histogram), and the advisor's joins touch
    only key columns, so the scan is a fraction of the real join it
    prices. Final cardinality rides along: both orders produce it, the
    plans differ only in what they carry in between."""
    c = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, "orders", sf_dir).filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    ).select("o_custkey", "o_orderkey")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey")
    co = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey")
    ia = co.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ib = li.join(o, li.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    fin = li.join(co, li.l_orderkey == co.o_orderkey).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = (
        ia.crossJoin(F.broadcast(fin.withColumnRenamed("n", "f")))
        .select(
            F.lit("(customer x orders) x lineitem").alias("plan"),
            F.col("n").alias("intermediate_rows"),
            F.col("f").alias("final_rows"),
        )
    )
    b = (
        ib.crossJoin(F.broadcast(fin.withColumnRenamed("n", "f")))
        .select(
            F.lit("customer x (orders x lineitem)").alias("plan"),
            F.col("n").alias("intermediate_rows"),
            F.col("f").alias("final_rows"),
        )
    )
    both = a.union(b)
    mn = both.agg(F.min("intermediate_rows").alias("mn"))
    return both.crossJoin(F.broadcast(mn)).select(
        "plan",
        "intermediate_rows",
        "final_rows",
        F.when(F.col("intermediate_rows") == F.col("mn"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("recommended"),
    )


# ---------------------------------------------------------------------------
# activity concentration (Gini + top-share from the count histogram)
# ---------------------------------------------------------------------------


@register(
    "user_activity_gini",
    oracle="""
    WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                 FROM events GROUP BY user_id),
    h AS (SELECT c, CAST(count(*) AS BIGINT) AS n_b FROM per GROUP BY c),
    w AS (
      SELECT c, n_b,
             sum(n_b) OVER (ORDER BY c) AS cum_asc,
             sum(n_b) OVER (ORDER BY c DESC) AS cum_desc
      FROM h
    ),
    tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n,
                   CAST(sum(c * n_b) AS BIGINT) AS s0
            FROM h),
    s1 AS (
      SELECT CAST(sum(c * (n_b * (cum_asc - n_b)
                           + n_b * (n_b + 1) // 2)) AS BIGINT) AS s1
      FROM w
    ),
    k AS (SELECT (n + 99) // 100 AS k FROM tot),
    top AS (
      SELECT CAST(sum(c * greatest(0, least(n_b, k.k - (cum_desc - n_b))))
                  AS BIGINT) AS top_events
      FROM w, k
    )
    SELECT tot.n AS n_users, tot.s0 AS total_events,
           CAST((2 * s1.s1 - (tot.n + 1) * tot.s0) * 1000000
                // (CAST(tot.n AS HUGEINT) * tot.s0) AS BIGINT) AS gini_micro,
           k.k AS top_k_users,
           top.top_events,
           top.top_events * 1000000 // tot.s0 AS top_share_micro
    FROM tot, s1, k, top
    """,
)
def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity CONCENTRATION — the Gini coefficient and top-1% share of
    events per user, the distribution audit that separates an organic
    audience from a bot-dominated one (and prices how much a per-user
    cap would remove). The scale trick is that BOTH statistics come
    entirely from the (count -> n_users) HISTOGRAM, never a global
    per-user ranking: within a count bucket every y is equal, so the
    rank-weighted Gini sum collapses to the closed form
    c·(n_b·offset + n_b(n_b+1)/2) per bucket, and the top-k share walks
    the same histogram descending with a greatest/least partial-bucket
    take. One user-keyed count, one count-keyed histogram (bounded by
    the activity DOMAIN, not the user count), windows over histogram
    rows only. All integer: HUGEINT/DECIMAL cleared denominators; the
    ascending-rank Gini numerator is non-negative so truncating div is
    sign-safe. Tie order inside a bucket cannot move either statistic —
    equal values contribute identically under any permutation."""
    ev = load_table(spark, "events", sf_dir)
    per = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
    h = per.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    w_asc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    w_desc = Window.orderBy(F.desc("c")).rowsBetween(Window.unboundedPreceding, 0)
    w = h.select(
        "c",
        "n_b",
        F.sum("n_b").over(w_asc).alias("cum_asc"),
        F.sum("n_b").over(w_desc).alias("cum_desc"),
    )
    tot = h.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum(F.expr("c * n_b")).cast("long").alias("s0"),
    )
    s1 = w.agg(
        F.sum(
            F.expr("c * (n_b * (cum_asc - n_b) + n_b * (n_b + 1) div 2)")
        )
        .cast("long")
        .alias("s1")
    )
    kt = tot.select(F.expr("(n + 99) div 100").alias("k"))
    top = (
        w.crossJoin(F.broadcast(kt))
        .agg(
            F.sum(
                F.expr("c * greatest(0, least(n_b, k - (cum_desc - n_b)))")
            )
            .cast("long")
            .alias("top_events")
        )
    )
    return (
        tot.crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(kt))
        .crossJoin(F.broadcast(top))
        .select(
            F.col("n").alias("n_users"),
            F.col("s0").alias("total_events"),
            F.expr(
                "CAST((2 * s1 - (n + 1) * s0) * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * s0) AS BIGINT)"
            ).alias("gini_micro"),
            F.col("k").alias("top_k_users"),
            "top_events",
            F.expr("top_events * 1000000 div s0").alias("top_share_micro"),
        )
    )


# ---------------------------------------------------------------------------
# chi-square independence audit (categorical drift / association test)
# ---------------------------------------------------------------------------


@register(
    "order_priority_chi2",
    oracle="""
    WITH o AS (SELECT o_orderpriority AS pri, o_orderstatus AS st
               FROM orders),
    cell AS (SELECT pri, st, CAST(count(*) AS BIGINT) AS obs
             FROM o GROUP BY pri, st),
    r AS (SELECT pri, CAST(sum(obs) AS BIGINT) AS rn FROM cell GROUP BY pri),
    c AS (SELECT st, CAST(sum(obs) AS BIGINT) AS cn FROM cell GROUP BY st),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cell),
    -- COMPLETE r x c grid (r12 fix): empty cells carry real chi2 mass
    -- (obs = 0 contributes R*C/N) and must not silently drop out of the
    -- sum on sparse tables
    cells AS (
      SELECT r.pri, c.st, r.rn, c.cn, COALESCE(cell.obs, 0) AS obs
      FROM r CROSS JOIN c
      LEFT JOIN cell ON cell.pri = r.pri AND cell.st = c.st
    ),
    x AS (
      SELECT cells.pri, cells.st, cells.obs,
             CAST(CAST(cells.rn AS HUGEINT) * cells.cn * 1000 // n.n AS BIGINT)
               AS expected_milli,
             CAST((CAST(cells.obs AS HUGEINT) * n.n
                   - CAST(cells.rn AS HUGEINT) * cells.cn)
                  * (CAST(cells.obs AS HUGEINT) * n.n
                     - CAST(cells.rn AS HUGEINT) * cells.cn)
                  * 1000000
                  // (CAST(n.n AS HUGEINT) * cells.rn * cells.cn) AS BIGINT)
               AS chi2_cell_micro
      FROM cells CROSS JOIN n
    ),
    t AS (SELECT CAST(sum(chi2_cell_micro) AS BIGINT) AS chi2_total_micro,
                 CAST((count(DISTINCT pri) - 1) * (count(DISTINCT st) - 1)
                      AS BIGINT) AS dof
          FROM x)
    SELECT x.pri AS priority, x.st AS status, x.obs, x.expected_milli,
           x.chi2_cell_micro, t.chi2_total_micro, t.dof
    FROM x CROSS JOIN t
    """,
)
def order_priority_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square INDEPENDENCE audit for two categorical columns (order
    priority x order status) — the drift/association test a data-quality
    monitor runs when a dimension's distribution should not depend on
    another (a dependence appearing release-over-release is a pipeline
    bug or a behavior change worth a page). Entirely
    TRANSCENDENTAL-FREE: the per-cell statistic is the cleared-
    denominator rational (obs·N - R·C)² / (N·R·C) — no floats anywhere,
    HUGEINT/DECIMAL(38,0) cross-multiplication keeps the micro grid
    exact; the squared numerator ×10⁶ stays inside 38 digits to N ≈ 10⁸
    rows — rescale counts first beyond that (documented, not silent).
    r12 FIX (found by the lang_source_association planted two-arm
    control, the r10-heatmap bug class): the original denominator
    carried an extra ·N — the docstring's formula was right and the
    code computed chi²/N (the mean-square contingency φ²) under chi²'s
    name, N× too small — and empty cells (obs = 0, chi² mass R·C/N)
    silently dropped out of the sum, latent on this dense 5×3 table but
    wrong on any sparse one; the grid is now completed explicitly in
    both engines. Each row carries its cell's contribution
    plus the grand total and degrees of freedom, so the consumer reads
    WHICH cells drive the dependence, not just that one exists. Scale
    shape: one map-side-combined |cells|-bounded aggregate; everything
    downstream (margins, total) lives on the bounded cell table."""
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    )
    cell = o.groupBy("pri", "st").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    r = cell.groupBy("pri").agg(F.sum("obs").cast("long").alias("rn"))
    c = cell.groupBy("st").agg(F.sum("obs").cast("long").alias("cn"))
    n = cell.agg(F.sum("obs").cast("long").alias("n"))
    # COMPLETE r x c grid (r12 fix): empty cells carry chi2 mass R*C/N
    cells = (
        r.crossJoin(F.broadcast(c))
        .join(cell, ["pri", "st"], "left")
        .select(
            "pri", "st", "rn", "cn",
            F.coalesce("obs", F.lit(0)).cast("long").alias("obs"),
        )
    )
    x = (
        cells.crossJoin(F.broadcast(n))
        .select(
            "pri",
            "st",
            "obs",
            F.expr(
                "CAST(CAST(rn AS DECIMAL(38,0)) * cn * 1000 div n AS BIGINT)"
            ).alias("expected_milli"),
            F.expr(
                "CAST((CAST(obs AS DECIMAL(38,0)) * n"
                " - CAST(rn AS DECIMAL(38,0)) * cn)"
                " * (CAST(obs AS DECIMAL(38,0)) * n"
                " - CAST(rn AS DECIMAL(38,0)) * cn)"
                " * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * rn * cn) AS BIGINT)"
            ).alias("chi2_cell_micro"),
        )
    )
    t = x.agg(
        F.sum("chi2_cell_micro").cast("long").alias("chi2_total_micro"),
        (
            (F.countDistinct("pri") - 1) * (F.countDistinct("st") - 1)
        )
        .cast("long")
        .alias("dof"),
    )
    return x.crossJoin(F.broadcast(t)).select(
        F.col("pri").alias("priority"),
        F.col("st").alias("status"),
        "obs",
        "expected_milli",
        "chi2_cell_micro",
        "chi2_total_micro",
        "dof",
    )


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov distance (distribution drift test)
# ---------------------------------------------------------------------------

KS_C2_MICRO = 1_844_164  # 1.358^2 on the micro grid (alpha = 0.05 two-sample)


@register(
    "value_distribution_ks",
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS m
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    g AS (
      SELECT m,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM e GROUP BY m
    ),
    w AS (
      SELECT m, sum(ca) OVER (ORDER BY m) AS cum_a,
             sum(cb) OVER (ORDER BY m) AS cum_b
      FROM g
    ),
    n AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
          FROM g),
    d AS (
      SELECT CAST(max(abs(CAST(w.cum_a AS HUGEINT) * n.nb
                          - CAST(w.cum_b AS HUGEINT) * n.na)) AS BIGINT)
               AS d_num
      FROM w, n
    )
    SELECT n.na, n.nb,
           CAST(CAST(d.d_num AS HUGEINT) * 1000000
                // (CAST(n.na AS HUGEINT) * n.nb) AS BIGINT) AS ks_micro,
           CAST(CASE WHEN
                  CAST(CAST(d.d_num AS HUGEINT) * 1000000
                       // (CAST(n.na AS HUGEINT) * n.nb) AS HUGEINT)
                  * (CAST(d.d_num AS HUGEINT) * 1000000
                     // (CAST(n.na AS HUGEINT) * n.nb))
                  * n.na * n.nb
                  > CAST({KS_C2_MICRO} AS HUGEINT) * 1000000 * (n.na + n.nb)
                THEN 1 ELSE 0 END AS BIGINT) AS reject_same_dist
    FROM d, n
    """,
)
def value_distribution_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV distance between the purchase and
    view value distributions — the nonparametric drift test a pipeline
    runs when two cohorts' metric distributions should match (release
    A/B, source-vs-source, yesterday-vs-today). Exact and
    transcendental-free end to end: the supremum runs over the pooled
    distinct milli-value grid (the empirical CDFs only change there),
    the CDF gap is the cleared-denominator integer
    |cumA·nB - cumB·nA|, and the alpha=0.05 decision compares
    ks_micro²·na·nb against 1.358²·(na+nb) on the micro grid — the
    square of the classical critical form, so no sqrt ever runs (the
    {C2} literal is Python-precomputed, the `_BENFORD_MICRO` policy).
    The one intentional rounding: ks_micro truncates BEFORE the
    significance comparison, identically in both engines, keeping every
    product inside DECIMAL(38,0)/HUGEINT even at 1e10-row cohorts.
    Scale shape: one map-side-combined aggregate on the bounded value
    domain (~50k distinct millis by construction), one cumulative window
    over those bounded rows — the ``order_value_quantiles_2pass``
    discipline applied to a hypothesis test."""
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("m"),
    )
    g = e.groupBy("m").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wom = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    w = g.select(
        "m",
        F.sum("ca").over(wom).alias("cum_a"),
        F.sum("cb").over(wom).alias("cum_b"),
    )
    n = g.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    d = (
        w.crossJoin(F.broadcast(n))
        .agg(
            F.max(
                F.expr(
                    "abs(CAST(cum_a AS DECIMAL(38,0)) * nb"
                    " - CAST(cum_b AS DECIMAL(38,0)) * na)"
                )
            )
            .cast("long")
            .alias("d_num")
        )
    )
    return d.crossJoin(F.broadcast(n)).select(
        "na",
        "nb",
        F.expr(
            "CAST(CAST(d_num AS DECIMAL(38,0)) * 1000000"
            " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
        ).alias("ks_micro"),
        F.expr(
            "CAST(CASE WHEN"
            " CAST(CAST(d_num AS DECIMAL(38,0)) * 1000000"
            "  div (CAST(na AS DECIMAL(38,0)) * nb) AS DECIMAL(38,0))"
            " * (CAST(d_num AS DECIMAL(38,0)) * 1000000"
            "  div (CAST(na AS DECIMAL(38,0)) * nb))"
            " * na * nb"
            f" > CAST({KS_C2_MICRO} AS DECIMAL(38,0)) * 1000000 * (na + nb)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_same_dist"),
    )


# two-sided alpha=0.05 normal critical value, squared and cleared to the
# rational 38416/10000 (1.96^2 = 3.8416 exactly) — no sqrt, no libm
MW_C2_NUM = 38416
MW_C2_DEN = 10000


@register(
    "value_location_mannwhitney",
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS m
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    g AS (
      SELECT m,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM e GROUP BY m
    ),
    w AS (
      SELECT m, ca, cb,
             COALESCE(sum(cb) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumb_lt
      FROM g
    ),
    n AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
          FROM g),
    u AS (SELECT CAST(sum(CAST(ca AS HUGEINT) * (2 * cumb_lt + cb))
                      AS BIGINT) AS u2 FROM w),
    t AS (SELECT CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
                          - (ca + cb)) AS BIGINT) AS tie3 FROM g)
    SELECT n.na, n.nb, u.u2 AS u2_a, t.tie3,
           CAST(CASE WHEN n.na = 0 OR n.nb = 0 THEN NULL ELSE
                floor(CAST(u.u2 - CAST(n.na AS HUGEINT) * n.nb AS DOUBLE)
                      / CAST(CAST(n.na AS HUGEINT) * n.nb AS DOUBLE)
                      * 1000000 + 0.5) END AS BIGINT) AS rank_biserial_micro,
           CAST(CASE WHEN
                  3 * {MW_C2_DEN}
                    * (CAST(u.u2 AS HUGEINT) - CAST(n.na AS HUGEINT) * n.nb)
                    * (CAST(u.u2 AS HUGEINT) - CAST(n.na AS HUGEINT) * n.nb)
                    * (n.na + n.nb) * (n.na + n.nb - 1)
                  > CAST({MW_C2_NUM} AS HUGEINT) * n.na * n.nb
                    * (CAST(n.na + n.nb AS HUGEINT) * (n.na + n.nb)
                         * (n.na + n.nb)
                       - (n.na + n.nb) - t.tie3)
                THEN 1 ELSE 0 END AS BIGINT) AS reject_same_location
    FROM n, u, t
    """,
)
def value_location_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample MANN-WHITNEY U (Wilcoxon rank-sum) between the purchase
    and view value distributions — the LOCATION-shift complement to
    ``value_distribution_ks`` (KS asks "same distribution?", U asks "does
    one cohort stochastically dominate?" and sizes the effect). Exact and
    transcendental-free end to end, the chi²/KS/Spearman recipe: U is
    computed on the DOUBLED grid (u2 = Σ_m ca(m)·(2·cumB(<m) + cb(m)) —
    midrank tie handling becomes pure integers), the tie-corrected
    normal-approximation decision is the classical |z| > 1.96 in SQUARED,
    cleared-denominator form — 3·10⁴·(u2−na·nb)²·N·(N−1) vs
    38416·na·nb·(N³−N−ΣT) with T = Σ(t³−t) over pooled tie groups — so no
    sqrt or libm call ever runs (1.96² = 3.8416 is exactly the rational
    38416/10⁴), and the rank-biserial effect size r = u2/(na·nb) − 1 uses
    the sign-safe one-IEEE-division micro rounding (``div``/``//``
    diverge on negatives; a single double division of exact <2⁵³ ints +
    floor(x·1e6+0.5) is bit-identical in both engines regardless of
    sign — the ``event_volume_trend`` recipe). Magnitude note: the
    cleared-form products stay inside DECIMAL(38,0)/HUGEINT up to ~3·10⁵
    rows per cohort; beyond that, pre-aggregate or divide through by N
    once — documented, not silent (the int64-micro-product lesson).
    Scale shape: one map-side-combined aggregate on the bounded milli
    value domain, one cumulative window over those bounded rows, three
    1-row scalars — identical cost class to the KS test beside it."""
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("m"),
    )
    g = e.groupBy("m").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wlt = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    w = g.select(
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(wlt), F.lit(0)).alias("cumb_lt"),
    )
    n = g.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
    )
    u = w.agg(
        F.sum(F.expr("CAST(ca AS DECIMAL(38,0)) * (2 * cumb_lt + cb)"))
        .cast("long")
        .alias("u2")
    )
    t = g.agg(
        F.sum(
            F.expr(
                "CAST(ca + cb AS DECIMAL(38,0)) * (ca + cb) * (ca + cb)"
                " - (ca + cb)"
            )
        )
        .cast("long")
        .alias("tie3")
    )
    return (
        n.crossJoin(F.broadcast(u))
        .crossJoin(F.broadcast(t))
        .select(
            "na",
            "nb",
            F.col("u2").alias("u2_a"),
            "tie3",
            # empty-cohort guard: Spark's double x/0 yields NULL while
            # DuckDB's IEEE division yields ±inf — make the degenerate
            # case (no purchases or no views) an explicit NULL in BOTH
            # engines instead of letting them diverge
            F.expr(
                "CAST(CASE WHEN na = 0 OR nb = 0 THEN NULL ELSE"
                " floor(CAST(u2 - CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE)"
                " / CAST(CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE)"
                " * 1000000 + 0.5) END AS BIGINT)"
            ).alias("rank_biserial_micro"),
            F.expr(
                "CAST(CASE WHEN"
                f" 3 * {MW_C2_DEN}"
                " * (CAST(u2 AS DECIMAL(38,0)) - CAST(na AS DECIMAL(38,0)) * nb)"
                " * (CAST(u2 AS DECIMAL(38,0)) - CAST(na AS DECIMAL(38,0)) * nb)"
                " * (na + nb) * (na + nb - 1)"
                f" > CAST({MW_C2_NUM} AS DECIMAL(38,0)) * na * nb"
                " * (CAST(na + nb AS DECIMAL(38,0)) * (na + nb) * (na + nb)"
                "    - (na + nb) - tie3)"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("reject_same_location"),
        )
    )


value_distribution_ks.__doc__ = value_distribution_ks.__doc__.replace(
    "{C2}", str(KS_C2_MICRO)
)


# chi-squared 0.95 quantiles for df = 1..10, micro-scaled (floor(q*1e6+0.5))
# — precomputed literals the way 1.96² = 38416/10⁴ is handled, so the
# k-sample decision never calls a transcendental at runtime. df > 10 needs
# the table extended; every consumer places an EXPLICIT `WHEN df > 10 THEN
# NULL` guard AHEAD of the quantile comparison, because without it the
# CASE's NULL quantile propagates through `x > NULL` as NULL, the WHEN
# does not match, and the outer CASE falls through to ELSE 0 — a SILENT
# no-reject in both engines (verified in DuckDB and Spark alike; their
# three-valued logic is identical so the oracle comparison would pass on
# the wrong answer). With the guard, df > 10 reports an honest NULL
# ("undecidable with this table") in both engines instead.
KW_CHI2_MICRO = {
    1: 3841459,
    2: 5991465,
    3: 7814728,
    4: 9487729,
    5: 11070498,
    6: 12591587,
    7: 14067140,
    8: 15507313,
    9: 16918978,
    10: 18307038,
}


def _kw_chi2_case(df_expr: str) -> str:
    """CASE mapping degrees-of-freedom → micro-scaled χ²₀.₉₅ literal —
    identical text in the Spark expression and the DuckDB oracle."""
    whens = " ".join(f"WHEN {df} THEN {q}" for df, q in KW_CHI2_MICRO.items())
    return f"CASE {df_expr} {whens} END"


@register(
    "value_location_friedman",
    oracle=f"""
    WITH ut AS (
      SELECT user_id, event_type,
             CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY user_id, event_type
    ),
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM events),
    cu AS (
      SELECT user_id FROM ut, kk GROUP BY user_id, kk.k
      HAVING count(*) = kk.k
    ),
    r AS (
      SELECT ut.user_id, ut.event_type, ut.v,
             CAST(count(*) OVER (PARTITION BY ut.user_id) AS BIGINT) AS k,
             2 * CAST(COALESCE(count(*) OVER (
                    PARTITION BY ut.user_id ORDER BY ut.v
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT)
               + CAST(count(*) OVER (PARTITION BY ut.user_id, ut.v)
                      AS BIGINT) + 1 AS d
      FROM ut JOIN cu ON ut.user_id = cu.user_id
    ),
    tj AS (
      SELECT event_type, CAST(sum(d) AS BIGINT) AS r2j,
             CAST(count(*) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k
      FROM r GROUP BY event_type
    ),
    num AS (
      SELECT CAST(sum((r2j - n * (k + 1)) * (r2j - n * (k + 1)))
                  AS HUGEINT) * (max(k) - 1) AS nm,
             CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS BIGINT) AS k
      FROM tj
    ),
    den AS (
      SELECT CAST(sum((d - (k + 1)) * (d - (k + 1))) AS HUGEINT) AS dn FROM r
    )
    SELECT num.n AS n_blocks, num.k AS n_treatments,
           CAST(den.dn AS BIGINT) AS rank_ss,
           CAST(CASE WHEN den.dn = 0 THEN 0
                ELSE (num.nm * 1000000) // den.dn END AS BIGINT)
             AS friedman_q_micro,
           CAST(CASE WHEN den.dn = 0 OR num.k <= 1 THEN 0
                WHEN num.k - 1 > 10 THEN NULL
                WHEN num.nm * 1000000
                     > CAST(({_kw_chi2_case("num.k - 1")}) AS HUGEINT) * den.dn
                THEN 1 ELSE 0 END AS BIGINT) AS reject_same_location
    FROM num, den
    """,
)
def value_location_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN test — the REPEATED-MEASURES member of the location
    toolkit: Kruskal-Wallis asks "do the event types differ?" pooling all
    users; Friedman BLOCKS by user (each user is their own control),
    ranking the k per-type totals WITHIN each user, which removes
    between-user spend variation entirely — the right test when users
    differ wildly in scale but the per-user type ordering is the claim.
    This fixture is a complete block design (every user does every type),
    and the query restricts to complete blocks identically in both engines
    (HAVING count = k) so a future incomplete fixture degrades loudly (rows
    drop) rather than biasing ranks. Exactness is the doubled-midrank
    recipe taken all the way: within-user doubled midranks d = 2·cum< +
    tiecount + 1 are integers (per-user windows over k ≤ handful rows),
    the doubled mean rank is exactly k+1, and the tie-general Friedman
    statistic Q = (k−1)·Σ_j(R_j − n(k+1)/2)² / Σ_ij(r_ij − (k+1)/2)²
    clears COMPLETELY on doubled ranks to integer N = (k−1)·Σ(R2_j −
    n(k+1))² over integer D = Σ(d − (k+1))² — no grid rounding, no
    division, the decision is N·10⁶ > Q_micro·D against the shared
    χ²₀.₉₅(k−1) literal table (``KW_CHI2_MICRO``), and the reported
    statistic is the exact floor of Q in micros. The per-(user, type)
    response is the exact milli-grid value SUM (integer — a double mean
    would rank nondeterministically under ties). All-tied degenerate (D =
    0): report 0 / no-reject identically. Scale shape: one (user, type)
    map-side-combined aggregate, per-user windows over k rows (one
    user-keyed shuffle), a k-row type table, two 1-row scalars. The
    complete-block filter broadcasts the user list only if small — here it
    rides the same user-keyed shuffle as the ranking window."""
    ev = load_table(spark, "events", sf_dir)
    ut = ev.groupBy("user_id", "event_type").agg(
        F.sum(F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("v")
    )
    kk = ev.agg(F.countDistinct("event_type").cast("long").alias("k"))
    cu = (
        ut.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(kk))
        .filter(F.col("c") == F.col("k"))
        .select("user_id")
    )
    wu = Window.partitionBy("user_id")
    wlt = (
        Window.partitionBy("user_id")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    wtie = Window.partitionBy("user_id", "v")
    r = ut.join(cu, "user_id").select(
        "user_id",
        "event_type",
        F.count(F.lit(1)).over(wu).cast("long").alias("k"),
        (
            F.lit(2) * F.coalesce(F.count(F.lit(1)).over(wlt), F.lit(0))
            + F.count(F.lit(1)).over(wtie)
            + F.lit(1)
        )
        .cast("long")
        .alias("d"),
    )
    tj = r.groupBy("event_type").agg(
        F.sum("d").cast("long").alias("r2j"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("k").cast("long").alias("k"),
    )
    num = tj.agg(
        (
            F.sum(
                F.expr(
                    "CAST(r2j - n * (k + 1) AS DECIMAL(38,0))"
                    " * (r2j - n * (k + 1))"
                )
            )
            * (F.max("k") - 1)
        ).alias("nm"),
        F.max("n").cast("long").alias("n"),
        F.max("k").cast("long").alias("k"),
    )
    den = r.agg(
        F.sum(
            F.expr("CAST(d - (k + 1) AS DECIMAL(38,0)) * (d - (k + 1))")
        ).alias("dn")
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("n").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        F.col("dn").cast("long").alias("rank_ss"),
        F.expr(
            "CAST(CASE WHEN dn = 0 THEN 0"
            " ELSE (CAST(nm AS DECIMAL(38,0)) * 1000000"
            " - (CAST(nm AS DECIMAL(38,0)) * 1000000) % dn) / dn"
            " END AS BIGINT)"
        ).alias("friedman_q_micro"),
        F.expr(
            "CAST(CASE WHEN dn = 0 OR k <= 1 THEN 0"
            " WHEN k - 1 > 10 THEN NULL"
            " WHEN CAST(nm AS DECIMAL(38,0)) * 1000000"
            f" > CAST(({_kw_chi2_case('k - 1')}) AS DECIMAL(38,0)) * dn"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_same_location"),
    )


@register(
    "cube_priority_status_volume",
    oracle="""
    SELECT o_orderpriority AS priority, o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_priority_status_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets — the all-combinations sibling of
    ``rollup_region_revenue`` completing the grouping-set family: one
    aggregate produces every (priority, status) cell PLUS both one-way
    margins and the grand total (4 grouping sets per row via the Expand
    operator), the cross-tab an ops dashboard reads without four scans.
    Money stays exact (half-up integer cents before the SUM — the repo's
    cents convention — so subtotal rows equal the sum of their children
    EXACTLY, the invariant float subtotals quietly break). Scale shape:
    Expand ×4 feeds ONE hash aggregate with map-side partials; grouping
    keys are low-cardinality so the expanded aggregate stays tiny."""
    return (
        load_table(spark, "orders", sf_dir)
        .select(
            "o_orderpriority",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .cube(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
    )


COCHRAN_MILLI = 150_000  # binary outcome: per-(user, type) max value > 150


@register(
    "value_cochran_q",
    oracle=f"""
    WITH ut AS (
      SELECT user_id, event_type,
             CASE WHEN max(CAST(floor(value * 1000 + 0.5) AS BIGINT))
                  > {COCHRAN_MILLI} THEN 1 ELSE 0 END AS x
      FROM events GROUP BY user_id, event_type
    ),
    kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k FROM events),
    cu AS (
      SELECT user_id FROM ut, kk GROUP BY user_id, kk.k
      HAVING count(*) = kk.k
    ),
    b AS (SELECT ut.* FROM ut JOIN cu ON ut.user_id = cu.user_id),
    cj AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS c FROM b GROUP BY 1),
    ri AS (SELECT user_id, CAST(sum(x) AS BIGINT) AS r FROM b GROUP BY 1),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM ri) AS n_blocks,
             (SELECT k FROM kk) AS k,
             (SELECT CAST(sum(c) AS BIGINT) FROM cj) AS nn,
             (SELECT CAST(sum(r) AS BIGINT) FROM ri) AS sr,
             (SELECT CAST(sum(r * r) AS BIGINT) FROM ri) AS sr2
    ),
    f AS (
      SELECT tot.n_blocks, tot.k, tot.nn,
             (SELECT CAST(sum((tot.k * c - tot.nn) * (tot.k * c - tot.nn))
                          AS HUGEINT) FROM cj) * (tot.k - 1) AS nm,
             CAST(tot.k AS HUGEINT) * (tot.k * tot.sr - tot.sr2) AS dn
      FROM tot
    )
    SELECT n_blocks, k AS n_treatments, nn AS n_successes,
           CAST(CASE WHEN dn = 0 THEN 0
                ELSE (nm * 1000000) // dn END AS BIGINT) AS cochran_q_micro,
           CAST(CASE WHEN dn = 0 OR k <= 1 THEN 0
                WHEN k - 1 > 10 THEN NULL
                WHEN nm * 1000000
                     > CAST(({_kw_chi2_case("k - 1")}) AS HUGEINT) * dn
                THEN 1 ELSE 0 END AS BIGINT) AS reject_same_rate
    FROM f
    """,
)
def value_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q — the BINARY-outcome member of the blocked-test family
    (Friedman ranks continuous responses; Q tests whether a success RATE
    differs across the k treatments when each block is its own control):
    per (user, type) the outcome is "did this user's max value for this
    type exceed {COCHRAN_MILLI} milli" (≈47% success rate on this fixture
    — a genuinely varying binary), blocks restricted to complete ones
    identically in both engines. Fully-integer cleared form (the Friedman
    pattern): with column totals C_j, row totals R_i, N = ΣC_j,
    Q = (k−1)·Σ(k·C_j − N)² / (k·(k·ΣR_i − ΣR_i²)) — numerator and
    denominator are exact integers, the reported statistic is the exact
    floor of Q in micros (subtract-mod division), and the decision
    N_q·10⁶ > Q_micro·D runs against the shared χ²₀.₉₅(k−1) literal table
    (``KW_CHI2_MICRO``). All-zero/all-one blocks contribute nothing to
    the denominator by construction (k·R − R² = 0) — the textbook
    behavior, no special-casing needed; a fully degenerate corpus
    (denominator 0) reports 0 / no-reject identically in both engines.
    The binary threshold compares on the milli grid so no float ever
    decides an outcome. Scale shape: one (user, type) map-side-combined
    aggregate, two keyed rollups (k-row and user-row), 1-row scalars —
    the user-row rollup combines map-side so nothing corpus-proportional
    crosses one reducer."""
    ev = load_table(spark, "events", sf_dir)
    ut = ev.groupBy("user_id", "event_type").agg(
        F.when(
            F.max(F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long"))
            > COCHRAN_MILLI,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("x")
    )
    kk = ev.agg(F.countDistinct("event_type").cast("long").alias("k"))
    cu = (
        ut.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(kk))
        .filter(F.col("c") == F.col("k"))
        .select("user_id")
    )
    b = ut.join(cu, "user_id")
    cj = b.groupBy("event_type").agg(F.sum("x").cast("long").alias("c"))
    ri = b.groupBy("user_id").agg(F.sum("x").cast("long").alias("r"))
    rtot = ri.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("r").cast("long").alias("sr"),
        F.sum(F.expr("r * r")).cast("long").alias("sr2"),
    )
    ctot = cj.agg(F.sum("c").cast("long").alias("nn"))
    f = (
        cj.crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(ctot))
        .agg(
            F.sum(
                F.expr(
                    "CAST(k * c - nn AS DECIMAL(38,0)) * (k * c - nn)"
                )
            ).alias("ss"),
            F.max("k").cast("long").alias("k"),
            F.max("nn").cast("long").alias("nn"),
        )
        .crossJoin(F.broadcast(rtot))
        .select(
            "n_blocks",
            "k",
            "nn",
            F.expr("CAST(ss AS DECIMAL(38,0)) * (k - 1)").alias("nm"),
            F.expr(
                "CAST(k AS DECIMAL(38,0)) * (k * sr - sr2)"
            ).alias("dn"),
        )
    )
    return f.select(
        "n_blocks",
        F.col("k").alias("n_treatments"),
        F.col("nn").alias("n_successes"),
        F.expr(
            "CAST(CASE WHEN dn = 0 THEN 0"
            " ELSE (nm * 1000000 - (nm * 1000000) % dn) / dn"
            " END AS BIGINT)"
        ).alias("cochran_q_micro"),
        F.expr(
            "CAST(CASE WHEN dn = 0 OR k <= 1 THEN 0"
            " WHEN k - 1 > 10 THEN NULL"
            " WHEN nm * 1000000"
            f" > CAST(({_kw_chi2_case('k - 1')}) AS DECIMAL(38,0)) * dn"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_same_rate"),
    )


value_cochran_q.__doc__ = value_cochran_q.__doc__.replace(
    "{COCHRAN_MILLI}", str(COCHRAN_MILLI)
)


@register(
    "value_location_kruskalwallis",
    oracle=f"""
    WITH e AS (
      SELECT event_type, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS m
      FROM events
    ),
    g AS (
      SELECT event_type, m, CAST(count(*) AS BIGINT) AS c
      FROM e GROUP BY event_type, m
    ),
    mt AS (
      SELECT m, CAST(sum(c) AS BIGINT) AS cm FROM g GROUP BY m
    ),
    mw AS (
      SELECT m, cm,
             2 * COALESCE(sum(cm) OVER (ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cm + 1 AS d2
      FROM mt
    ),
    s AS (
      SELECT g.event_type,
             CAST(sum(CAST(g.c AS HUGEINT) * mw.d2) AS HUGEINT) AS s2,
             CAST(sum(g.c) AS BIGINT) AS ni
      FROM g JOIN mw ON g.m = mw.m
      GROUP BY g.event_type
    ),
    a AS (
      SELECT CAST(sum((s2 * s2 * 1000000) // ni) AS HUGEINT) AS a_micro,
             CAST(sum(ni) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k
      FROM s
    ),
    t AS (
      SELECT CAST(sum(CAST(cm AS HUGEINT) * cm * cm - cm) AS HUGEINT) AS tie3
      FROM mt
    ),
    f AS (
      SELECT k, n, CAST(tie3 AS BIGINT) AS tie3,
             3 * a_micro - 3 * CAST(n AS HUGEINT)
               * (n + 1) * (n + 1) * 1000000 AS h2_num,
             CAST(n AS HUGEINT) * n * n - n - tie3 AS denom
      FROM a, t
    )
    SELECT k AS n_groups, n AS n_total, tie3,
           CAST(CASE WHEN denom = 0 THEN 0
                ELSE (GREATEST(h2_num, 0) * (n - 1)) // denom
                END AS BIGINT) AS h_corr_micro,
           CAST(CASE WHEN k <= 1 OR denom = 0 THEN 0
                WHEN k - 1 > 10 THEN NULL
                WHEN h2_num * (n - 1)
                     > CAST(({_kw_chi2_case("k - 1")}) AS HUGEINT) * denom
                THEN 1 ELSE 0 END AS BIGINT) AS reject_same_location
    FROM f
    """,
)
def value_location_kruskalwallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-sample KRUSKAL-WALLIS H across ALL event types at once — the
    k-group completion of the transcendental-free location toolkit
    (Mann-Whitney compares exactly two). Same exactness recipe: doubled-grid
    midranks (d2(m) = 2·cum<(m) + c(m) + 1 is always integer, so per-group
    doubled rank sums S_i = Σ c_i·d2 are exact), per-group terms
    (S_i²·10⁶) div n_i summed to A_micro (integer, order-free — never a
    float sum whose association order could differ between engines), and
    since 4·R_i²/n_i = S_i²/n_i the classical H = 12/(N(N+1))·ΣR_i²/n_i
    − 3(N+1) clears to h2_num = 3·A_micro − 3·N(N+1)²·10⁶ over
    10⁶·N(N+1). The tie-corrected decision divides H by
    1 − ΣT/(N³−N) and compares against the χ²₀.₉₅(k−1) quantile — a
    precomputed micro literal per df (the 1.96²-literal pattern) — in
    cleared form: h2_num·(N−1) > Q_micro·(N³−N−T), after N(N+1) cancels
    from both sides (that cancellation is what keeps the products inside
    DECIMAL(38,0)/HUGEINT: ≤ ~8·10³⁶ even at 4·10⁷ events). All-tied
    degenerate input (denominator 0) reports H=0 / no-reject, guarded
    identically in both engines, and the only floor-divisions run on
    non-negative operands so Spark ``div`` ≡ DuckDB ``//``. Scale shape:
    one map-side-combined (type, m) aggregate, one bounded-grid window,
    a k-row group table, two 1-row scalar broadcasts — the value grid is
    the bounded milli domain, so no stage is corpus-proportional on the
    driver. Hypothesis-proof: tests/test_sketch_properties.py equates the
    cleared form with the classical tie-corrected statistic, including the
    all-tied case."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("m"),
    )
    g = e.groupBy("event_type", "m").agg(F.count(F.lit(1)).alias("c"))
    mt = g.groupBy("m").agg(F.sum("c").cast("long").alias("cm"))
    wlt = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    mw = mt.select(
        "m",
        "cm",
        (
            F.lit(2) * F.coalesce(F.sum("cm").over(wlt), F.lit(0))
            + F.col("cm")
            + F.lit(1)
        ).alias("d2"),
    )
    s = (
        g.join(mw, "m")
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * d2")).alias("s2"),
            F.sum("c").cast("long").alias("ni"),
        )
    )
    # Spark `div` returns LONG, and the per-group term S_i²·10⁶/n_i can
    # exceed int64 (~2·10²⁰ already at sf0.1) — so floor-divide in DECIMAL:
    # subtract the exact modulus first, then the division is exact (the
    # quotient is an integer well inside DECIMAL(38,6)'s 32 integer digits,
    # so BigDecimal's HALF_UP rounding never engages). DuckDB side uses
    # HUGEINT `//` — identical values on the non-negative operands.
    term = (
        "CAST((CAST(s2 AS DECIMAL(38,0)) * s2 * 1000000"
        " - (CAST(s2 AS DECIMAL(38,0)) * s2 * 1000000) % ni) / ni"
        " AS DECIMAL(38,0))"
    )
    a = s.agg(
        F.sum(F.expr(term)).alias("a_micro"),
        F.sum("ni").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    t = mt.agg(
        F.sum(F.expr("CAST(cm AS DECIMAL(38,0)) * cm * cm - cm"))
        .cast("long")
        .alias("tie3")
    )
    f = a.crossJoin(F.broadcast(t)).select(
        "k",
        "n",
        "tie3",
        F.expr(
            "3 * CAST(a_micro AS DECIMAL(38,0))"
            " - 3 * CAST(n AS DECIMAL(38,0)) * (n + 1) * (n + 1) * 1000000"
        ).alias("h2_num"),
        F.expr("CAST(n AS DECIMAL(38,0)) * n * n - n - tie3").alias("denom"),
    )
    return f.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_total"),
        "tie3",
        F.expr(
            "CAST(CASE WHEN denom = 0 THEN 0"
            " ELSE GREATEST(h2_num, CAST(0 AS DECIMAL(38,0))) * (n - 1) div denom"
            " END AS BIGINT)"
        ).alias("h_corr_micro"),
        F.expr(
            "CAST(CASE WHEN k <= 1 OR denom = 0 THEN 0"
            " WHEN k - 1 > 10 THEN NULL"
            " WHEN h2_num * (n - 1)"
            f" > CAST(({_kw_chi2_case('k - 1')}) AS DECIMAL(38,0)) * denom"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_same_location"),
    )


# ---------------------------------------------------------------------------
# time-series trend & randomness family (daily volume grid)
# ---------------------------------------------------------------------------

# Shared shape for the four tests below: the raw events table collapses to a
# BOUNDED daily-volume grid (one map-side-combined aggregate; |grid| = day
# count — tens to a few thousands rows even at 100 TB), and every pairwise /
# windowed statistic downstream runs on that bounded grid, never on the
# corpus. The reference monitors row counts per poll cycle
# (replicator/main.go:60-96 logs per-batch row counts); these queries are the
# statistical layer a production monitor puts ON TOP of that counter stream:
# "is volume trending, and is the sequence random?".

_DAILY_SQL = """
    g AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1)
"""

# z²₀.₉₇₅ = 1.959964² on the micro grid — same literal as χ²₀.₉₅(1).
Z2_MICRO = 3841459


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "events", sf_dir)
    return e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))


def _day_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All ordered day pairs (i<j) of the bounded daily grid with real
    calendar offsets (gaps count): num = c_j - c_i, den = j - i > 0. O(days²)
    rows by construction — bounded pair enumeration on an aggregate, the same
    audited-BNLJ class as the literal grids."""
    g = _daily_counts(spark, sf_dir)
    m = g.agg(F.min("d").alias("d0"))
    gi = g.crossJoin(F.broadcast(m)).select(
        F.datediff(F.col("d"), F.col("d0")).cast("long").alias("i"), "c"
    )
    a = gi.select(F.col("i").alias("ia"), F.col("c").alias("ca"))
    b = gi.select(F.col("i").alias("ib"), F.col("c").alias("cb"))
    return a.join(F.broadcast(b), F.col("ib") > F.col("ia")).select(
        (F.col("cb") - F.col("ca")).alias("num"),
        (F.col("ib") - F.col("ia")).alias("den"),
    )


_PAIRS_SQL = f"""
    {_DAILY_SQL},
    m AS (SELECT min(d) AS d0 FROM g),
    gi AS (SELECT CAST(date_diff('day', m.d0, g.d) AS BIGINT) AS i, g.c
           FROM g, m),
    p AS (SELECT CAST(b.c - a.c AS BIGINT) AS num,
                 CAST(b.i - a.i AS BIGINT) AS den
          FROM gi a JOIN gi b ON b.i > a.i)
"""


@register(
    "theilsen_daily_trend",
    oracle=f"""
    WITH {_PAIRS_SQL},
    s AS (SELECT num, den,
                 row_number() OVER (
                   ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rn,
                 CAST(count(*) OVER () AS BIGINT) AS np
          FROM p),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM g)
    SELECT nd.n_days, s.np AS n_pairs, s.num AS slope_num,
           s.den AS slope_den,
           CAST(CASE WHEN s.num >= 0 THEN (s.num * 1000) // s.den
                ELSE -(((-s.num) * 1000) // s.den) END AS BIGINT)
             AS slope_milli
    FROM s, nd WHERE s.rn = (s.np + 1) // 2
    """,
)
def theilsen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend slope of daily event volume — the estimator a
    volume monitor wants when a single outage day would wreck an OLS fit
    (up to ~29% contaminated days cannot move the median slope; compare
    `event_volume_trend`, the OLS sibling). The slope is the LOWER MEDIAN of
    all pairwise slopes (c_j-c_i)/(j-i) over real calendar offsets, selected
    by row_number — never percentile interpolation, so no engine-specific
    midpoint formula. Ordering rationals: the sort key is the IEEE double
    num/den (exact small-int operands, correctly-rounded division —
    bit-identical in both engines) with (num, den) as the deterministic
    tie-break; the reported slope_milli uses the truncation-symmetric
    integer form (floor on the negated non-negative operand for num<0), so
    Spark `div` ≡ DuckDB `//` everywhere it runs. Scale shape: corpus → one
    map-side-combined daily aggregate (bounded grid), O(days²) bounded pair
    enumeration (audited BNLJ — build side is the grid itself), one
    bounded-grid window. Nothing corpus-proportional past the first
    aggregate."""
    p = _day_pairs(spark, sf_dir)
    w = Window.orderBy(F.expr("CAST(num AS DOUBLE) / den"), "num", "den")
    s = p.select(
        "num",
        "den",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("np"),
    )
    nd = _daily_counts(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        s.filter(F.col("rn") == F.expr("(np + 1) div 2"))
        .crossJoin(F.broadcast(nd))
        .select(
            "n_days",
            F.col("np").alias("n_pairs"),
            F.col("num").alias("slope_num"),
            F.col("den").alias("slope_den"),
            F.expr(
                "CAST(CASE WHEN num >= 0 THEN (num * 1000) div den"
                " ELSE -(((-num) * 1000) div den) END AS BIGINT)"
            ).alias("slope_milli"),
        )
    )


@register(
    "mann_kendall_trend",
    oracle=f"""
    WITH {_PAIRS_SQL},
    st AS (SELECT COALESCE(CAST(sum(CASE WHEN num > 0 THEN 1
                                         WHEN num < 0 THEN -1
                                         ELSE 0 END) AS BIGINT), 0) AS s
           FROM p),
    tie AS (SELECT COALESCE(CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT), 0)
                     AS tie_adj
            FROM (SELECT CAST(count(*) AS BIGINT) AS t
                  FROM gi GROUP BY c HAVING count(*) > 1)),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gi)
    SELECT nn.n AS n_days, st.s AS s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tie_adj AS BIGINT)
             AS var_s_x18,
           CAST(CASE WHEN st.s > 0 THEN 1 WHEN st.s < 0 THEN -1 ELSE 0 END
                AS BIGINT) AS trend,
           CAST(CASE WHEN abs(st.s) <= 1
                       OR nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tie_adj <= 0
                     THEN 0
                WHEN CAST(abs(st.s) - 1 AS HUGEINT) * (abs(st.s) - 1)
                     * 18000000
                     > CAST({Z2_MICRO} AS HUGEINT)
                       * (nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tie_adj)
                THEN 1 ELSE 0 END AS BIGINT) AS reject_no_trend
    FROM st, tie, nn
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL nonparametric trend test on daily event volume — the
    hypothesis-test companion to `theilsen_daily_trend` (Theil-Sen gives the
    magnitude, Mann-Kendall the significance; production monitors report
    both). S = Σ_(i<j) sign(c_j - c_i) over the same bounded pair
    enumeration; the tie-corrected variance 18·Var(S) = n(n-1)(2n+5) -
    Σ_t t(t-1)(2t+5) stays integer, and the continuity-corrected two-sided
    decision |z| > 1.959964 clears to (|S|-1)²·18·10⁶ > z²_micro·(18·VarS)
    — no sqrt, no transcendental, HUGEINT/DECIMAL(38,0) products (S is
    O(days²) ≈ 4.5·10⁶ at a 3000-day grid; squared ×1.8·10⁷ ≈ 3.6·10²⁰ —
    needs the wide type, well inside 38 digits). Degenerate all-tied grids
    (VarS ≤ 0) and |S| ≤ 1 report an honest no-reject in both engines.
    Scale shape: identical to the Theil-Sen sibling — bounded grid, bounded
    pairs, 1-row scalars broadcast."""
    p = _day_pairs(spark, sf_dir)
    st = p.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("num") > 0, 1)
                .when(F.col("num") < 0, -1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("s")
    )
    g = _daily_counts(spark, sf_dir)
    tie = (
        g.groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.expr("t * (t - 1) * (2 * t + 5)")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_adj")
        )
    )
    nn = g.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        st.crossJoin(F.broadcast(tie))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            F.expr(
                "CAST(n * (n - 1) * (2 * n + 5) - tie_adj AS BIGINT)"
            ).alias("var_s_x18"),
            F.expr(
                "CAST(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("trend"),
            F.expr(
                "CAST(CASE WHEN abs(s) <= 1"
                " OR n * (n - 1) * (2 * n + 5) - tie_adj <= 0 THEN 0"
                " WHEN CAST(abs(s) - 1 AS DECIMAL(38,0)) * (abs(s) - 1)"
                " * 18000000"
                f" > CAST({Z2_MICRO} AS DECIMAL(38,0))"
                " * (n * (n - 1) * (2 * n + 5) - tie_adj)"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("reject_no_trend"),
        )
    )


LJUNG_BOX_LAGS = 5  # fixed lag budget; decision literal is chi2_0.95(5)


@register(
    "volume_ljung_box",
    oracle=f"""
    WITH {_DAILY_SQL},
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
            FROM g),
    dd AS (SELECT row_number() OVER (ORDER BY g.d) AS rn,
                  CAST(tot.n * g.c - tot.s AS BIGINT) AS dv
           FROM g, tot),
    dsum AS (SELECT CAST(sum(CAST(dv AS HUGEINT) * dv) AS HUGEINT) AS dss
             FROM dd),
    lags AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5)) AS t(k)),
    ck AS (SELECT l.k,
                  CAST(sum(CAST(a.dv AS HUGEINT) * b.dv) AS HUGEINT) AS c_k
           FROM dd a JOIN lags l ON true
                     JOIN dd b ON b.rn = a.rn + l.k
           GROUP BY l.k),
    term AS (SELECT ck.k, CAST(ck.c_k AS BIGINT) AS c_k,
                    CAST(CASE WHEN dsum.dss = 0 THEN 0
                         ELSE (ck.c_k * ck.c_k * 1000000)
                              // (dsum.dss * dsum.dss) END AS BIGINT)
                      AS rk2_micro,
                    CAST(CASE WHEN dsum.dss = 0 OR tot.n <= ck.k THEN 0
                         ELSE (CAST(tot.n AS HUGEINT) * (tot.n + 2)
                               * ((ck.c_k * ck.c_k * 1000000)
                                  // (dsum.dss * dsum.dss)))
                              // (tot.n - ck.k) END AS BIGINT) AS term_micro
             FROM ck, dsum, tot),
    qq AS (SELECT CAST(sum(term_micro) AS BIGINT) AS q_micro FROM term)
    SELECT CAST(term.k AS BIGINT) AS lag, term.c_k, term.rk2_micro,
           term.term_micro, qq.q_micro,
           CAST(CASE WHEN qq.q_micro > {KW_CHI2_MICRO[LJUNG_BOX_LAGS]}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_white_noise
    FROM term, qq
    """,
)
def volume_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX portmanteau test for autocorrelation in the daily volume
    series (lags 1..5) — "is the monitor's counter stream white noise, or
    does today predict tomorrow?" (a pipeline whose daily volume
    autocorrelates has batch-size coupling — retries, backlogs — worth a
    page before it becomes lag). Exactness recipe: center by clearing the
    mean (d_t = n·x_t - Σx, integer), autocovariances C_k = Σ d_t·d_(t+k)
    via an equi-join on the bounded grid position (b.rn = a.rn + k — a
    HASH join; the only nested loop is the broadcast 5-row lag grid), then
    r_k² on the micro grid as (C_k²·10⁶) // (Σd²)² — non-negative operands
    only, so Spark `div` ≡ DuckDB `//` (C_k itself may be negative; it is
    reported raw but never floor-divided). Q_micro sums the per-lag terms
    n(n+2)·r_k²_micro // (n-k) and the decision compares against the
    precomputed χ²₀.₉₅(5) micro literal — transcendental-free end to end.
    Per-lag rows carry their contribution (WHICH lag drives the rejection),
    plus the shared total. Width budget: C_k² ≤ (Σd²)² ≈ 10⁴⁵ only past
    ~10⁹ rows/day on a 3000-day grid; inside DECIMAL(38,0) for any
    realistic daily volume — rescale counts to thousands first if a corpus
    ever exceeds it. Scale shape: one map-side-combined daily aggregate,
    then everything on the bounded grid."""
    g = _daily_counts(spark, sf_dir)
    tot = g.agg(
        F.sum("c").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dd = g.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        F.expr("CAST(n * c - s AS BIGINT)").alias("dv"),
        "n",
    )
    dsum = dd.agg(
        F.sum(F.expr("CAST(dv AS DECIMAL(38,0)) * dv")).alias("dss")
    )
    lags = spark.range(1, LJUNG_BOX_LAGS + 1).select(
        F.col("id").cast("int").alias("k")
    )
    a = dd.select(F.col("rn").alias("ra"), F.col("dv").alias("dva"))
    b = dd.select(F.col("rn").alias("rb"), F.col("dv").alias("dvb"))
    ck = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("rb") == F.col("ra") + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum(F.expr("CAST(dva AS DECIMAL(38,0)) * dvb")).alias("c_k")
        )
    )
    term = (
        ck.crossJoin(F.broadcast(dsum))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("lag"),
            F.col("c_k").cast("long").alias("c_k"),
            F.expr(
                "CAST(CASE WHEN dss = 0 THEN 0"
                " ELSE (CAST(c_k AS DECIMAL(38,0)) * c_k * 1000000)"
                " div (CAST(dss AS DECIMAL(38,0)) * dss) END AS BIGINT)"
            ).alias("rk2_micro"),
            F.expr(
                "CAST(CASE WHEN dss = 0 OR n <= k THEN 0"
                " ELSE (CAST(n AS DECIMAL(38,0)) * (n + 2)"
                " * ((CAST(c_k AS DECIMAL(38,0)) * c_k * 1000000)"
                " div (CAST(dss AS DECIMAL(38,0)) * dss)))"
                " div (n - k) END AS BIGINT)"
            ).alias("term_micro"),
        )
    )
    qq = term.agg(F.sum("term_micro").cast("long").alias("q_micro"))
    return term.crossJoin(F.broadcast(qq)).select(
        "lag",
        "c_k",
        "rk2_micro",
        "term_micro",
        "q_micro",
        F.expr(
            f"CAST(CASE WHEN q_micro > {KW_CHI2_MICRO[LJUNG_BOX_LAGS]}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_white_noise"),
    )


@register(
    "volume_runs_test",
    oracle=f"""
    WITH {_DAILY_SQL},
    med AS (SELECT c AS med FROM
              (SELECT c, row_number() OVER (ORDER BY c, d) AS rn,
                      CAST(count(*) OVER () AS BIGINT) AS n
               FROM g)
            WHERE rn = (n + 1) // 2),
    b AS (SELECT g.d, CASE WHEN g.c > med.med THEN 1 ELSE 0 END AS ab
          FROM g, med),
    lagged AS (SELECT ab, lag(ab) OVER (ORDER BY d) AS prev FROM b),
    r AS (SELECT CAST(sum(CASE WHEN prev IS NULL OR ab <> prev
                               THEN 1 ELSE 0 END) AS BIGINT) AS runs,
                 CAST(sum(ab) AS BIGINT) AS n1,
                 CAST(count(*) AS BIGINT) AS n
          FROM lagged)
    SELECT r.n AS n_days, med.med AS median_c, r.n1 AS n_above,
           r.n - r.n1 AS n_below, r.runs,
           CAST(CASE WHEN r.n1 = 0 OR r.n = r.n1
                       OR 2 * r.n1 * (r.n - r.n1) <= r.n THEN 0
                WHEN CAST(r.runs * r.n - r.n - 2 * r.n1 * (r.n - r.n1)
                          AS HUGEINT)
                     * (r.runs * r.n - r.n - 2 * r.n1 * (r.n - r.n1))
                     * (r.n - 1) * 1000000
                     > CAST({Z2_MICRO} AS HUGEINT) * 2 * r.n1 * (r.n - r.n1)
                       * (2 * r.n1 * (r.n - r.n1) - r.n)
                THEN 1 ELSE 0 END AS BIGINT) AS reject_random
    FROM r, med
    """,
)
def volume_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ runs test for randomness of the daily volume sequence
    — the third leg of the monitor's stationarity kit (Ljung-Box hears
    linear autocorrelation, Mann-Kendall hears monotone trend; the runs
    test hears ANY above/below-median clumping, including regime flips
    neither sibling scores). Binarization is against the LOWER MEDIAN
    (row_number-selected with (c, d) tie-break — no interpolation), days
    AT the median count as 'below' (documented convention, identical in
    both engines). R = number of maximal same-side runs via one lag()
    window on the bounded grid; the normal-approximation decision
    (R - E[R])²/Var > z²₀.₉₇₅ clears to (Rn - n - 2n₁n₂)²·(n-1)·10⁶ >
    z²_micro·2n₁n₂(2n₁n₂ - n) — all-integer HUGEINT/DECIMAL(38,0)
    products, no sqrt. Degenerate one-sided grids (n₁ = 0 or n₂ = 0) and
    tiny-variance cases (2n₁n₂ ≤ n) report an honest no-reject. Scale
    shape: one daily aggregate, two bounded-grid windows, 1-row scalars
    broadcast."""
    g = _daily_counts(spark, sf_dir)
    wm = Window.orderBy("c", "d")
    med = (
        g.select(
            "c",
            F.row_number().over(wm).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("c").alias("med"))
    )
    b = g.crossJoin(F.broadcast(med)).select(
        "d",
        F.when(F.col("c") > F.col("med"), 1).otherwise(0).alias("ab"),
        "med",
    )
    lagged = b.select(
        "ab",
        F.lag("ab").over(Window.orderBy("d")).alias("prev"),
        "med",
    )
    r = lagged.agg(
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("ab") != F.col("prev")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("runs"),
        F.sum("ab").cast("long").alias("n1"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("med").alias("med"),
    )
    return r.select(
        F.col("n").alias("n_days"),
        F.col("med").alias("median_c"),
        F.col("n1").alias("n_above"),
        F.expr("n - n1").cast("long").alias("n_below"),
        "runs",
        F.expr(
            "CAST(CASE WHEN n1 = 0 OR n = n1"
            " OR 2 * n1 * (n - n1) <= n THEN 0"
            " WHEN CAST(runs * n - n - 2 * n1 * (n - n1) AS DECIMAL(38,0))"
            " * (runs * n - n - 2 * n1 * (n - n1))"
            " * (n - 1) * 1000000"
            f" > CAST({Z2_MICRO} AS DECIMAL(38,0)) * 2 * n1 * (n - n1)"
            " * (2 * n1 * (n - n1) - n)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_random"),
    )


@register(
    "priority_status_cramers_v",
    oracle="""
    WITH o AS (SELECT o_orderpriority AS pri, o_orderstatus AS st
               FROM orders),
    cell AS (SELECT pri, st, CAST(count(*) AS BIGINT) AS obs
             FROM o GROUP BY pri, st),
    r AS (SELECT pri, CAST(sum(obs) AS BIGINT) AS rn FROM cell GROUP BY pri),
    c AS (SELECT st, CAST(sum(obs) AS BIGINT) AS cn FROM cell GROUP BY st),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cell),
    cells AS (
      SELECT r.pri, c.st, r.rn, c.cn, COALESCE(cell.obs, 0) AS obs
      FROM r CROSS JOIN c
      LEFT JOIN cell ON cell.pri = r.pri AND cell.st = c.st
    ),
    x AS (
      SELECT CAST((CAST(cells.obs AS HUGEINT) * n.n
                   - CAST(cells.rn AS HUGEINT) * cells.cn)
                  * (CAST(cells.obs AS HUGEINT) * n.n
                     - CAST(cells.rn AS HUGEINT) * cells.cn)
                  * 1000000
                  // (CAST(n.n AS HUGEINT) * cells.rn * cells.cn) AS BIGINT)
               AS chi2_cell_micro
      FROM cells CROSS JOIN n
    ),
    t AS (SELECT CAST(sum(chi2_cell_micro) AS BIGINT) AS chi2_total_micro
          FROM x),
    dim AS (SELECT CAST(count(DISTINCT pri) AS BIGINT) AS nr,
                   CAST(count(DISTINCT st) AS BIGINT) AS nc
            FROM cell)
    SELECT n.n AS n_total, dim.nr AS n_rows, dim.nc AS n_cols,
           t.chi2_total_micro,
           CAST((dim.nr - 1) * (dim.nc - 1) AS BIGINT) AS dof,
           CAST(least(dim.nr - 1, dim.nc - 1) AS BIGINT) AS min_dim,
           CAST(CASE WHEN least(dim.nr - 1, dim.nc - 1) = 0 THEN 0
                ELSE t.chi2_total_micro
                     // (n.n * least(dim.nr - 1, dim.nc - 1))
                END AS BIGINT) AS cramers_v2_micro
    FROM t, n, dim
    """,
)
def priority_status_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMER'S V effect size for the priority × status contingency — the
    missing half of `order_priority_chi2`: at 100 TB N, chi-square rejects
    on associations far too small to matter (significance scales with N,
    effect size does not), so a drift monitor alerts on V, not on the
    p-value. Reported as V² on the micro grid (V² = chi²/(N·min(r-1,c-1)))
    to stay sqrt-free; the per-cell chi² math is the identical cleared-
    denominator rational as the sibling query (obs·N - R·C)²/(N·R·C), all
    HUGEINT/DECIMAL(38,0), non-negative floor-divisions only. r12 FIX
    (same find as ``order_priority_chi2``): the per-cell denominator
    carried an extra ·N (so the V² here was chi²/(N²·min) — N× too
    small, perfect association measuring 0.0094 instead of 1.0 on the
    planted aliased control) and empty cells dropped out of the sum;
    grid completed, single ·N, planted aliased/balanced two-arm control
    in tests/test_round12.py now pins V² ≈ 1 / = 0. Degenerate
    1×k tables (min_dim = 0) report V² = 0. Scale shape: one map-side-
    combined |cells|-bounded aggregate, margins and total on the bounded
    cell table, 1-row output."""
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    )
    cell = o.groupBy("pri", "st").agg(F.count(F.lit(1)).cast("long").alias("obs"))
    r = cell.groupBy("pri").agg(F.sum("obs").cast("long").alias("rn"))
    c = cell.groupBy("st").agg(F.sum("obs").cast("long").alias("cn"))
    n = cell.agg(F.sum("obs").cast("long").alias("n"))
    # COMPLETE r x c grid (r12 fix): empty cells carry chi2 mass R*C/N
    cells = (
        r.crossJoin(F.broadcast(c))
        .join(cell, ["pri", "st"], "left")
        .select(
            "rn", "cn",
            F.coalesce("obs", F.lit(0)).cast("long").alias("obs"),
        )
    )
    x = (
        cells.crossJoin(F.broadcast(n))
        .select(
            F.expr(
                "CAST((CAST(obs AS DECIMAL(38,0)) * n"
                " - CAST(rn AS DECIMAL(38,0)) * cn)"
                " * (CAST(obs AS DECIMAL(38,0)) * n"
                " - CAST(rn AS DECIMAL(38,0)) * cn)"
                " * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * rn * cn) AS BIGINT)"
            ).alias("chi2_cell_micro")
        )
    )
    t = x.agg(F.sum("chi2_cell_micro").cast("long").alias("chi2_total_micro"))
    dim = cell.agg(
        F.countDistinct("pri").cast("long").alias("nr"),
        F.countDistinct("st").cast("long").alias("nc"),
    )
    return (
        t.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(dim))
        .select(
            F.col("n").alias("n_total"),
            F.col("nr").alias("n_rows"),
            F.col("nc").alias("n_cols"),
            "chi2_total_micro",
            F.expr("CAST((nr - 1) * (nc - 1) AS BIGINT)").alias("dof"),
            F.expr("CAST(least(nr - 1, nc - 1) AS BIGINT)").alias("min_dim"),
            F.expr(
                "CAST(CASE WHEN least(nr - 1, nc - 1) = 0 THEN 0"
                " ELSE chi2_total_micro div (n * least(nr - 1, nc - 1))"
                " END AS BIGINT)"
            ).alias("cramers_v2_micro"),
        )
    )


# ---------------------------------------------------------------------------
# schema-constraint discovery: functional dependencies + candidate keys
# ---------------------------------------------------------------------------

# The fixed candidate set below is the AUDIT surface (declared expectations,
# checked exactly) — production FD *mining* over all column pairs is a
# different algorithm (TANE-style lattice search); this is the Deequ-style
# "verify the constraints we rely on" pass that runs on every drop.
_FD_CANDIDATES = [
    ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
    ("o_custkey->o_orderstatus", "o_custkey", "o_orderstatus"),
    ("o_orderpriority->o_orderstatus", "o_orderpriority", "o_orderstatus"),
    ("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
]


def _fd_oracle() -> str:
    arms = []
    for label, det, dep in _FD_CANDIDATES:
        arms.append(f"""
    SELECT '{label}' AS fd,
           CAST(count(*) AS BIGINT) AS n_determinants,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(max(nd) AS BIGINT) AS max_dependents,
           CAST((sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS violation_micro,
           CAST(CASE WHEN sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                THEN 1 ELSE 0 END AS BIGINT) AS holds
    FROM (SELECT {det} AS det, CAST(count(DISTINCT {dep}) AS BIGINT) AS nd
          FROM orders GROUP BY {det})""")
    return " UNION ALL ".join(arms)


@register("orders_fd_audit", oracle=_fd_oracle())
def orders_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY audit over a declared candidate list — the
    constraint-verification pass (Deequ's `hasUniqueness`/FD checks) a
    CDC consumer runs after every apply cycle: "does the PK still
    determine every column, and which soft dependencies drifted?". The
    reference trusts Postgres to enforce its PK (writer/main.go relies on
    ON CONFLICT (id)); once data leaves Postgres that guarantee must be
    re-established by audit. Per FD det→dep: count determinant values,
    count violators (determinants mapping to >1 distinct dependent), the
    worst fan-out, and the violation ratio on the micro grid (non-negative
    floor-div only). Scale shape: each FD is ONE map-side-combined
    (det, count distinct dep) aggregate — a partial-agg shuffle keyed on
    the determinant — then a 1-row rollup; the four arms union bounded
    1-row results. FD mining over the full column lattice would be
    TANE-style (different query); this is the per-drop verification."""
    o = load_table(spark, "orders", sf_dir)
    arms = []
    for label, det, dep in _FD_CANDIDATES:
        per_det = o.groupBy(F.col(det).alias("det")).agg(
            F.countDistinct(dep).cast("long").alias("nd")
        )
        arms.append(
            per_det.agg(
                F.count(F.lit(1)).cast("long").alias("n_determinants"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
                F.max("nd").cast("long").alias("max_dependents"),
            ).select(
                F.lit(label).alias("fd"),
                "n_determinants",
                "n_violating",
                "max_dependents",
                F.expr(
                    "CAST((n_violating * 1000000) div n_determinants"
                    " AS BIGINT)"
                ).alias("violation_micro"),
                F.expr(
                    "CAST(CASE WHEN n_violating = 0 THEN 1 ELSE 0 END"
                    " AS BIGINT)"
                ).alias("holds"),
            )
        )
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionByName(arm)
    return out


_KEY_CANDIDATES = [
    ("o_orderkey", ["o_orderkey"]),
    ("o_custkey", ["o_custkey"]),
    ("o_custkey+o_orderdate", ["o_custkey", "o_orderdate"]),
    (
        "o_custkey+o_orderdate+o_totalprice",
        ["o_custkey", "o_orderdate", "o_totalprice"],
    ),
]


def _key_oracle() -> str:
    arms = []
    for label, cols in _KEY_CANDIDATES:
        collist = ", ".join(cols)
        arms.append(f"""
    SELECT '{label}' AS candidate,
           (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           (SELECT CAST(count(*) AS BIGINT) FROM orders)
             - CAST(count(*) AS BIGINT) AS n_dup_rows,
           CAST(CASE WHEN (SELECT count(*) FROM orders) = count(*)
                THEN 1 ELSE 0 END AS BIGINT) AS is_key
    FROM (SELECT DISTINCT {collist} FROM orders)""")
    return " UNION ALL ".join(arms)


@register("orders_key_candidates", oracle=_key_oracle())
def orders_key_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANDIDATE-KEY audit over single AND composite column sets — the
    uniqueness side of the constraint kit (`orders_fd_audit` checks
    determination, this checks identification; `orders_column_profile`
    reports per-single-column distincts but cannot see composite keys).
    The upsert operators (`cdc_apply_full`, `upsert_merge`) are only
    correct if their merge key actually identifies rows — this is the
    audit that catches a dropped-uniqueness regression before an upsert
    silently folds two business rows into one. Per candidate: exact
    distinct count vs row count, surplus rows, is_key verdict. Scale
    shape: each candidate is one DISTINCT (map-side partial) + 1-row
    count; the row-count scalar is computed once and broadcast-joined
    into each bounded arm. Exact by construction — no approx_count
    shortcut, because a key audit that can false-positive is worthless;
    production would pre-screen with HLL (`vocab_hll_audit` pattern) and
    exact-verify only the survivors."""
    o = load_table(spark, "orders", sf_dir)
    n_rows = o.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    arms = []
    for label, cols in _KEY_CANDIDATES:
        nd = (
            o.select(*cols)
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
        )
        arms.append(
            nd.crossJoin(F.broadcast(n_rows)).select(
                F.lit(label).alias("candidate"),
                "n_rows",
                "n_distinct",
                F.expr("CAST(n_rows - n_distinct AS BIGINT)").alias(
                    "n_dup_rows"
                ),
                F.expr(
                    "CAST(CASE WHEN n_rows = n_distinct THEN 1 ELSE 0 END"
                    " AS BIGINT)"
                ).alias("is_key"),
            )
        )
    out = arms[0]
    for arm in arms[1:]:
        out = out.unionByName(arm)
    return out


@register(
    "event_dow_seasonality",
    oracle=f"""
    WITH {_DAILY_SQL},
    dw AS (SELECT CAST(isodow(d) AS BIGINT) AS dow, c FROM g),
    per AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(c) AS BIGINT) AS n_events
            FROM dw GROUP BY dow),
    tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS total_days,
                   CAST(sum(n_events) AS BIGINT) AS total_events
            FROM per)
    SELECT per.dow, per.n_days, per.n_events,
           CAST((CAST(per.n_events AS HUGEINT) * tot.total_days * 1000000)
                // (CAST(per.n_days AS HUGEINT) * tot.total_events)
                AS BIGINT) AS index_micro
    FROM per, tot
    """,
)
def event_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-OF-WEEK seasonality index of event volume — mean volume on each
    ISO weekday relative to the overall daily mean, ×10⁶: the
    deseasonalization table every volume-anomaly monitor needs BEFORE it
    can alert (a Saturday dip is seasonality, not an incident — CUSUM and
    EWMA thresholds apply to the deseasonalized series). ISO weekday
    parity: Spark ``weekday()`` is 0=Monday, DuckDB ``isodow()`` is
    1=Monday — the Spark side adds 1 so both emit 1..7. The index is the
    cleared-denominator integer (events_d·total_days·10⁶) //
    (days_d·total_events) — non-negative operands, HUGEINT/DECIMAL(38,0).
    Scale shape: one map-side-combined daily aggregate, a 7-row rollup,
    one 1-row total broadcast."""
    g = _daily_counts(spark, sf_dir)
    dw = g.select(
        (F.expr("weekday(d)") + 1).cast("long").alias("dow"), "c"
    )
    per = dw.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("n_events"),
    )
    tot = per.agg(
        F.sum("n_days").cast("long").alias("total_days"),
        F.sum("n_events").cast("long").alias("total_events"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_days",
        "n_events",
        F.expr(
            "CAST((CAST(n_events AS DECIMAL(38,0)) * total_days * 1000000)"
            " div (CAST(n_days AS DECIMAL(38,0)) * total_events) AS BIGINT)"
        ).alias("index_micro"),
    )


EWMA_WINDOW = 10  # trailing days; weights 2^(W-1-j), denominator 2^W - 1


def _ewma_terms_sql(col: str, lag_fn: str) -> str:
    """Σ_j 2^(W-1-j)·lag(c, j) with missing leading history contributing 0
    — identical text for Spark and DuckDB (both spell lag() the same)."""
    terms = " + ".join(
        f"({1 << (EWMA_WINDOW - 1 - j)} * COALESCE({lag_fn}({col}, {j}) OVER w, 0))"
        for j in range(EWMA_WINDOW)
    )
    return terms


@register(
    "event_ewma_anomaly",
    oracle=f"""
    WITH {_DAILY_SQL},
    idx AS (SELECT d, c, row_number() OVER (ORDER BY d) - 1 AS t FROM g),
    ew AS (
      SELECT d, c, t,
             CAST({_ewma_terms_sql("c", "lag")} AS BIGINT) AS num,
             CAST(CASE WHEN t >= {EWMA_WINDOW - 1}
                  THEN {(1 << EWMA_WINDOW) - 1}
                  ELSE {1 << EWMA_WINDOW} - (1 << ({EWMA_WINDOW - 1} - t))
                  END AS BIGINT) AS den
      FROM idx
      WINDOW w AS (ORDER BY t)
    )
    SELECT d AS day, c AS n_events,
           CAST((num * 1000) // den AS BIGINT) AS ewma_milli,
           CAST(CASE WHEN c * den > 2 * num THEN 1 ELSE 0 END AS BIGINT)
             AS spike,
           CAST(CASE WHEN 2 * c * den < num THEN 1 ELSE 0 END AS BIGINT)
             AS dip
    FROM ew
    """,
)
def event_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA volume-anomaly flags over the daily grid — the trailing
    exponentially-weighted mean every on-call dashboard draws, made EXACT:
    α = 1/2 gives weights 2^(W-1-j) (integers), so the EWMA is the rational
    num/den with num = Σ 2^(W-1-j)·c_(t-j) over a fixed {EWMA_WINDOW}-day
    window ({EWMA_WINDOW} explicit lag() terms — fixed-size expressions,
    never a 2^t positional power that overflows on a long grid) and den =
    2^W - 1, shrinking to 2^W - 2^(W-1-t) while the leading history is
    shorter than the window (the sum of the weights ACTUALLY present,
    2^(W-1)..2^(W-1-t) — normalizing by 2^(t+1)-1 instead would inflate
    early-day EWMAs by 2^(W-1-t) and flag every first day a 'dip'; a
    constant series must report ewma ≡ c from day one, which the
    regression test pins). Spike/dip flags are the cleared integer compares
    c·den > 2·num and 2·c·den < num (today more than doubles / less than
    halves its trailing EWMA *including today* — a deliberately self-damped
    convention, documented; both engines run the identical inequality).
    The complementary CUSUM query (`event_volume_cusum`) catches small
    persistent shifts; EWMA catches single-day spikes. Position is
    row_number over the bounded grid — an OBSERVED-day series; gap-fill
    first (`event_hourly_gapfill` pattern) if calendar-true lags are
    needed. Scale shape: one map-side-combined daily aggregate, one
    bounded-grid window with {EWMA_WINDOW} lag projections, zero joins."""
    g = _daily_counts(spark, sf_dir)
    w = Window.orderBy("t")
    idx = g.select(
        "d", "c", (F.row_number().over(Window.orderBy("d")) - 1).alias("t")
    )
    num = sum(
        (
            F.lit(1 << (EWMA_WINDOW - 1 - j))
            * F.coalesce(F.lag("c", j).over(w), F.lit(0))
        )
        for j in range(EWMA_WINDOW)
    )
    ew = idx.select(
        "d",
        "c",
        "t",
        num.cast("long").alias("num"),
        F.expr(
            f"CAST(CASE WHEN t >= {EWMA_WINDOW - 1}"
            f" THEN {(1 << EWMA_WINDOW) - 1}"
            f" ELSE {1 << EWMA_WINDOW}"
            f" - shiftleft(1, {EWMA_WINDOW - 1} - t) END AS BIGINT)"
        ).alias("den"),
    )
    return ew.select(
        F.col("d").alias("day"),
        F.col("c").alias("n_events"),
        F.expr("CAST((num * 1000) div den AS BIGINT)").alias("ewma_milli"),
        F.expr(
            "CAST(CASE WHEN c * den > 2 * num THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("spike"),
        F.expr(
            "CAST(CASE WHEN 2 * c * den < num THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("dip"),
    )


# ---------------------------------------------------------------------------
# seasonal decomposition + cohort LTV + funnel latency quantiles
# ---------------------------------------------------------------------------

# truncation-symmetric integer division — identical decisions in Spark
# (`div` truncates) and DuckDB (`//` floors) by never floor-dividing a
# negative operand. OP is "div" on the Spark side, "//" in oracles.
def _tdiv(x: str, d: str, op: str) -> str:
    return (
        f"CASE WHEN ({x}) >= 0 THEN ({x}) {op} ({d})"
        f" ELSE -((-({x})) {op} ({d})) END"
    )


@register(
    "orders_seasonal_decompose",
    oracle=f"""
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    idx AS (SELECT mon, c, row_number() OVER (ORDER BY mon) AS i,
                   CAST(month(mon) AS BIGINT) AS moy
            FROM m),
    tr AS (
      SELECT a.i, a.mon, a.moy, a.c,
             CAST(sum(CASE WHEN b.i IN (a.i - 6, a.i + 6) THEN b.c
                           ELSE 2 * b.c END) AS BIGINT) AS trend_x24,
             CAST(count(*) AS BIGINT) AS n_terms
      FROM idx a JOIN idx b ON b.i BETWEEN a.i - 6 AND a.i + 6
      GROUP BY a.i, a.mon, a.moy, a.c
      HAVING count(*) = 13
    ),
    de AS (SELECT i, mon, moy, c, trend_x24,
                  24 * c - trend_x24 AS d_x24 FROM tr),
    se AS (
      SELECT moy,
             CAST({_tdiv("1000 * sum(d_x24)", "24 * count(*)", "//")}
                  AS BIGINT) AS seasonal_milli
      FROM de GROUP BY moy
    )
    SELECT de.mon AS month, de.c AS n_orders,
           CAST({_tdiv("1000 * de.trend_x24", "24", "//")} AS BIGINT)
             AS trend_milli,
           se.seasonal_milli,
           CAST({_tdiv("1000 * de.d_x24", "24", "//")}
                - se.seasonal_milli AS BIGINT) AS residual_milli
    FROM de JOIN se ON se.moy = de.moy
    """,
)
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL ADDITIVE DECOMPOSITION of the monthly order-volume series
    — volume = trend + seasonal + residual, the first chart a capacity
    planner draws (the weekday sibling `event_dow_seasonality` works at
    day grain; this is the month-of-year decomposition with a proper
    centered moving-average trend). Trend is the standard centered
    12-month MA (half-weights on the ±6 endpoints so the window spans
    exactly one seasonal period) kept EXACT on the ×24 integer grid:
    trend_x24 = c(i-6) + 2·Σc(i-5..i+5) + c(i+6); months without 13 full
    neighbours are excluded (the classical edge convention). Seasonal
    index per month-of-year averages the detrended ×24 values across
    years; detrended values CAN be negative, so every division uses the
    truncation-symmetric form (negate to non-negative before the floor —
    Spark ``div`` ≡ DuckDB ``//``). Residual = detrended − seasonal on
    the milli grid, so trend_milli + seasonal_milli + residual_milli
    reconstructs 1000·c up to the documented ±1-milli quantization per
    term. Scale shape: ONE map-side-combined monthly aggregate; the ±6
    neighbour join is a BETWEEN range join on the bounded month grid
    (audited-BNLJ class, build side = the grid); everything else is
    month-of-year-bounded."""
    o = load_table(spark, "orders", sf_dir)
    m = o.groupBy(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("mon")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    idx = m.select(
        "mon",
        "c",
        F.row_number().over(Window.orderBy("mon")).alias("i"),
        F.month("mon").cast("long").alias("moy"),
    )
    a = idx.select(
        F.col("i").alias("ai"),
        F.col("mon").alias("amon"),
        F.col("moy").alias("amoy"),
        F.col("c").alias("ac"),
    )
    b = idx.select(F.col("i").alias("bi"), F.col("c").alias("bc"))
    tr = (
        a.join(
            F.broadcast(b),
            (F.col("bi") >= F.col("ai") - 6) & (F.col("bi") <= F.col("ai") + 6),
        )
        .groupBy("ai", "amon", "amoy", "ac")
        .agg(
            F.sum(
                F.when(
                    (F.col("bi") == F.col("ai") - 6)
                    | (F.col("bi") == F.col("ai") + 6),
                    F.col("bc"),
                ).otherwise(2 * F.col("bc"))
            )
            .cast("long")
            .alias("trend_x24"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .filter(F.col("n_terms") == 13)
    )
    de = tr.select(
        F.col("amon").alias("mon"),
        F.col("amoy").alias("moy"),
        F.col("ac").alias("c"),
        "trend_x24",
        (24 * F.col("ac") - F.col("trend_x24")).alias("d_x24"),
    )
    se = de.groupBy("moy").agg(
        F.expr(
            "CAST("
            + _tdiv("1000 * sum(d_x24)", "24 * count(*)", "div")
            + " AS BIGINT)"
        ).alias("seasonal_milli")
    )
    return de.join(F.broadcast(se), "moy").select(
        F.col("mon").alias("month"),
        F.col("c").alias("n_orders"),
        F.expr(
            "CAST(" + _tdiv("1000 * trend_x24", "24", "div") + " AS BIGINT)"
        ).alias("trend_milli"),
        "seasonal_milli",
        F.expr(
            "CAST(("
            + _tdiv("1000 * d_x24", "24", "div")
            + ") - seasonal_milli AS BIGINT)"
        ).alias("residual_milli"),
    )


@register(
    "cohort_revenue_ltv",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             min(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers
           FROM fo GROUP BY cohort),
    r AS (
      SELECT fo.cohort,
             CAST((year(o.o_orderdate) - year(fo.cohort)) * 12
                  + (month(o.o_orderdate) - month(fo.cohort)) AS BIGINT)
               AS age_months,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS revenue_cents
      FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT cohort, age_months, revenue_cents,
             CAST(sum(revenue_cents) OVER (
               PARTITION BY cohort ORDER BY age_months) AS BIGINT)
               AS cum_revenue_cents
      FROM r
    )
    SELECT cum.cohort, cum.age_months, cs.n_customers, cum.revenue_cents,
           cum.cum_revenue_cents,
           CAST((cum.cum_revenue_cents * 1000) // cs.n_customers AS BIGINT)
             AS ltv_cents_milli
    FROM cum JOIN cs ON cs.cohort = cum.cohort
    """,
)
def cohort_revenue_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LIFETIME-VALUE curves — cumulative revenue per customer by
    acquisition cohort (first-order month) and account age in months: the
    revenue-side completion of `retention_cohorts` (which counts RETURNING
    users; LTV weights them by what they spend — the pair is the standard
    growth dashboard). Month age is exact integer calendar arithmetic
    ((Δyear)·12 + Δmonth — never months_between(), whose fractional-day
    semantics differ between engines), revenue on the cents grid, LTV per
    customer on the milli-cents grid (non-negative floor-div). Scale
    shape: first-order month is one custkey-keyed min-aggregate; the fact
    join is custkey-keyed (broadcast or shuffle by AQE stats); the
    cumulative window partitions BY COHORT over ≤ months rows each —
    bounded partitions, never a global sort. Output is (cohorts × ages)
    bounded."""
    o = load_table(spark, "orders", sf_dir)
    fo = o.groupBy("o_custkey").agg(
        F.min(
            F.to_date(F.date_trunc("month", F.col("o_orderdate")))
        ).alias("cohort")
    )
    cs = fo.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    r = (
        o.join(fo, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year("o_orderdate") - F.year("cohort")) * 12
                + (F.month("o_orderdate") - F.month("cohort"))
            )
            .cast("long")
            .alias("age_months"),
        )
        .agg(
            F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("revenue_cents")
        )
    )
    w = Window.partitionBy("cohort").orderBy("age_months")
    cum = r.select(
        "cohort",
        "age_months",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
    )
    return cum.join(F.broadcast(cs), "cohort").select(
        "cohort",
        "age_months",
        "n_customers",
        "revenue_cents",
        "cum_revenue_cents",
        F.expr(
            "CAST((cum_revenue_cents * 1000) div n_customers AS BIGINT)"
        ).alias("ltv_cents_milli"),
    )


FUNNEL_QS = (250, 500, 750, 900)  # per-mille ranks for the latency curve


@register(
    "funnel_latency_quantiles",
    oracle=f"""
    WITH su AS (
      SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN su ON e.user_id = su.user_id
                    AND epoch_us(e.ts) > su.t1
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    lat AS (
      SELECT (pu.t2 - su.t1) // 1000000 AS sec
      FROM pu JOIN su ON su.user_id = pu.user_id
    ),
    h AS (SELECT sec, CAST(count(*) AS BIGINT) AS c FROM lat GROUP BY sec),
    cumh AS (
      SELECT sec, c, sum(c) OVER (ORDER BY sec) AS cum,
             (SELECT CAST(sum(c) AS BIGINT) FROM h) AS n
      FROM h
    ),
    qs AS (SELECT unnest([{", ".join(str(q) for q in FUNNEL_QS)}]) AS q)
    SELECT CAST(qs.q AS BIGINT) AS quantile_permille,
           CAST(max(cumh.n) AS BIGINT) AS n_converted,
           CAST(min(cumh.sec) AS BIGINT) AS latency_sec
    FROM qs JOIN cumh
      ON cumh.cum * 1000 >= qs.q * cumh.n
    GROUP BY qs.q
    """,
)
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT quantiles for the signup→purchase funnel — the
    latency curve (p25/p50/p75/p90) behind "how long does conversion
    take", the companion to `funnel_conversion`'s how-many counts.
    Quantiles are ORDER STATISTICS selected from the latency-second
    histogram: rank k is the smallest second whose cumulative count
    reaches ⌈q·n/1000⌉ (the cum·1000 ≥ q·n integer compare — no
    interpolation, no percentile_cont divergence between engines; the
    same histogram-order-statistic pattern as `length_mad_gate`).
    Latencies land on the second grid via integer epoch-micro division
    (non-negative by the t2 > t1 join predicate). Scale shape: two
    user-keyed min-aggregates and one user-keyed join (all map-side
    combinable), then a histogram bounded by DISTINCT latency seconds —
    value-domain-bounded, not corpus-bounded; the cumulative window and
    the 4-rank probe join run on histogram rows only."""
    ev = load_table(spark, "events", sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    su = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", us.alias("us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("us"))
        .join(su, "user_id")
        .filter(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    lat = pu.join(su, "user_id").select(
        F.expr("(t2 - t1) div 1000000").alias("sec")
    )
    h = lat.groupBy("sec").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = h.agg(F.sum("c").cast("long").alias("n"))
    cumh = h.crossJoin(F.broadcast(n)).select(
        "sec",
        "c",
        F.sum("c").over(Window.orderBy("sec")).cast("long").alias("cum"),
        "n",
    )
    qs = spark.createDataFrame(
        [(q,) for q in FUNNEL_QS], "q long"
    )
    return (
        F.broadcast(qs)
        .join(cumh, F.col("cum") * 1000 >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(
            F.max("n").cast("long").alias("n_converted"),
            F.min("sec").cast("long").alias("latency_sec"),
        )
        .select(
            F.col("q").alias("quantile_permille"),
            "n_converted",
            "latency_sec",
        )
    )


@register(
    "customer_order_rank_suite",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    w AS (
      SELECT o_custkey, o_orderkey, cents,
             CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n,
             CAST(rank() OVER (PARTITION BY o_custkey
                               ORDER BY cents, o_orderkey) AS BIGINT) AS rnk,
             CAST(count(*) OVER (PARTITION BY o_custkey
                                 ORDER BY cents, o_orderkey) AS BIGINT)
               AS cume_n,
             CAST(ntile(4) OVER (PARTITION BY o_custkey
                                 ORDER BY cents, o_orderkey) AS BIGINT)
               AS quartile
      FROM o
    )
    SELECT o_custkey, o_orderkey, cents, n, rnk, quartile,
           CAST(CASE WHEN n = 1 THEN 0
                ELSE ((rnk - 1) * 1000000) // (n - 1) END AS BIGINT)
             AS percent_rank_micro,
           CAST((cume_n * 1000000) // n AS BIGINT) AS cume_dist_micro
    FROM w
    WHERE o_custkey % 100 = 0
    """,
)
def customer_order_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKING-FUNCTION SUITE per customer — rank, percent_rank, cume_dist,
    ntile(4) over each customer's order values in one window pass: the
    SQL-surface breadth a migrating analyst expects (every function here
    is one keyed window over the same partition — Catalyst fuses them into
    a SINGLE Window operator with one shuffle on o_custkey). percent_rank
    and cume_dist are recomputed from rank/count on the EXACT micro grid
    rather than taken from the engines' native double-valued functions
    ((rank-1)/(n-1) and cume/n floor identically; the native doubles are
    correctly-rounded too, but the integer form makes the parity contract
    self-evident) — and the ORDER BY carries the o_orderkey tie-break so
    ntile boundaries are total-order deterministic. The % 100 probe filter
    bounds output rows (full output would be the orders table itself);
    the WINDOW still computes over every order of the sampled customers.
    Scale shape: one hash shuffle on o_custkey, per-partition sorts of
    per-customer groups (bounded by orders-per-customer), zero joins."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        "o_orderkey",
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    wp = Window.partitionBy("o_custkey")
    wo = wp.orderBy("cents", "o_orderkey")
    w = o.select(
        "o_custkey",
        "o_orderkey",
        "cents",
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
        F.rank().over(wo).cast("long").alias("rnk"),
        F.count(F.lit(1))
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cume_n"),
        F.ntile(4).over(wo).cast("long").alias("quartile"),
    )
    return w.filter(F.col("o_custkey") % 100 == 0).select(
        "o_custkey",
        "o_orderkey",
        "cents",
        "n",
        "rnk",
        "quartile",
        F.expr(
            "CAST(CASE WHEN n = 1 THEN 0"
            " ELSE ((rnk - 1) * 1000000) div (n - 1) END AS BIGINT)"
        ).alias("percent_rank_micro"),
        F.expr("CAST((cume_n * 1000000) div n AS BIGINT)").alias(
            "cume_dist_micro"
        ),
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
    ),
    tr AS (
      SELECT event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS nxt
      FROM e
    ),
    c AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
          FROM tr WHERE nxt IS NOT NULL GROUP BY cur, nxt),
    rowt AS (SELECT cur, CAST(sum(n) AS BIGINT) AS rn FROM c GROUP BY cur)
    SELECT c.cur, c.nxt, c.n, rowt.rn AS row_total,
           CAST((c.n * 1000000) // rowt.rn AS BIGINT) AS p_micro,
           CAST(CASE WHEN c.n = (SELECT max(c2.n) FROM c c2
                                 WHERE c2.cur = c.cur)
                 AND c.nxt = (SELECT min(c3.nxt) FROM c c3
                              WHERE c3.cur = c.cur
                                AND c3.n = (SELECT max(c4.n) FROM c c4
                                            WHERE c4.cur = c.cur))
                THEN 1 ELSE 0 END AS BIGINT) AS is_top_transition
    FROM c JOIN rowt ON rowt.cur = c.cur
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order MARKOV TRANSITION MATRIX of user event sequences —
    P(next = j | current = i) on the micro grid, with each row's most
    likely successor flagged (count-max, event-type tie-break — total
    order). `event_type_pagerank` ranks states by long-run centrality;
    the raw conditional probabilities are what a product funnel analyst
    actually reads ('after an error, 40% of next actions are another
    error'), and what an anomaly monitor compares release-over-release
    (a shifted row distribution = changed user behavior or a broken
    client). Per-user ordering uses (epoch micros, event_id) — the house
    total-order tie-break — via ONE lead() window keyed on user_id; the
    matrix is |event types|² bounded, so margins, probabilities, and the
    per-row argmax all run on the bounded cell table. Scale shape: one
    user-keyed window shuffle (the sequence partitioning every
    sequence-family query shares), one map-side-combined (cur, nxt)
    count, bounded everything after."""
    ev = load_table(spark, "events", sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    tr = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy(us, "event_id")
        ).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    c = tr.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("long").alias("n"))
    rowt = c.groupBy("cur").agg(F.sum("n").cast("long").alias("rn"))
    wmax = Window.partitionBy("cur")
    top = c.select(
        "cur",
        "nxt",
        "n",
        F.max("n").over(wmax).alias("nmax"),
    ).select(
        "cur",
        "nxt",
        "n",
        F.min(F.when(F.col("n") == F.col("nmax"), F.col("nxt")))
        .over(wmax)
        .alias("top_nxt"),
    )
    return top.join(F.broadcast(rowt), "cur").select(
        "cur",
        "nxt",
        "n",
        F.col("rn").alias("row_total"),
        F.expr("CAST((n * 1000000) div rn AS BIGINT)").alias("p_micro"),
        F.expr(
            "CAST(CASE WHEN nxt = top_nxt THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_top_transition"),
    )


@register(
    "orders_interarrival_stats",
    oracle="""
    WITH o AS (
      SELECT o_custkey, CAST(date_trunc('day', o_orderdate) AS DATE) AS d
      FROM orders
    ),
    gaps AS (
      SELECT o_custkey,
             CAST(date_diff('day',
                    lag(d) OVER (PARTITION BY o_custkey ORDER BY d),
                    d) AS BIGINT) AS gap_days
      FROM o
    ),
    g AS (SELECT gap_days FROM gaps WHERE gap_days IS NOT NULL),
    h AS (SELECT gap_days, CAST(count(*) AS BIGINT) AS c
          FROM g GROUP BY gap_days),
    cumh AS (
      SELECT gap_days, c, sum(c) OVER (ORDER BY gap_days) AS cum,
             (SELECT CAST(sum(c) AS BIGINT) FROM h) AS n
      FROM h
    ),
    qs AS (SELECT unnest([250, 500, 750, 900]) AS q)
    SELECT CAST(qs.q AS BIGINT) AS quantile_permille,
           CAST(max(cumh.n) AS BIGINT) AS n_gaps,
           CAST(min(cumh.gap_days) AS BIGINT) AS gap_days
    FROM qs JOIN cumh ON cumh.cum * 1000 >= qs.q * cumh.n
    GROUP BY qs.q
    """,
)
def orders_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPEAT-PURCHASE CADENCE quantiles — the distribution of day gaps
    between a customer's consecutive orders (p25/p50/p75/p90 as exact
    order statistics from the gap-day histogram, the
    `funnel_latency_quantiles` pattern on the purchase-cadence domain):
    the number a retention model and a reorder-reminder scheduler both
    need, and the denominator behind 'churned = silent for 3× their p50
    cadence'. Gap extraction is one lag() window per customer (the same
    custkey partitioning the RFM/LTV queries shuffle on); multiple
    same-day orders produce zero-gaps that stay IN the distribution
    (documented: same-day reorders are real cadence signal, not noise).
    Scale shape: one custkey-keyed window shuffle, a histogram bounded by
    DISTINCT gap values (≤ date-range days), cumulative + 4-rank probe on
    histogram rows only."""
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey",
        F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("d"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d")
    gaps = o.select(
        F.datediff(F.col("d"), F.lag("d").over(w)).cast("long").alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    h = gaps.groupBy("gap_days").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = h.agg(F.sum("c").cast("long").alias("n"))
    cumh = h.crossJoin(F.broadcast(n)).select(
        "gap_days",
        "c",
        F.sum("c").over(Window.orderBy("gap_days")).cast("long").alias("cum"),
        "n",
    )
    qs = spark.createDataFrame([(q,) for q in (250, 500, 750, 900)], "q long")
    return (
        F.broadcast(qs)
        .join(cumh, F.col("cum") * 1000 >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            F.min("gap_days").cast("long").alias("gap_days"),
        )
        .select(F.col("q").alias("quantile_permille"), "n_gaps", "gap_days")
    )


@register(
    "shipping_latency_by_priority",
    oracle="""
    WITH l AS (
      SELECT o.o_orderpriority AS pri,
             CAST(date_diff('day', o.o_orderdate, li.l_shipdate) AS BIGINT)
               AS days
      FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
    ),
    h AS (SELECT pri, days, CAST(count(*) AS BIGINT) AS c
          FROM l GROUP BY pri, days),
    cumh AS (
      SELECT pri, days, c,
             sum(c) OVER (PARTITION BY pri ORDER BY days) AS cum,
             sum(c) OVER (PARTITION BY pri) AS n
      FROM h
    ),
    qs AS (SELECT unnest([500, 900]) AS q)
    SELECT cumh.pri AS priority, CAST(qs.q AS BIGINT) AS quantile_permille,
           CAST(max(cumh.n) AS BIGINT) AS n_items,
           CAST(min(cumh.days) AS BIGINT) AS latency_days
    FROM qs JOIN cumh ON cumh.cum * 1000 >= qs.q * cumh.n
    GROUP BY cumh.pri, qs.q
    """,
)
def shipping_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHIPPING-LATENCY SLO check per order priority — p50/p90 days from
    order date to line-item ship date, the "does URGENT actually ship
    faster" audit (q12 counts late shipments against a fixed deadline;
    this reads the latency DISTRIBUTION, which is what an SLO dashboard
    tracks — a priority whose p90 crosses its target pages before the
    fixed-deadline count moves). Per-group quantiles are order statistics
    from a (priority, day) histogram — cum window PARTITIONED BY priority
    over the bounded day domain, the rank probe is the integer compare
    cum·1000 ≥ q·n; no percentile interpolation anywhere. Scale shape:
    one orderkey-keyed join (the fact-fact join every TPC-H variant
    shuffles on), one map-side-combined (priority, day) histogram,
    windows + probes on histogram rows only (≤ priorities × day-range)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    l = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("pri"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("days"),
    )
    h = l.groupBy("pri", "days").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = Window.partitionBy("pri")
    cumh = h.select(
        "pri",
        "days",
        "c",
        F.sum("c").over(wp.orderBy("days")).cast("long").alias("cum"),
        F.sum("c").over(wp).cast("long").alias("n"),
    )
    qs = spark.createDataFrame([(500,), (900,)], "q long")
    return (
        F.broadcast(qs)
        .join(cumh, F.col("cum") * 1000 >= F.col("q") * F.col("n"))
        .groupBy(F.col("pri").alias("priority"), "q")
        .agg(
            F.max("n").cast("long").alias("n_items"),
            F.min("days").cast("long").alias("latency_days"),
        )
        .select(
            "priority",
            F.col("q").alias("quantile_permille"),
            "n_items",
            "latency_days",
        )
    )


@register(
    "supplier_acctbal_outlier_fences",
    oracle="""
    WITH s AS (
      SELECT s_nationkey AS nk,
             CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM supplier
    ),
    h AS (SELECT nk, cents, CAST(count(*) AS BIGINT) AS c
          FROM s GROUP BY nk, cents),
    cumh AS (
      SELECT nk, cents, c,
             sum(c) OVER (PARTITION BY nk ORDER BY cents) AS cum,
             sum(c) OVER (PARTITION BY nk) AS n
      FROM h
    ),
    q1 AS (SELECT nk, CAST(min(cents) AS BIGINT) AS q1
           FROM cumh WHERE cum * 4 >= n GROUP BY nk),
    q3 AS (SELECT nk, CAST(min(cents) AS BIGINT) AS q3
           FROM cumh WHERE cum * 4 >= 3 * n GROUP BY nk),
    f AS (
      SELECT q1.nk, q1.q1, q3.q3,
             5 * q1.q1 - 3 * q3.q3 AS lo_x2,
             5 * q3.q3 - 3 * q1.q1 AS hi_x2
      FROM q1 JOIN q3 ON q1.nk = q3.nk
    )
    SELECT f.nk AS nationkey, CAST(max(cumh.n) AS BIGINT) AS n_suppliers,
           f.q1 AS q1_cents, f.q3 AS q3_cents, f.lo_x2, f.hi_x2,
           CAST(sum(CASE WHEN 2 * cumh.cents < f.lo_x2
                         THEN cumh.c ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN 2 * cumh.cents > f.hi_x2
                         THEN cumh.c ELSE 0 END) AS BIGINT) AS n_high
    FROM cumh JOIN f ON f.nk = cumh.nk
    GROUP BY f.nk, f.q1, f.q3, f.lo_x2, f.hi_x2
    """,
)
def supplier_acctbal_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY IQR OUTLIER FENCES per nation on supplier account balances —
    the robust box-plot outlier rule (outside Q1/Q3 ∓ 1.5·IQR) every
    data-quality scanner applies to numeric columns before trusting them
    (`orders_benford_audit` tests digit distributions; this tests the
    value tails; `embedding_outliers` is the z-score cousin that a heavy
    tail breaks — IQR fences don't). Quartiles are order statistics from
    the per-nation cents histogram (cum·4 ≥ n / ≥ 3n integer probes —
    the value-domain-bounded class, never a per-group sort of raw rows),
    and the 1.5·IQR fences stay EXACT on the ×2 integer grid:
    lo_x2 = 5·Q1 - 3·Q3, hi_x2 = 5·Q3 - 3·Q1 (2× both sides of the
    comparison clears the .5 factor; balances can be negative but no
    division exists anywhere). Outlier counts compare 2·cents against
    the fences per histogram row. Scale shape: one map-side-combined
    (nation, cents) histogram, per-nation windows over histogram rows,
    a |nations|-bounded fence join."""
    s = load_table(spark, "supplier", sf_dir).select(
        F.col("s_nationkey").cast("long").alias("nk"),
        F.expr("CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    h = s.groupBy("nk", "cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = Window.partitionBy("nk")
    cumh = h.select(
        "nk",
        "cents",
        "c",
        F.sum("c").over(wp.orderBy("cents")).cast("long").alias("cum"),
        F.sum("c").over(wp).cast("long").alias("n"),
    )
    q1 = (
        cumh.filter(F.col("cum") * 4 >= F.col("n"))
        .groupBy("nk")
        .agg(F.min("cents").cast("long").alias("q1"))
    )
    q3 = (
        cumh.filter(F.col("cum") * 4 >= 3 * F.col("n"))
        .groupBy("nk")
        .agg(F.min("cents").cast("long").alias("q3"))
    )
    f = q1.join(q3, "nk").select(
        "nk",
        "q1",
        "q3",
        (5 * F.col("q1") - 3 * F.col("q3")).alias("lo_x2"),
        (5 * F.col("q3") - 3 * F.col("q1")).alias("hi_x2"),
    )
    return (
        cumh.join(F.broadcast(f), "nk")
        .groupBy(
            F.col("nk").alias("nationkey"), "q1", "q3", "lo_x2", "hi_x2"
        )
        .agg(
            F.max("n").cast("long").alias("n_suppliers"),
            F.sum(
                F.when(2 * F.col("cents") < F.col("lo_x2"), F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(2 * F.col("cents") > F.col("hi_x2"), F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("n_high"),
        )
        .select(
            "nationkey",
            "n_suppliers",
            F.col("q1").alias("q1_cents"),
            F.col("q3").alias("q3_cents"),
            "lo_x2",
            "hi_x2",
            "n_low",
            "n_high",
        )
    )


BOT_MIN_GAPS = 5  # need >= this many inter-event gaps to score a user
BOT_CV2_MICRO = 50_000  # CV² < 0.05 => machine-regular cadence


@register(
    "user_bot_regularity",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id FROM events
    ),
    gaps AS (
      SELECT user_id,
             us - lag(us) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS g
      FROM e
    ),
    st AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(g) AS BIGINT) AS t,
             CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS s2
      FROM gaps WHERE g IS NOT NULL
      GROUP BY user_id
      HAVING count(*) >= {BOT_MIN_GAPS}
    )
    SELECT user_id, n_gaps,
           CAST(t // n_gaps AS BIGINT) AS mean_gap_us,
           CAST(CASE WHEN t = 0 THEN 0
                ELSE ((n_gaps * s2 - CAST(t AS HUGEINT) * t) * 1000000)
                     // (CAST(t AS HUGEINT) * t) END AS BIGINT) AS cv2_micro,
           CAST(CASE WHEN t = 0 THEN 1
                WHEN ((n_gaps * s2 - CAST(t AS HUGEINT) * t) * 1000000)
                     // (CAST(t AS HUGEINT) * t) < {BOT_CV2_MICRO}
                THEN 1 ELSE 0 END AS BIGINT) AS is_regular
    FROM st
    """,
)
def user_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOT-CADENCE detector — the squared coefficient of variation of each
    user's inter-event gaps: humans are bursty (CV² ≈ 1 for Poisson
    arrivals, usually higher), schedulers and scrapers are metronomes
    (CV² → 0), so `is_regular` flags cadences tighter than CV² <
    {BOT_CV2_MICRO}/1e6 over ≥ {BOT_MIN_GAPS} gaps — the standard
    first-pass abuse/automation filter a data pipeline runs before
    letting event data train anything. CV² clears to the all-integer
    (n·Σg² - (Σg)²)·10⁶ // (Σg)² — the numerator is the scaled variance
    (non-negative by Cauchy-Schwarz) and Σg > 0 whenever timestamps
    advance, with the all-identical-timestamps degenerate (t = 0)
    reported as regular in both engines. Gap extraction is one lag()
    window on the (user, time, event_id) total order — the sequence
    shuffle every behavioral query shares. Scale shape: one user-keyed
    window, one user-keyed moment aggregate (map-side combined), no
    joins; output is per-qualifying-user (corpus-proportional, like
    every per-user/doc scoring query)."""
    ev = load_table(spark, "events", sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    st = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("g").cast("long").alias("t"),
            F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("s2"),
        )
        .filter(F.col("n_gaps") >= BOT_MIN_GAPS)
    )
    return st.select(
        "user_id",
        "n_gaps",
        F.expr("CAST(t div n_gaps AS BIGINT)").alias("mean_gap_us"),
        F.expr(
            "CAST(CASE WHEN t = 0 THEN 0"
            " ELSE ((n_gaps * CAST(s2 AS DECIMAL(38,0))"
            " - CAST(t AS DECIMAL(38,0)) * t) * 1000000)"
            " div (CAST(t AS DECIMAL(38,0)) * t) END AS BIGINT)"
        ).alias("cv2_micro"),
        F.expr(
            "CAST(CASE WHEN t = 0 THEN 1"
            " WHEN ((n_gaps * CAST(s2 AS DECIMAL(38,0))"
            " - CAST(t AS DECIMAL(38,0)) * t) * 1000000)"
            " div (CAST(t AS DECIMAL(38,0)) * t)"
            f" < {BOT_CV2_MICRO}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_regular"),
    )


# ---------------------------------------------------------------------------
# round-10 statistics: spread homogeneity, churn hazard, ACF, type entropy
# ---------------------------------------------------------------------------

# F₀.₉₅(2, ∞) = χ²₀.₉₅(2)/2 = 5.991465/2, floored on the micro grid
BF_F_CRIT_MICRO = KW_CHI2_MICRO[2] // 2
BF_GROUPS = ("purchase", "view", "click")


@register(
    "value_levene_brownforsythe",
    oracle=f"""
    WITH e AS (
      SELECT event_type AS g, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS m
      FROM events WHERE event_type IN ('purchase', 'view', 'click')
    ),
    h AS (SELECT g, m, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY g, m),
    cum AS (SELECT g, m, c,
                   sum(c) OVER (PARTITION BY g ORDER BY m) AS cm,
                   sum(c) OVER (PARTITION BY g) AS n
            FROM h),
    med AS (SELECT g, min(m) AS med FROM cum WHERE 2 * cm >= n GROUP BY g),
    z AS (SELECT e.g, 1000 * abs(e.m - med.med) AS z
          FROM e JOIN med ON med.g = e.g),
    st AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(z) AS HUGEINT) AS s,
                  CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS q
           FROM z GROUP BY g),
    stm AS (SELECT g, n, s, q, CAST(s // n AS BIGINT) AS zbar FROM st),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(sum(s) // sum(n) AS BIGINT) AS zbar_all,
                   CAST(count(*) AS BIGINT) AS k
            FROM stm),
    parts AS (
      SELECT stm.g, stm.n, stm.zbar,
             q - 2 * CAST(zbar AS HUGEINT) * s
               + CAST(stm.n AS HUGEINT) * zbar * zbar AS ssw_g,
             CAST(stm.n AS HUGEINT) * (zbar - tot.zbar_all)
               * (zbar - tot.zbar_all) AS ssb_g
      FROM stm, tot
    ),
    f AS (SELECT CAST(sum(ssw_g) AS HUGEINT) AS ssw,
                 CAST(sum(ssb_g) AS HUGEINT) AS ssb
          FROM parts)
    SELECT tot.k, tot.nt AS n_total,
           max(CASE WHEN parts.g = 'purchase' THEN parts.n END) AS n_purchase,
           max(CASE WHEN parts.g = 'view' THEN parts.n END) AS n_view,
           max(CASE WHEN parts.g = 'click' THEN parts.n END) AS n_click,
           max(CASE WHEN parts.g = 'purchase' THEN parts.zbar END)
             AS mad_purchase_micro,
           max(CASE WHEN parts.g = 'view' THEN parts.zbar END)
             AS mad_view_micro,
           max(CASE WHEN parts.g = 'click' THEN parts.zbar END)
             AS mad_click_micro,
           CAST(CASE WHEN f.ssw = 0 THEN NULL
                ELSE (f.ssb * (tot.nt - tot.k) * 1000000)
                     // (f.ssw * (tot.k - 1)) END AS BIGINT) AS f_micro,
           CAST(CASE WHEN tot.k != 3 THEN NULL
                WHEN f.ssw = 0 THEN 0
                WHEN (f.ssb * (tot.nt - tot.k) * 1000000)
                     // (f.ssw * (tot.k - 1)) > {BF_F_CRIT_MICRO}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_equal_spread
    FROM f, tot, parts
    GROUP BY tot.k, tot.nt, f.ssw, f.ssb
    """,
)
def value_levene_brownforsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE spread-homogeneity test across the purchase / view /
    click value distributions — the SPREAD complement to the location
    family (`value_location_kruskalwallis` asks "same center?"; this asks
    "same dispersion?" — unequal spread is what invalidates pooled
    monitoring thresholds and is itself a drift signal). Levene's ANOVA on
    absolute deviations, with the robust MEDIAN center (Brown-Forsythe
    1974): per-group median on the bounded milli value grid (smallest m
    with 2·cum ≥ n — the lower-median house convention of the histogram
    order-statistic family), z = |x − med| exact integers, group means of
    z floored ONCE onto the micro grid ((Σz·1000) div n — both engines
    truncate the same non-negative operands), and the F statistic
    assembled from Σz, Σz² in cleared integer form: ssw via the
    q − 2·z̄·s + n·z̄² identity, ssb = Σ nⱼ(z̄ⱼ − z̄)², decision
    ssb·(N−k)·10⁶ div (ssw·(k−1)) vs the F₀.₉₅(2,∞) = χ²₀.₉₅(2)/2 micro
    literal — transcendental-free end to end. The verdict is NULL unless
    all three groups are present: k comes from the DATA, and the fixed
    df-2 literal would silently mis-calibrate a two-group corpus (the
    heatmap's honest-NULL convention). Grid note: quantizing z̄ to
    micro before the sums of squares introduces ≤1 micro-unit per term,
    identical in both engines — the deterministic-quantization policy
    every stats query here follows. Width budget: q ≈ rows·z² stays in
    DECIMAL(38,0) to ~10¹² rows at micro deviations ≤10⁹; divide the
    micro grid through by 10³ first beyond that (documented, not silent).
    Scale shape: one map-side-combined (group, m) histogram on the
    bounded value domain, per-group windows over those bounded rows, one
    keyed join back for z, one 3-row aggregate — no pair joins, no
    windows over raw events."""
    e = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin(*BF_GROUPS)
    ).select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("m"),
    )
    h = e.groupBy("g", "m").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.partitionBy("g").orderBy("m")
    wn = Window.partitionBy("g")
    cum = h.select(
        "g", "m", F.sum("c").over(wc).alias("cm"), F.sum("c").over(wn).alias("n")
    )
    med = (
        cum.filter(2 * F.col("cm") >= F.col("n"))
        .groupBy("g")
        .agg(F.min("m").alias("med"))
    )
    z = e.join(F.broadcast(med), "g").select(
        "g", (F.lit(1000) * F.abs(F.col("m") - F.col("med"))).alias("z")
    )
    st = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("CAST(z AS DECIMAL(38,0)) * z")).alias("q"),
    )
    stm = st.select(
        "g", "n", "s", "q", F.expr("CAST(s div n AS BIGINT)").alias("zbar")
    )
    tot = stm.agg(
        F.sum("n").cast("long").alias("nt"),
        F.expr("CAST(sum(s) div sum(n) AS BIGINT)").alias("zbar_all"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    parts = stm.crossJoin(F.broadcast(tot)).select(
        "g",
        "n",
        "zbar",
        "nt",
        "k",
        F.expr(
            "q - 2 * CAST(zbar AS DECIMAL(38,0)) * s"
            " + CAST(n AS DECIMAL(38,0)) * zbar * zbar"
        ).alias("ssw_g"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * (zbar - zbar_all) * (zbar - zbar_all)"
        ).alias("ssb_g"),
    )
    fagg = parts.agg(
        F.sum("ssw_g").alias("ssw"),
        F.sum("ssb_g").alias("ssb"),
        F.max("nt").alias("nt"),
        F.max("k").alias("k"),
        *[
            F.max(F.when(F.col("g") == grp, F.col("n")))
            .cast("long")
            .alias(f"n_{grp}")
            for grp in BF_GROUPS
        ],
        *[
            F.max(F.when(F.col("g") == grp, F.col("zbar")))
            .cast("long")
            .alias(f"mad_{grp}_micro")
            for grp in BF_GROUPS
        ],
    )
    return fagg.select(
        "k",
        F.col("nt").alias("n_total"),
        "n_purchase",
        "n_view",
        "n_click",
        "mad_purchase_micro",
        "mad_view_micro",
        "mad_click_micro",
        F.expr(
            "CAST(CASE WHEN ssw = 0 THEN NULL"
            " ELSE (ssb * (nt - k) * 1000000) div (ssw * (k - 1))"
            " END AS BIGINT)"
        ).alias("f_micro"),
        F.expr(
            "CAST(CASE WHEN k != 3 THEN NULL"
            " WHEN ssw = 0 THEN 0"
            " WHEN (ssb * (nt - k) * 1000000) div (ssw * (k - 1))"
            f" > {BF_F_CRIT_MICRO}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("reject_equal_spread"),
    )


CHURN_HORIZON_DAYS = 90  # report hazard rows out to this gap duration


@register(
    "customer_churn_hazard",
    oracle=f"""
    WITH o AS (SELECT o_custkey AS ck,
                      CAST(date_diff('day', TIMESTAMP '1970-01-01',
                                     o_orderdate) AS BIGINT) AS d,
                      o_orderkey AS okey
               FROM orders),
    mx AS (SELECT CAST(max(d) AS BIGINT) AS md FROM o),
    gaps AS (SELECT ck, d - lag(d) OVER (PARTITION BY ck ORDER BY d, okey)
                      AS t
             FROM o),
    ev AS (SELECT t, CAST(count(*) AS BIGINT) AS de
           FROM gaps WHERE t IS NOT NULL GROUP BY t),
    cz AS (SELECT t, CAST(count(*) AS BIGINT) AS dc
           FROM (SELECT mx.md - max(o.d) AS t FROM o, mx GROUP BY o.ck, mx.md)
           GROUP BY t),
    allh AS (
      SELECT COALESCE(e.t, c.t) AS t, COALESCE(e.de, 0) AS de,
             COALESCE(c.dc, 0) AS dc
      FROM ev e FULL JOIN cz c ON e.t = c.t
    ),
    tot AS (SELECT CAST(sum(de + dc) AS BIGINT) AS n_all FROM allh),
    w AS (SELECT t, de,
                 COALESCE(sum(de + dc) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_lt
          FROM allh),
    haz AS (SELECT t, de, tot.n_all - w.cum_lt AS n_risk,
                   (de * 1000000) // (tot.n_all - w.cum_lt) AS h
            FROM w, tot WHERE de > 0 AND t <= {CHURN_HORIZON_DAYS})
    SELECT CAST(t AS BIGINT) AS gap_days, CAST(n_risk AS BIGINT) AS n_risk,
           de AS n_events, CAST(h AS BIGINT) AS hazard_micro,
           CAST(sum(h) OVER (ORDER BY t) AS BIGINT) AS cum_hazard_micro
    FROM haz
    """,
)
def customer_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative-hazard estimate of customer REORDER timing
    with right-censoring — the survival-analysis primitive behind every
    churn dashboard: per customer, the gaps between consecutive orders are
    EVENTS ("reordered after t days") and the open gap from the last order
    to the dataset horizon is CENSORED (still at risk, outcome unknown —
    dropping it, as naive repeat-cadence stats do, biases hazard upward).
    Estimator choice is deliberate: Kaplan-Meier multiplies ratios
    (Π(1−d/n) — floating products that drift under micro flooring), while
    Nelson-Aalen SUMS them (H(t) = Σ_{{s≤t}} d(s)/n(s)) — additive, so the
    house integer policy applies directly: per-duration hazard
    d·10⁶ div n_risk (non-negative operands, both engines truncate
    identically), cumulative via a window sum of the already-floored
    terms. The risk set n(s) = #gaps (event or censored) with duration
    ≥ s comes from one cumulative window over the combined duration
    histogram — no per-(customer, day) expansion. Output: one row per
    event duration ≤ {CHURN_HORIZON_DAYS} days with the at-risk count,
    event count, per-day hazard, and H(t). Scale shape: one
    custkey-keyed lag window over orders (the interarrival family's
    shuffle), two bounded duration histograms (domain ≤ the calendar
    span), windows on the bounded grid, one scalar. Magnitudes:
    everything ≤ corpus row count — no width concerns at any scale."""
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("ck"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.col("o_orderkey").alias("okey"),
    )
    mx = o.agg(F.max("d").cast("long").alias("md"))
    wlag = Window.partitionBy("ck").orderBy("d", "okey")
    gaps = o.select(
        "ck", (F.col("d") - F.lag("d").over(wlag)).alias("t")
    ).filter(F.col("t").isNotNull())
    ev = gaps.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("de"))
    cz = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("ck")
        # the open gap runs from the customer's LAST order to the horizon:
        # md - max(d) == min(md - d)
        .agg(F.min(F.col("md") - F.col("d")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("dc"))
    )
    allh = (
        ev.join(cz, "t", "full")
        .select(
            "t",
            F.coalesce("de", F.lit(0)).alias("de"),
            F.coalesce("dc", F.lit(0)).alias("dc"),
        )
    )
    tot = allh.agg(F.sum(F.col("de") + F.col("dc")).cast("long").alias("n_all"))
    wlt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w = allh.select(
        "t",
        "de",
        F.coalesce(F.sum(F.col("de") + F.col("dc")).over(wlt), F.lit(0)).alias(
            "cum_lt"
        ),
    )
    haz = (
        w.crossJoin(F.broadcast(tot))
        .filter((F.col("de") > 0) & (F.col("t") <= CHURN_HORIZON_DAYS))
        .select(
            "t",
            "de",
            (F.col("n_all") - F.col("cum_lt")).alias("n_risk"),
            F.expr("de * 1000000 div (n_all - cum_lt)").alias("h"),
        )
    )
    wcum = Window.orderBy("t")
    return haz.select(
        F.col("t").cast("long").alias("gap_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("de").alias("n_events"),
        F.col("h").cast("long").alias("hazard_micro"),
        F.sum("h").over(wcum).cast("long").alias("cum_hazard_micro"),
    )


BOT_SINGLE_TYPE_MIN = 10  # single-type users at/above this volume are flagged


@register(
    "user_type_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    ),
    n AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_types
          FROM c GROUP BY user_id),
    t AS (
      SELECT c.user_id,
             CAST(c.c AS HUGEINT)
               * CAST(floor(ln(CAST(n.n AS DOUBLE) / c.c) * 1000000 + 0.5)
                      AS BIGINT) AS wterm
      FROM c JOIN n ON n.user_id = c.user_id
    ),
    e AS (SELECT user_id, CAST(sum(wterm) AS HUGEINT) AS ws FROM t
          GROUP BY user_id)
    SELECT n.user_id, n.n AS n_events, n.n_types,
           CAST(e.ws // n.n AS BIGINT) AS entropy_micro,
           CAST(CASE WHEN n.n_types = 1 AND n.n >= {BOT_SINGLE_TYPE_MIN}
                       THEN 1
                     WHEN n.n_types > 1
                          AND 2 * (e.ws // n.n)
                              < CAST(floor(ln(CAST(n.n_types AS DOUBLE))
                                           * 1000000 + 0.5) AS BIGINT)
                       THEN 1 ELSE 0 END AS BIGINT) AS concentration_flag
    FROM n JOIN e ON e.user_id = n.user_id
    """,
)
def user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EVENT-TYPE ENTROPY — the behavioral-diversity audit beside
    `user_bot_regularity` (that one asks "is the CADENCE machine-regular?";
    this asks "is the BEHAVIOR machine-narrow?" — a scraper fires one event
    type at volume, a human mixes views/clicks/purchases; the two flags
    disagree exactly on rate-limited bots and single-purpose power users,
    which is why audits run both). H = Σ (c/n)·ln(n/c), computed under the
    house transcendental policy: one ln per (user, type) of the EXACT
    integer ratio n/c (both engines take the same double log of the same
    integers), micro-rounded per term BEFORE the weighted sum (the
    `source_token_kl` rounding order), then one truncating division by n —
    non-negative operands throughout, so Spark `div` ≡ DuckDB `//`. The
    concentration flag is scale-relative: entropy below HALF the maximum
    ln(n_types) achievable with the user's observed type count, or a
    single-type user at ≥{BOT_SINGLE_TYPE_MIN} events (ln(1) = 0 makes
    the ratio rule vacuous there — the classic degenerate arm, made
    explicit). Scale shape: two map-side-combined keyed aggregates
    ((user, type) then user) and one user-keyed join — no windows, no
    pair joins; output is one row per user, the same cardinality class
    as every per-user audit here."""
    c = load_table(spark, "events", sf_dir).groupBy(
        "user_id", "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = c.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    t = c.join(n.select("user_id", "n"), "user_id").select(
        "user_id",
        F.expr(
            "CAST(c AS DECIMAL(38,0))"
            " * CAST(floor(ln(CAST(n AS DOUBLE) / c) * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("wterm"),
    )
    e = t.groupBy("user_id").agg(F.sum("wterm").alias("ws"))
    return n.join(e, "user_id").select(
        "user_id",
        F.col("n").alias("n_events"),
        "n_types",
        F.expr("CAST(ws div n AS BIGINT)").alias("entropy_micro"),
        F.expr(
            f"CAST(CASE WHEN n_types = 1 AND n >= {BOT_SINGLE_TYPE_MIN}"
            " THEN 1"
            " WHEN n_types > 1 AND 2 * (ws div n)"
            " < CAST(floor(ln(CAST(n_types AS DOUBLE)) * 1000000 + 0.5)"
            " AS BIGINT)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("concentration_flag"),
    )


ACF_LAGS = 7  # daily-ACF diagnostic depth (a week of lags)


@register(
    "orders_daily_autocorr",
    oracle=f"""
    WITH g AS (SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
                      CAST(count(*) AS BIGINT) AS c
               FROM orders GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
            FROM g),
    dd AS (SELECT row_number() OVER (ORDER BY g.d) AS rn,
                  CAST(tot.n * g.c - tot.s AS BIGINT) AS dv
           FROM g, tot),
    dsum AS (SELECT CAST(sum(CAST(dv AS HUGEINT) * dv) AS HUGEINT) AS dss
             FROM dd),
    lags AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7))
             AS t(k)),
    ck AS (SELECT l.k, CAST(sum(CAST(a.dv AS HUGEINT) * b.dv) AS HUGEINT)
                    AS c_k
           FROM dd a JOIN lags l ON true
                     JOIN dd b ON b.rn = a.rn + l.k
           GROUP BY l.k)
    SELECT CAST(ck.k AS BIGINT) AS lag, CAST(ck.c_k AS BIGINT) AS c_k,
           tot.n AS n_days,
           CAST(CASE WHEN dsum.dss = 0 THEN NULL
                ELSE floor(CAST(ck.c_k AS DOUBLE) / CAST(dsum.dss AS DOUBLE)
                           * 1000000 + 0.5) END AS BIGINT) AS acf_micro,
           CAST(CASE WHEN dsum.dss = 0 THEN 0
                WHEN ck.c_k * ck.c_k * tot.n * 10000
                     > CAST(38416 AS HUGEINT) * dsum.dss * dsum.dss
                THEN 1 ELSE 0 END AS BIGINT) AS reject_zero_acf
    FROM ck, dsum, tot
    """,
)
def orders_daily_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGNED daily autocorrelation function of ORDER volume at lags
    1..{LAGS} — the per-lag diagnostic the Ljung-Box portmanteau
    (`volume_ljung_box`, events series) deliberately collapses: Q says
    "some lag autocorrelates", the ACF says WHICH and in WHAT DIRECTION
    (lag-7 positive = weekly cycle; lag-1 negative = batch-and-starve
    ingestion). Same exactness recipe as its sibling: mean cleared by
    n·x − Σx (integer deviations), autocovariance C_k via the rn+k HASH
    equi-join on the bounded daily grid (position space, so calendar gaps
    collapse exactly as Ljung-Box treats them), r_k = C_k/Σd² micro-
    rounded via the sign-safe single-IEEE-division recipe (C_k is SIGNED —
    `div`//`floor` diverge on negatives; one double division of exact
    < 2⁵³ integers + floor(x·10⁶ + 0.5) is bit-identical in both engines,
    the `event_volume_trend` recipe), and the Bartlett |r| > 1.96/√n
    significance gate in squared cleared form C_k²·n·10⁴ > 38416·(Σd²)² —
    no sqrt ever runs. Width budget: C_k ≤ Σd² ≈ days·(n·c)² ~ 10¹⁴ at
    sf0.1, squared 10²⁸ — inside HUGEINT/DECIMAL(38,0) to ~10⁶ orders/day
    on a 3000-day grid. Scale shape: one map-side-combined daily
    aggregate, everything after on the bounded grid."""
    g = load_table(spark, "orders", sf_dir).groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = g.agg(
        F.sum("c").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dd = g.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(Window.orderBy("d")).alias("rn"),
        F.expr("CAST(n * c - s AS BIGINT)").alias("dv"),
    )
    dsum = dd.agg(
        F.sum(F.expr("CAST(dv AS DECIMAL(38,0)) * dv")).alias("dss")
    )
    lags = spark.range(1, ACF_LAGS + 1).select(F.col("id").cast("int").alias("k"))
    a = dd.select(F.col("rn").alias("ra"), F.col("dv").alias("dva"))
    b = dd.select(F.col("rn").alias("rb"), F.col("dv").alias("dvb"))
    ck = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("rb") == F.col("ra") + F.col("k"))
        .groupBy("k")
        .agg(F.sum(F.expr("CAST(dva AS DECIMAL(38,0)) * dvb")).alias("c_k"))
    )
    return (
        ck.crossJoin(F.broadcast(dsum))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("k").cast("long").alias("lag"),
            F.col("c_k").cast("long").alias("c_k"),
            F.col("n").alias("n_days"),
            F.expr(
                "CAST(CASE WHEN dss = 0 THEN NULL"
                " ELSE floor(CAST(c_k AS DOUBLE) / CAST(dss AS DOUBLE)"
                " * 1000000 + 0.5) END AS BIGINT)"
            ).alias("acf_micro"),
            F.expr(
                "CAST(CASE WHEN dss = 0 THEN 0"
                " WHEN CAST(c_k AS DECIMAL(38,0)) * c_k * n * 10000"
                " > CAST(38416 AS DECIMAL(38,0)) * dss * dss"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("reject_zero_acf"),
        )
    )


orders_daily_autocorr.__doc__ = orders_daily_autocorr.__doc__.replace(
    "{LAGS}", str(ACF_LAGS)
)


PARETO_PERCENTS = (1, 5, 10, 20)


@register(
    "orders_pareto_concentration",
    oracle=f"""
    WITH cr AS (
      SELECT o_custkey AS ck,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    rk AS (SELECT ck, cents,
                  row_number() OVER (ORDER BY cents DESC, ck) AS rn
           FROM cr),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS t FROM cr),
    pct AS (SELECT unnest(ARRAY{list(PARETO_PERCENTS)}) AS p)
    SELECT CAST(pct.p AS BIGINT) AS top_percent,
           CAST((tot.n * pct.p + 99) // 100 AS BIGINT) AS n_top_customers,
           CAST(sum(CASE WHEN rk.rn <= (tot.n * pct.p + 99) // 100
                    THEN rk.cents ELSE 0 END) AS BIGINT) AS revenue_cents,
           CAST(sum(CASE WHEN rk.rn <= (tot.n * pct.p + 99) // 100
                    THEN rk.cents ELSE 0 END) * 1000000 // tot.t AS BIGINT)
             AS revenue_share_micro
    FROM rk, tot, pct
    GROUP BY pct.p, tot.n, tot.t
    """,
)
def orders_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVENUE CONCENTRATION (Pareto/Lorenz probe): the share of total
    revenue carried by the top {P}% of customers — the whale-dependence
    table beside `user_activity_gini` (Gini is one scalar; these are the
    Lorenz-curve points an account team actually reads: "the top 1% is
    X% of revenue"). Exact integer cents throughout (the house money
    policy), top-k membership by an integer ceil rank cut
    ((n·p + 99) div 100), shares in truncating micro-units. Scale shape:
    one custkey-keyed cents aggregate (map-side combined), ONE
    customer-cardinality rank window (customers ≪ orders — the same
    bounded-rank shape as `orders_rfm_segments`; at 10⁹ customers
    switch to the two-pass distributed rank of `quality_curriculum`,
    noted not silent), a 1-row totals broadcast and a 4-row literal
    percent grid."""
    cr = load_table(spark, "orders", sf_dir).groupBy(
        F.col("o_custkey").alias("ck")
    ).agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("cents")
    )
    rk = cr.select(
        "cents",
        F.row_number()
        .over(Window.orderBy(F.col("cents").desc(), "ck"))
        .alias("rn"),
    )
    tot = cr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
    )
    pct = spark.createDataFrame([(p,) for p in PARETO_PERCENTS], "p long")
    return (
        rk.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pct))
        .groupBy("p", "n", "t")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN rn <= (n * p + 99) div 100 THEN cents ELSE 0 END"
                )
            )
            .cast("long")
            .alias("revenue_cents")
        )
        .select(
            F.col("p").alias("top_percent"),
            F.expr("CAST((n * p + 99) div 100 AS BIGINT)").alias(
                "n_top_customers"
            ),
            "revenue_cents",
            F.expr("CAST(revenue_cents * 1000000 div t AS BIGINT)").alias(
                "revenue_share_micro"
            ),
        )
    )


orders_pareto_concentration.__doc__ = orders_pareto_concentration.__doc__.replace(
    "{P}", "/".join(str(p) for p in PARETO_PERCENTS)
)


# ABC boundaries on the cumulative-revenue-share micro grid
ABC_A_MICRO = 800000  # A: parts up to 80% cumulative revenue
ABC_B_MICRO = 950000  # B: up to 95%; C: the tail


@register(
    "orders_abc_classification",
    oracle=f"""
    WITH pr AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    rk AS (SELECT pk, cents,
                  row_number() OVER (ORDER BY cents DESC, pk) AS rn,
                  CAST(sum(cents) OVER (ORDER BY cents DESC, pk
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    AS BIGINT) AS prev_cum
           FROM pr),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM pr)
    SELECT rk.pk AS partkey, rk.cents AS revenue_cents,
           CAST(rk.rn AS BIGINT) AS revenue_rank,
           CAST(COALESCE(rk.prev_cum, 0) * 1000000 // tot.t AS BIGINT)
             AS prev_cum_share_micro,
           CASE WHEN COALESCE(rk.prev_cum, 0) * 1000000 // tot.t
                     < {ABC_A_MICRO} THEN 'A'
                WHEN COALESCE(rk.prev_cum, 0) * 1000000 // tot.t
                     < {ABC_B_MICRO} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM rk, tot
    """,
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC INVENTORY CLASSIFICATION of parts by revenue — the per-entity
    assignment behind `orders_pareto_concentration`'s aggregate points:
    rank parts by exact-cents revenue, classify A/B/C at the classic
    80/95% cumulative-share boundaries (a part is judged by the share
    ACCUMULATED BEFORE it, so the part that crosses a boundary still
    belongs to the upper class — the standard convention, made explicit
    instead of implementation-dependent). Exact integer cents and one
    truncating micro division per row; the rank and cumulative window
    order by (cents DESC, partkey) so ties are deterministic in both
    engines. Scale shape: one part-keyed cents aggregate off lineitem
    (map-side combined), ONE part-cardinality rank/cumsum window
    (parts ≪ lineitems; past ~10⁹ parts switch to the two-pass
    distributed rank — the `orders_pareto_concentration` note), a 1-row
    total broadcast."""
    pr = load_table(spark, "lineitem", sf_dir).groupBy(
        F.col("l_partkey").alias("pk")
    ).agg(
        F.sum(F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy(F.col("cents").desc(), "pk")
    rk = pr.select(
        "pk",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.coalesce(
            F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("prev_cum"),
    )
    tot = pr.agg(F.sum("cents").cast("long").alias("t"))
    return rk.crossJoin(F.broadcast(tot)).select(
        F.col("pk").alias("partkey"),
        F.col("cents").alias("revenue_cents"),
        F.col("rn").cast("long").alias("revenue_rank"),
        F.expr("CAST(prev_cum * 1000000 div t AS BIGINT)").alias(
            "prev_cum_share_micro"
        ),
        F.expr(
            f"CASE WHEN prev_cum * 1000000 div t < {ABC_A_MICRO} THEN 'A'"
            f" WHEN prev_cum * 1000000 div t < {ABC_B_MICRO} THEN 'B'"
            " ELSE 'C' END"
        ).alias("abc_class"),
    )


# χ²₀.₉₅(167) for the full 7×24 grid (df = cells − 1), via Wilson–Hilferty
# (z = 1.6448536; exact to ~0.01 at this df — documented approximation,
# identical literal in both engines). The decision is emitted ONLY when
# the grid is complete (n_cells = 168); a sparser grid has a different df
# and reports NULL instead of a silently mis-calibrated verdict.
CHI2_95_167_MICRO = 198153000


@register(
    "event_hour_dow_heatmap",
    oracle=f"""
    WITH e AS (
      SELECT CAST(isodow(CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
               AS dow,
             CAST(hour(ts) AS BIGINT) AS hr
      FROM events
    ),
    h AS (SELECT dow, hr, CAST(count(*) AS BIGINT) AS c
          FROM e GROUP BY dow, hr),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_cells FROM h),
    chi AS (
      -- one division by the CONSTANT denominator n*k AFTER the sum:
      -- chi2 = sum((c*k - n)^2) / (n*k). The r10 form divided per cell
      -- (flooring away every sub-integer contribution) and then scaled
      -- by 1e6//n, yielding ~chi2*1e6/n — bounded below the critical
      -- value, so reject_uniform could never fire (r10 ADVICE high).
      SELECT CAST(sum((CAST(h.c AS HUGEINT) * tot.n_cells - tot.n)
                      * (CAST(h.c AS HUGEINT) * tot.n_cells - tot.n))
                  * 1000000
                  // (CAST(max(tot.n) AS HUGEINT) * max(tot.n_cells))
                  AS BIGINT) AS chi2_micro
      FROM h, tot
    )
    SELECT h.dow, h.hr, h.c AS n_events,
           CAST(h.c * 1000000 // tot.n AS BIGINT) AS share_micro,
           CAST(h.c * tot.n_cells * 1000000 // tot.n AS BIGINT)
             AS intensity_micro,
           chi.chi2_micro,
           CAST(CASE WHEN tot.n_cells != 168 THEN NULL
                WHEN chi.chi2_micro > {CHI2_95_167_MICRO}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_uniform
    FROM h, tot, chi
    """,
)
def event_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOUR × ISO-WEEKDAY activity heatmap with a uniformity decision —
    the operational load grid (`event_dow_seasonality` collapses to 7
    day rows; capacity planning and bot-window detection need the full
    168-cell surface: "is Tuesday 03:00 really 4× the mean?").
    ``intensity_micro`` is each cell's load relative to the uniform
    expectation (10⁶ = exactly average), and the global χ² against
    uniformity decides whether the surface is flat — computed in cleared
    integer form (sum((c·k − n)²) · 10⁶ // (n·k): multiply BEFORE the one
    division by the constant denominator, the `priority_mix_monthly_drift`
    recipe — dividing per cell floors away every sub-integer term and a
    second /n scaling made the verdict unreachable, the r10 ADVICE high),
    against the
    Wilson–Hilferty χ²₀.₉₅(167) literal; the verdict is NULL unless the
    grid is complete (168 cells), because a sparser grid has a different
    df and a fixed literal would silently mis-calibrate. ISO weekday parity: Spark
    ``weekday()`` is 0 = Monday, DuckDB ``isodow()`` is 1 = Monday — the
    +1 shift is the `event_dow_seasonality` convention. Scale shape: one
    map-side-combined aggregate onto ≤ 168 cells; everything after is
    grid arithmetic plus one 1-row broadcast."""
    e = load_table(spark, "events", sf_dir).select(
        (F.expr("weekday(cast(date_trunc('day', ts) AS DATE))") + 1)
        .cast("long")
        .alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    )
    h = e.groupBy("dow", "hr").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = h.agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    # single division by the constant n*k after the sum (r10 ADVICE high:
    # the per-cell floor + second /n scaling made the verdict unreachable)
    chi = h.crossJoin(F.broadcast(tot)).agg(
        F.expr(
            "CAST(sum((CAST(c AS DECIMAL(38,0)) * n_cells - n)"
            " * (CAST(c AS DECIMAL(38,0)) * n_cells - n))"
            " * 1000000"
            " div (CAST(max(n) AS DECIMAL(38,0)) * max(n_cells))"
            " AS BIGINT)"
        ).alias("chi2_micro")
    )
    return (
        h.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(chi))
        .select(
            "dow",
            "hr",
            F.col("c").alias("n_events"),
            F.expr("CAST(c * 1000000 div n AS BIGINT)").alias("share_micro"),
            F.expr("CAST(c * n_cells * 1000000 div n AS BIGINT)").alias(
                "intensity_micro"
            ),
            "chi2_micro",
            F.expr(
                f"CAST(CASE WHEN n_cells != 168 THEN NULL"
                f" WHEN chi2_micro > {CHI2_95_167_MICRO}"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("reject_uniform"),
        )
    )


@register(
    "purchase_asof_after_error",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts, e.value AS error_value,
           p.ts AS purchase_ts, p.value AS purchase_value,
           CASE WHEN p.ts IS NULL THEN NULL
                ELSE CAST(date_diff('microsecond', e.ts, p.ts) AS BIGINT)
           END AS recovery_us
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (
      -- deterministic tie-break (r10 ADVICE low): DuckDB's ASOF picks an
      -- ARBITRARY row among purchases sharing (user_id, ts); the engine's
      -- DESC-scan last() picks the MIN event_id one. Pre-reduce the
      -- purchase side to that row so both engines agree even when
      -- exact-timestamp duplicate purchases appear.
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id) AS rn
        FROM events WHERE event_type = 'purchase'
      ) WHERE rn = 1
    ) p
      ON e.user_id = p.user_id AND e.ts <= p.ts
    """,
)
def purchase_asof_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — the time-reversed twin of
    `clicks_asof_errors`: for every error, the EARLIEST purchase at-or-
    after it by the same user, plus the recovery latency — "did the user
    come back and convert after hitting the error, and how long did it
    take?" (the backward variant asks what PRECEDED the error; incident
    impact analysis needs both directions, and most engines ship only
    one). Same scale-safe pattern with the scan order reversed: UNION
    both sides, ONE window per user ordered by ts DESCENDING (so
    `last(ignorenulls)` carries the earliest later purchase backward to
    the error row), purchases sorting before errors at equal ts to honor
    the ASOF `<=` bound, event_id closing any remaining tie. ONE shuffle
    on user_id and a per-partition sort — never a range-condition join
    (the BNLJ trap both as-of queries exist to avoid). The oracle runs
    DuckDB's native forward ASOF JOIN — an independent implementation of
    the same semantics — with its purchase side pre-reduced to one row per
    (user_id, ts) by min event_id, because ASOF itself has no tie order
    while the engine's DESC scan deterministically keeps min event_id
    (r10 ADVICE: latent flakiness if exact-ts duplicate purchases appear)."""
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "error")
    )
    is_p = F.col("event_type") == "purchase"
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "event_type",
        F.when(is_p, F.col("ts")).alias("p_ts"),
        F.when(is_p, F.col("value")).alias("p_value"),
        # at equal ts a purchase must sort BEFORE the error in the DESC
        # scan (ASOF's <= bound includes it); event_id tie-break mirrors
        # the backward twin
        F.when(is_p, F.lit(0)).otherwise(F.lit(1)).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), "side", F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("purchase_ts", F.last("p_ts", ignorenulls=True).over(w))
        .withColumn("purchase_value", F.last("p_value", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("value").alias("error_value"),
            "purchase_ts",
            "purchase_value",
            F.expr(
                "CASE WHEN purchase_ts IS NULL THEN NULL"
                " ELSE CAST(timestampdiff(MICROSECOND, ts, purchase_ts)"
                " AS BIGINT) END"
            ).alias("recovery_us"),
        )
    )


@register(
    "priority_mix_monthly_drift",
    oracle=f"""
    WITH o AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
             o_orderpriority AS p
      FROM orders
    ),
    cell AS (SELECT mon, p, CAST(count(*) AS BIGINT) AS c
             FROM o GROUP BY mon, p),
    mt AS (SELECT mon, CAST(sum(c) AS BIGINT) AS n_m FROM cell GROUP BY mon),
    pt AS (SELECT p, CAST(sum(c) AS BIGINT) AS c_p FROM cell GROUP BY p),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                   CAST(count(DISTINCT p) AS BIGINT) AS k FROM cell),
    terms AS (
      SELECT mt.mon, mt.n_m,
             CAST((CAST(COALESCE(cell.c, 0) AS HUGEINT) * tot.n
                   - CAST(mt.n_m AS HUGEINT) * pt.c_p)
                  * (CAST(COALESCE(cell.c, 0) AS HUGEINT) * tot.n
                     - CAST(mt.n_m AS HUGEINT) * pt.c_p)
                  * 1000000
                  // (CAST(tot.n AS HUGEINT) * mt.n_m * pt.c_p)
                  AS BIGINT) AS t_micro
      FROM mt CROSS JOIN pt
      LEFT JOIN cell ON cell.mon = mt.mon AND cell.p = pt.p, tot
    )
    SELECT terms.mon AS month, max(terms.n_m) AS n_orders,
           CAST(sum(t_micro) AS BIGINT) AS chi2_micro,
           CAST(CASE WHEN max(tot.k) != 5 THEN NULL
                WHEN sum(t_micro) > {KW_CHI2_MICRO[4]} THEN 1
                ELSE 0 END AS BIGINT) AS drift_flag
    FROM terms, tot
    GROUP BY terms.mon
    """,
)
def priority_mix_monthly_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONTHLY CATEGORICAL-MIX DRIFT: per month, the χ² goodness-of-fit of
    that month's order-priority mix against the all-time mix — the
    monitoring view `priority_status_cramers_v` (static association) and
    `event_volume_cusum` (volume level) both miss: a month whose VOLUME
    is normal but whose COMPOSITION shifted (urgent orders doubling at
    flat totals) fires here and nowhere else. Cleared integer form:
    (o·N − n_m·c_p)²·10⁶ // (N·n_m·c_p) summed over the 5 priorities —
    the expected count never materializes as a float — with the zero-cell
    arm included via the month × priority grid (a missing cell is
    o = 0, not an absent term). The verdict compares against the
    χ²₀.₉₅(4) literal and goes honest-NULL if the corpus doesn't carry
    all 5 priorities (data-dependent df — the Brown-Forsythe/heatmap
    convention). Scale shape: one map-side-combined (month, priority)
    aggregate; everything after lives on the bounded months × 5 grid."""
    o = load_table(spark, "orders", sf_dir).select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("mon"),
        F.col("o_orderpriority").alias("p"),
    )
    cell = o.groupBy("mon", "p").agg(F.count(F.lit(1)).cast("long").alias("c"))
    mt = cell.groupBy("mon").agg(F.sum("c").cast("long").alias("n_m"))
    pt = cell.groupBy("p").agg(F.sum("c").cast("long").alias("c_p"))
    tot = cell.agg(
        F.sum("c").cast("long").alias("n"),
        F.countDistinct("p").cast("long").alias("k"),
    )
    terms = (
        mt.crossJoin(F.broadcast(pt))
        .join(cell, ["mon", "p"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "mon",
            "n_m",
            "k",
            F.expr(
                "CAST((CAST(COALESCE(c, 0) AS DECIMAL(38,0)) * n"
                " - CAST(n_m AS DECIMAL(38,0)) * c_p)"
                " * (CAST(COALESCE(c, 0) AS DECIMAL(38,0)) * n"
                " - CAST(n_m AS DECIMAL(38,0)) * c_p)"
                " * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * n_m * c_p) AS BIGINT)"
            ).alias("t_micro"),
        )
    )
    return terms.groupBy("mon").agg(
        F.max("n_m").alias("n_orders"),
        F.sum("t_micro").cast("long").alias("chi2_micro"),
        F.expr(
            f"CAST(CASE WHEN max(k) != 5 THEN NULL"
            f" WHEN sum(t_micro) > {KW_CHI2_MICRO[4]} THEN 1"
            " ELSE 0 END AS BIGINT)"
        ).alias("drift_flag"),
    ).select(
        F.col("mon").alias("month"), "n_orders", "chi2_micro", "drift_flag"
    )


# ---------------------------------------------------------------------------
# Herfindahl supplier concentration — market-structure audit per nation
# ---------------------------------------------------------------------------


@register(
    "supplier_nation_hhi",
    oracle="""
    WITH sc AS (
      SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
             CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                                 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY 1, 2
    ),
    per AS (
      SELECT nk,
             CAST(count(*) AS BIGINT) AS n_suppliers,
             CAST(sum(cents) AS BIGINT) AS total_cents,
             CAST(sum(CAST(cents AS HUGEINT) * cents) * 1000000
                  // (CAST(sum(cents) AS HUGEINT) * sum(cents)) AS BIGINT)
               AS hhi_micro,
             CAST(max(cents) * 1000000 // sum(cents) AS BIGINT)
               AS top_share_micro
      FROM sc GROUP BY nk
    )
    SELECT n.n_name AS nation, p.n_suppliers, p.total_cents, p.hhi_micro,
           p.top_share_micro,
           CAST(1000000000 // p.hhi_micro AS BIGINT)
             AS effective_suppliers_milli
    FROM per p JOIN nation n ON n.n_nationkey = p.nk
    """,
)
def supplier_nation_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN supplier concentration per nation — the
    market-structure audit behind sourcing risk: `q11_revenue_concentration`
    finds the heavy PARTS, `orders_pareto_concentration` the aggregate
    curve; this scores each nation's supplier base on the antitrust scale
    (HHI = Σ share², 10⁶ = monopoly, micro grid) plus the interpretable
    inverse (effective number of equal suppliers = 1/HHI, milli grid) and
    the single-largest share. All exact: line revenue on the integer cents
    grid (floor(price·(1−disc)·100 + 0.5) — both engines compute the same
    IEEE product before the one floor), HHI as Σcents² · 10⁶ // (Σcents)²
    — multiply before ONE division by the squared total (HUGEINT/
    DECIMAL(38) intermediates; Σcents² ≤ 10²⁸ at SF10⁵, far under either
    bound). Scale shape: one (nation, supplier)-keyed cents aggregate off
    lineitem (map-side combined; the supplier dim broadcasts), one
    nation-keyed rollup (≤ 25 rows), one broadcast nation-name join. No
    windows, no driver data."""
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_suppkey",
        F.expr(
            "CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
            " AS BIGINT)"
        ).alias("cents"),
    )
    s = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    sc = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    per = sc.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.expr(
            "CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) * 1000000"
            " div (CAST(sum(cents) AS DECIMAL(38,0)) * sum(cents))"
            " AS BIGINT)"
        ).alias("hhi_micro"),
        F.expr("CAST(max(cents) * 1000000 div sum(cents) AS BIGINT)").alias(
            "top_share_micro"
        ),
    )
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_name")
    return per.join(
        F.broadcast(n), per.s_nationkey == n.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        "n_suppliers",
        "total_cents",
        "hhi_micro",
        "top_share_micro",
        F.expr("CAST(1000000000 div hhi_micro AS BIGINT)").alias(
            "effective_suppliers_milli"
        ),
    )


# ---------------------------------------------------------------------------
# temporal split leakage — the time-series cousin of split_leakage_safe
# ---------------------------------------------------------------------------

TEMPORAL_CUT_PCTS = (25, 50, 75)  # candidate cuts as % of the event span


@register(
    "split_temporal_leakage",
    oracle=f"""
    WITH span AS (
      SELECT min(ts) AS lo, max(ts) AS hi,
             CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS w
      FROM events
    ),
    g AS (SELECT * FROM (VALUES {", ".join(f"({p})" for p in TEMPORAL_CUT_PCTS)})
          gg(pct)),
    tagged AS (
      SELECT g.pct, e.user_id,
             CASE WHEN date_diff('microsecond', span.lo, e.ts)
                       < span.w * g.pct // 100
                  THEN 1 ELSE 0 END AS in_train
      FROM events e, span, g
    ),
    per_user AS (
      SELECT pct, user_id,
             max(in_train) AS any_train,
             max(1 - in_train) AS any_test,
             CAST(sum(in_train) AS BIGINT) AS n_train_ev,
             CAST(sum(1 - in_train) AS BIGINT) AS n_test_ev
      FROM tagged GROUP BY pct, user_id
    )
    SELECT CAST(pct AS BIGINT) AS cut_pct,
           CAST(sum(n_train_ev) AS BIGINT) AS n_train_events,
           CAST(sum(n_test_ev) AS BIGINT) AS n_test_events,
           CAST(sum(any_train) AS BIGINT) AS n_users_train,
           CAST(sum(any_test) AS BIGINT) AS n_users_test,
           CAST(sum(any_train * any_test) AS BIGINT) AS n_users_both,
           CAST(CASE WHEN sum(any_test) = 0 THEN NULL
                ELSE sum(any_train * any_test) * 1000000 // sum(any_test)
                END AS BIGINT) AS user_leakage_micro,
           CAST(CASE WHEN sum(n_test_ev) = 0 THEN NULL
                ELSE sum(CASE WHEN any_train = 1 THEN n_test_ev ELSE 0 END)
                     * 1000000 // sum(n_test_ev) END AS BIGINT)
             AS test_events_seen_user_micro
    FROM per_user GROUP BY pct
    """,
)
def split_temporal_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL SPLIT LEAKAGE AUDIT — `split_leakage_safe` keeps near-dup
    documents out of opposing folds; this is the time-series counterpart
    for event data: a train/test cut at time T leaks at the USER level
    whenever the same user appears on both sides (per-user behavioral
    models memorize the user, not the time period — the classic inflated
    -offline-metric failure). For each candidate cut ({PCTS}% of the
    observed span — self-scaling like the tombstone retention line):
    split sizes, per-side distinct users, the overlap, `user_leakage_micro`
    (share of test users already seen in train) and
    `test_events_seen_user_micro` (share of test EVENTS carrying a seen
    user — the number an evaluation actually inflates by). Verdicts go
    honest-NULL when a side is empty. Scale shape: one 1-row span
    broadcast, a 3-row literal grid fanout, ONE (cut, user)-keyed
    aggregate (map-side combined) then a 3-row rollup — the event table
    never self-joins."""
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts")
    span = ev.agg(
        F.min("ts").alias("lo"),
        F.expr(
            "CAST(timestampdiff(MICROSECOND, min(ts), max(ts)) AS BIGINT)"
        ).alias("w"),
    )
    grid = spark.createDataFrame(
        [(p,) for p in TEMPORAL_CUT_PCTS], "pct long"
    )
    tagged = (
        ev.crossJoin(F.broadcast(span))
        .crossJoin(F.broadcast(grid))
        .select(
            "pct",
            "user_id",
            F.expr(
                "CASE WHEN CAST(timestampdiff(MICROSECOND, lo, ts) AS BIGINT)"
                " < w * pct div 100 THEN 1 ELSE 0 END"
            ).alias("in_train"),
        )
    )
    per_user = tagged.groupBy("pct", "user_id").agg(
        F.max("in_train").alias("any_train"),
        F.max(F.expr("1 - in_train")).alias("any_test"),
        F.sum("in_train").cast("long").alias("n_train_ev"),
        F.sum(F.expr("1 - in_train")).cast("long").alias("n_test_ev"),
    )
    return per_user.groupBy("pct").agg(
        F.sum("n_train_ev").cast("long").alias("n_train_events"),
        F.sum("n_test_ev").cast("long").alias("n_test_events"),
        F.sum("any_train").cast("long").alias("n_users_train"),
        F.sum("any_test").cast("long").alias("n_users_test"),
        F.sum(F.expr("any_train * any_test")).cast("long").alias("n_users_both"),
        F.expr(
            "CAST(CASE WHEN sum(any_test) = 0 THEN NULL"
            " ELSE sum(any_train * any_test) * 1000000 div sum(any_test)"
            " END AS BIGINT)"
        ).alias("user_leakage_micro"),
        F.expr(
            "CAST(CASE WHEN sum(n_test_ev) = 0 THEN NULL"
            " ELSE sum(CASE WHEN any_train = 1 THEN n_test_ev ELSE 0 END)"
            " * 1000000 div sum(n_test_ev) END AS BIGINT)"
        ).alias("test_events_seen_user_micro"),
    ).select(
        F.col("pct").alias("cut_pct"),
        "n_train_events",
        "n_test_events",
        "n_users_train",
        "n_users_test",
        "n_users_both",
        "user_leakage_micro",
        "test_events_seen_user_micro",
    )


split_temporal_leakage.__doc__ = split_temporal_leakage.__doc__.replace(
    "{PCTS}", "/".join(str(p) for p in TEMPORAL_CUT_PCTS)
)


# ---------------------------------------------------------------------------
# first-order Markov NLL — held-out sequence-model baseline over event types
# ---------------------------------------------------------------------------


@register(
    "event_markov_nll",
    oracle="""
    WITH span AS (
      SELECT min(ts) AS lo,
             CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS w
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type AS a, ts,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS b_ts
      FROM events
    ),
    trans AS (
      SELECT s.a, s.b,
             CASE WHEN date_diff('microsecond', span.lo, s.b_ts)
                       >= span.w * 50 // 100 THEN 1 ELSE 0 END AS is_test
      FROM seq s, span WHERE s.b IS NOT NULL
    ),
    v AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS v FROM events),
    cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
            FROM trans WHERE is_test = 0 GROUP BY a, b),
    ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY a),
    scored AS (
      SELECT t.a,
             CAST(floor(ln(CAST(coalesce(ca.c_a, 0) + v.v AS DOUBLE)
                           / (coalesce(cab.c_ab, 0) + 1))
                        * 1000000 + 0.5) AS BIGINT) AS lp_micro
      FROM trans t
      LEFT JOIN cab ON cab.a = t.a AND cab.b = t.b
      LEFT JOIN ca ON ca.a = t.a
      CROSS JOIN v
      WHERE t.is_test = 1
    )
    SELECT a AS prev_type,
           CAST(count(*) AS BIGINT) AS n_test_transitions,
           CAST(sum(lp_micro) AS BIGINT) AS nll_micro_sum,
           CAST(floor(CAST(sum(lp_micro) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean_nll_micro
    FROM scored GROUP BY a
    """,
)
def event_markov_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV NLL on a held-out temporal split — the
    sequence-model baseline the behavioral queries imply but never
    evaluate: `event_transition_matrix` DESCRIBES the dynamics; this
    scores how well the first-half-trained transition model PREDICTS the
    second half (per previous-state mean NLL, add-one smoothing over the
    full event-type vocabulary so unseen transitions stay finite; a state
    whose held-out NLL towers over the rest is where the process is
    non-stationary — the drift signal a monitoring stack wants per state,
    not globally). The split is the `split_temporal_leakage` 50%-of-span
    rule (a transition belongs to the side of its TARGET event, so train
    never peeks across the cut). The per-transition log is micro-rounded
    BEFORE the sums (the `text_unigram_nll` recipe — aggregates are pure
    integer addition, order-independent across engines/partitionings).
    Scale shape: ONE user-keyed window builds transitions (same exchange
    the sessionization family uses), two (a[,b])-keyed map-side-combined
    train counts (≤ |types|² rows — they broadcast), a 1-row span and a
    1-row vocabulary broadcast, a ≤ |types|-row rollup."""
    ev = load_table(spark, "events", sf_dir)
    span = ev.agg(
        F.min("ts").alias("lo"),
        F.expr(
            "CAST(timestampdiff(MICROSECOND, min(ts), max(ts)) AS BIGINT)"
        ).alias("w"),
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w_seq).alias("b"),
        F.lead("ts").over(w_seq).alias("b_ts"),
    ).filter(F.col("b").isNotNull())
    trans = seq.crossJoin(F.broadcast(span)).select(
        "a",
        "b",
        F.expr(
            "CASE WHEN CAST(timestampdiff(MICROSECOND, lo, b_ts) AS BIGINT)"
            " >= w * 50 div 100 THEN 1 ELSE 0 END"
        ).alias("is_test"),
    )
    v = ev.agg(F.countDistinct("event_type").cast("long").alias("v"))
    cab = (
        trans.filter("is_test = 0")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    ca = cab.groupBy("a").agg(F.sum("c_ab").cast("long").alias("c_a"))
    scored = (
        trans.filter("is_test = 1")
        .join(F.broadcast(cab), ["a", "b"], "left")
        .join(F.broadcast(ca), "a", "left")
        .crossJoin(F.broadcast(v))
        .select(
            "a",
            F.floor(
                F.log(
                    (F.coalesce("c_a", F.lit(0)) + F.col("v")).cast("double")
                    / (F.coalesce("c_ab", F.lit(0)) + 1)
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return scored.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_transitions"),
        F.sum("lp_micro").cast("long").alias("nll_micro_sum"),
    ).select(
        F.col("a").alias("prev_type"),
        "n_test_transitions",
        "nll_micro_sum",
        F.floor(
            F.col("nll_micro_sum").cast("double") / F.col("n_test_transitions")
        )
        .cast("long")
        .alias("mean_nll_micro"),
    )
