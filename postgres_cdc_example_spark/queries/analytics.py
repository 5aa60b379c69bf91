"""Analytic queries — the Spark join/agg/window family the engine exposes
"for free" beyond the reference's surface (SURVEY.md §2.3 note), plus the
event-time window batch analogs (§2.7 extension surface).

These are also the bench workload: heavy scans, multi-way joins with
broadcast dims, and wide aggregations at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_cdc_example_spark.queries import register
from postgres_cdc_example_spark.sources.tables import load_table


# --- TPC-H Q1-shaped pricing summary (scan + wide agg) -------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: predicate pushed to the parquet scan, partial
    (map-side) aggregation before one shuffle on the 2-column group key."""
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- TPC-H Q3-shaped top revenue orders (3-way join + topN) ---------------------
@register(
    "q3_top_orders",
    oracle="""
    SELECT o_orderkey, revenue, strftime(o_orderdate, '%Y-%m-%d') AS order_day
    FROM (
        SELECT l.l_orderkey AS o_orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               o.o_orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY l.l_orderkey, o.o_orderdate
    )
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority style: selective dim filter first, broadcast the
    filtered customer side, aggregate revenue, global top-10."""
    c = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    l = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = l.join(
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
            "o_orderkey", "o_orderdate"
        ),
        l["l_orderkey"] == F.col("o_orderkey"),
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        )
    )


# --- TPC-H Q5-shaped per-nation revenue (snowflake join, broadcast dims) --------
@register(
    "nation_revenue",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join: fact `lineitem` shuffles only on the orders join;
    customer→nation→region are broadcast (each far under the 64 MB
    threshold at any SF where they're dims)."""
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
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --- window function: top-N per group -------------------------------------------
@register(
    "top_orders_per_customer",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rn AS rank
    FROM (
        SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (SURVEY.md §2.5: windows enter via the extension
    surface) — one shuffle on the partition key, no global sort."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        load_table(spark, "orders", sf_dir)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            "rank",
        )
    )


# --- event-time tumbling window (batch analog of the streaming agg) -------------
@register(
    "event_time_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY date_trunc('hour', ts)
    """,
)
def event_time_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window over the stream table — the batch
    analog of `groupBy(window("ts", "1 hour"))` with a watermark
    (streaming flavor: streaming/stateful.py::windowed_counts)."""
    return (
        load_table(spark, "events", sf_dir)
        .groupBy(F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --- TPC-H Q18-shaped: agg subquery feeding a join (decorrelation class) --------
@register(
    "high_volume_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS total_price,
           round(s.sum_qty, 2) AS sum_qty
    FROM orders o
    JOIN (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    ) s ON s.l_orderkey = o.o_orderkey
    """,
)
def high_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-quantity orders: the HAVING-subquery→join shape. The aggregate
    runs FIRST (shrinking lineitem to one row per order before the join), so
    the join input is orders-sized, not lineitem-sized — the order of
    operations that matters at 100 TB."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return o.join(big, o["o_orderkey"] == big["l_orderkey"]).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.round("sum_qty", 2).alias("sum_qty"),
    )


# --- NOT EXISTS (anti-join) -----------------------------------------------------
@register(
    "customers_without_urgent_orders",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS decorrelated to a left-anti hash join (the same rewrite
    Catalyst applies to the SQL form). The correlated predicate is pushed
    into the orders scan before the anti-join. (Every customer has *some*
    order in the fixtures, so the subquery is restricted to urgent orders
    to keep the check non-vacuous: ~13% of customers qualify.)"""
    c = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    o = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")


# --- IN-subquery (semi-join) ----------------------------------------------------
@register(
    "suppliers_of_big_parts",
    oracle="""
    SELECT s_suppkey, s_name, n_nationkey
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
        SELECT l_suppkey FROM lineitem WHERE l_quantity >= 49
    )
    """,
)
def suppliers_of_big_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery decorrelated to a left-semi join; the quantity filter is
    pushed to the lineitem scan before the semi-join shrinks it to distinct
    supplier keys."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        F.col("l_quantity") >= 49
    ).select("l_suppkey")
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey")
    return (
        s.join(li, s["s_suppkey"] == li["l_suppkey"], "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_nationkey")
    )
