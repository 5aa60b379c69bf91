"""Event-time windowing family over the ``events`` stream table (batch
analogs of the Structured Streaming operators; SURVEY.md §2.7 notes the
reference has NO event-time processing — these are extension surface).

Three shapes beyond the tumbling window in ``analytics.py``:

- **sliding windows** (1 h window / 30 min slide): each event lands in two
  buckets; Spark's ``F.window`` emits both, the oracle unnests the two
  covering window starts explicitly.
- **sessionization** (gaps-and-islands): 6-hour-gap sessions built from
  ``lag`` + running sum — the portable formulation every SQL engine can run.
- **native session windows**: Spark's ``F.session_window`` operator, checked
  against the islands-derived oracle (window_end = last event + gap).

All are pure window/agg plans: one shuffle on the grouping key, map-side
partial aggregation, no UDFs. Interval arithmetic (never epoch casts) keeps
sub-second timestamp semantics identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postgres_cdc_example_spark.queries import register
from postgres_cdc_example_spark.sources.tables import load_table
from postgres_cdc_example_spark.streaming.curation import PLAN_PACK_TOKENS as PIPE_PACK_TOKENS
from postgres_cdc_example_spark.streaming.curation import QUALITY_GATE as PIPE_QUALITY_GATE

SESSION_GAP = "6 hours"
_GAP_SQL = "INTERVAL 6 HOUR"


@register(
    "event_time_sliding",
    oracle="""
    WITH b AS (
      SELECT date_trunc('hour', ts)
               + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END AS bucket,
             value
      FROM events
    ),
    ex AS (
      SELECT unnest([bucket, bucket - INTERVAL 30 MINUTE]) AS window_start, value
      FROM b
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM ex GROUP BY window_start
    """,
)
def event_time_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide: ``F.window`` duplicates each
    event into its two covering buckets before one grouped aggregation."""
    ev = load_table(spark, "events", sf_dir)
    w = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


_ISLANDS_SQL = f"""
    WITH ordered AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN prev_ts IS NULL OR ts > prev_ts + {_GAP_SQL} THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    numbered AS (
      SELECT user_id, ts, value,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged
    )
"""


@register(
    "event_sessionization",
    oracle=_ISLANDS_SQL
    + """
    SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour-gap sessions via gaps-and-islands (lag + running sum): the
    portable sessionization every engine can express; also the oracle for
    the streaming ``applyInPandasWithState`` sessionizer
    (streaming/stateful.py)."""
    ev = load_table(spark, "events", sf_dir)
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_new = F.when(
        F.lag("ts").over(order).isNull()
        | (F.col("ts") > F.lag("ts").over(order) + F.expr(_GAP_SQL)),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_seq", F.sum("is_new").over(running))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@register(
    "event_session_window",
    oracle=_ISLANDS_SQL
    + f"""
    SELECT user_id, min(ts) AS window_start, max(ts) + {_GAP_SQL} AS window_end,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def event_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` operator (merging session state
    inside the aggregation — the streaming-capable form), verified against
    the islands-derived oracle: window_end = last event + gap."""
    return session_windows(load_table(spark, "events", sf_dir), SESSION_GAP)


def session_windows(ev: DataFrame, gap: str) -> DataFrame:
    """Per-user session windows with their event count and value total, on
    a batch frame or a watermarked stream
    (``streaming/stateful.py::session_window_stream``)."""
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


# --- semi-structured JSON column (F11 extension over the stream table) ----------
@register(
    "events_json_props",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
           count(*) AS n_events, round(sum(value), 4) AS total_value
    FROM events GROUP BY 1
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload handling: extract a typed field from the JSON
    ``props`` column (JVM-side ``get_json_object`` — pushdown-friendly, no
    Python) and aggregate on it; the declared-schema ``from_json`` variant
    is the same plan with a struct projection (sources/changelog.py)."""
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy(k.alias("k")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@register(
    "events_variant_props",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(DISTINCT CAST(json_extract(props, '$.k') AS BIGINT)) AS n_distinct_k
    FROM events
    GROUP BY event_type
    """,
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured via Spark 4 VariantType: ``parse_json`` → binary
    variant (parsed ONCE, byte-addressable) → typed ``variant_get`` paths.
    Against repeated ``get_json_object`` calls this is the difference
    between one parse and N re-parses per row — the semi-structured scan
    cost model at 100 TB (and the shredding-friendly storage format). The
    oracle extracts the same paths with DuckDB's JSON functions."""
    ev = load_table(spark, "events", sf_dir)
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.countDistinct(k).alias("n_distinct_k"),
    )


GAPFILL_USERS = 10  # deterministic subset: user_id <= 10 exists at every SF


@register(
    "event_hourly_gapfill",
    oracle=f"""
    WITH b AS (
      SELECT user_id, date_trunc('hour', ts) AS hr,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE user_id <= {GAPFILL_USERS}
    ),
    agg AS (
      SELECT user_id, hr, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM b GROUP BY user_id, hr
    ),
    span AS (SELECT user_id, min(hr) AS mn, max(hr) AS mx FROM agg GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
      FROM span
    )
    SELECT g.user_id, g.hr AS hour_ts,
           COALESCE(a.n, 0) AS n_events,
           COALESCE(a.sum_cents, 0) AS sum_cents,
           CASE WHEN a.user_id IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.hr = a.hr
    """,
)
def event_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill (the Timescale
    ``time_bucket_gapfill`` shape): each user's hourly event counts with
    every silent hour in their active span materialized as an explicit
    zero row — the dense layout forecasting / anomaly models train on, and
    the reporting dense-grid pattern (``region_priority_grid``) applied to
    TIME. Per user: one aggregate shuffle, a per-user hour grid from
    ``sequence()`` (explode bounded by span length — never a global
    calendar cross join), and a left join back on (user, hour). Counts and
    integer cents only, so the fill is exact. The deterministic user subset
    keeps the grid result-comparable at every SF."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") <= GAPFILL_USERS)
    b = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    agg = b.groupBy("user_id", "hr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").cast("long").alias("sum_cents")
    )
    span = agg.groupBy("user_id").agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hr"),
    )
    a = agg.withColumnRenamed("user_id", "a_user")
    return (
        grid.join(
            a, (grid["user_id"] == a["a_user"]) & (grid["hr"] == a["hr"]), "left"
        )
        .select(
            grid["user_id"],
            grid["hr"].alias("hour_ts"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("sum_cents"), F.lit(0)).alias("sum_cents"),
            F.when(F.col("a_user").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# behavioral analytics: funnel + retention cohorts
# ---------------------------------------------------------------------------


@register(
    "funnel_conversion",
    oracle="""
    WITH su AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    cl AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN su ON e.user_id = su.user_id AND e.ts > su.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    pu AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN cl ON e.user_id = cl.user_id AND e.ts > cl.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 1 AS step_idx, 'signup' AS step, (SELECT count(*) FROM su) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT count(*) FROM cl)
    UNION ALL
    SELECT 3, 'purchase', (SELECT count(*) FROM pu)
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → later click → later purchase): each stage
    keeps users whose FIRST qualifying event strictly follows their entry
    into the previous stage — the product-analytics conversion query. Each
    stage is one filtered min-aggregate plus an equi-join on user_id to the
    (shrinking) previous stage; at scale the stage tables are tiny fractions
    of the event log and AQE broadcasts them into the next stage's join, so
    the log is scanned once per stage with no self-join blowup."""
    ev = load_table(spark, "events", sf_dir)
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    cl = (
        ev.filter(F.col("event_type") == "click")
        .join(su, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cl, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(idx: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(idx).alias("step_idx"), F.lit(name).alias("step"), "n_users"
        )

    return (
        stage(1, "signup", su)
        .unionByName(stage(2, "click", cl))
        .unionByName(stage(3, "purchase", pu))
    )


@register(
    "retention_cohorts",
    oracle="""
    WITH firstday AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort_day, CAST(e.ts AS DATE) AS d
      FROM events e JOIN firstday f ON e.user_id = f.user_id
    )
    SELECT cohort_day, CAST(datediff('day', cohort_day, d) AS BIGINT) AS day_offset,
           count(*) AS n_users
    FROM active GROUP BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted
    on each subsequent active day offset — the activation/retention view
    every growth dashboard starts from. Two user_id-keyed aggregates and
    one join; the distinct collapses per-(user, day) duplicates BEFORE the
    final count so a chatty user never inflates a cell. All date-grid
    arithmetic, no calendar cross join — cells exist only where activity
    exists (the gap-fill variant is ``event_hourly_gapfill``'s job)."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.to_date("ts").alias("d")
    )
    firstday = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    active = ev.join(firstday, "user_id").select("user_id", "cohort_day", "d").distinct()
    return (
        active.groupBy(
            "cohort_day", F.datediff("d", "cohort_day").cast("long").alias("day_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select("cohort_day", "day_offset", "n_users")
    )


@register(
    "event_rate_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, hour, c,
             count(*) OVER w AS n_prev,
             CAST(sum(c) OVER w AS BIGINT) AS sum_c,
             CAST(sum(c * c) OVER w AS BIGINT) AS sum_c2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ),
    z AS (
      SELECT event_type, hour, c, sum_c,
             24 * sum_c2 - sum_c * sum_c AS var_num
      FROM t WHERE n_prev = 24
    )
    SELECT event_type, hour, CAST(c AS BIGINT) AS n_events,
           CAST(sum_c * 1000000 // 24 AS BIGINT) AS trailing_mean_micro,
           CASE WHEN var_num > 0
                THEN CAST(floor((24 * c - sum_c) * 1000000.0 / sqrt(CAST(var_num AS DOUBLE))) AS BIGINT)
                END AS z_micro,
           CASE WHEN var_num > 0
                THEN abs(CAST(floor((24 * c - sum_c) * 1000000.0 / sqrt(CAST(var_num AS DOUBLE))) AS BIGINT)) >= 3000000
                ELSE FALSE END AS is_anomaly
    FROM z
    """,
)
def event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: per (event_type, hour), the z-score of
    the hour's event count against its trailing 24 OBSERVED hours (rows
    frame, so calendar gaps don't shrink the baseline — compose with
    ``event_hourly_gapfill`` first for strict calendar windows). The
    variance is computed in EXACT integer arithmetic over the frame
    (``24·Σc² − (Σc)²``), so the only float ops are one sqrt and one
    division — identical IEEE steps in both engines — and the z lands on
    the micro-grid deterministically; a flat window (zero variance) yields
    NULL z rather than a NaN comparison. |z| ≥ 3 flags the hour. Shape:
    one keyed aggregate + one event_type-keyed window — the monitoring
    query that tails every ingest pipeline."""
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    t = hourly.select(
        "event_type",
        "hour",
        "c",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum("c").over(w).cast("long").alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).over(w).cast("long").alias("sum_c2"),
    ).filter(F.col("n_prev") == 24)
    var_num = (F.lit(24) * F.col("sum_c2") - F.col("sum_c") * F.col("sum_c")).alias(
        "var_num"
    )
    z = t.select("event_type", "hour", "c", "sum_c", var_num)
    z_micro = F.floor(
        (F.lit(24) * F.col("c") - F.col("sum_c"))
        * F.lit(1_000_000.0)
        / F.sqrt(F.col("var_num").cast("double"))
    ).cast("long")
    return z.select(
        "event_type",
        "hour",
        F.col("c").cast("long").alias("n_events"),
        F.expr("sum_c * 1000000 div 24").alias("trailing_mean_micro"),
        F.when(F.col("var_num") > 0, z_micro).alias("z_micro"),
        F.when(F.col("var_num") > 0, F.abs(z_micro) >= 3_000_000)
        .otherwise(F.lit(False))
        .alias("is_anomaly"),
    )


PATH_N = 3  # path length (event-type trigrams)
PATH_TOP = 10  # report the top-10 paths


@register(
    "user_path_trigrams",
    oracle=f"""
    WITH seqs AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    ),
    tri AS (
      SELECT unnest(list_transform(generate_series(1, len(s) - {PATH_N - 1}),
               i -> concat_ws('>', s[i], s[i+1], s[i+2]))) AS path
      FROM seqs WHERE len(s) >= {PATH_N}
    ),
    cnt AS (SELECT path, count(*) AS n FROM tri GROUP BY path)
    SELECT path, n, rnk AS rank FROM (
      SELECT path, CAST(n AS BIGINT) AS n,
             row_number() OVER (ORDER BY n DESC, path) AS rnk
      FROM cnt
    ) WHERE rnk <= {PATH_TOP}
    """,
)
def user_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the top-{PATH_TOP} most common {PATH_N}-step
    event-type paths across user journeys — the 'what do users do next'
    table behind funnel design. Per-user sequences assemble exactly as
    ``user_event_sequences`` does (array_sort over (ts, event_id, type)
    structs AFTER the aggregate — collect_list order is nondeterministic
    under parallel merge); trigrams come off the array as a per-row slice
    projection; one map-side-combined count on the path key; the global
    top-{PATH_TOP} is TakeOrdered over the (tiny) distinct-path table with
    an alphabetical tie-break so the ranking is total."""
    ev = load_table(spark, "events", sf_dir)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq_struct = F.struct(
        ts_us.alias("us"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    seqs = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(seq_struct)).alias("seq"))
        .select(F.expr("transform(seq, x -> x.et)").alias("s"))
        .filter(F.size("s") >= PATH_N)
    )
    tri = seqs.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, size(s) - {PATH_N}),"
                " i -> concat_ws('>', s[i], s[i+1], s[i+2]))"
            )
        ).alias("path")
    )
    cnt = tri.groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n"))
    top = cnt.orderBy(F.col("n").desc(), "path").limit(PATH_TOP)
    w = Window.orderBy(F.col("n").desc(), "path")
    return top.withColumn("rank", F.row_number().over(w)).select("path", "n", "rank")


PR_STEPS = 3  # unrolled PageRank iterations (the shared loop skeleton)
PR_DAMP_MICRO = 850_000  # damping d = 0.85 on the micro grid


def _pagerank_oracle() -> str:
    """Unrolled PageRank on the event-type transition graph: per-EDGE
    contributions are floored individually ((d * r * c) // (1e6 * out)),
    so the sum is exact integer math in any order; dangling mass is
    dropped (the documented simplified variant) and every node re-seeds
    with the floored (1-d)/n base."""
    ctes = [
        """seqs AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    )""",
        """ed AS (
      SELECT unnest(list_transform(generate_series(1, len(s) - 1),
               i -> {'f': s[i], 't': s[i+1]})) AS e
      FROM seqs WHERE len(s) >= 2
    )""",
        "edges AS (SELECT e.f AS ef, e.t AS et, count(*) AS c FROM ed GROUP BY 1, 2)",
        "outd AS (SELECT ef, CAST(sum(c) AS BIGINT) AS co FROM edges GROUP BY ef)",
        "nodes AS (SELECT DISTINCT event_type AS node FROM events)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        f"""r0 AS (
      SELECT node, CAST(1000000 AS HUGEINT) // n AS r FROM nodes CROSS JOIN nn
    )""",
    ]
    for k in range(1, PR_STEPS + 1):
        ctes.append(
            f"""c{k} AS (
      SELECT e.et AS node,
             sum((CAST({PR_DAMP_MICRO} AS HUGEINT) * r.r * e.c)
                 // (CAST(1000000 AS HUGEINT) * o.co)) AS contrib
      FROM edges e JOIN r{k - 1} r ON r.node = e.ef
                   JOIN outd o ON o.ef = e.ef
      GROUP BY 1
    )"""
        )
        ctes.append(
            f"""r{k} AS (
      SELECT nodes.node,
             ({1_000_000 - PR_DAMP_MICRO} // n) + COALESCE(c.contrib, 0) AS r
      FROM nodes CROSS JOIN nn LEFT JOIN c{k} c ON c.node = nodes.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT r{PR_STEPS}.node AS event_type,
           CAST(COALESCE(o.co, 0) AS BIGINT) AS out_transitions,
           CAST(r{PR_STEPS}.r AS BIGINT) AS rank_micro
    FROM r{PR_STEPS} LEFT JOIN outd o ON o.ef = r{PR_STEPS}.node"""
    )


@register("event_type_pagerank", oracle=_pagerank_oracle())
def event_type_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type TRANSITION graph ({PR_STEPS} unrolled
    iterations, d = 0.85) — the graph-centrality answer to 'which state do
    user journeys orbit', and the loop skeleton (iterate / broadcast /
    aggregate) shared with k-means, BPE and GD applied to a GRAPH. Scale
    split: the big data is the EDGE table (consecutive-event pairs off the
    same array_sort sequence assembly as ``user_path_trigrams`` — one
    user-keyed shuffle, then one map-side-combined count per (from, to));
    the rank vector is bounded by the event-type vocabulary and broadcasts
    into each step's single edge-keyed join+aggregate. Exactness: each
    EDGE's contribution floors individually ((d * r * c) div (1e6 * out)
    in DECIMAL/HUGEINT), so the per-node sum is order-independent integer
    math; dangling-node mass is dropped (documented simplified variant)
    and the floored (1-d)/n base re-seeds every node each step."""
    ev = load_table(spark, "events", sf_dir)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq_struct = F.struct(
        ts_us.alias("us"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    seqs = (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(seq_struct)).alias("seq"))
        .select(F.expr("transform(seq, x -> x.et)").alias("s"))
        .filter(F.size("s") >= 2)
    )
    edges = (
        seqs.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(s) - 2),"
                    " i -> struct(s[i] AS ef, s[i+1] AS et))"
                )
            ).alias("e")
        )
        .groupBy(F.col("e.ef").alias("ef"), F.col("e.et").alias("et"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    outd = edges.groupBy("ef").agg(F.sum("c").cast("long").alias("co"))
    ewo = edges.join(outd, "ef").localCheckpoint(eager=False)
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr("CAST(1000000 AS DECIMAL(38,0)) div n").alias("r")
    )
    base = F.expr(f"{1_000_000 - PR_DAMP_MICRO} div n")
    for _ in range(PR_STEPS):
        contrib = (
            ewo.join(F.broadcast(r.withColumnRenamed("node", "ef")), "ef")
            .groupBy(F.col("et").alias("node"))
            .agg(
                F.sum(
                    F.expr(
                        f"(CAST({PR_DAMP_MICRO} AS DECIMAL(38,0)) * r * c)"
                        " div (CAST(1000000 AS DECIMAL(38,0)) * co)"
                    )
                ).alias("contrib")
            )
        )
        # no per-iteration checkpoint (r12): the rank vector is bounded
        # and referenced ONCE per following iteration, so the unrolled
        # plan grows linearly, not exponentially — while each lazy
        # localCheckpoint paid full physical planning synchronously at
        # call time (~0.3 s × {PR_STEPS} of the query's build). The edge
        # table keeps its checkpoint: it feeds every iteration.
        r = (
            nodes.crossJoin(F.broadcast(nn))
            .join(contrib, "node", "left")
            .select(
                "node",
                (base + F.coalesce(F.col("contrib"), F.lit(0))).alias("r"),
            )
        )
    return (
        r.join(outd.withColumnRenamed("ef", "node"), "node", "left")
        .select(
            F.col("node").alias("event_type"),
            F.coalesce("co", F.lit(0)).cast("long").alias("out_transitions"),
            F.col("r").cast("long").alias("rank_micro"),
        )
    )


event_type_pagerank.__doc__ = event_type_pagerank.__doc__.format(PR_STEPS=PR_STEPS)


ATTR_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000  # 7-day attribution window
ATTR_TOUCH_TYPES = ("view", "click", "signup")


def _attribution_oracle() -> str:
    touches = ", ".join(f"'{t}'" for t in ATTR_TOUCH_TYPES)
    return f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS val_micro
      FROM events
    ),
    nx AS (
      SELECT user_id, event_id, event_type, us,
             first_value(CASE WHEN event_type = 'purchase' THEN
                 struct_pack(pid := event_id, pus := us, pc := val_micro)
               END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
      FROM e
    ),
    t AS (
      SELECT event_type, np.pid AS pid, np.pc AS credit,
             row_number() OVER (PARTITION BY np.pid
                                ORDER BY us, event_id) AS i,
             count(*) OVER (PARTITION BY np.pid) AS n
      FROM nx
      WHERE event_type IN ({touches}) AND np IS NOT NULL
            AND us >= np.pus - {ATTR_LOOKBACK_US}
    )
    SELECT event_type AS channel,
           count(*) AS n_touches,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_conversions,
           CAST(sum((i * credit) // n - ((i - 1) * credit) // n) AS BIGINT)
             AS linear_micro,
           CAST(sum(CASE WHEN i = 1 THEN credit ELSE 0 END) AS BIGINT)
             AS first_touch_micro,
           CAST(sum(CASE WHEN i = n THEN credit ELSE 0 END) AS BIGINT)
             AS last_touch_micro
    FROM t GROUP BY event_type"""


@register("attribution_multitouch", oracle=_attribution_oracle())
def attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution — per channel, conversion credit
    under the three standard models (linear, first-touch, last-touch) in
    one pass. Each touch (view/click/signup) credits the user's NEXT
    purchase (an as-of-forward window: first following purchase in
    (ts, event_id) order — journeys never overlap by construction) if it
    falls inside the 7-day lookback. The linear split is EXACT integer
    micro: touch i of n gets floor(i*c/n) - floor((i-1)*c/n), which
    telescopes to exactly c per conversion regardless of n — no float
    shares, no lost remainder cents. Scale shape: two keyed shuffles
    (per-user ordered window with O(1) carried state, then a per-purchase
    window whose group size is bounded by one user's touches in 7 days);
    channel totals combine map-side. The same next-purchase state is a
    2-long register in the streaming adaption."""
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("val_micro"),
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nx = e.withColumn(
        "np",
        F.first(
            F.when(
                F.col("event_type") == "purchase",
                F.struct(
                    F.col("event_id").alias("pid"),
                    F.col("us").alias("pus"),
                    F.col("val_micro").alias("pc"),
                ),
            ),
            ignorenulls=True,
        ).over(wn),
    )
    t = nx.filter(
        F.col("event_type").isin(*ATTR_TOUCH_TYPES)
        & F.col("np").isNotNull()
        & (F.col("us") >= F.col("np.pus") - ATTR_LOOKBACK_US)
    )
    wp = Window.partitionBy(F.col("np.pid")).orderBy("us", "event_id")
    wc = Window.partitionBy(F.col("np.pid"))
    t2 = t.select(
        "event_type",
        F.col("np.pid").alias("pid"),
        F.col("np.pc").alias("credit"),
        F.row_number().over(wp).alias("i"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return (
        t2.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("pid").cast("long").alias("n_conversions"),
            F.sum(
                F.expr("(i * credit) div n - ((i - 1) * credit) div n")
            )
            .cast("long")
            .alias("linear_micro"),
            F.sum(F.when(F.col("i") == 1, F.col("credit")).otherwise(0))
            .cast("long")
            .alias("first_touch_micro"),
            F.sum(
                F.when(F.col("i") == F.col("n"), F.col("credit")).otherwise(0)
            )
            .cast("long")
            .alias("last_touch_micro"),
        )
    )


# ---------------------------------------------------------------------------
# ordered funnel analysis (view -> click -> purchase)
# ---------------------------------------------------------------------------


def funnel_user_stages(ev: DataFrame) -> DataFrame:
    """(user_id, t1, t2, t3): each user's first view, first click strictly
    after it, first purchase strictly after that — the per-user funnel
    state. Three chained window aggregates over ONE user_id partitioning
    (Catalyst stacks the Window nodes on a single Exchange). Shared by the
    batch ``event_funnel`` aggregate and the streaming funnel twin's
    agreement test (streaming/stateful.py)."""
    w = Window.partitionBy("user_id")
    t1 = ev.select("user_id", "ts", "event_type").withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    t2 = t1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    t3 = t2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    return t3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )


@register(
    "event_funnel",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id
    ),
    c AS (
      SELECT (SELECT count(*) FROM u) AS n0, (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2, (SELECT count(*) FROM s3) AS n3
    )
    SELECT t.step, t.step_type, t.n AS n_users,
           t.n * 1000000 // greatest(t.prev, 1) AS conv_micro
    FROM c, unnest([
      struct_pack(step := CAST(1 AS BIGINT), step_type := 'view',
                  n := c.n1, prev := c.n0),
      struct_pack(step := CAST(2 AS BIGINT), step_type := 'click',
                  n := c.n2, prev := c.n1),
      struct_pack(step := CAST(3 AS BIGINT), step_type := 'purchase',
                  n := c.n3, prev := c.n2)]) AS un(t)
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users reaching view -> click-AFTER-view ->
    purchase-after-that, with per-step conversion in integer micro — the
    product-analytics staple. The ORDER requirement (each step strictly
    after the previous one's FIRST completion) is what separates a funnel
    from three filtered counts, and it runs in ONE user-keyed shuffle:
    three chained per-user window aggregates over the SAME partitioning
    (min view ts, then min click ts past it, then min purchase ts past
    that) — Catalyst stacks the Window nodes on a single Exchange, where
    the naive formulation is three grouped self-joins re-shuffling the
    fact table each step. One bounded 1-row aggregate closes the counts;
    the oracle IS the naive three-join formulation, so the driver hash
    proves the window chain equals the relational spec."""
    ev = load_table(spark, "events", sf_dir)
    per_user = funnel_user_stages(ev)
    c = per_user.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    steps = c.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("step"),
                    F.lit("view").alias("step_type"),
                    F.col("n1").alias("n"),
                    F.col("n0").alias("prev"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("step"),
                    F.lit("click").alias("step_type"),
                    F.col("n2").alias("n"),
                    F.col("n1").alias("prev"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("step"),
                    F.lit("purchase").alias("step_type"),
                    F.col("n3").alias("n"),
                    F.col("n2").alias("prev"),
                ),
            )
        ).alias("t")
    )
    return steps.select(
        "t.step",
        "t.step_type",
        F.col("t.n").cast("long").alias("n_users"),
        F.expr("t.n * 1000000 div greatest(t.prev, 1L)").alias("conv_micro"),
    )


# ---------------------------------------------------------------------------
# mergeable quantile-histogram rollup (bounded-error daily percentiles)
# ---------------------------------------------------------------------------

QHR_BUCKET_MILLI = 10_000  # histogram bucket width (10 value units, milli grid)


@register(
    "quantile_histogram_rollup",
    oracle=f"""
    WITH e AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, strftime(ts, '%H') AS hour,
             CAST(floor(value * 1000 + 0.5) AS BIGINT) AS milli, event_id
      FROM events
    ),
    hourly AS (
      SELECT day, hour, milli // {QHR_BUCKET_MILLI} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM e GROUP BY 1, 2, 3
    ),
    daily AS (
      SELECT day, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM hourly GROUP BY day, bucket
    ),
    nd AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS n,
                  (50 * sum(cnt) + 99) // 100 AS k50,
                  (90 * sum(cnt) + 99) // 100 AS k90
           FROM daily GROUP BY day),
    cum AS (
      SELECT d.day, d.bucket,
             sum(d.cnt) OVER (PARTITION BY d.day ORDER BY d.bucket) AS cum
      FROM daily d
    ),
    est AS (
      SELECT c.day,
             min(CASE WHEN c.cum >= nd.k50 THEN c.bucket END)
               * {QHR_BUCKET_MILLI} AS p50_est_milli,
             min(CASE WHEN c.cum >= nd.k90 THEN c.bucket END)
               * {QHR_BUCKET_MILLI} AS p90_est_milli
      FROM cum c JOIN nd ON nd.day = c.day
      GROUP BY c.day
    ),
    rk AS (
      SELECT day, milli,
             row_number() OVER (PARTITION BY day ORDER BY milli, event_id) AS rn
      FROM e
    ),
    ex AS (
      SELECT r.day,
             max(CASE WHEN r.rn = nd.k50 THEN r.milli END) AS p50_exact_milli,
             max(CASE WHEN r.rn = nd.k90 THEN r.milli END) AS p90_exact_milli
      FROM rk r JOIN nd ON nd.day = r.day
      GROUP BY r.day
    )
    SELECT nd.day, nd.n,
           est.p50_est_milli, ex.p50_exact_milli,
           CAST(CASE WHEN ex.p50_exact_milli - est.p50_est_milli >= 0
                      AND ex.p50_exact_milli - est.p50_est_milli
                          < {QHR_BUCKET_MILLI}
                THEN 1 ELSE 0 END AS BIGINT) AS p50_in_bucket,
           est.p90_est_milli, ex.p90_exact_milli,
           CAST(CASE WHEN ex.p90_exact_milli - est.p90_est_milli >= 0
                      AND ex.p90_exact_milli - est.p90_est_milli
                          < {QHR_BUCKET_MILLI}
                THEN 1 ELSE 0 END AS BIGINT) AS p90_in_bucket
    FROM nd JOIN est ON est.day = nd.day JOIN ex ON ex.day = nd.day
    """,
)
def quantile_histogram_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE rollup — the percentile sibling of
    ``hll_merge_rollup``: hourly fixed-width value histograms (the at-rest
    sketch a metrics pipeline keeps per shard) merge into daily ones by
    plain per-bucket ADDITION — the trivially-commutative merge that makes
    the structure roll up at any fan-in — and each day's p50/p90 read off
    the merged cumulative counts with error bounded BY CONSTRUCTION: the
    estimate is the target rank's bucket lower edge, so
    0 <= exact - est < bucket width, and the output PINS that obligation
    per day/percentile (p50_in_bucket / p90_in_bucket, all 1, alongside
    the exact rank values computed the expensive way). This is the
    bounded-domain discipline of ``order_value_quantiles_2pass`` turned
    into a persistent rollup structure: the histogram is sized by the
    VALUE DOMAIN (~50 buckets at width {W} milli), never the row count,
    so a 100 TB day still ships ~50 longs per (shard, hour) and the
    daily/weekly/monthly quantile is one bucketwise sum + one ~50-row
    cumulative walk — the exact side here exists because this is the
    audit of that contract. All integer end to end (milli grid before
    any aggregate; ceil via (q·n + 99) div 100)."""
    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "HH").alias("hour"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("milli"),
        "event_id",
    )
    hourly = (
        e.groupBy(
            "day", "hour", F.expr(f"milli div {QHR_BUCKET_MILLI}").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    daily = hourly.groupBy("day", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    nd = daily.groupBy("day").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.expr("(50 * sum(cnt) + 99) div 100").alias("k50"),
        F.expr("(90 * sum(cnt) + 99) div 100").alias("k90"),
    )
    wc = Window.partitionBy("day").orderBy("bucket")
    cum = daily.withColumn("cum", F.sum("cnt").over(wc))
    est = (
        cum.join(F.broadcast(nd), "day")
        .groupBy("day")
        .agg(
            (
                F.min(F.when(F.col("cum") >= F.col("k50"), F.col("bucket")))
                * QHR_BUCKET_MILLI
            ).alias("p50_est_milli"),
            (
                F.min(F.when(F.col("cum") >= F.col("k90"), F.col("bucket")))
                * QHR_BUCKET_MILLI
            ).alias("p90_est_milli"),
        )
    )
    wr = Window.partitionBy("day").orderBy("milli", "event_id")
    rk = e.withColumn("rn", F.row_number().over(wr))
    ex = (
        rk.join(F.broadcast(nd), "day")
        .groupBy("day")
        .agg(
            F.max(F.when(F.col("rn") == F.col("k50"), F.col("milli"))).alias(
                "p50_exact_milli"
            ),
            F.max(F.when(F.col("rn") == F.col("k90"), F.col("milli"))).alias(
                "p90_exact_milli"
            ),
        )
    )
    inb = lambda ex_c, es_c: (  # noqa: E731
        F.when(
            (F.col(ex_c) - F.col(es_c) >= 0)
            & (F.col(ex_c) - F.col(es_c) < QHR_BUCKET_MILLI),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        nd.join(est, "day")
        .join(ex, "day")
        .select(
            "day",
            "n",
            "p50_est_milli",
            "p50_exact_milli",
            inb("p50_exact_milli", "p50_est_milli").alias("p50_in_bucket"),
            "p90_est_milli",
            "p90_exact_milli",
            inb("p90_exact_milli", "p90_est_milli").alias("p90_in_bucket"),
        )
    )


quantile_histogram_rollup.__doc__ = quantile_histogram_rollup.__doc__.replace(
    "{W}", str(QHR_BUCKET_MILLI)
)


# ---------------------------------------------------------------------------
# mergeable bottom-k rank sample (quantiles on an UNBOUNDED value domain)
# ---------------------------------------------------------------------------

RANK_SKETCH_K = 512  # sample size: rank error ~ n/sqrt(k) w.h.p.
RANK_SKETCH_QS = (50, 90)


def _rank_sketch_merged(spark: SparkSession, sf_dir: str):
    """(base, merged): the hashed corpus projection and the K-row merged
    bottom-k sample — factored out so the plan test can pin the merge
    shape (the query itself materializes ``merged`` eagerly)."""
    K = RANK_SKETCH_K
    ev = load_table(spark, "events", sf_dir)
    base = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long").alias("m"),
        "event_id",
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    wday = Window.partitionBy("day").orderBy("h", "event_id")
    partials = (
        base.withColumn("rn", F.row_number().over(wday))
        .filter(F.col("rn") <= K)
        .select("m", "h", "event_id")
    )
    # bottom-k of the union of per-day bottom-ks == bottom-k of the corpus
    # (idempotent monoid); orderBy+limit plans as a TakeOrdered, so the
    # merge never funnels more than n_days * K rows anywhere
    merged = partials.orderBy("h", "event_id").limit(K).select("m")
    return base, merged


@register(
    "rank_sketch_bottomk",
    oracle=f"""
    WITH e AS (
      SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS m, event_id,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events
    ),
    sk AS (
      SELECT m FROM (
        SELECT m, row_number() OVER (ORDER BY h, event_id) AS rn FROM e
      ) WHERE rn <= {RANK_SKETCH_K}
    ),
    sv AS (SELECT m, row_number() OVER (ORDER BY m) AS srn FROM sk),
    kn AS (SELECT CAST(count(*) AS BIGINT) AS k FROM sk),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
    t AS (SELECT unnest([{", ".join(str(q) for q in RANK_SKETCH_QS)}]) AS q),
    est AS (
      SELECT t.q, sv.m AS est_milli
      FROM t, kn, sv
      WHERE sv.srn = (t.q * kn.k + 99) // 100
    ),
    le AS (
      SELECT est.q, CAST(count(*) AS BIGINT) AS rank_le
      FROM est JOIN e ON e.m <= est.est_milli GROUP BY est.q
    )
    SELECT CAST(est.q AS BIGINT) AS quantile_pct, nn.n AS n_rows,
           kn.k AS k_sketch, est.est_milli,
           (est.q * nn.n + 99) // 100 AS target_rank, le.rank_le,
           abs(le.rank_le - (est.q * nn.n + 99) // 100) * 1000000 // nn.n
             AS rank_err_micro
    FROM est JOIN le USING (q), nn, kn
    """,
)
def rank_sketch_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable BOTTOM-K RANK SAMPLE — quantiles on an UNBOUNDED value
    domain, the case ``quantile_histogram_rollup`` cannot serve (its
    bucket grid needs a value domain bounded by construction; a production
    pipeline's long-tail metrics — bytes, latencies, token counts — have
    none). The compactor-family idea (KLL / Karnin-Lang-Liberty) realized
    with DETERMINISTIC selection instead of random compaction: hash every
    row by its unique event_id (md5-prefix 60-bit — a fixed pseudo-random
    permutation of the corpus), keep the {K} rows with the SMALLEST
    hashes. Bottom-k under a total order is a commutative, associative,
    IDEMPOTENT monoid — bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪
    bottom-k(B)) — so per-day partial sketches merge into exactly the
    sketch of the whole corpus, in any order, replay-safe: the mergeable-
    summaries contract, proven here by construction because the ENGINE
    computes per-day bottom-k then merges while the ORACLE bottom-ks the
    corpus directly, and the driver hash-compares the results. The kept
    rows are a uniform size-{K} sample without replacement, so the value
    at sample rank ceil(q·k/100) estimates the q-th percentile with rank
    error O(n/sqrt(k)) w.h.p. — and the query AUDITS that claim instead
    of asserting it: one corpus scan counts rank_le = |{{m <= est}}|
    exactly and reports |rank_le - target_rank| on the micro grid.

    Scale shape: the per-day partials are one shuffle keyed on day with
    a bounded {K}-row window per day (the same keyed-state footprint as
    the streaming twins); the merge is a {K}-row TakeOrdered, never a
    global sort; the two collected estimate values are bounded driver
    metadata (2 longs — centroid/bloom-bitmap class); the audit is ONE
    map-side-combined corpus aggregate over codegen comparisons. Nothing
    grows with the value domain — the property the histogram rollup
    lacks. Deterministic end to end: unique event_id ⇒ (h, event_id)
    total order has no ties; all arithmetic integer.

    At 100 TB: persist the per-day {K}-row partials (a few KB each) and
    answer any date-range quantile by merging the covered days — the same
    pre-aggregated serving shape as the HLL/KMV rollups."""
    base, merged = _rank_sketch_merged(spark, sf_dir)
    K = RANK_SKETCH_K
    vals = sorted(r.m for r in merged.collect())  # bounded: <= K longs
    k = len(vals)
    if k == 0:  # empty stream table: no ranks exist, return empty result
        z = F.lit(0).cast("long")
        return base.limit(0).select(
            z.alias("quantile_pct"),
            z.alias("n_rows"),
            z.alias("k_sketch"),
            z.alias("est_milli"),
            z.alias("target_rank"),
            z.alias("rank_le"),
            z.alias("rank_err_micro"),
        )
    ests = {q: int(vals[(q * k + 99) // 100 - 1]) for q in RANK_SKETCH_QS}
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.when(F.col("m") <= F.lit(ests[q]), 1).otherwise(0))
            .cast("long")
            .alias(f"le_{q}")
            for q in RANK_SKETCH_QS
        ],
    )
    targets = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast("long").alias("q"),
                        F.lit(ests[q]).cast("long").alias("est_milli"),
                    )
                    for q in RANK_SKETCH_QS
                ]
            )
        ).alias("t")
    ).select("t.q", "t.est_milli")
    le_col = F.when(F.col("q") == RANK_SKETCH_QS[0], F.col(f"le_{RANK_SKETCH_QS[0]}"))
    for q in RANK_SKETCH_QS[1:]:
        le_col = le_col.when(F.col("q") == q, F.col(f"le_{q}"))
    return (
        agg.crossJoin(F.broadcast(targets))
        .select(
            F.col("q").alias("quantile_pct"),
            F.col("n").alias("n_rows"),
            F.lit(k).cast("long").alias("k_sketch"),
            "est_milli",
            F.expr("(q * n + 99) div 100").alias("target_rank"),
            le_col.cast("long").alias("rank_le"),
        )
        .withColumn(
            "rank_err_micro",
            F.expr("abs(rank_le - target_rank) * 1000000 div n_rows"),
        )
    )


rank_sketch_bottomk.__doc__ = rank_sketch_bottomk.__doc__.replace(
    "{K}", str(RANK_SKETCH_K)
)


# ---------------------------------------------------------------------------
# late-arrival injection audit (the watermark-sensitivity what-if)
# ---------------------------------------------------------------------------

LATE_WM_US = 600 * 1_000_000  # the what-if watermark delay: 10 minutes
LATE_JITTER_US = 1800 * 1_000_000  # arrival displacement bound: 30 minutes


def _injected_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, late_us): per-event lateness under the deterministic
    bounded-jitter arrival injection — the shared core of
    ``late_arrival_injection_audit`` and ``watermark_sizing_advisor``.
    Two-pass distributed prefix max; see the audit's docstring."""
    ev = load_table(spark, "events", sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("a:"), F.col("event_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    day_us = 86_400 * 1_000_000
    arr = ev.select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        h.alias("h"),
    ).withColumn(
        "arr_us", F.expr(f"us + h % {LATE_JITTER_US}")
    ).withColumn("b", F.expr(f"arr_us div {day_us}"))
    win = (
        Window.partitionBy("b")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    inb = arr.withColumn("pmax_in", F.max("us").over(win))
    bmax = arr.groupBy("b").agg(F.max("us").alias("bm"))
    # exclusive prefix max over the day-maxima table — bounded by the day
    # domain (the HLL-grid class, never corpus-sized)
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bmax.withColumn("pmax_prior", F.max("bm").over(wb)).select(
        "b", "pmax_prior"
    )
    j = inb.join(F.broadcast(bpre), "b", "left")
    return j.select(
        "event_type",
        F.greatest(
            F.lit(0).cast("long"),
            F.greatest(
                F.coalesce(F.col("pmax_in"), F.lit(0)),
                F.coalesce(F.col("pmax_prior"), F.lit(0)),
            )
            - F.col("us"),
        ).alias("late_us"),
    )


def _injected_lateness_cte() -> str:
    """Oracle twin of :func:`_injected_lateness` as a CTE chain ending in
    ``l(event_type, late_us)`` — interpolated by both consumers so the
    injected-lateness definition stays single-sourced."""
    return f"""a AS (
      SELECT event_id, event_type, epoch_us(ts) AS us,
             epoch_us(ts)
               + ('0x' || substr(md5('a:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
                 % {LATE_JITTER_US} AS arr_us
      FROM events
    ),
    p AS (
      SELECT event_type, us,
             max(us) OVER (ORDER BY arr_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS hw
      FROM a
    ),
    l AS (SELECT event_type,
                 greatest(0, COALESCE(hw, 0) - us) AS late_us
          FROM p)"""


@register(
    "late_arrival_injection_audit",
    oracle=f"""
    WITH {_injected_lateness_cte()}
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS share_late_micro,
           CAST(sum(CASE WHEN late_us > {LATE_WM_US} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped_10min,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM l GROUP BY event_type
    """,
)
def late_arrival_injection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data WHAT-IF audit — the watermark-sensitivity number the
    streaming operators couldn't demonstrate on this fixture (its events
    arrive in perfect time order, so every lateness/watermark surface was
    vacuous — r6 verdict, What's missing #5). The injection pattern fixes
    it: a deterministic synthetic ARRIVAL time — event time plus a
    bounded pseudo-random displacement (md5('a:' || event_id) % 30 min),
    identical in both engines — models real network/partition reordering
    (a FULL random permutation was measured first and rejected: on a
    30-day fixture it saturates — ~100% late, 100% dropped — and says
    nothing). For each event the audit computes lateness against the
    running event-time high-watermark (max event time of previously
    ARRIVED events, exclusive). Per event_type: how many events arrive
    late at all, the late share, how many a 10-minute watermark would
    DROP under this reordering, and the worst lateness (bounded by ~2x
    the displacement bound BY CONSTRUCTION — a checkable sanity line) —
    the numbers that size a real pipeline's watermark delay against its
    observed reordering.

    Scale shape: a global prefix-max is inherently sequential, so the
    engine runs the TWO-PASS distributed form (the quality_curriculum
    rank pattern): arrival times range-bucket by UTC day (order-aligned
    across buckets, bounded by the day domain), pass 1 is a per-bucket
    running max under one keyed window, pass 2 broadcasts the day-maxima
    table's exclusive prefix maxima back — the corpus never crosses one
    reducer (the oracle states the spec as the single global window).
    Everything integer micros; greatest(0, ...) clamps and
    COALESCE(hw, 0) absorbs each stream-front row (epoch micros are
    positive, so hw=0 means 'nothing prior' and can never fabricate
    lateness)."""
    late = _injected_lateness(spark, sf_dir)
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.expr(
            "CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("share_late_micro"),
        F.sum(F.when(F.col("late_us") > LATE_WM_US, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_10min"),
        F.max("late_us").cast("long").alias("max_late_us"),
    )


# targets for the sizing advisor: allowed drop share on the micro grid
WM_TARGETS_MICRO = (10_000, 1_000, 100)  # 1%, 0.1%, 0.01%


@register(
    "watermark_sizing_advisor",
    oracle=f"""
    WITH {{lcte}},
    c AS (SELECT (late_us + 999999) // 1000000 AS csec FROM l),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
    hist AS (SELECT csec, CAST(count(*) AS BIGINT) AS cnt
             FROM c GROUP BY csec),
    cand AS (SELECT csec AS d FROM hist UNION SELECT 0 AS d),
    suf AS (
      SELECT cand.d,
             CAST(COALESCE(sum(h.cnt), 0) AS BIGINT) AS n_dropped
      FROM cand LEFT JOIN hist h ON h.csec > cand.d
      GROUP BY cand.d
    ),
    t AS (SELECT unnest([{", ".join(str(t) for t in WM_TARGETS_MICRO)}])
            AS target_micro),
    ok AS (
      SELECT t.target_micro, s.d, s.n_dropped,
             row_number() OVER (PARTITION BY t.target_micro
                                ORDER BY s.d) AS rn
      FROM t, n, suf s
      WHERE s.n_dropped * 1000000 <= CAST(t.target_micro AS BIGINT) * n.n
    )
    SELECT CAST(ok.target_micro AS BIGINT) AS target_micro,
           n.n AS n_events,
           ok.d AS delay_sec,
           ok.n_dropped,
           ok.n_dropped * 1000000 // n.n AS achieved_micro
    FROM ok, n WHERE ok.rn = 1
    """.format(lcte=_injected_lateness_cte()),
)
def watermark_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK SIZING — the decision the late-arrival audit's numbers
    exist to drive, closed into an operator: for each allowed drop share
    (1%, 0.1%, 0.01%), the MINIMAL watermark delay (whole seconds) that
    keeps the dropped-event share at or under it, given the injected
    reordering's lateness distribution. This is the knob a pipeline
    operator actually sets (`withWatermark("ts", "<delay>")`) — the audit
    says how bad reordering is, the advisor says what to configure.

    Exact integer logic, identical in both engines: lateness ceils onto
    the second grid ((late_us + 999999) div 1e6 — late_us > D·1e6 iff
    ceil-seconds > D, so the grid loses nothing), the lateness histogram
    is bounded by the injection's displacement bound BY CONSTRUCTION
    (< 2·30 min ⇒ ≤ ~3600 distinct cells — the value-domain-bounded
    histogram contract quantile_histogram_rollup documents), the
    suffix-count per candidate delay is a bounded hist×hist aggregate,
    and the per-target minimal delay is the first row of a bounded
    ranking. The cleared-denominator feasibility test
    (n_dropped·1e6 ≤ target·n) avoids division entirely. Scale shape: ONE
    corpus-sized pass (the shared two-pass lateness prefix max inherited
    from :func:`_injected_lateness`); everything after the ≤3600-row
    histogram is bounded work."""
    late = _injected_lateness(spark, sf_dir)
    c = late.select(F.expr("(late_us + 999999) div 1000000").alias("csec"))
    # r13 (guide §5): the bounded (≤ ~3600-row) lateness histogram feeds
    # THREE consumers (the event total, the candidate grid, the suffix
    # counts) — checkpoint it once so the corpus-sized two-pass lateness
    # pipeline runs once; the total is sum(cnt) OF the histogram (identical
    # integer), not a second corpus pass.
    hist = (
        c.groupBy("csec")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    n = hist.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n")
    )
    cand = hist.select(F.col("csec").alias("d")).union(
        hist.sparkSession.range(1).select(F.lit(0).cast("long").alias("d"))
    ).distinct()
    suf = (
        cand.join(hist, hist["csec"] > cand["d"], "left")
        .groupBy("d")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_dropped")
        )
    )
    targets = late.sparkSession.range(1).select(
        F.explode(
            F.array(
                *[F.lit(t).cast("long") for t in WM_TARGETS_MICRO]
            )
        ).alias("target_micro")
    )
    wr = Window.partitionBy("target_micro").orderBy("d")
    ok = (
        targets.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(suf))
        .filter(F.expr("n_dropped * 1000000 <= target_micro * n"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
    )
    return ok.select(
        "target_micro",
        F.col("n").alias("n_events"),
        F.col("d").alias("delay_sec"),
        "n_dropped",
        F.expr("n_dropped * 1000000 div n").alias("achieved_micro"),
    )



# ---------------------------------------------------------------------------
# closed-form OLS volume trend (exact-moment linear regression per group)
# ---------------------------------------------------------------------------


@register(
    "event_volume_trend",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day FROM events
    ),
    mn AS (SELECT min(day) AS d0 FROM base),
    daily AS (
      SELECT b.event_type,
             CAST(date_diff('day', mn.d0, b.day) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM base b, mn GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                / (n * sxx - sx * sx) * 1000000 + 0.5) AS BIGINT)
             AS slope_micro,
           CAST(floor(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx
                           AS DOUBLE)
                / (CAST(n AS DOUBLE) * (n * sxx - sx * sx)) * 1000000 + 0.5)
                AS BIGINT) AS intercept_micro,
           CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                * (n * sxy - sx * sy)
                / (CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy))
                * 1000000 + 0.5) AS BIGINT) AS r2_micro
    FROM s
    """,
)
def event_volume_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS TREND per event type — the grouped linear
    regression a monitoring dashboard fits over daily volumes (is error
    traffic growing? is signup flat?): slope, intercept and R² from the
    five exact integer moments (n, Σx, Σy, Σx², Σxy, Σy²) — the
    textbook normal-equation solution, which distributes as ONE
    map-side-combined aggregate per group and never iterates (contrast
    ``quality_classifier_train``'s GD loop, which exists for the case
    where features don't fit a closed form). x is the day offset from
    the corpus's first day (deterministic integer), y the daily count;
    all moments are exact BIGINTs, and each output coefficient is ONE
    IEEE double division of two exact integers rounded half-up onto the
    micro grid — the ``hll_merge_rollup`` determinism recipe, safe for
    NEGATIVE slopes too (floor(x + 0.5) rounds identically in both
    engines regardless of sign, where a truncating integer div would
    diverge from DuckDB's flooring `//`). Scale shape: daily rollup
    (one shuffle on (type, day)), then a 5-group moment aggregate; the
    moment vector is the mergeable summary — shards combine by
    addition, the same contract as the covariance Gram family."""
    ev = load_table(spark, "events", sf_dir)
    base = ev.select("event_type", F.col("ts").cast("date").alias("day"))
    d0 = base.agg(F.min("day").alias("d0"))
    daily = (
        base.crossJoin(F.broadcast(d0))
        .select(
            "event_type", F.datediff("day", "d0").cast("long").alias("x")
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " / (n * sxx - sx * sx) * 1000000 + 0.5) AS BIGINT)"
        ).alias("slope_micro"),
        F.expr(
            "CAST(floor(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx"
            " AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * (n * sxx - sx * sx)) * 1000000 + 0.5)"
            " AS BIGINT)"
        ).alias("intercept_micro"),
        F.expr(
            "CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)"
            " * (n * sxy - sx * sy)"
            " / (CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("r2_micro"),
    )


@register(
    "event_volume_cusum",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day FROM events
    ),
    mn AS (SELECT min(day) AS d0 FROM base),
    daily AS (
      SELECT b.event_type,
             CAST(date_diff('day', mn.d0, b.day) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM base b, mn GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS d,
             CAST(sum(y) AS BIGINT) AS t
      FROM daily GROUP BY event_type
    ),
    pre AS (
      SELECT daily.event_type, x,
             sum(y) OVER (PARTITION BY daily.event_type ORDER BY x) AS prefix,
             row_number() OVER (PARTITION BY daily.event_type ORDER BY x) AS k,
             tot.d, tot.t
      FROM daily JOIN tot ON daily.event_type = tot.event_type
    ),
    c AS (
      SELECT event_type, x, d, t,
             CAST(prefix * d - k * t AS BIGINT) AS cusum
      FROM pre
    ),
    r AS (
      SELECT *,
        row_number() OVER (PARTITION BY event_type ORDER BY cusum DESC, x) AS rmax,
        row_number() OVER (PARTITION BY event_type ORDER BY cusum ASC, x) AS rmin,
        row_number() OVER (PARTITION BY event_type ORDER BY abs(cusum) DESC, x)
          AS rabs
      FROM c
    )
    SELECT event_type, max(d) AS n_days, max(t) AS total_events,
           CAST(max(CASE WHEN rmax = 1 THEN cusum END) AS BIGINT) AS cusum_max,
           CAST(max(CASE WHEN rmax = 1 THEN x END) AS BIGINT) AS cusum_max_day,
           CAST(max(CASE WHEN rmin = 1 THEN cusum END) AS BIGINT) AS cusum_min,
           CAST(max(CASE WHEN rmin = 1 THEN x END) AS BIGINT) AS cusum_min_day,
           CAST(max(CASE WHEN rabs = 1 THEN x END) AS BIGINT) AS changepoint_day
    FROM r GROUP BY event_type
    """,
)
def event_volume_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type — the level-shift
    companion to ``event_volume_trend``'s slope (OLS answers "is it
    drifting?", CUSUM answers "WHEN did it change?"): the classic
    statistic C_k = Σ_{i≤k}(y_i − ȳ) peaks at the day the series' mean
    level shifts, and argmax |C_k| is the standard change-point estimate.
    Exactness: the mean never materializes — C_k clears to
    prefix_k·D − k·T (all BIGINT; D days, T total), so the entire
    statistic is integer arithmetic with NO division anywhere, and the
    argmax/argmin/arg-abs-max tie-breaks are explicit (smaller day wins)
    so both engines select identical rows. Defined over the OBSERVED
    daily series (this fixture has events every day; a gapped series
    would first densify through the ``event_hourly_gapfill`` grid).
    Scale shape: one (type, day) rollup — the only corpus-sized stage,
    map-side combined — then windows over the bounded day domain
    (≤ 31 rows per type) and a per-type closing aggregate; the prefix
    sums never see raw events."""
    ev = load_table(spark, "events", sf_dir)
    base = ev.select("event_type", F.col("ts").cast("date").alias("day"))
    d0 = base.agg(F.min("day").alias("d0"))
    daily = (
        base.crossJoin(F.broadcast(d0))
        .select("event_type", F.datediff("day", "d0").cast("long").alias("x"))
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("y").cast("long").alias("t"),
    )
    wo = Window.partitionBy("event_type").orderBy("x")
    pre = (
        daily.join(tot, "event_type")
        .select(
            "event_type",
            "x",
            "d",
            "t",
            F.sum("y").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias(
                "prefix"
            ),
            F.row_number().over(wo).alias("k"),
        )
    )
    c = pre.select(
        "event_type",
        "x",
        "d",
        "t",
        (F.col("prefix") * F.col("d") - F.col("k") * F.col("t"))
        .cast("long")
        .alias("cusum"),
    )
    r = c.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.col("cusum").desc(), "x"))
        .alias("rmax"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy(F.col("cusum").asc(), "x"))
        .alias("rmin"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.abs(F.col("cusum")).desc(), "x"
            )
        )
        .alias("rabs"),
    )
    return r.groupBy("event_type").agg(
        F.max("d").alias("n_days"),
        F.max("t").alias("total_events"),
        F.max(F.when(F.col("rmax") == 1, F.col("cusum"))).cast("long").alias(
            "cusum_max"
        ),
        F.max(F.when(F.col("rmax") == 1, F.col("x"))).cast("long").alias(
            "cusum_max_day"
        ),
        F.max(F.when(F.col("rmin") == 1, F.col("cusum"))).cast("long").alias(
            "cusum_min"
        ),
        F.max(F.when(F.col("rmin") == 1, F.col("x"))).cast("long").alias(
            "cusum_min_day"
        ),
        F.max(F.when(F.col("rabs") == 1, F.col("x"))).cast("long").alias(
            "changepoint_day"
        ),
    )


# ---------------------------------------------------------------------------
# dedup method dashboard (one row per family, composed from the registry)
# ---------------------------------------------------------------------------


def _dedup_summary_oracle() -> str:
    """Compose the dashboard oracle from the REGISTERED oracles of the
    member queries — by construction it can never drift from what each
    family actually computes (windows.py loads last, so every member is
    already registered)."""
    # force member registration first: windows.py must stay importable on
    # its own (tests import streaming modules that pull it in directly),
    # not only via the package loader's fixed module order
    from postgres_cdc_example_spark.queries import (  # noqa: F401
        extensions as _ext,
        llmdata as _llm,
    )
    from postgres_cdc_example_spark.queries import REGISTRY

    parts = [
        "SELECT 'exact' AS method, CAST(sum(n_docs * (n_docs - 1) // 2)"
        f" AS BIGINT) AS n_pairs FROM ({REGISTRY['dedup_exact'].oracle})"
    ]
    for name in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_prefix_filter_pairs",
        "dedup_containment_pairs",
        "dedup_sorted_neighborhood",
        "dedup_winnowing_pairs",
    ):
        parts.append(
            f"SELECT '{name[6:]}' AS method, CAST(count(*) AS BIGINT)"
            f" AS n_pairs FROM ({REGISTRY[name].oracle})"
        )
    return "\nUNION ALL\n".join(parts)


@register("corpus_dedup_summary", oracle=_dedup_summary_oracle())
def corpus_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DASHBOARD — one row per registered near-duplicate family
    with its verified pair count over the same corpus: exact-content
    groups (as C(n,2) pairs), MinHash/LSH (symmetric Jaccard >= 0.5),
    exact inverted-index Jaccard (>= 0.5), prefix-filtered shingle sets
    (>= 0.9, exact recall by construction), directional containment
    (>= 0.8), sorted-neighborhood (window 8, >= 0.5), and winnowing
    fingerprint pairs (>= 3 shared, provable verbatim runs). The numbers
    answer the operational question a curation run starts with — how much
    duplication, and does the cheap method agree with the expensive one —
    and their RELATIONSHIPS are the cross-check (prefix >= 0.9 pairs are
    a subset of the >= 0.5 families; containment counts both directions
    of every symmetric dup plus the truncations only it sees). Both
    sides COMPOSE the registered member definitions: the engine calls
    the same query functions (sharing the session's persisted
    shingle/band layers, so the marginal cost is aggregation, not
    recomputation), and the oracle interpolates the members' registered
    oracle SQL — drift between the dashboard and the families is
    impossible by construction. Cost justification (r10 verdict #3,
    profiled r11): 7.35 s best-of-3 idle at sf0.1 vs a 9.1 s member sum —
    the seven families' verification joins are the floor (a COUNT cannot
    prune a pair-predicate filter), the one-job union overlaps them, and
    the shared layers already de-duplicate every shingle/band/gram scan;
    headline-tracked since r11 under the >2 s cost rule."""
    from postgres_cdc_example_spark.queries import REGISTRY

    def cnt(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("method"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )

    exact = (
        REGISTRY["dedup_exact"]
        .fn(spark, sf_dir)
        .agg(
            F.lit("exact").alias("method"),
            F.sum(F.expr("n_docs * (n_docs - 1) div 2"))
            .cast("long")
            .alias("n_pairs"),
        )
    )
    out = exact
    for name in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_prefix_filter_pairs",
        "dedup_containment_pairs",
        "dedup_sorted_neighborhood",
        "dedup_winnowing_pairs",
    ):
        out = out.union(cnt(name[6:], REGISTRY[name].fn(spark, sf_dir)))
    return out


# ---------------------------------------------------------------------------
# end-to-end curation capstone (every stage chained, composed from the registry)
# ---------------------------------------------------------------------------


def _pipeline_oracle() -> str:
    """Compose the capstone oracle as a CTE chain of the REGISTERED member
    oracles (the ``corpus_dedup_summary`` pattern taken across stage
    boundaries): exact-dedup keepers -> near-dup cluster keepers ->
    decontamination -> quality gate -> per-source mixture accounting ->
    pack assembly. Interpolating ``REGISTRY[...].oracle`` makes cross-stage
    drift impossible by construction — if a member's keeper rule changes,
    this oracle changes with it."""
    from postgres_cdc_example_spark.queries import (  # noqa: F401
        extensions as _ext,
        llmdata as _llm,
    )
    from postgres_cdc_example_spark.queries import REGISTRY

    toks = (
        "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        " x -> x != '')"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, source, CAST(len({toks}) AS BIGINT) AS n_toks
      FROM documents
    ),
    ex AS (SELECT keeper_id AS doc_id FROM ({REGISTRY["dedup_exact"].oracle})),
    cl AS (SELECT doc_id, component FROM ({REGISTRY["dedup_clusters"].oracle})),
    contam AS (SELECT doc_id FROM ({REGISTRY["benchmark_contamination"].oracle})),
    qual AS (SELECT doc_id, quality FROM ({REGISTRY["text_quality"].oracle})),
    qa AS (SELECT doc_id FROM ({REGISTRY["source_quota_admission"].oracle})
           WHERE admitted),
    s1 AS (SELECT t.* FROM toks t JOIN ex ON ex.doc_id = t.doc_id),
    s2 AS (
      SELECT s1.* FROM s1 LEFT JOIN cl ON cl.doc_id = s1.doc_id
      WHERE cl.doc_id IS NULL OR cl.component = s1.doc_id
    ),
    s3 AS (
      SELECT s2.* FROM s2
      WHERE s2.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    s4 AS (
      SELECT s3.* FROM s3 JOIN qual q ON q.doc_id = s3.doc_id
      WHERE q.quality >= {PIPE_QUALITY_GATE}
    ),
    s5 AS (SELECT s4.* FROM s4 JOIN qa ON qa.doc_id = s4.doc_id),
    pk AS (
      SELECT bucket,
             CAST(floor((cum - n_toks) / {PIPE_PACK_TOKENS}) AS BIGINT) AS pack_id,
             n_toks
      FROM (
        SELECT doc_id, n_toks,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
               sum(n_toks) OVER (
                 PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM s5)
    )
    SELECT CAST(0 AS BIGINT) AS stage_no, 'ingest' AS stage, 'docs' AS unit,
           CAST(count(*) AS BIGINT) AS n_units,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens FROM toks
    UNION ALL
    SELECT 1, 'exact_dedup', 'docs', CAST(count(*) AS BIGINT),
           CAST(sum(n_toks) AS BIGINT) FROM s1
    UNION ALL
    SELECT 2, 'near_dedup', 'docs', CAST(count(*) AS BIGINT),
           CAST(sum(n_toks) AS BIGINT) FROM s2
    UNION ALL
    SELECT 3, 'decontam', 'docs', CAST(count(*) AS BIGINT),
           CAST(sum(n_toks) AS BIGINT) FROM s3
    UNION ALL
    SELECT 4, 'quality_gate', 'docs', CAST(count(*) AS BIGINT),
           CAST(sum(n_toks) AS BIGINT) FROM s4
    UNION ALL
    SELECT 5, 'quota', 'docs', CAST(count(*) AS BIGINT),
           CAST(sum(n_toks) AS BIGINT) FROM s5
    UNION ALL
    SELECT 6, 'mixture', source, CAST(count(*) AS BIGINT),
           CAST(sum(n_toks) AS BIGINT) FROM s5 GROUP BY source
    UNION ALL
    SELECT 7, 'packing', 'packs',
           CAST(count(DISTINCT (bucket, pack_id)) AS BIGINT),
           CAST(sum(n_toks) AS BIGINT) FROM pk
    """


def _funnel_conditional_agg(flags, stage_names, conds):
    """One conditional aggregate computing every funnel stage's
    (survivor count, token sum) in a single pass (r12, guide §2.6).

    Empty-stage semantics must match the oracle's per-stage CTEs exactly
    (r12 verdict #10): ``count(*)`` over an empty survivor set is 0
    (coalesce — the whole-frame aggregate yields NULL on an empty
    documents table), while ``sum(n_toks)`` over it is NULL (no
    ``otherwise(0)``: sum ignores the NULLs of non-surviving rows and
    returns NULL when nothing survives a stage)."""
    return flags.agg(
        *[
            a
            for no, _ in stage_names
            for a in (
                F.coalesce(F.sum(F.when(conds[no], 1)), F.lit(0))
                .cast("long")
                .alias(f"n{no}"),
                F.sum(F.when(conds[no], F.col("n_toks")))
                .cast("long")
                .alias(f"t{no}"),
            )
        ]
    )


@register("pipeline_end_to_end", oracle=_pipeline_oracle())
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation capstone: every stage a pretraining data run
    chains — exact dedup (keep min doc_id per normalized-content hash) ->
    near-dup clusters (keep the component keeper) -> decontamination
    (drop docs sharing any 8-gram with the held-out split) -> quality gate
    (composite score >= {GATE}) -> per-source token-quota admission (the
    registered ``source_quota_admission`` verdict, r10 verdict #2) ->
    per-source mixture accounting -> fixed-budget pack assembly — emitting
    the per-stage survivor/token table a production run prints. This is the INTEGRATION check the
    isolated stage queries cannot give: a change in any stage's keeper
    rule shifts every later row (the mixture weights silently re-weight,
    the pack count moves), and both engine and oracle COMPOSE the
    registered member definitions (engine calls the member fns over the
    session's shared shingle/band/gram layers; oracle interpolates their
    registered SQL), so the capstone can never drift from the stages.
    Scale shape: each member runs ONCE — the chain is flattened into a
    single flag-annotated doc frame (keyed left joins on doc_id turn each
    stage's verdict into a boolean), localCheckpointed so the output rows
    are conditional aggregates over one cached narrow table instead of
    per-stage re-derivations of the member chain (measured 4.5 s → the
    member floor at sf0.1). Stage semantics note: the filters are
    computed over the FULL corpus (the members' published contracts) and
    applied sequentially, the standard production shape — exact and
    near-dup keepers both keep the lowest doc_id, so the composition is
    coherent by construction; the quota verdict likewise is the member's
    full-corpus admission (an upstream quota service ruling on every doc)
    intersected with the survivors, NOT a re-fill over survivors only —
    the streaming capstone's incremental chain is the other semantics,
    each pinned by its own test."""
    from postgres_cdc_example_spark.operators.dedup import word_tokens
    from postgres_cdc_example_spark.queries import REGISTRY

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        "source",
        F.size(word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    ex = (
        REGISTRY["dedup_exact"]
        .fn(spark, sf_dir)
        .select(F.col("keeper_id").alias("doc_id"), F.lit(1).alias("exk"))
    )
    cl = REGISTRY["dedup_clusters"].fn(spark, sf_dir).select("doc_id", "component")
    contam = (
        REGISTRY["benchmark_contamination"]
        .fn(spark, sf_dir)
        .select("doc_id", F.lit(1).alias("ct"))
    )
    qual = REGISTRY["text_quality"].fn(spark, sf_dir).select("doc_id", "quality")
    qa = (
        REGISTRY["source_quota_admission"]
        .fn(spark, sf_dir)
        .filter("admitted")
        .select("doc_id", F.lit(1).alias("qat"))
    )
    flags = (
        toks.join(ex, "doc_id", "left")
        .join(cl, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(qual, "doc_id", "left")
        .join(qa, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.col("exk").isNotNull().alias("k1"),
            (
                F.col("component").isNull()
                | (F.col("component") == F.col("doc_id"))
            ).alias("k2"),
            F.col("ct").isNull().alias("k3"),
            (F.col("quality") >= PIPE_QUALITY_GATE).alias("k4"),
            F.col("qat").isNotNull().alias("k5"),
        )
        .localCheckpoint(eager=False)
    )
    s5 = flags.filter("k1").filter("k2").filter("k3").filter("k4").filter("k5")

    # r12 optimization (guide §1.2/§2.6): the six survivor-funnel rows were
    # six SEPARATE aggregate jobs over the checkpointed flag table, run
    # serially by the union sink; each stage is a conditional count/sum
    # (stage i = docs passing k1..ki), so ONE aggregate pass computes all
    # six and an explode unpivots the row — same values, 8 jobs -> 3.
    stage_names = [
        (0, "ingest"),
        (1, "exact_dedup"),
        (2, "near_dedup"),
        (3, "decontam"),
        (4, "quality_gate"),
        (5, "quota"),
    ]
    conds = {
        0: F.lit(True),
        1: F.col("k1"),
        2: F.col("k1") & F.col("k2"),
        3: F.col("k1") & F.col("k2") & F.col("k3"),
        4: F.col("k1") & F.col("k2") & F.col("k3") & F.col("k4"),
        5: F.col("k1") & F.col("k2") & F.col("k3") & F.col("k4") & F.col("k5"),
    }
    funnel_agg = _funnel_conditional_agg(flags, stage_names, conds)
    funnel = funnel_agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(no).cast("long").alias("stage_no"),
                        F.lit(stage).alias("stage"),
                        F.lit("docs").alias("unit"),
                        F.col(f"n{no}").alias("n_units"),
                        F.col(f"t{no}").alias("total_tokens"),
                    )
                    for no, stage in stage_names
                ]
            )
        ).alias("r")
    ).select("r.stage_no", "r.stage", "r.unit", "r.n_units", "r.total_tokens")

    mixture = s5.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
    ).select(
        F.lit(6).cast("long").alias("stage_no"),
        F.lit("mixture").alias("stage"),
        F.col("source").alias("unit"),
        "n_units",
        "total_tokens",
    )
    wpk = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pk = s5.select(
        "doc_id",
        "n_toks",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("bucket"),
    ).select(
        "bucket",
        "n_toks",
        F.floor(
            (F.sum("n_toks").over(wpk) - F.col("n_toks")) / F.lit(PIPE_PACK_TOKENS)
        ).alias("pack_id"),
    )
    packing = pk.agg(
        F.lit(7).cast("long").alias("stage_no"),
        F.lit("packing").alias("stage"),
        F.lit("packs").alias("unit"),
        F.countDistinct("bucket", "pack_id").cast("long").alias("n_units"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
    )
    return funnel.unionByName(mixture).unionByName(packing)


pipeline_end_to_end.__doc__ = pipeline_end_to_end.__doc__.replace(
    "{GATE}", str(PIPE_QUALITY_GATE)
)


# ---------------------------------------------------------------------------
# session-gap sensitivity curve (r12)
# ---------------------------------------------------------------------------

# gap thresholds in seconds: 15 min .. 3 days — brackets the 6-hour
# production constant (SESSION_GAP) so the curve shows what moving it buys
SESSION_GAP_GRID_S = (900, 1800, 3600, 21600, 86400, 259200)


@register(
    "event_session_gap_curve",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id FROM events
    ),
    g AS (
      SELECT us - lag(us) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS gap_us
      FROM e
    ),
    gg AS (SELECT gap_us FROM g WHERE gap_us IS NOT NULL),
    tot AS (
      SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e)
               AS n_users,
             (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_events,
             (SELECT CAST(count(*) AS BIGINT) FROM gg) AS n_gaps
    ),
    grid AS (SELECT unnest(ARRAY{list(SESSION_GAP_GRID_S)}) AS gap_s),
    curve AS (
      SELECT grid.gap_s,
             CAST(sum(CASE WHEN gg.gap_us > CAST(grid.gap_s AS BIGINT)
                                            * 1000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_breaks
      FROM grid, gg GROUP BY grid.gap_s
    )
    SELECT CAST(c.gap_s AS BIGINT) AS gap_s,
           t.n_users + c.n_breaks AS n_sessions,
           t.n_users, t.n_events,
           CAST(t.n_events * 1000000 // (t.n_users + c.n_breaks) AS BIGINT)
             AS avg_events_per_session_micro,
           CAST(CASE WHEN t.n_gaps = 0 THEN 0
                ELSE c.n_breaks * 1000000 // t.n_gaps END AS BIGINT)
             AS break_share_micro
    FROM curve c, tot t
    ORDER BY gap_s
    """,
)
def event_session_gap_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION-GAP SENSITIVITY CURVE — the tuning table behind every
    sessionization constant (this repo ships {GAP}): for each candidate
    inactivity threshold, how many sessions does the corpus split into,
    how big is the average session, and what share of inter-event gaps
    break a session?  The identity doing the work: sessions(T) =
    n_users + |{{gaps > T}}| — the session count is a pure function of
    the per-user gap MULTISET, so the whole curve costs ONE user-keyed
    lag window (the sequence shuffle every behavioral query shares) plus
    one conditional aggregate against the broadcast literal grid — the
    sessionization operator itself never re-runs per threshold (naively
    re-running ``event_sessionization`` six times would shuffle the
    corpus six times for numbers this derives from one pass).  All
    integers: epoch-microsecond gaps, threshold compare on the exact
    grid, micro-floored shares (non-negative operands, so Spark ``div``
    ≡ DuckDB ``//``).  Scale shape: window + map-side-combined grid
    aggregate; the 6-row grid broadcast is the audited-BNLJ literal-grid
    class.  Ref parity: the reference has no event-time processing at
    all (SURVEY §2.7) — this is extension surface for the behavioral
    family."""
    ev = load_table(spark, "events", sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(us, "event_id")
    gaps = ev.select((us - F.lag(us).over(w)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    tot = ev.agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    ).crossJoin(
        F.broadcast(
            gaps.agg(F.count(F.lit(1)).cast("long").alias("n_gaps"))
        )
    )
    grid = spark.createDataFrame(
        [(int(s),) for s in SESSION_GAP_GRID_S], "gap_s long"
    )
    curve = (
        gaps.crossJoin(F.broadcast(grid))
        .groupBy("gap_s")
        .agg(
            F.sum(
                F.when(F.col("gap_us") > F.col("gap_s") * 1_000_000, 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_breaks")
        )
    )
    return (
        curve.crossJoin(F.broadcast(tot))
        .select(
            "gap_s",
            (F.col("n_users") + F.col("n_breaks")).alias("n_sessions"),
            "n_users",
            "n_events",
            F.expr(
                "CAST(n_events * 1000000 div (n_users + n_breaks)"
                " AS BIGINT)"
            ).alias("avg_events_per_session_micro"),
            F.expr(
                "CAST(CASE WHEN n_gaps = 0 THEN 0"
                " ELSE n_breaks * 1000000 div n_gaps END AS BIGINT)"
            ).alias("break_share_micro"),
        )
        .orderBy("gap_s")
    )


event_session_gap_curve.__doc__ = event_session_gap_curve.__doc__.replace(
    "{GAP}", SESSION_GAP
)
