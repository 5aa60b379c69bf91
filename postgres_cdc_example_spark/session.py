"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[*]``; the conf below is chosen so the *same plans*
hold on a 1000-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic join
  strategy switch) — at 100 TB the static plan is never exactly right.
- Arrow execution for the few Pandas-UDF paths (multimodal / embedding ops).
- UTC session timezone so parquet TIMESTAMP (no tz) round-trips match the
  DuckDB oracle bit-for-bit.
- Broadcast threshold raised: TPC-H-ish dims (region/nation/supplier/part at
  bench SF) are far below 64 MB and must never shuffle-join.
- PySpark 4's call-site capture (``spark.python.sql.dataFrameDebugging.enabled``)
  off: with it on, every ``Column`` method and ``functions.*`` call walks the
  Python stack and makes extra py4j round trips. ``F.col("a") + F.lit(1)``
  makes 27 round trips with it on and 7 with it off, and ``F.col`` takes
  1.0–1.2 ms against 0.30–0.34 ms (4-core box). To get Python call sites
  back in error messages, pass
  ``get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
  "true"})`` before the process builds its first ``Column``: PySpark reads
  the flag once and caches it process-wide (``pyspark.errors.utils``
  ``_enable_debugging_cache``).
- Python workers started by :mod:`.pyworker` (``spark.python.daemon.module``),
  which re-reads a zip archive on the path only when it changed. PySpark's
  worker calls ``importlib.invalidate_caches()`` before every task, and
  under CPython 3.11 each ``zipimporter`` then re-reads its archive's
  central directory: 73–77 ms per task over ``pyspark.zip`` and the Spark
  core jar, in every Arrow, pandas and Python-UDF stage. A noop
  ``mapInArrow`` over 16 partitions took 420 ms with PySpark's own daemon
  and 247 ms with this one (4-core box, medians of 10).
  ``spark.executorEnv.PYTHONPATH`` names the directory that holds this
  package, so the workers import it (and the functions
  ``mapInArrow``/``mapInPandas`` pickle by reference) whatever the
  driver's working directory. Both are static confs; pass
  ``get_spark(extra_conf={"spark.python.daemon.module": "pyspark.daemon"})``
  to get PySpark's own daemon back.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory that holds this package, for the Python workers' import path
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "postgres-cdc-example-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r13 (guide §3, measured): prefer shuffled-hash over sort-merge
        # when a join side's ESTIMATED size fits the local-map threshold —
        # the planner's per-join size gate, not an unconditional switch:
        # fact-fact joins whose sides exceed the threshold stay SMJ at any
        # scale, small-side joins skip both sorts. Interleaved A/B over
        # all 227 bench queries: 132.6 -> 127.0 s at 32 cores (-4.2%) and
        # 52.7 -> 51.8 s on the top-40 at 8 cores (-1.7%) — a win at BOTH
        # core counts (individual queries swing both ways; totals decide).
        # A memory-tight deployment restores the sort-merge default through
        # extra_conf (README "Session settings").
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # 128 MB splits — right at cluster scale (~800k tasks at 100 TB).
        # Test fixtures are single ≤11 MB files (one scan task regardless);
        # operators that expand rows (shingling, explodes) repartition
        # explicitly before the expansion so parallelism never depends on
        # input split count.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # events.ts is parquet TIMESTAMP(NANOS) which Spark can't decode
        # natively — read as long ns, normalized to timestamp_ntz in
        # sources.tables.load_table (micros, matching DuckDB's truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # call-site capture off: see the module docstring for its cost
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # workers skip re-reading unchanged zip archives per task: see the
        # module docstring and pyworker.py
        .config("spark.python.daemon.module", "postgres_cdc_example_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Static conf: the generated-class cache defaults to 100 entries —
        # a session cycling through the full registry (the bench's
        # interleaved passes, the all-oracle test sweep) evicts every
        # query's compiled stages between its own samples and re-pays Janino
        # compilation per pass. 2000 sufficed at ~95 benched queries; at 131
        # (x2 scale factors in a bench session) total fragments exceed it
        # again — the r6 "exact-substring regression" was exactly this
        # (measured r7: 2000 -> 10000 took dedup_exact_substring 3.03 ->
        # 1.33 s and dedup_substring_removal 4.52 -> 2.94 s in the full
        # bench shape, whole-list total 124 -> 116 s; a 1 GiB JVM
        # ReservedCodeCacheSize changed nothing, exonerating the JIT).
        # r8: the benched list grew 138 -> 147 and the common-query sum
        # inflated ~6% in the interleaved shape again -> 20000 (same
        # mechanism, same fix, validated by a back-to-back A/B at the
        # 147-query list: 130.5 s @ 10000 vs 126.0 s @ 20000). A later
        # 40000 probe measured NO improvement (ambient machine-load drift,
        # not eviction), so the bound stays at the evidence-backed 20000.
        .config("spark.sql.codegen.cache.maxEntries", "20000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
