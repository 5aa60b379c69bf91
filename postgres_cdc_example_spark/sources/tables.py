"""Fixture-table loaders (S3-style scans, SURVEY.md §2.1).

Parquet scans are the engine's only batch source in tests; at cluster scale
the same call reads a 100 TB table — correctness of the *plan* (column
pruning + predicate pushdown reaching the scan) is asserted in
``tests/test_plans.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one fixture table. Plain `spark.read.parquet` — no caching, no
    collect; Catalyst prunes columns/filters at the scan.

    ``events.ts`` is parquet TIMESTAMP(NANOS): with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as long nanoseconds;
    normalize to ``timestamp_ntz`` at microsecond precision — exactly the
    truncation DuckDB applies, so oracle comparisons line up.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        df = spark.read.parquet(path)
    except Exception as exc:  # self-heal on vanilla sessions (no factory conf)
        # events.parquet is INT64 TIMESTAMP(NANOS); a session built outside
        # session.py lacks the legacy-nanos conf and throws PARQUET_TYPE_ILLEGAL.
        # The conf is runtime-settable, so set it and retry once.
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts",
            # integer division: float division loses precision on ns-epoch longs
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df

