"""Fixture-table loaders (S3-style scans, SURVEY.md §2.1).

Parquet scans are the engine's only batch source in tests; at cluster scale
the same call reads a 100 TB table — correctness of the *plan* (column
pruning + predicate pushdown reaching the scan) is asserted in
``tests/test_plans.py``.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

# path -> (stamp, schema) of the last read of that file. A rewrite of the
# file or a new session replaces the entry instead of adding one, so the
# cache holds at most one StructType per file path the process has read.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_stamp(spark: SparkSession, path: str) -> tuple | None:
    """Everything that can change the schema Spark infers for ``path``, or
    None when ``path`` is not a local regular file. A directory's mtime does
    not change when a file below it changes, so directories are not cached."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (
        spark.sparkContext.applicationId,
        st.st_mtime_ns,
        st.st_size,
        spark.conf.get(NANOS_CONF, None),
    )


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inference job paid once
    per file version. Each call still returns a fresh relation, so two reads
    of one file keep distinct expression IDs in a self-join."""
    stamp = _file_stamp(spark, path)
    hit = _SCHEMAS.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one fixture table; no data caching, no collect — Catalyst prunes
    columns/filters at the scan.

    Spark infers a parquet schema with a job (median 100 ms per read on a
    4-core box, against 12 ms for the same read given its schema), so the
    inferred schema of a single file is kept and passed to later reads. Its
    key is the session's ``applicationId``, the path, the file's
    ``st_mtime_ns`` and ``st_size``, and the session's
    ``spark.sql.legacy.parquet.nanosAsLong`` value; directory reads always
    infer.

    ``events.ts`` is parquet TIMESTAMP(NANOS): with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as long nanoseconds;
    normalize to ``timestamp_ntz`` at microsecond precision — exactly the
    truncation DuckDB applies, so oracle comparisons line up.
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        df = _read_parquet(spark, path)
    except Exception as exc:  # self-heal on vanilla sessions (no factory conf)
        # events.parquet is INT64 TIMESTAMP(NANOS); a session built outside
        # session.py lacks the legacy-nanos conf and throws PARQUET_TYPE_ILLEGAL.
        # The conf is runtime-settable, so set it and retry once.
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        spark.conf.set(NANOS_CONF, "true")
        df = _read_parquet(spark, path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts",
            # integer division: float division loses precision on ns-epoch longs
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df
