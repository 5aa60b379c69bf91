"""Partitioned, sorted, size-bounded parquet output — the curated-corpus
write path.

The naive ``df.write.partitionBy(...)`` is the classic small-files factory:
every task holds an open writer per partition VALUE it encounters, so a
1000-task stage over 100 sources emits up to 100,000 files — and each
file's rows arrive unsorted. The shape that works at 100 TB:

1. ``repartition(partition_cols)`` first — clusters each output partition's
   rows into one task, so each ``source=.../`` directory gets one writer
   (AQE may split genuinely huge partitions; that's the good kind of split);
2. ``sortWithinPartitions(sort_cols)`` — rows land ordered inside each
   file, so parquet min/max column stats become selective and downstream
   range reads (id lookups, incremental re-processing) prune row groups;
3. ``maxRecordsPerFile`` — bounds the worst file so a skewed partition
   value can't produce a 500 GB parquet file no executor can read back.

Hive-style directory layout (``source=web/``) means readers get partition
PRUNING for free: a filter on the partition column never lists, let alone
reads, the other directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_curated(df: DataFrame, path: str, max_records_per_file: int = 1_000_000) -> None:
    """Write ``df`` partitioned by ``source`` and sorted by ``doc_id``."""
    (
        df.repartition(df["source"])
        .sortWithinPartitions("doc_id")
        .write.partitionBy("source")
        .option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: "SparkSession",
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet dataset into
    ~``target_file_bytes`` files. Streaming sinks and incremental commits
    accrete files over time; at 100 TB the cost is real — every query pays
    per-file open/footer-parse overhead, and the NameNode/listing layer pays
    per-object. Returns the output file count.

    Sizing reads the CURRENT bytes on disk (compressed), so the coalesce
    target reflects actual storage, not row counts. Write lands in
    ``dst_path`` — swap via rename/pointer-flip (see VersionedStateStore's
    commit pattern) rather than overwriting the live path in place.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src_path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    df.coalesce(n_files).write.mode("overwrite").parquet(dst_path)
    return n_files
