"""Versioned parquet state store — update-in-place on an immutable store.

The reference mutates target rows in place (``UPDATE``/``DELETE``,
``replicator/main.go:234-261``); parquet is immutable, so each micro-batch
commits a *new version directory* and readers resolve the latest committed
version — a minimal (single-writer) transaction-log pattern, the same shape
Delta Lake/Iceberg implement for real.  At 100 TB the documented production
path is Delta ``MERGE INTO`` with partitioned overwrite (SURVEY.md §7.4 hard
part 1); this store keeps the engine self-contained for tests and small
deployments.

Layout::

    root/
      v00000000/  part-*.parquet     (full state at version 0)
      v00000001/  ...
      _LATEST                        (text file: committed version number)

Commit order: write data dir fully, then flip ``_LATEST`` — readers never
see a partial version.  Idempotent per version: re-committing an existing
version (foreachBatch replay after crash) overwrites the same directory,
keeping exactly-once state semantics (T2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class VersionedStateStore:
    def __init__(self, spark: SparkSession, root: str, schema: StructType):
        self.spark = spark
        self.root = root
        self.schema = schema
        os.makedirs(root, exist_ok=True)

    def _latest_path(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def latest_version(self) -> int | None:
        try:
            with open(self._latest_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def read(self) -> DataFrame:
        v = self.latest_version()
        if v is None:
            # no partitions, so reading it starts no Python workers
            # (createDataFrame([]) parallelises an empty list into tasks)
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), self.schema
            )
        return self.spark.read.schema(self.schema).parquet(
            os.path.join(self.root, f"v{v:08d}")
        )

    def commit(self, df: DataFrame, version: int) -> None:
        """Write version dir, then atomically advance _LATEST (write-ahead
        then pointer-flip).  Replays of the same version are harmless."""
        path = os.path.join(self.root, f"v{version:08d}")
        df.write.mode("overwrite").parquet(path)
        tmp = self._latest_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._latest_path())

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Retention: drop committed version directories older than the
        newest ``keep_last``. Never touches the latest (readers resolve it
        via _LATEST, which is left alone) and never removes versions AHEAD
        of _LATEST (a concurrent commit's write-ahead data). Returns the
        removed version numbers.

        At 100 TB each version is a full state snapshot, so retention is
        what keeps the store O(keep_last × state) instead of O(history ×
        state) — the same job Delta's VACUUM does after its log compaction.
        """
        import shutil

        latest = self.latest_version()
        if latest is None:
            return []
        removed = []
        for name in sorted(os.listdir(self.root)):
            if not name.startswith("v"):
                continue
            try:
                v = int(name[1:])
            except ValueError:
                continue
            if v <= latest - keep_last:
                shutil.rmtree(os.path.join(self.root, name))
                removed.append(v)
        return removed
