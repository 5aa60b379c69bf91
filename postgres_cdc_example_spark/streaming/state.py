"""Versioned parquet state stores — update-in-place on immutable files.

The reference mutates target rows in place (``UPDATE``/``DELETE``,
``replicator/main.go:234-261``); parquet is immutable, so each micro-batch
commits a *new version* and readers resolve the latest committed version — a
minimal (single-writer) transaction-log pattern, the same shape Delta
Lake/Iceberg implement for real. At 100 TB the documented production path is
Delta ``MERGE INTO`` with partitioned overwrite (SURVEY.md §7.4 hard part 1);
these stores keep the engine self-contained for tests and small deployments.

:class:`VersionedStateStore` writes the full state at every version (the
aggregate and curation stores, which hold no I/U/D log)::

    root/
      v00000000/  part-*.parquet     (full state at version 0)
      v00000001/  ...
      _LATEST                        (text file: committed version number)

:class:`MergeOnReadStateStore` holds the CDC state as a base plus one change
directory per version, so a commit costs O(batch), not O(state) — the layout
of Spark's own HDFS-backed state store (per-version deltas plus periodic
snapshots) and of the Delta/Iceberg log::

    root/
      v00000000/  part-*.parquet     (base: full state at version 0)
      c00000001/  part-*.parquet     (version 1's flat change rows)
      ...
      c00000008/
      v00000008/                     (base folded from v0 + c1..c8)
      _BASE                          (text file: "base previous_base")
      _LATEST

A read is ``apply_changes(base, change dirs in (base, latest])``; ``seq`` is
WAL order, so that is the serial fold of every event since the base.

Commit order: write the data directory fully, then flip the pointer
(``_LATEST``, or ``_BASE`` for a compaction) — readers never see a partial
version. Idempotent per version: re-committing a version (foreachBatch replay
after a crash) overwrites the same directory, keeping exactly-once state
semantics (T2).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from postgres_cdc_example_spark.operators.cdc_apply import apply_changes
from postgres_cdc_example_spark.schemas import FLAT_CHANGE_SCHEMA, PERSON_SCHEMA

# Fold the change directories into a new base once this many versions have
# accumulated past the current one. Every read merges up to this many change
# directories; every compaction rewrites the full state once.
COMPACT_EVERY = 8


class VersionedStateStore:
    def __init__(self, spark: SparkSession, root: str, schema: StructType):
        self.spark = spark
        self.root = root
        self.schema = schema
        os.makedirs(root, exist_ok=True)

    def _latest_path(self) -> str:
        return os.path.join(self.root, "_LATEST")

    def _flip(self, path: str, value: str) -> None:
        """Atomically replace the pointer file ``path`` with ``value``."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(value)
        os.replace(tmp, path)

    def _empty(self, schema: StructType) -> DataFrame:
        # no partitions, so reading it starts no Python workers
        # (createDataFrame([]) parallelises an empty list into tasks)
        return self.spark.createDataFrame(self.spark.sparkContext.emptyRDD(), schema)

    def latest_version(self) -> int | None:
        try:
            with open(self._latest_path()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def read(self) -> DataFrame:
        v = self.latest_version()
        if v is None:
            return self._empty(self.schema)
        return self.spark.read.schema(self.schema).parquet(
            os.path.join(self.root, f"v{v:08d}")
        )

    def commit(self, df: DataFrame, version: int) -> None:
        """Write version dir, then atomically advance _LATEST (write-ahead
        then pointer-flip).  Replays of the same version are harmless."""
        df.write.mode("overwrite").parquet(os.path.join(self.root, f"v{version:08d}"))
        self._flip(self._latest_path(), str(version))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Retention: drop committed version directories older than the
        newest ``keep_last``. Never touches the latest (readers resolve it
        via _LATEST, which is left alone) and never removes versions AHEAD
        of _LATEST (a concurrent commit's write-ahead data). Returns the
        removed version numbers.

        Each version of this store is a full state snapshot, so retention is
        what keeps it O(keep_last × state) instead of O(history × state) —
        the same job Delta's VACUUM does after its log compaction.
        """
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


class MergeOnReadStateStore(VersionedStateStore):
    """The person CDC state as a base plus per-version change directories.

    ``commit(changes, version)`` writes only the batch's flat change rows
    (``FLAT_CHANGE_SCHEMA``) and flips ``_LATEST``; ``read()`` merges them
    onto the base. Every :data:`COMPACT_EVERY` versions the commit folds the
    change directories into a new base, published by ``_BASE`` only once it
    is completely written, then drops what the previous base made obsolete.
    """

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root, PERSON_SCHEMA)

    def _dir(self, prefix: str, version: int) -> str:
        return os.path.join(self.root, f"{prefix}{version:08d}")

    def _base_path(self) -> str:
        return os.path.join(self.root, "_BASE")

    def _bases(self) -> tuple[int | None, int | None]:
        """(current base, previous base) from ``_BASE``."""
        try:
            with open(self._base_path()) as f:
                vs = [int(x) for x in f.read().split()]
        except (FileNotFoundError, ValueError):
            return None, None
        return vs[0], (vs[1] if len(vs) > 1 else None)

    def _versions(self, prefix: str) -> list[int]:
        return sorted(
            int(n[1:]) for n in os.listdir(self.root) if n[:1] == prefix and n[1:].isdigit()
        )

    def _merged(self, base: int | None, upto: int) -> DataFrame:
        state = (
            self._empty(self.schema)
            if base is None
            else self.spark.read.schema(self.schema).parquet(self._dir("v", base))
        )
        after = -1 if base is None else base
        paths = [self._dir("c", v) for v in self._versions("c") if after < v <= upto]
        if not paths:
            return state
        changes = self.spark.read.schema(FLAT_CHANGE_SCHEMA).parquet(*paths)
        return apply_changes(state, changes).select(*self.schema.names)

    def read(self) -> DataFrame:
        # _BASE before _LATEST: a base is published only after _LATEST has
        # reached it, so the pair read in this order never has base > latest.
        base, _ = self._bases()
        latest = self.latest_version()
        if latest is None:
            return self._empty(self.schema)
        return self._merged(base, latest)

    def read_changes(self, version: int) -> DataFrame:
        """The change rows written for ``version``."""
        return self.spark.read.schema(FLAT_CHANGE_SCHEMA).parquet(self._dir("c", version))

    def write_base(self, df: DataFrame, version: int) -> None:
        """Write the full state ``df`` as the base at ``version``, then
        publish it through ``_BASE`` (the previous base is kept there for
        retention). Does not move ``_LATEST``."""
        df.write.mode("overwrite").parquet(self._dir("v", version))
        cur, _ = self._bases()
        prev = "" if cur is None or cur == version else f" {cur}"
        self._flip(self._base_path(), f"{version}{prev}")

    def write_changes(self, changes: DataFrame, version: int) -> None:
        """First half of a commit: write ``version``'s change rows (the
        ``FLAT_CHANGE_SCHEMA`` columns; parquet is read back by column name).
        Not visible to readers until :meth:`publish`; a replay overwrites
        it."""
        changes.write.mode("overwrite").parquet(self._dir("c", version))

    def publish(self, version: int) -> None:
        """Second half of a commit: flip ``_LATEST`` to ``version``, then
        compact if ``COMPACT_EVERY`` versions have passed the base. A crash
        during compaction leaves ``_BASE`` on the old base; the next
        publish compacts again."""
        self._flip(self._latest_path(), str(version))
        base, _ = self._bases()
        if version - (base or 0) >= COMPACT_EVERY:
            self.write_base(self._merged(base, version), version)
            self.vacuum()

    def commit(self, changes: DataFrame, version: int) -> None:
        """Commit one batch's flat change rows as ``version`` — O(batch)."""
        self.write_changes(changes, version)
        self.publish(version)

    def vacuum(self) -> list[str]:
        """Retention by base generation: keep the current base, the previous
        one and the change directories after the previous one, so a reader
        that resolved its frame before the latest compaction still finds
        every file it lists. Drops older bases, their change directories and
        any base a crashed compaction left unpublished. Returns the removed
        directory names."""
        cur, prev = self._bases()
        if cur is None:
            return []
        keep = cur if prev is None else prev
        removed = [
            f"v{v:08d}" for v in self._versions("v") if v < cur and v != prev
        ] + [f"c{v:08d}" for v in self._versions("c") if v <= keep]
        for name in removed:
            shutil.rmtree(os.path.join(self.root, name))
        return removed
