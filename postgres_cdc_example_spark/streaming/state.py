"""Versioned parquet state stores — update-in-place on immutable files.

The reference mutates target rows in place (``UPDATE``/``DELETE``,
``replicator/main.go:234-261``); parquet is immutable, so each micro-batch
commits a *new version* and readers resolve the latest committed version — a
minimal (single-writer) transaction-log pattern, the same shape Delta
Lake/Iceberg implement for real. At 100 TB the documented production path is
Delta ``MERGE INTO`` with partitioned overwrite (SURVEY.md §7.4 hard part 1);
these stores keep the engine self-contained for tests and small deployments.

:class:`VersionedStateStore` writes the full state at every version, as one
or more named tables committed together (the curation pipeline's seven
tables, the aggregate view's one)::

    root/
      v00000006/  seen/ bands/ ...   (previous version, kept for readers)
      v00000007/  seen/ bands/ ...   (every table at version 7)
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
semantics (T2). Retention keeps one previous generation (the previous version,
or the previous base and its change directories), so a reader that resolved
its frame before a commit still finds every file it lists.
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


def _flip(path: str, value: str) -> None:
    """Atomically replace the pointer file ``path`` with ``value``."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(value)
    os.replace(tmp, path)


def _pointer(path: str) -> list[int]:
    """The version numbers in the pointer file ``path``; [] if it is absent."""
    try:
        with open(path) as f:
            return [int(x) for x in f.read().split()]
    except (FileNotFoundError, ValueError):
        return []


def _latest(root: str) -> int | None:
    vs = _pointer(os.path.join(root, "_LATEST"))
    return vs[0] if vs else None


def _versions(root: str, prefix: str) -> list[int]:
    return sorted(
        int(n[1:]) for n in os.listdir(root) if n[:1] == prefix and n[1:].isdigit()
    )


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    # no partitions, so reading it starts no Python workers
    # (createDataFrame([]) parallelises an empty list into tasks)
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


class VersionedStateStore:
    """Named full-state tables (``schemas``: name → schema) committed
    together: ``commit({name: df, ...}, version)`` writes every table under
    ``vNNNNNNNN/`` and then flips the one ``_LATEST``; ``read(name)`` reads
    that table at ``_LATEST``."""

    def __init__(self, spark: SparkSession, root: str, schemas: dict[str, StructType]):
        self.spark = spark
        self.root = root
        self.schemas = schemas
        os.makedirs(root, exist_ok=True)

    def _dir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:08d}")

    def latest_version(self) -> int | None:
        return _latest(self.root)

    def read(self, table: str) -> DataFrame:
        v = self.latest_version()
        if v is None:
            return _empty(self.spark, self.schemas[table])
        return self.spark.read.schema(self.schemas[table]).parquet(
            os.path.join(self._dir(v), table)
        )

    def commit(self, tables: dict[str, DataFrame], version: int) -> None:
        """Write every table of ``version``, then flip ``_LATEST`` to it. A
        crash before the flip leaves the previous version current; the replay
        overwrites the partial directory. Then drops the versions older than
        the previous one (never one ahead of ``_LATEST``)."""
        for name in self.schemas:  # a missing table raises before the flip
            tables[name].write.mode("overwrite").parquet(
                os.path.join(self._dir(version), name)
            )
        prev = self.latest_version()
        _flip(os.path.join(self.root, "_LATEST"), str(version))
        keep = version if prev is None else min(prev, version)
        for v in _versions(self.root, "v"):
            if v < keep:
                shutil.rmtree(self._dir(v))


class MergeOnReadStateStore:
    """The person CDC state as a base plus per-version change directories.

    ``commit(changes, version)`` writes only the batch's flat change rows
    (``FLAT_CHANGE_SCHEMA``) and flips ``_LATEST``; ``read()`` merges them
    onto the base. Every :data:`COMPACT_EVERY` versions the commit folds the
    change directories into a new base, published by ``_BASE`` only once it
    is completely written, then drops what the previous base made obsolete.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, prefix: str, version: int) -> str:
        return os.path.join(self.root, f"{prefix}{version:08d}")

    def _base_path(self) -> str:
        return os.path.join(self.root, "_BASE")

    def _bases(self) -> tuple[int | None, int | None]:
        """(current base, previous base) from ``_BASE``."""
        cur, prev = (_pointer(self._base_path()) + [None, None])[:2]
        return cur, prev

    def latest_version(self) -> int | None:
        return _latest(self.root)

    def _merged(self, base: int | None, upto: int) -> DataFrame:
        state = (
            _empty(self.spark, PERSON_SCHEMA)
            if base is None
            else self.spark.read.schema(PERSON_SCHEMA).parquet(self._dir("v", base))
        )
        after = -1 if base is None else base
        paths = [self._dir("c", v) for v in _versions(self.root, "c") if after < v <= upto]
        if not paths:
            return state
        changes = self.spark.read.schema(FLAT_CHANGE_SCHEMA).parquet(*paths)
        return apply_changes(state, changes).select(*PERSON_SCHEMA.names)

    def read(self) -> DataFrame:
        # _BASE before _LATEST: a base is published only after _LATEST has
        # reached it, so the pair read in this order never has base > latest.
        base, _ = self._bases()
        latest = self.latest_version()
        if latest is None:
            return _empty(self.spark, PERSON_SCHEMA)
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
        _flip(self._base_path(), f"{version}{prev}")

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
        _flip(os.path.join(self.root, "_LATEST"), str(version))
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
            f"v{v:08d}" for v in _versions(self.root, "v") if v < cur and v != prev
        ] + [f"c{v:08d}" for v in _versions(self.root, "c") if v <= keep]
        for name in removed:
            shutil.rmtree(os.path.join(self.root, name))
        return removed
