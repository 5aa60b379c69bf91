"""Merge-on-read CDC state store: a base plus per-version change directories,
folded on read and compacted every ``COMPACT_EVERY`` versions. Crash points
inside a compaction, readers that resolved their frame before a compaction,
and retention across compactions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrameWriter

from postgres_cdc_example_spark.schemas import FLAT_CHANGE_SCHEMA, PERSON_SCHEMA
from postgres_cdc_example_spark.streaming import state as state_mod
from postgres_cdc_example_spark.streaming.state import MergeOnReadStateStore

K = 2  # compaction interval in these tests, so a few commits cross several


@pytest.fixture
def store(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(state_mod, "COMPACT_EVERY", K)
    s = MergeOnReadStateStore(spark, str(tmp_path / "st"))
    s.write_base(spark.createDataFrame([_person(1, "a"), _person(2, "b")], PERSON_SCHEMA), 0)
    s.publish(0)
    return s


def _person(id_, name):
    return (id_, name, f"uid-{id_}", id_, None)


def _batch(version):
    """Version ``v``'s change rows: insert key 10+v, update key 1, delete
    key 10+v-1 (the previous batch's insert)."""
    rows = [(3 * version, "I", *_person(10 + version, f"n{version}"))]
    rows.append((3 * version + 1, "U", *_person(1, f"a{version}")))
    if version > 1:
        rows.append((3 * version + 2, "D", 10 + version - 1, None, None, None, None))
    return rows


def _expected(upto):
    """The serial fold of the base and batches 1..upto, as sorted rows."""
    state = {1: _person(1, "a"), 2: _person(2, "b")}
    for v in range(1, upto + 1):
        for _, action, id_, *vals in _batch(v):
            if action == "D":
                state.pop(id_, None)
            elif action == "I" or id_ in state:
                state[id_] = (id_, *vals)
    return sorted(state.values())


def _commit(spark, store, version):
    store.commit(spark.createDataFrame(_batch(version), FLAT_CHANGE_SCHEMA), version)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _dirs(store, prefix):
    return sorted(n for n in os.listdir(store.root) if n[:1] == prefix and n[1:].isdigit())


def test_read_merges_changes_onto_base(spark, store):
    assert _rows(store.read()) == _expected(0)
    _commit(spark, store, 1)
    assert _dirs(store, "v") == ["v00000000"] and _dirs(store, "c") == ["c00000001"]
    assert _rows(store.read()) == _expected(1)
    assert _rows(store.read_changes(1)) == sorted(_batch(1))


def test_crash_during_compaction_keeps_old_base(spark, store, monkeypatch):
    """A compaction that dies while writing the new base leaves ``_BASE`` on
    the old one: read() is still the old base plus the change files, and the
    next publish compacts again. Publishing ``_BASE`` before the base is
    fully written would point readers at the torn directory."""
    real = DataFrameWriter.parquet

    def torn(self, path, *args, **kwargs):
        if os.path.basename(path).startswith("v"):
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "part-00000.parquet"), "w") as f:
                f.write("torn")
            raise OSError("crash while writing the base")
        return real(self, path, *args, **kwargs)

    _commit(spark, store, 1)
    monkeypatch.setattr(DataFrameWriter, "parquet", torn)
    with pytest.raises(OSError, match="crash while writing"):
        _commit(spark, store, K)  # publish(K) compacts
    monkeypatch.setattr(DataFrameWriter, "parquet", real)
    assert store.latest_version() == K
    assert store._bases() == (0, None)
    assert _rows(store.read()) == _expected(K)

    _commit(spark, store, K + 1)  # still K versions past base 0: compacts
    assert store._bases() == (K + 1, 0)
    assert _rows(store.read()) == _expected(K + 1)
    # the torn base was never published, so retention removed it
    assert _dirs(store, "v") == ["v00000000", f"v{K + 1:08d}"]


def test_reader_survives_a_compaction_and_its_retention(spark, store):
    """A frame resolved before a compaction (the monitor thread's case) still
    collects its own version afterwards: retention keeps the previous base
    and the change files after it."""
    _commit(spark, store, 1)
    frame = store.read()  # base 0 + c1
    _commit(spark, store, K)  # compacts to base K, then retention
    assert store._bases() == (K, 0)
    assert _rows(frame) == _expected(1)
    assert _rows(store.read()) == _expected(K)


def test_retention_bounds_disk_across_compactions(spark, store):
    """Across three compactions the store holds at most two bases and the
    change directories after the older one: O(state + COMPACT_EVERY ×
    batch), not O(history)."""
    for v in range(1, 3 * K + 2):
        _commit(spark, store, v)
        bases, changes = _dirs(store, "v"), _dirs(store, "c")
        assert len(bases) <= 2 and len(changes) <= 2 * K, (v, bases, changes)
    cur, prev = store._bases()
    assert (cur, prev) == (3 * K, 2 * K)
    assert _dirs(store, "v") == [f"v{prev:08d}", f"v{cur:08d}"]
    assert _dirs(store, "c") == [f"c{v:08d}" for v in range(prev + 1, 3 * K + 2)]
    assert _rows(store.read()) == _expected(3 * K + 1)
