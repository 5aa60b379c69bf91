"""Shared-layer registry: memo hits, per-sf_dir keys, the FIFO bound with
DataFrame-only unpersist, clear_layers(), and a registration order in which
no real layer is built inside another's build."""

from __future__ import annotations

import pytest

from postgres_cdc_example_spark import layers
from postgres_cdc_example_spark.layers import LAYERS, clear_layers, layer
from postgres_cdc_example_spark.queries import _load_all


@pytest.fixture
def scratch_layers():
    """Register throwaway layers for one test, then drop them."""
    before = set(LAYERS)
    yield
    for name in set(LAYERS) - before:
        LAYERS.pop(name).clear()


def test_hit_returns_same_object_without_rebuilding(spark, scratch_layers):
    calls = []

    @layer("t_hit")
    def build(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(3).persist()

    first = build(spark, "a")
    assert build(spark, "a") is first
    assert calls == ["a"]


def test_different_sf_dir_misses(spark, scratch_layers):
    calls = []

    @layer("t_dirs")
    def build(spark, sf_dir):
        calls.append(sf_dir)
        return [sf_dir]

    assert build(spark, "a") == ["a"]
    assert build(spark, "b") == ["b"]
    assert calls == ["a", "b"]


def test_fifth_key_evicts_oldest_and_unpersists_it(spark, scratch_layers):
    calls = []

    @layer("t_fifo")
    def build(spark, sf_dir):
        calls.append(sf_dir)
        return spark.range(int(sf_dir)).persist()

    frames = [build(spark, str(i)) for i in range(layers._LIMIT)]
    assert all(df.is_cached for df in frames)
    build(spark, str(layers._LIMIT))  # one key past the bound
    assert not frames[0].is_cached
    assert all(df.is_cached for df in frames[1:])
    build(spark, "2")  # still memoized
    assert calls == ["0", "1", "2", "3", "4"]
    build(spark, "0")  # evicted: rebuilds
    assert calls[-1] == "0" and len(calls) == 6


def test_driver_value_evicted_without_unpersist(spark, scratch_layers):
    class DriverValue(list):
        unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    @layer("t_driver")
    def build(spark, sf_dir):
        return DriverValue([sf_dir])

    oldest = build(spark, "0")
    for i in range(1, layers._LIMIT + 1):
        build(spark, str(i))
    assert build(spark, "0") is not oldest  # evicted ...
    assert not oldest.unpersisted  # ... without an unpersist call


def test_clear_layers_empties_every_layer(spark, scratch_layers):
    calls = []

    @layer("t_clear_df")
    def frame(spark, sf_dir):
        calls.append("df")
        return spark.range(2).persist()

    @layer("t_clear_list")
    def plain(spark, sf_dir):
        calls.append("list")
        return [1, 2]

    df = frame(spark, "a")
    plain(spark, "a")
    clear_layers()
    assert not df.is_cached
    frame(spark, "a")
    plain(spark, "a")
    assert calls == ["df", "list", "df", "list"]


def test_registry_order_never_nests_builds(spark, sf_dir, monkeypatch):
    """Walking LAYERS in order (as the bench prebuild does) builds each
    layer's inputs before it, so no build runs inside another and each
    layer's build time is its own."""
    _load_all()  # the real layers live in several modules: all registered
    clear_layers()
    stack: list[str] = []
    nested: list[tuple[str, str]] = []

    def recording(name, build):
        def run(spark, sf_dir):
            if stack:
                nested.append((stack[-1], name))
            stack.append(name)
            try:
                return build(spark, sf_dir)
            finally:
                stack.pop()

        return run

    for lay in LAYERS.values():
        monkeypatch.setattr(lay, "_build", recording(lay.name, lay._build))
    for lay in LAYERS.values():
        lay(spark, sf_dir)
    assert nested == []
