"""Shared per-session layers: the one registry of memoized derived tables.

Several query families share an expensive derived layer (shingle rows,
token occurrences, trained k-means centroids, PQ codebooks). Each builder
``fn(spark, sf_dir)`` is declared once with ``@layer(name)``; the registry
memoizes its value per (applicationId, sf_dir) so a session builds it once
(and a restarted session never reads another session's unpersisted plan),
and it is the one place that knows what is cached — the bench prebuild and
the tests that must rebuild layers read the layer set from ``LAYERS``.

The memo is bounded so a long-lived session iterating over many sf dirs
can't pin unbounded storage. Eviction is FIFO — ``dict`` preserves
insertion order and ``next(iter(d))`` is the OLDEST key (``dict.popitem()``
pops LIFO, which would evict the newest other entry and retain the oldest
forever). Evicted DataFrames are unpersisted; driver values are dropped.
"""

from __future__ import annotations

import functools
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_LIMIT = 4  # memo entries per layer


def _release(val: Any) -> None:
    if isinstance(val, DataFrame):
        try:
            val.unpersist()
        except Exception:  # an entry from a stopped session has no JVM side
            pass


class Layer:
    """A memoized ``fn(spark, sf_dir)`` builder; call it like the builder."""

    def __init__(self, name: str, build: Callable[[SparkSession, str], Any]) -> None:
        self.name = name
        self._build = build
        self._memo: dict[tuple[str, str], Any] = {}
        functools.update_wrapper(self, build)

    def __call__(self, spark: SparkSession, sf_dir: str) -> Any:
        key = (spark.sparkContext.applicationId, sf_dir)
        val = self._memo.get(key)
        if val is None:
            while len(self._memo) >= _LIMIT:
                _release(self._memo.pop(next(iter(self._memo))))
            val = self._memo[key] = self._build(spark, sf_dir)
        return val

    def clear(self) -> None:
        for val in self._memo.values():
            _release(val)
        self._memo.clear()


LAYERS: dict[str, Layer] = {}


def layer(name: str) -> Callable[[Callable], Layer]:
    """Register ``fn(spark, sf_dir)`` as the shared layer ``name``. A
    builder that reads another layer must register after it (same module,
    later in the file, or a module that imports it), so walking ``LAYERS``
    in order never builds a layer inside another's build."""

    def wrap(build: Callable[[SparkSession, str], Any]) -> Layer:
        LAYERS[name] = Layer(name, build)
        return LAYERS[name]

    return wrap


def clear_layers() -> None:
    """Forget every memoized layer value, unpersisting cached frames."""
    for lay in LAYERS.values():
        lay.clear()
