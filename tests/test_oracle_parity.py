"""Every registered query with an oracle must hash-match DuckDB at sf0.001 —
the local replica of the driver's CORRECTNESS gate."""

from __future__ import annotations

import os

import pytest

from postgres_cdc_example_spark.queries import REGISTRY, _load_all
from tests.oracle_utils import compare_to_oracle

_load_all()
_WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
_ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


DRIVER_SF_DIR = "/root/testdata/sf0.01"  # the scale the round driver checks


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(spark, sf_dir, name):
    q = REGISTRY[name]
    compare_to_oracle(spark, sf_dir, q.fn, q.oracle)


_FULL_PARITY = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_FULL_PARITY"),
    reason="sf0.01 parity is opt-in; the sf0.001 sweep covers every query. "
    "Set SPARK_GRAFT_FULL_PARITY=1 to run both scales (add -k NAME for a "
    "subset). A full-suite run with both scales was cut off ~93% done "
    "after 37m52s.",
)


@_FULL_PARITY
@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity_at_driver_sf(spark, name):
    """Same sweep at sf0.01 — the scale the driver actually samples.
    Scale-dependent oracle drift (the DECIMAL/HUGEINT overflow class, df
    cutoffs crossing thresholds, 0-row → nonzero transitions) can pass at
    sf0.001 and fail at sf0.01; this keeps every registered query
    sample-proof at the checked scale."""
    q = REGISTRY[name]
    compare_to_oracle(spark, DRIVER_SF_DIR, q.fn, q.oracle)


@pytest.mark.parametrize("name", ["dedup_embedding_cosine", "embedding_intrinsic_dim"])
def test_all_pairs_cosine_parity_at_scale(spark, sf_dir, name):
    """The all-pairs cosine kernel at sf0.1, the only fixture with more than
    500 vectors (2000): it chunks each Arrow batch, so only a side larger
    than one step exercises the seams."""
    q = REGISTRY[name]
    compare_to_oracle(spark, os.path.join(os.path.dirname(sf_dir), "sf0.1"), q.fn, q.oracle)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@_FULL_PARITY
@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run_at_driver_sf(spark, name):
    test_rows_only_queries_run(spark, DRIVER_SF_DIR, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))
