"""Smoke tests: every registry query runs at sf0.001, returns a stable,
non-degenerate schema, and leaves nothing in Spark's cache manager.
(Value-level correctness is covered by the DuckDB oracle harness —
tools/oracle_check.py — and the driver's gate.)"""

from __future__ import annotations

import pytest

from cartography_spark.plans.registry import REGISTRY, all_queries

all_queries()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    spark.catalog.clearCache()
    df = spec.spark(spark, sf_dir)
    assert df.columns, f"{name}: no columns"
    rows = df.limit(5).collect()
    assert rows is not None
    # every frame a query persists is released before it returns
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty(), f"{name}: left a cached frame"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 30
