"""Query registry: every implemented operator from SURVEY.md §2 is declared
here as a (spark_builder, oracle_sql) pair.

- ``spark_builder(spark, sf_dir) -> DataFrame`` builds the declarative
  DataFrame plan (Catalyst optimizes it).
- ``oracle_sql`` is ANSI SQL that DuckDB runs over the same parquet views;
  the driver hash-compares both result sets (order-insensitive, columns
  sorted by name) — so column names and rounding must agree exactly.

Entries with ``oracle_sql=None`` are genuinely non-SQL-expressible and get a
rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator registering a query spec."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return wrap


def driver_verified() -> set[str]:
    """Names with a row in ANY CORRECTNESS_r*.json artifact at the repo root.

    Used to auto-rotate the verification order (see :func:`_ordered`); the
    artifacts are driver-written facts, so reading them at import time is
    deterministic for a fixed checkout.
    """
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    names: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        queries = doc.get("queries", doc) if isinstance(doc, dict) else doc
        if isinstance(queries, dict):
            names |= set(queries.keys())
        elif isinstance(queries, list):
            # list-of-objects artifact form; malformed entries count as
            # unverified (fail-safe: unverified queries sort FORWARD)
            names |= {q["name"] for q in queries if isinstance(q, dict) and "name" in q}
    return names


def _ordered() -> dict[str, QuerySpec]:
    # Importing the inventory modules populates REGISTRY.
    import cartography_spark.plans.inventory_relational  # noqa: F401
    import cartography_spark.plans.inventory_lifecycle  # noqa: F401
    import cartography_spark.plans.inventory_llm  # noqa: F401
    import cartography_spark.plans.inventory_extended  # noqa: F401
    import cartography_spark.plans.inventory_prep  # noqa: F401
    import cartography_spark.plans.inventory_graph  # noqa: F401
    import cartography_spark.plans.inventory_catalog  # noqa: F401
    import cartography_spark.plans.inventory_analytics  # noqa: F401
    import cartography_spark.plans.inventory_warehouse  # noqa: F401
    import cartography_spark.plans.inventory_tpch  # noqa: F401
    import cartography_spark.plans.inventory_scale  # noqa: F401
    import cartography_spark.plans.inventory_meta  # noqa: F401

    # AUTO-ROTATION: the driver's oracle gate walks queries() in insertion
    # order under a ~50-query budget, so cumulative coverage requires every
    # driver-unverified query to sort before every driver-verified one. The
    # stable partition of REGISTRY's insertion order on the CORRECTNESS
    # artifacts updates itself the moment a new round's artifact lands.
    verified = driver_verified()
    rotated = [n for n in REGISTRY if n not in verified] + [n for n in REGISTRY if n in verified]
    return {name: REGISTRY[name] for name in rotated}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.spark for name, spec in _ordered().items()}


def all_oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}
