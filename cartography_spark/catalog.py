"""GraphCatalog — the stored property graph as a catalog of DataFrames.

Reference: the graph lives in Neo4j; here it is
``nodes[label] -> DataFrame`` and ``edges[(src_label, rel, dst_label)] ->
DataFrame`` (SURVEY §1.4). Node tables always carry the engine-managed
columns ``id``, ``firstseen``, ``lastupdated`` (reference nodes.py:48-70);
edge tables carry ``(src_id, dst_id, firstseen, lastupdated, ...props)``.

Scale design: tables are plain DataFrames so they can be parquet- or
Delta-backed; ``save``/``load`` round-trips through parquet partitioned by
the tenant column when one is declared — the Spark analogue of the
reference's tenant-scoped cleanup indexes (partition pruning replaces
index seeks, SURVEY §4).

I/O is concurrent: ``save`` issues one parquet write per table and ``load``
one parquet read per table directory, each on its own thread
(``session.run_concurrently``), so the stages of many small tables share
the cores instead of queueing table after table. The plans, jobs and files
are the ones a sequential loop produces. The threads carry the caller's job
group. Both wait for every table, then raise the first failure in catalog
order with that table's path in the message.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from cartography_spark.session import run_concurrently

EdgeKey = tuple[str, str, str]  # (src_label, rel_label, dst_label)

ENGINE_NODE_COLS = ("id", "firstseen", "lastupdated")
ENGINE_EDGE_COLS = ("src_id", "dst_id", "firstseen", "lastupdated")


@dataclass
class GraphCatalog:
    spark: SparkSession
    nodes: dict[str, DataFrame] = field(default_factory=dict)
    edges: dict[EdgeKey, DataFrame] = field(default_factory=dict)
    # partition column per label (e.g. tenant id) for parquet layout
    partition_cols: dict[str, str] = field(default_factory=dict)

    def node(self, label: str) -> DataFrame:
        if label not in self.nodes:
            raise KeyError(f"unknown node label {label!r}; have {sorted(self.nodes)}")
        return self.nodes[label]

    def edge(self, src_label: str, rel: str, dst_label: str) -> DataFrame:
        key = (src_label, rel, dst_label)
        if key not in self.edges:
            raise KeyError(f"unknown edge {key!r}; have {sorted(self.edges)}")
        return self.edges[key]

    def set_node(self, label: str, df: DataFrame) -> None:
        missing = [c for c in ENGINE_NODE_COLS if c not in df.columns]
        if missing:
            raise ValueError(f"node table {label!r} missing engine columns {missing}")
        self.nodes[label] = df

    def set_edge(self, key: EdgeKey, df: DataFrame) -> None:
        missing = [c for c in ENGINE_EDGE_COLS if c not in df.columns]
        if missing:
            raise ValueError(f"edge table {key!r} missing engine columns {missing}")
        self.edges[key] = df

    def copy(self) -> GraphCatalog:
        """Shallow copy: DataFrames are immutable, so copying the dicts gives
        an independently mutable catalog sharing the underlying plans."""
        return GraphCatalog(
            self.spark,
            dict(self.nodes),
            dict(self.edges),
            dict(self.partition_cols),
        )

    def checkpoint(self) -> None:
        """Truncate plan lineage on every table. Each sync stage chains a
        full-outer merge over the previous table; after many stages Catalyst
        replans the whole chain per action (quadratic). Call between stages
        (or rely on ``save``/``load`` which truncates via parquet) — the
        reference gets this implicitly because Neo4j persists every write."""
        for label, df in list(self.nodes.items()):
            self.nodes[label] = df.localCheckpoint(eager=True)
        for key, df in list(self.edges.items()):
            self.edges[key] = df.localCheckpoint(eager=True)

    # -- persistence ---------------------------------------------------------

    def save(self, path: str) -> None:
        """Write every table as parquet under ``path`` (tenant-partitioned
        when a partition column is registered), all tables concurrently.

        Returns once every write has finished. If any failed, raises the
        first failure in catalog order (nodes, then edges), naming its path.
        The other tables are still written, so a failed save leaves a torn
        warehouse: ``mode("overwrite")`` writes straight into ``path``."""
        writes: list[tuple[str, Callable[[str], Any]]] = []
        for label, df in self.nodes.items():
            w = df.write.mode("overwrite")
            part = self.partition_cols.get(label)
            if part and part in df.columns:
                w = w.partitionBy(part)
            writes.append((f"{path}/nodes/{label}", w.parquet))
        for (sl, rl, dl), df in self.edges.items():
            writes.append((f"{path}/edges/{sl}__{rl}__{dl}", df.write.mode("overwrite").parquet))
        _each_path(self.spark, writes)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> GraphCatalog:
        """Read every table under ``path``, all directories concurrently.
        Tables enter the catalog in sorted directory order, nodes first, so
        two loads of one warehouse give the same dict order. Failures are
        raised as in :meth:`save`."""
        tables = [
            (kind, name)
            for kind in ("nodes", "edges")
            if os.path.isdir(f"{path}/{kind}")
            for name in sorted(os.listdir(f"{path}/{kind}"))
        ]
        frames = _each_path(
            spark, [(f"{path}/{kind}/{name}", spark.read.parquet) for kind, name in tables]
        )
        cat = cls(spark)
        for (kind, name), df in zip(tables, frames):
            if kind == "nodes":
                cat.nodes[name] = df
            else:
                sl, rl, dl = name.split("__")
                cat.edges[(sl, rl, dl)] = df
        return cat


def _each_path(spark: SparkSession, calls: list[tuple[str, Callable[[str], Any]]]) -> list[Any]:
    """``fn(path)`` for every ``(path, fn)`` concurrently; the results in
    order, or the first failure in order re-raised with its path."""
    futures = run_concurrently(spark, [lambda p=p, fn=fn: fn(p) for p, fn in calls])
    for (p, _), fut in zip(calls, futures):
        exc = fut.exception()
        if exc is not None:
            raise RuntimeError(f"{p}: {exc}") from exc
    return [fut.result() for fut in futures]
