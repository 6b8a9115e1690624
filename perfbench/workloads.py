"""The two benchmark workloads, each a pass the runner repeats, and the
checks of their outputs.

``lifecycle`` is the product path over a warehouse that persists between
syncs: sync v1, save, load, resync v2, stale cleanup, one analysis job, save
v2 to a fresh path, the 23-rule corpus, and drift between the two versions.
``inventory`` runs registry queries through the noop sink.

``run_pass`` records one span per layer call on the tracer it is given and
returns the pass's outputs; ``check`` runs after the pass, outside its timed
region, and returns the names of the operations whose output was wrong.
"""

from __future__ import annotations

import os
import random
import shutil
from collections import Counter

import duckdb
from pyspark.sql import functions as F

import datagen
from cartography_spark.catalog import GraphCatalog
from cartography_spark.cli import _register_views
from cartography_spark.operators.cleanup import cleanup_nodes
from cartography_spark.plans import driftarchive
from cartography_spark.plans.analysis import AnalysisJob, AnalysisStatement, SetProperty
from cartography_spark.plans.graph_fixture import (
    CUSTOMER_SCHEMA,
    ORDER_SCHEMA,
    SUPPLIER_SCHEMA,
    build_catalog,
    stage_fns,
)
from cartography_spark.plans.query import match
from cartography_spark.plans.registry import REGISTRY, all_queries
from cartography_spark.plans.rules import framework_rollup, run_rules_batched
from cartography_spark.plans.rules_corpus import build_corpus_rules
from cartography_spark.sync import build_staged_sync

T1, T2 = 100, 200

LIFECYCLE_PHASES = (
    "sync.v1", "catalog.save_v1", "catalog.load_v1", "sync.v2", "operators.cleanup",
    "plans.analysis", "catalog.save_v2", "plans.rules", "plans.driftarchive",
)
# What a user pays for a resync, for the rules run and for drift detection.
LIFECYCLE_GROUPS = {
    "sync_s": ("catalog.load_v1", "sync.v2", "operators.cleanup", "plans.analysis", "catalog.save_v2"),
    "rules_s": ("plans.rules",),
    "drift_s": ("plans.driftarchive",),
}
INVENTORY_QUERIES = (
    # relational: scan/join/aggregate/window plans with few jobs each
    "multihop_join_revenue", "agg_pricing_summary", "top1_per_group",
    "lag_window_delta", "tpch_q9_product_profit", "cdc_apply_changelog",
    # iterative: fixpoint loops with a persist + localCheckpoint per round
    "graph_pagerank", "variable_length_closure", "dedup_embedding_collapsed",
)
DRIFT_QUERIES = {"suppliers": "SELECT id, name, acctbal FROM n_Supplier"}
# DuckDB form of DRIFT_QUERIES over one input directory's tables.
_DRIFT_SOURCES = {
    "suppliers": "SELECT CAST(s_suppkey AS VARCHAR), s_name, s_acctbal FROM {p}supplier",
}
# Expected v2 node tables: (label, warehouse columns, DuckDB source over v2/v1 views).
_NODE_EXPECT = (
    ("Region", "id, firstseen, lastupdated",
     "SELECT CAST(r_regionkey AS VARCHAR), {first}, {T2} FROM v2_region LEFT JOIN v1_region o USING (r_regionkey)",
     "o.r_regionkey"),
    ("Nation", "id, firstseen, lastupdated",
     "SELECT CAST(n_nationkey AS VARCHAR), {first}, {T2} FROM v2_nation LEFT JOIN v1_nation o USING (n_nationkey)",
     "o.n_nationkey"),
    ("Supplier", "id, firstseen, lastupdated, name, acctbal",
     "SELECT CAST(s_suppkey AS VARCHAR), {first}, {T2}, v2_supplier.s_name, v2_supplier.s_acctbal "
     "FROM v2_supplier LEFT JOIN v1_supplier o USING (s_suppkey)",
     "o.s_suppkey"),
    ("Customer", "id, firstseen, lastupdated, mktsegment, acctbal",
     "SELECT CAST(c_custkey AS VARCHAR), {first}, {T2}, v2_customer.c_mktsegment, v2_customer.c_acctbal "
     "FROM v2_customer LEFT JOIN v1_customer o USING (c_custkey)",
     "o.c_custkey"),
    ("Order", "id, firstseen, lastupdated, status, totalprice",
     "SELECT CAST(o_orderkey AS VARCHAR), {first}, {T2}, v2_orders.o_orderstatus, v2_orders.o_totalprice "
     "FROM v2_orders LEFT JOIN v1_orders o USING (o_orderkey)",
     "o.o_orderkey"),
)
_HIGH_VALUE_SQL = """
    SELECT CAST(o_orderkey AS VARCHAR) FROM v2_orders
    JOIN v2_customer ON o_custkey = c_custkey
    JOIN v2_nation ON c_nationkey = n_nationkey
    JOIN v2_region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_totalprice > 300000
"""


def _high_value_asia(c: GraphCatalog):
    return (
        match(c, "Order", "o")
        .where(F.col("o__totalprice") > 300000)
        .out("PLACED_BY", "Customer", "c")
        .inward("RESOURCE", "Region", "r")
        .df.filter(F.col("r__name") == "ASIA")
    )


ANALYSIS_JOB = AnalysisJob(
    name="high-value-asia",
    statements=(
        AnalysisStatement(
            matcher=_high_value_asia,
            effects=(SetProperty("Order", "o__id", "high_value", True),),
        ),
    ),
)


def _rows(con: duckdb.DuckDBPyConnection, sql: str) -> Counter:
    return Counter(tuple("" if v is None else str(v) for v in r) for r in con.sql(sql).fetchall())


class Lifecycle:
    ops_per_pass = len(LIFECYCLE_PHASES)
    # A scheduled sync starts a session, runs one cycle and exits, so users pay
    # the first cycle's class loading, JIT and codegen on every sync: the timed
    # pass is that cold cycle. (A warm-up cycle would also add ~25 s to a run.)
    warmup_passes = 0
    check_every_pass = True

    def __init__(self, spark, v1: str, v2: str, work: str):
        self.spark, self.v1, self.v2, self.work = spark, v1, v2, work
        self.con = duckdb.connect()
        datagen.views(self.con, v1, "v1_")
        datagen.views(self.con, v2, "v2_")
        # expectations that depend only on the inputs, derived once
        self.expect_high_value = _rows(self.con, _HIGH_VALUE_SQL)
        datagen.views(self.con, v2)
        all_queries()
        rollup = REGISTRY["rules_framework_rollup"].oracle
        self.expect_rollup = Counter(self.con.sql(rollup).fetchall())
        self.expect_drift = {}
        for name, sql in _DRIFT_SOURCES.items():
            old, new = _rows(self.con, sql.format(p="v1_")), _rows(self.con, sql.format(p="v2_"))
            self.expect_drift[name] = Counter(
                {row + ("new",): n for row, n in (new - old).items()}
            ) + Counter({row + ("missing",): n for row, n in (old - new).items()})
        rows1, bytes1 = datagen.input_stats(v1)
        rows2, bytes2 = datagen.input_stats(v2)
        self.ingested_rows, self.ingested_bytes = rows1 + rows2, bytes1 + bytes2
        self.written = {"bytes": 0, "files": 0}  # parquet output of the last checked pass
        self.n_pass = 0

    def run_pass(self, tracer, checked: bool):
        """One lifecycle cycle into a fresh warehouse directory."""
        self.n_pass += 1
        wh = os.path.join(self.work, f"warehouse-{self.n_pass}")
        span = tracer.span
        with span("sync.v1"):
            cat = build_catalog(self.spark, self.v1, T1)
        with span("catalog.save_v1"):
            cat.save(f"{wh}/v1")
        with span("catalog.load_v1"):
            cat = GraphCatalog.load(self.spark, f"{wh}/v1")
            cat.partition_cols["Supplier"] = "region_id"
            v1_cat = cat.copy()
        with span("sync.v2"):
            errors = build_staged_sync(stage_fns(self.spark, self.v2)).run(cat, {"UPDATE_TAG": T2})
            if errors:
                raise next(iter(errors.values()))
        with span("operators.cleanup"):
            for schema in (ORDER_SCHEMA, CUSTOMER_SCHEMA, SUPPLIER_SCHEMA):
                cleanup_nodes(cat, schema, T2)
        with span("plans.analysis"):
            ANALYSIS_JOB.run(cat, T2)
        # a fresh path: saving over the loaded v1 would read and overwrite the same files
        with span("catalog.save_v2"):
            cat.save(f"{wh}/v2")
        with span("plans.rules"):
            v2_cat = GraphCatalog.load(self.spark, f"{wh}/v2")
            rules = build_corpus_rules(self.spark, self.v2)
            rollup = framework_rollup(run_rules_batched(rules, v2_cat)).collect()
        states = f"{wh}/drift"
        with span("plans.driftarchive"):
            for name, sql in DRIFT_QUERIES.items():
                driftarchive.init_query(states, name, sql)
            for fname, c in (("v1.json", v1_cat), ("v2.json", v2_cat)):
                _register_views(self.spark, c)
                driftarchive.get_states(states, self.spark.sql, filename=fname)
            drift = {
                name: driftarchive.perform_drift_detection(
                    driftarchive.load_state(self.spark, states, name, "v1.json"),
                    driftarchive.load_state(self.spark, states, name, "v2.json"),
                ).collect()
                for name in DRIFT_QUERIES
            }
        return wh, rollup, drift

    def check(self, out) -> list[str]:
        wh, rollup, drift = out
        files = [os.path.join(d, f) for d, _, fs in os.walk(wh) for f in fs if f.endswith(".parquet")]
        self.written = {"bytes": sum(map(os.path.getsize, files)), "files": len(files)}
        failed = []
        con = self.con
        for label, cols, source, old_key in _NODE_EXPECT:
            got = f"SELECT {cols} FROM read_parquet('{wh}/v2/nodes/{label}/**/*.parquet')"
            first = f"CASE WHEN {old_key} IS NULL THEN {T2} ELSE {T1} END"
            want = source.format(first=first, T2=T2)
            if _rows(con, got) != _rows(con, want):
                failed.append("catalog.save_v2")
                break
        got = f"SELECT id FROM read_parquet('{wh}/v2/nodes/Order/*.parquet') WHERE high_value"
        if _rows(con, got) != self.expect_high_value:
            failed.append("plans.analysis")
        if Counter(tuple(r) for r in rollup) != self.expect_rollup:
            failed.append("plans.rules")
        got = {name: Counter(tuple(r) for r in rows) for name, rows in drift.items()}
        if got != self.expect_drift:
            failed.append("plans.driftarchive")
        shutil.rmtree(wh)
        return failed


class Inventory:
    # the first pass after the checked one still compiles code; timing it
    # doubled the spread of pass_s and cpu_s across seeds
    warmup_passes = 2
    check_every_pass = False

    def __init__(self, spark, v1: str, seed: int):
        from tools.oracle_check import normalize

        self.spark, self.v1 = spark, v1
        all_queries()
        self.order = list(INVENTORY_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.ops_per_pass = len(self.order)
        self._normalize = normalize
        con = duckdb.connect()
        datagen.views(con, v1)
        self.expect = {q: normalize(con.sql(REGISTRY[q].oracle).df()) for q in self.order}
        con.close()

    def run_pass(self, tracer, checked: bool) -> dict:
        """Every query once, in seed order. A checked pass collects each
        result to pandas for ``check``; otherwise results go to the noop sink."""
        got = {}
        for q in self.order:
            with tracer.span(f"query.{q}"):
                df = REGISTRY[q].spark(self.spark, self.v1)
                if checked:
                    got[q] = df.toPandas()
                else:
                    df.write.mode("overwrite").format("noop").save()
        return got

    def check(self, got: dict) -> list[str]:
        return [f"query.{q}" for q, df in got.items() if not self._matches(q, df)]

    def _matches(self, q: str, got) -> bool:
        want = self.expect[q]
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            return False
        return self._normalize(got).equals(want)
