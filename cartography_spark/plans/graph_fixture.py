"""Graph-catalog fixture: builds the FIXTURES.md §B property graph from the
driver's TPC-H-ish tables using the real engine operators (schemas ->
load -> edges), mirroring how the reference's integration tests build graph
state by running actual syncs against fixture dicts
(tests/integration/cartography/intel/aws/ec2/test_ec2_instances.py:22-120).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.upsert import load
from cartography_spark.schema import (
    ExtraNodeLabel,
    LinkDirection,
    NodeSchema,
    PropertyRef,
    RelSchema,
    TargetNodeMatcher,
)
from cartography_spark.sources.parquet import load_table
from cartography_spark.sync import build_staged_sync

REGION_SCHEMA = NodeSchema(
    label="Region",
    properties={
        "id": PropertyRef("r_regionkey"),
        "name": PropertyRef("r_name"),
        "r_regionkey": PropertyRef("r_regionkey"),
    },
    scoped_cleanup=False,  # the tenant label itself is cleaned unscoped
)

NATION_SCHEMA = NodeSchema(
    label="Nation",
    properties={
        "id": PropertyRef("n_nationkey"),
        "name": PropertyRef("n_name"),
        "n_nationkey": PropertyRef("n_nationkey"),
        "n_regionkey": PropertyRef("n_regionkey"),
    },
    sub_resource_relationship=RelSchema(
        rel_label="RESOURCE",
        target_node_label="Region",
        target_node_matcher=TargetNodeMatcher({"r_regionkey": PropertyRef("n_regionkey")}),
        direction=LinkDirection.INWARD,
    ),
)

SUPPLIER_SCHEMA = NodeSchema(
    label="Supplier",
    properties={
        "id": PropertyRef("s_suppkey"),
        "name": PropertyRef("s_name"),
        "acctbal": PropertyRef("s_acctbal"),
        "s_suppkey": PropertyRef("s_suppkey"),
        "s_nationkey": PropertyRef("s_nationkey"),
        # tenant column: lets the warehouse partition this label by region so
        # scoped cleanup/analysis prune partitions (SURVEY §4 tenant scoping)
        "region_id": PropertyRef("n_regionkey"),
    },
    sub_resource_relationship=RelSchema(
        rel_label="RESOURCE",
        target_node_label="Region",
        target_node_matcher=TargetNodeMatcher({"r_regionkey": PropertyRef("n_regionkey")}),
        direction=LinkDirection.INWARD,
    ),
    other_relationships=(
        RelSchema(
            rel_label="LOCATED_IN",
            target_node_label="Nation",
            target_node_matcher=TargetNodeMatcher({"n_nationkey": PropertyRef("s_nationkey")}),
        ),
    ),
    extra_node_labels=(
        ExtraNodeLabel("ONTOLOGY_COMPUTE"),
        ExtraNodeLabel("HIGH_BALANCE", when_property="s_acctbal_positive", when_value=True),
    ),
)

CUSTOMER_SCHEMA = NodeSchema(
    label="Customer",
    properties={
        "id": PropertyRef("c_custkey"),
        "name": PropertyRef("c_name"),
        "acctbal": PropertyRef("c_acctbal"),
        "mktsegment": PropertyRef("c_mktsegment"),
        "c_custkey": PropertyRef("c_custkey"),
        "c_nationkey": PropertyRef("c_nationkey"),
    },
    sub_resource_relationship=RelSchema(
        rel_label="RESOURCE",
        target_node_label="Region",
        target_node_matcher=TargetNodeMatcher({"r_regionkey": PropertyRef("n_regionkey")}),
        direction=LinkDirection.INWARD,
    ),
    other_relationships=(
        RelSchema(
            rel_label="LOCATED_IN",
            target_node_label="Nation",
            target_node_matcher=TargetNodeMatcher({"n_nationkey": PropertyRef("c_nationkey")}),
        ),
    ),
)

ORDER_SCHEMA = NodeSchema(
    label="Order",
    properties={
        "id": PropertyRef("o_orderkey"),
        "status": PropertyRef("o_orderstatus"),
        "totalprice": PropertyRef("o_totalprice"),
        "orderdate": PropertyRef("o_orderdate"),
        "priority": PropertyRef("o_orderpriority"),
        "o_custkey": PropertyRef("o_custkey"),
    },
    other_relationships=(
        RelSchema(
            rel_label="PLACED_BY",
            target_node_label="Customer",
            target_node_matcher=TargetNodeMatcher({"c_custkey": PropertyRef("o_custkey")}),
        ),
    ),
    scoped_cleanup=False,
)


def supplier_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier "transform" stage: enrich with the tenant key (region)
    via nation and flag positive balances. The reference flattens/augments
    rows in Python before load (intel/aws/ec2/instances.py:111-297); here
    it's a broadcast join."""
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    return supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_regionkey")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).withColumn("s_acctbal_positive", F.col("s_acctbal") > 0)


def stage_fns(spark: SparkSession, sf_dir: str):
    """Per-label load stages for the staged Sync — the Spark analog of the
    reference's intel-module starters (sync.py:588-640 build_sync wires one
    callable per selected module). Each stage reads config["UPDATE_TAG"]
    and runs get -> transform -> load for its label; stages are
    independently runnable because transforms join RAW tables, not catalog
    state."""

    def region_stage(cat: GraphCatalog, config) -> None:
        load(cat, REGION_SCHEMA, load_table(spark, sf_dir, "region"), config["UPDATE_TAG"])

    def nation_stage(cat: GraphCatalog, config) -> None:
        load(cat, NATION_SCHEMA, load_table(spark, sf_dir, "nation"), config["UPDATE_TAG"])

    def supplier_stage(cat: GraphCatalog, config) -> None:
        load(cat, SUPPLIER_SCHEMA, supplier_rows(spark, sf_dir), config["UPDATE_TAG"])

    def customer_stage(cat: GraphCatalog, config) -> None:
        nation = load_table(spark, sf_dir, "nation")
        customer = load_table(spark, sf_dir, "customer")
        customer_t = customer.join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            customer.c_nationkey == F.col("n_nationkey"),
        )
        load(cat, CUSTOMER_SCHEMA, customer_t, config["UPDATE_TAG"])

    def orders_stage(cat: GraphCatalog, config) -> None:
        load(cat, ORDER_SCHEMA, load_table(spark, sf_dir, "orders"), config["UPDATE_TAG"])

    return {
        "region": region_stage,
        "nation": nation_stage,
        "supplier": supplier_stage,
        "customer": customer_stage,
        "orders": orders_stage,
    }


def build_catalog(spark: SparkSession, sf_dir: str, update_tag: int = 100) -> GraphCatalog:
    """Run the real load pipeline over region/nation/customer/supplier/orders."""
    cat = GraphCatalog(spark)
    cat.partition_cols["Supplier"] = "region_id"
    build_staged_sync(stage_fns(spark, sf_dir)).run(cat, {"UPDATE_TAG": update_tag})
    return cat
