"""Engine lifecycle tests — the FIXTURES.md §B scenarios, mirroring the
reference's sync-twice integration pattern
(tests/integration/.../test_ec2_instances.py:22-120)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.cleanup import cleanup_cascade, cleanup_nodes, cleanup_rels
from cartography_spark.operators.closure import transitive_closure
from cartography_spark.operators.matchlink import cleanup_match_links, match_link
from cartography_spark.operators.upsert import load, upsert_nodes
from cartography_spark.plans.graph_fixture import (
    SUPPLIER_SCHEMA,
    build_catalog,
)
from cartography_spark.schema import LinkDirection, NodeSchema, PropertyRef, RelSchema, TargetNodeMatcher
from cartography_spark.sources.parquet import load_table

T1, T2 = 100, 200


def check_rels(cat, src_label, src_attr, dst_label, dst_attr, rel) -> set[tuple]:
    """(src_attr, dst_attr) of every ``rel`` edge — the reference's
    integration-test assert (tests/integration/util.py:11-80)."""
    e = cat.edge(src_label, rel, dst_label).select("src_id", "dst_id")
    s = cat.node(src_label).select(F.col("id").alias("src_id"), F.col(src_attr).alias("_src_attr"))
    d = cat.node(dst_label).select(F.col("id").alias("dst_id"), F.col(dst_attr).alias("_dst_attr"))
    joined = e.join(s, "src_id").join(d, "dst_id").select("_src_attr", "_dst_attr")
    return {tuple(r) for r in joined.collect()}


def _supplier_batch(spark, sf_dir):
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    return supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_regionkey")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).withColumn("s_acctbal_positive", F.col("s_acctbal") > 0)


def test_upsert_lifecycle_scenario1(spark, sf_dir):
    """Scenario 1: load all suppliers at T1; reload even-key subset with
    mutated acctbal at T2; survivors keep firstseen=T1; scoped cleanup for
    region-0 deletes that tenant's stale rows only."""
    cat = GraphCatalog(spark)
    from cartography_spark.plans.graph_fixture import NATION_SCHEMA, REGION_SCHEMA

    load(cat, REGION_SCHEMA, load_table(spark, sf_dir, "region"), T1)
    load(cat, NATION_SCHEMA, load_table(spark, sf_dir, "nation"), T1)

    batch1 = _supplier_batch(spark, sf_dir)
    load(cat, SUPPLIER_SCHEMA, batch1, T1)
    n_total = cat.node("Supplier").count()
    assert n_total == batch1.count()

    # T2: only even suppkeys, acctbal bumped by 1000
    batch2 = batch1.filter(F.col("s_suppkey") % 2 == 0).withColumn(
        "s_acctbal", F.col("s_acctbal") + 1000
    )
    load(cat, SUPPLIER_SCHEMA, batch2, T2)
    sup = cat.node("Supplier")

    evens = sup.filter(F.col("s_suppkey") % 2 == 0)
    odds = sup.filter(F.col("s_suppkey") % 2 == 1)
    assert evens.filter((F.col("firstseen") == T1) & (F.col("lastupdated") == T2)).count() == evens.count()
    assert odds.filter((F.col("firstseen") == T1) & (F.col("lastupdated") == T1)).count() == odds.count()
    # mutation visible
    orig = dict(batch1.select("s_suppkey", "s_acctbal").collect())
    got = dict(evens.select("s_suppkey", "acctbal").collect())
    assert all(abs(got[k] - (orig[k] + 1000)) < 1e-9 for k in got)

    # scoped cleanup: tenant = region 0 only
    cleanup_nodes(cat, SUPPLIER_SCHEMA, T2, tenant_id="0")
    sup2 = cat.node("Supplier")
    # stale (odd) suppliers in region 0 are gone; stale elsewhere survive
    nation_region = dict(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey").collect()
    )
    rows = sup2.select("s_suppkey", "s_nationkey", "lastupdated").collect()
    for r in rows:
        if nation_region[r.s_nationkey] == 0:
            assert r.lastupdated == T2, f"stale supplier {r.s_suppkey} in scoped tenant survived"
    odd_other = [r for r in rows if r.s_suppkey % 2 == 1 and nation_region[r.s_nationkey] != 0]
    assert odd_other, "stale suppliers outside the tenant must survive scoped cleanup"
    # edges to deleted suppliers are detached
    e = cat.edge("Region", "RESOURCE", "Supplier")
    assert e.join(sup2.select(F.col("id").alias("dst_id")), "dst_id", "left_anti").count() == 0


def test_upsert_idempotent(spark, sf_dir):
    cat = GraphCatalog(spark)
    from cartography_spark.plans.graph_fixture import NATION_SCHEMA, REGION_SCHEMA

    load(cat, REGION_SCHEMA, load_table(spark, sf_dir, "region"), T1)
    load(cat, NATION_SCHEMA, load_table(spark, sf_dir, "nation"), T1)
    batch = _supplier_batch(spark, sf_dir)
    load(cat, SUPPLIER_SCHEMA, batch, T1)
    snap1 = set(map(tuple, cat.node("Supplier").select("id", "acctbal", "firstseen", "lastupdated").collect()))
    load(cat, SUPPLIER_SCHEMA, batch, T1)
    snap2 = set(map(tuple, cat.node("Supplier").select("id", "acctbal", "firstseen", "lastupdated").collect()))
    assert snap1 == snap2


def test_extra_labels_and_check_helpers(spark, sf_dir):
    cat = build_catalog(spark, sf_dir, T1)
    sup = cat.node("Supplier")
    assert "labels" in sup.columns
    labeled = sup.select("id", F.array_contains("labels", "HIGH_BALANCE").alias("hb"), "acctbal").collect()
    for r in labeled:
        assert r.hb == (r.acctbal > 0)
    # check_rels helper: supplier LOCATED_IN nation pairs match raw data
    pairs = check_rels(cat, "Supplier", "s_suppkey", "Nation", "n_nationkey", "LOCATED_IN")
    raw = {
        (r.s_suppkey, r.s_nationkey)
        for r in load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey").collect()
    }
    assert pairs == raw


def test_matcher_modes(spark, sf_dir):
    """Scenario 2: ignore_case, fuzzy contains, one_to_many list matchers."""
    cat = build_catalog(spark, sf_dir, T1)
    schema = NodeSchema(
        label="Probe",
        properties={"id": PropertyRef("pid")},
        other_relationships=(
            RelSchema(
                rel_label="CI_MATCH",
                target_node_label="Customer",
                target_node_matcher=TargetNodeMatcher({"name": PropertyRef("uname", ignore_case=True)}),
            ),
            RelSchema(
                rel_label="FUZZY_MATCH",
                target_node_label="Nation",
                target_node_matcher=TargetNodeMatcher(
                    {"name": PropertyRef("frag", fuzzy_and_ignore_case=True)}
                ),
            ),
            RelSchema(
                rel_label="LIST_MATCH",
                target_node_label="Supplier",
                target_node_matcher=TargetNodeMatcher(
                    {"s_suppkey": PropertyRef("supp_list", one_to_many=True)}
                ),
            ),
        ),
        scoped_cleanup=False,
    )
    rows = spark.createDataFrame(
        [
            {"pid": "p1", "uname": "CUSTOMER#000000007", "frag": "nation_2", "supp_list": [1, 2, 3]},
        ],
        "pid string, uname string, frag string, supp_list array<bigint>",
    )
    load(cat, schema, rows, T1)
    ci = check_rels(cat, "Probe", "id", "Customer", "name", "CI_MATCH")
    assert ci == {("p1", "Customer#000000007")}
    fuzzy = check_rels(cat, "Probe", "id", "Nation", "name", "FUZZY_MATCH")
    # NATION_2 plus NATION_2x (contains 'nation_2' case-insensitively)
    assert ("p1", "NATION_2") in fuzzy and all(n.startswith("NATION_2") for _, n in fuzzy)
    lst = check_rels(cat, "Probe", "id", "Supplier", "s_suppkey", "LIST_MATCH")
    assert lst == {("p1", 1), ("p1", 2), ("p1", 3)}


def test_matchlink_and_cleanup(spark, sf_dir):
    cat = build_catalog(spark, sf_dir, T1)
    orders = load_table(spark, sf_dir, "orders")
    rows = orders.select("o_orderkey", "o_custkey").limit(50)
    # match on string id requires the cast column
    rows2 = rows.withColumn("o_orderkey_str", F.col("o_orderkey").cast("string"))
    match_link(
        cat,
        rows2,
        rel_label="ORDERED",
        src_label="Customer",
        src_matcher=TargetNodeMatcher({"c_custkey": PropertyRef("o_custkey")}),
        dst_label="Order",
        dst_matcher=TargetNodeMatcher({"id": PropertyRef("o_orderkey_str")}),
        update_tag=T1,
        sub_resource_label="Region",
        sub_resource_id="0",
    )
    e = cat.edge("Customer", "ORDERED", "Order")
    assert e.count() == 50
    # re-link a subset at T2, then scoped matchlink cleanup drops the rest
    match_link(
        cat,
        rows2.limit(20),
        rel_label="ORDERED",
        src_label="Customer",
        src_matcher=TargetNodeMatcher({"c_custkey": PropertyRef("o_custkey")}),
        dst_label="Order",
        dst_matcher=TargetNodeMatcher({"id": PropertyRef("o_orderkey_str")}),
        update_tag=T2,
        sub_resource_label="Region",
        sub_resource_id="0",
    )
    cleanup_match_links(cat, ("Customer", "ORDERED", "Order"), T2, "Region", "0")
    assert cat.edge("Customer", "ORDERED", "Order").count() == 20


def test_matchlink_honours_matcher_flags(spark):
    """match_link resolves each side through the same matcher compiler as
    upsert_rel, so ignore_case and one_to_many keep their join semantics."""
    cat = GraphCatalog(spark)
    host = NodeSchema(label="Host", properties={"id": PropertyRef("hid"), "hostname": PropertyRef("hn")})
    port = NodeSchema(label="Port", properties={"id": PropertyRef("pid"), "number": PropertyRef("num")})
    load(cat, host, spark.createDataFrame([("h1", "Web-01")], "hid string, hn string"), T1)
    load(cat, port, spark.createDataFrame([("p1", 80), ("p2", 443)], "pid string, num bigint"), T1)
    rows = spark.createDataFrame([("web-01", [443])], "host string, ports array<bigint>")
    match_link(
        cat,
        rows,
        rel_label="EXPOSES",
        src_label="Host",
        src_matcher=TargetNodeMatcher({"hostname": PropertyRef("host", ignore_case=True)}),
        dst_label="Port",
        dst_matcher=TargetNodeMatcher({"number": PropertyRef("ports", one_to_many=True)}),
        update_tag=T1,
    )
    assert check_rels(cat, "Host", "id", "Port", "id", "EXPOSES") == {("h1", "p2")}


def test_transitive_closure_ring(spark):
    """Scenario 6: ring of 25 nodes, closure bounded at 3 hops."""
    n = 25
    edges = spark.createDataFrame(
        [(str(i), str((i + 1) % n)) for i in range(n)], "src_id string, dst_id string"
    )
    got = {
        (int(r.src_id), int(r.dst_id), r.hops)
        for r in transitive_closure(edges, max_hops=3).collect()
    }
    expect = {(i, (i + h) % n, h) for i in range(n) for h in (1, 2, 3)}
    assert got == expect


def test_closure_cycle_termination(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], "src_id string, dst_id string")
    got = {(r.src_id, r.dst_id, r.hops) for r in transitive_closure(edges, max_hops=6).collect()}
    assert got == {("a", "b", 1), ("b", "a", 1), ("a", "a", 2), ("b", "b", 2)}


def test_cascade_cleanup(spark, sf_dir):
    """Stale parent Orders cascade-delete their stale Lineitem children
    (cleanupbuilder.py:309-334)."""
    cat = build_catalog(spark, sf_dir, T1)
    li_schema = NodeSchema(
        label="Lineitem",
        properties={
            "id": PropertyRef("li_id"),
            "quantity": PropertyRef("l_quantity"),
            "l_orderkey": PropertyRef("l_orderkey"),
        },
        other_relationships=(
            RelSchema(
                rel_label="PART_OF",
                target_node_label="Order",
                target_node_matcher=TargetNodeMatcher({"id": PropertyRef("l_orderkey_str")}),
            ),
        ),
        scoped_cleanup=False,
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("li_id", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .withColumn("l_orderkey_str", F.col("l_orderkey").cast("string"))
        .filter(F.col("l_orderkey") <= 2000)  # deterministic subset (limit() is not)
    )
    load(cat, li_schema, li, T1)
    from cartography_spark.plans.graph_fixture import ORDER_SCHEMA

    # T2 sync: only half the orders (and their lineitems) come back
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 2 == 0)
    load(cat, ORDER_SCHEMA, orders, T2)
    li2 = li.filter(F.col("l_orderkey") % 2 == 0)
    load(cat, li_schema, li2, T2)

    cleanup_cascade(
        cat,
        parent_schema=ORDER_SCHEMA,
        child_schema=li_schema,
        update_tag=T2,
    )
    assert cat.node("Order").filter(F.col("lastupdated") != T2).count() == 0
    remaining = cat.node("Lineitem")
    # the synthetic lineitem table has duplicate (orderkey, linenumber)
    # pairs, so the upsert dedups on id — compare distinct ids
    assert remaining.count() == li2.select("li_id").distinct().count()
    assert remaining.filter(F.col("l_orderkey") % 2 == 1).count() == 0


def _cascade_schemas(*directions):
    parent = NodeSchema(label="P", properties={"id": PropertyRef("id")})
    child = NodeSchema(
        label="C",
        properties={"id": PropertyRef("id")},
        other_relationships=tuple(
            RelSchema("OF", "P", TargetNodeMatcher({"id": PropertyRef("pid")}), direction=d) for d in directions
        ),
    )
    return parent, child


def test_cascade_cleanup_inward_child_edge(spark):
    """A child that declares its parent edge INWARD is stored parent ->
    child; the cascade still finds and deletes the stale parent's stale
    child, and keeps the fresh ones."""
    parent, child = _cascade_schemas(LinkDirection.INWARD)
    cat = GraphCatalog(spark)
    load(cat, parent, spark.createDataFrame([("p1",), ("p2",)], "id string"), T1)
    kids = spark.createDataFrame([("c1", "p1"), ("c2", "p2")], "id string, pid string")
    load(cat, child, kids, T1)
    assert {(r.src_id, r.dst_id) for r in cat.edge("P", "OF", "C").collect()} == {("p1", "c1"), ("p2", "c2")}
    load(cat, parent, spark.createDataFrame([("p2",)], "id string"), T2)
    load(cat, child, kids.filter(F.col("id") == "c2"), T2)

    cleanup_cascade(cat, parent_schema=parent, child_schema=child, update_tag=T2)
    assert [r.id for r in cat.node("P").collect()] == ["p2"]
    assert [r.id for r in cat.node("C").collect()] == ["c2"]
    assert [(r.src_id, r.dst_id) for r in cat.edge("P", "OF", "C").collect()] == [("p2", "c2")]


def test_cascade_cleanup_needs_one_parent_edge(spark):
    cat = GraphCatalog(spark)
    for directions in ((), (LinkDirection.INWARD, LinkDirection.OUTWARD)):
        parent, child = _cascade_schemas(*directions)
        with pytest.raises(ValueError, match="declares 0 relationships|declares 2 relationships"):
            cleanup_cascade(cat, parent_schema=parent, child_schema=child, update_tag=T2)


def test_rel_only_cleanup(spark, sf_dir):
    cat = build_catalog(spark, sf_dir, T1)
    key = ("Supplier", "LOCATED_IN", "Nation")
    before = cat.edge(*key).count()
    # refresh edges for even suppliers only at T2
    batch2 = _supplier_batch(spark, sf_dir).filter(F.col("s_suppkey") % 2 == 0)
    from cartography_spark.operators.upsert import upsert_rel

    upsert_rel(cat, SUPPLIER_SCHEMA, SUPPLIER_SCHEMA.other_relationships[0], batch2, T2)
    cleanup_rels(cat, key, T2)
    after = cat.edge(*key).count()
    assert after == batch2.count() and after < before


def test_catalog_save_load(spark, sf_dir, tmp_path):
    cat = build_catalog(spark, sf_dir, T1)
    cat.partition_cols["Supplier"] = "s_nationkey"
    path = str(tmp_path / "graph")
    cat.save(path)
    cat2 = GraphCatalog.load(spark, path)
    assert set(cat2.nodes) == set(cat.nodes)
    assert set(cat2.edges) == set(cat.edges)
    assert cat2.node("Supplier").count() == cat.node("Supplier").count()
    # every table round-trips row for row; the partition column comes back
    # last and with an inferred type, so align to the saved schema first
    pairs = [(cat.node(k), cat2.node(k)) for k in cat.nodes]
    pairs += [(cat.edge(*k), cat2.edge(*k)) for k in cat.edges]
    for want, got in pairs:
        got = got.select(*[
            F.col(f.name).cast(f.dataType)
            if got.schema[f.name].dataType.simpleString() != f.dataType.simpleString()
            else F.col(f.name)
            for f in want.schema
        ])
        # Spark's exceptAll rewrite loses a column of the merge's
        # first()-aggregate plan (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), so
        # compare against the materialized rows
        want = want.localCheckpoint()
        assert want.exceptAll(got).isEmpty() and got.exceptAll(want).isEmpty()
    # load order is sorted, not directory-listing order
    again = GraphCatalog.load(spark, path)
    assert list(again.nodes) == list(cat2.nodes)
    assert list(again.edges) == list(cat2.edges)
