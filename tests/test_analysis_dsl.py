"""Analysis DSL effect tests (reference graph/analysis.py:71-150 semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cartography_spark.plans.analysis import (
    AddRelationship,
    AddToSet,
    AnalysisJob,
    AnalysisStatement,
    SetProperty,
    SetRelationshipProperty,
)
from cartography_spark.plans.inventory_lifecycle import base_catalog
from cartography_spark.plans.query import match


def test_set_property_and_rerun(spark, sf_dir):
    cat = base_catalog(spark, sf_dir)

    def matcher(c):
        return match(c, "Supplier", "s").where(F.col("s__acctbal") > 5000).df

    job = AnalysisJob(
        "flag", (AnalysisStatement(matcher, (SetProperty("Supplier", "s__id", "rich", True),)),)
    )
    job.run(cat, 200)
    sup = cat.node("Supplier")
    flagged = {r.id for r in sup.filter(F.col("rich") == True).collect()}  # noqa: E712
    expect = {r.id for r in sup.filter(F.col("acctbal") > 5000).collect()}
    assert flagged == expect
    # rerun with a narrower match: previously flagged nodes are cleared
    def matcher2(c):
        return match(c, "Supplier", "s").where(F.col("s__acctbal") > 9000).df

    AnalysisJob(
        "flag", (AnalysisStatement(matcher2, (SetProperty("Supplier", "s__id", "rich", True),)),)
    ).run(cat, 300)
    sup2 = cat.node("Supplier")
    assert sup2.filter((F.col("rich") == True) & (F.col("acctbal") <= 9000)).count() == 0  # noqa: E712


def test_add_to_set_dedup(spark, sf_dir):
    cat = base_catalog(spark, sf_dir)

    def matcher(c):
        return c.node("Supplier").select(F.col("id").alias("sid"), F.lit("tag-a").alias("v"))

    eff = AddToSet("Supplier", "sid", "tags", F.col("v"))
    AnalysisJob("t", (AnalysisStatement(matcher, (eff,)),)).run(cat, 200)
    AnalysisJob("t", (AnalysisStatement(matcher, (eff,)),)).run(cat, 300)
    rows = cat.node("Supplier").select("tags").collect()
    assert all(r.tags == ["tag-a"] for r in rows), "AddToSet must dedup across reruns"


def test_add_to_set_non_string_values(spark, sf_dir):
    # the empty-array base must adopt the value's element type (int here) —
    # a hardcoded array<string> base would fail to concat
    cat = base_catalog(spark, sf_dir)

    def matcher(c):
        return c.node("Supplier").select(
            F.col("id").alias("sid"), F.col("s_nationkey").cast("int").alias("v")
        )

    eff = AddToSet("Supplier", "sid", "nation_set", F.col("v"))
    AnalysisJob("t", (AnalysisStatement(matcher, (eff,)),)).run(cat, 200)
    rows = cat.node("Supplier").select("s_nationkey", "nation_set").collect()
    assert all(r.nation_set == [r.s_nationkey] for r in rows)


def test_set_relationship_property(spark, sf_dir):
    cat = base_catalog(spark, sf_dir)
    key = ("Supplier", "LOCATED_IN", "Nation")

    def matcher(c):
        return c.edge(*key).select("src_id", "dst_id").limit(0)

    # set on ALL edges via a full matcher
    def matcher_all(c):
        return c.edge(*key).select("src_id", "dst_id", F.lit("verified").alias("v"))

    eff = SetRelationshipProperty(key, "src_id", "dst_id", "status", F.col("v"))
    AnalysisJob("rp", (AnalysisStatement(matcher_all, (eff,)),)).run(cat, 200)
    e = cat.edge(*key)
    assert e.filter(F.col("status") == "verified").count() == e.count()


def test_add_relationship_cleanup_scoping(spark, sf_dir):
    cat = base_catalog(spark, sf_dir)

    def matcher(c):
        return (
            match(c, "Order", "o")
            .out("PLACED_BY", "Customer", "cu")
            .df.select(F.col("cu__id").alias("src"), F.col("o__id").alias("dst"))
        )

    eff = AddRelationship("Customer", "HAS_ORDER", "Order", "src", "dst")
    AnalysisJob("d", (AnalysisStatement(matcher, (eff,)),)).run(cat, 200)
    n1 = cat.edge("Customer", "HAS_ORDER", "Order").count()
    assert n1 > 0
    # narrower rerun -> auto-cleanup shrinks the derived edge table
    def matcher2(c):
        return matcher(c).limit(10)

    AnalysisJob("d", (AnalysisStatement(matcher2, (eff,)),)).run(cat, 300)
    assert cat.edge("Customer", "HAS_ORDER", "Order").count() == 10


def test_set_property_merges_across_statements(spark, sf_dir):
    """Two statements setting the same prop in one run must union, not
    clobber (reference SET touches only matched nodes)."""
    cat = base_catalog(spark, sf_dir)

    def low(c):
        return c.node("Supplier").filter(F.col("acctbal") < 0).select(F.col("id").alias("sid"))

    def high(c):
        return c.node("Supplier").filter(F.col("acctbal") > 9000).select(F.col("id").alias("sid"))

    AnalysisJob(
        "both",
        (
            AnalysisStatement(low, (SetProperty("Supplier", "sid", "flagged", True),)),
            AnalysisStatement(high, (SetProperty("Supplier", "sid", "flagged", True),)),
        ),
    ).run(cat, 200)
    sup = cat.node("Supplier")
    flagged = {r.id for r in sup.filter(F.col("flagged") == True).collect()}  # noqa: E712
    expect = {r.id for r in sup.filter((F.col("acctbal") < 0) | (F.col("acctbal") > 9000)).collect()}
    assert flagged == expect


def test_add_values_to_set_and_if_missing(spark, sf_dir):
    from cartography_spark.plans.analysis import (
        AddValuesToSet,
        SetRelationshipPropertyIfMissing,
    )

    cat = base_catalog(spark, sf_dir)

    def matcher(c):
        return c.node("Supplier").select(F.col("id").alias("sid"))

    AnalysisJob(
        "vals",
        (AnalysisStatement(matcher, (AddValuesToSet("Supplier", "sid", "tags", ("a", "b")),)),),
    ).run(cat, 200)
    # second run overlaps one value -> still deduped
    AnalysisJob(
        "vals",
        (AnalysisStatement(matcher, (AddValuesToSet("Supplier", "sid", "tags", ("b", "c")),)),),
    ).run(cat, 300)
    rows = cat.node("Supplier").select("tags").collect()
    assert all(sorted(r.tags) == ["a", "b", "c"] for r in rows)

    # if-missing on edges: first writer wins
    def ematcher(c):
        return c.node("Order").select(
            F.col("id").alias("oid"), F.col("o_custkey").cast("string").alias("cid")
        )

    eff1 = SetRelationshipProperty(
        ("Order", "PLACED_BY", "Customer"), "oid", "cid", "note", "first"
    )
    eff2 = SetRelationshipPropertyIfMissing(
        ("Order", "PLACED_BY", "Customer"), "oid", "cid", "note", "second"
    )
    AnalysisJob("e", (AnalysisStatement(ematcher, (eff1, eff2)),)).run(cat, 400)
    notes = {r.note for r in cat.edge("Order", "PLACED_BY", "Customer").select("note").collect()}
    assert notes == {"first"}


def test_incremental_on_gate(spark, sf_dir):
    """incremental_on only acts on entities refreshed at the current tag
    (reference analysis.py:28-36; analysisbuilder.py:195-232)."""
    from cartography_spark.operators.upsert import load
    from cartography_spark.plans.graph_fixture import SUPPLIER_SCHEMA
    from cartography_spark.plans.inventory_lifecycle import _supplier_batches

    cat = base_catalog(spark, sf_dir)
    _, b2 = _supplier_batches(spark, sf_dir)  # even suppkeys refreshed at T2
    load(cat, SUPPLIER_SCHEMA, b2, 200)

    def matcher(c):
        return c.node("Supplier").select(
            F.col("id").alias("sid"), F.col("lastupdated").alias("s_lastupdated")
        )

    stmt = AnalysisStatement(
        matcher, (SetProperty("Supplier", "sid", "touched", True),), incremental_on=("s_lastupdated",)
    )
    AnalysisJob("inc", (stmt,)).run(cat, 200, incremental=True)
    sup = cat.node("Supplier")
    touched = {r.id for r in sup.filter(F.col("touched") == True).collect()}  # noqa: E712
    refreshed = {r.id for r in sup.filter(F.col("lastupdated") == 200).collect()}
    assert touched == refreshed and touched  # gate passes only T2-refreshed rows
    # non-incremental run ignores the gate
    AnalysisJob("inc", (stmt,)).run(cat, 200, incremental=False)
    assert cat.node("Supplier").filter(F.col("touched") == True).count() == cat.node("Supplier").count()  # noqa: E712


def test_exposure_chain_lifecycle(spark, sf_dir):
    """Exposure-chain re-sync: derived EXPOSES edges and supplier flags are
    auto-cleaned when the exposing pattern disappears (set, re-sync,
    auto-cleanup — the reference cleanup contract)."""
    from cartography_spark.plans.analysis import AddRelationship as AR

    cat = base_catalog(spark, sf_dir)

    def matcher_t1(c):
        return c.node("Order").select(
            F.col("o_custkey").cast("string").alias("cust_id"),
            F.col("id").alias("order_id"),
        )

    def matcher_t2(c):
        return matcher_t1(c).filter(F.col("order_id").cast("long") % 2 == 0)

    eff = AR("Customer", "EXPOSED_BY", "Order", "cust_id", "order_id")
    prop = SetProperty("Order", "order_id", "exposes", True)
    AnalysisJob("x", (AnalysisStatement(matcher_t1, (eff, prop)),)).run(cat, 100)
    n1 = cat.edge("Customer", "EXPOSED_BY", "Order").count()
    AnalysisJob("x", (AnalysisStatement(matcher_t2, (eff, prop)),)).run(cat, 200)
    edges2 = cat.edge("Customer", "EXPOSED_BY", "Order")
    n2 = edges2.count()
    assert 0 < n2 < n1, "stale derived edges must be auto-cleaned"
    assert edges2.filter(F.col("lastupdated") != 200).count() == 0
    # SetProperty auto-cleanup nulled flags for orders no longer matched
    flagged = cat.node("Order").filter(F.col("exposes") == True)  # noqa: E712
    assert flagged.filter(F.col("id").cast("long") % 2 != 0).count() == 0


def test_scoped_job_requires_param_and_scope_on(spark):
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.analysis import (
        AnalysisJob,
        AnalysisStatement,
        ScopeById,
        SetProperty,
    )
    import pytest

    cat = GraphCatalog(spark)
    cat.nodes["N"] = spark.createDataFrame([("1",)], "id string")
    cat.edges[("T", "RESOURCE", "N")] = spark.createDataFrame(
        [("t1", "1")], "src_id string, dst_id string"
    )
    stmt = AnalysisStatement(lambda c: c.node("N").select(F.col("id").alias("nid")), (SetProperty("N", "nid", "p", 1),))
    with pytest.raises(ValueError):
        AnalysisJob("j", (stmt,), scope=ScopeById("T", "tid")).run(cat, 1, params={"tid": "t1"})
    with pytest.raises(KeyError):
        AnalysisJob("j", (stmt,), scope=ScopeById("T", "tid", scope_on="nid")).run(cat, 1)


def test_scoped_add_relationship_cleanup_preserves_other_tenants(spark):
    """Derived edges of tenant B must survive a scoped re-run for tenant A
    that no longer matches anything — the multi-tenant cleanup guarantee."""
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.analysis import (
        AddRelationship,
        AnalysisJob,
        AnalysisStatement,
        ScopeById,
    )

    cat = GraphCatalog(spark)
    cat.nodes["N"] = spark.createDataFrame([("a1",), ("b1",)], "id string")
    cat.edges[("T", "RESOURCE", "N")] = spark.createDataFrame(
        [("A", "a1"), ("B", "b1")], "src_id string, dst_id string"
    )

    def match_all(c: GraphCatalog):
        return c.node("N").select(F.col("id").alias("nid"), F.lit("x").alias("tgt"))

    def match_none(c: GraphCatalog):
        return match_all(c).filter(F.lit(False))

    eff = AddRelationship("N", "DERIVED", "X", "nid", "tgt")
    scope = ScopeById("T", "tid", scope_on="nid", member_label="N")
    # run 1: both tenants derive an edge (scoped to A then B)
    AnalysisJob("j", (AnalysisStatement(match_all, (eff,)),), scope=scope).run(
        cat, 1, params={"tid": "A"}
    )
    AnalysisJob("j", (AnalysisStatement(match_all, (eff,)),), scope=scope).run(
        cat, 2, params={"tid": "B"}
    )
    assert {r.src_id for r in cat.edge("N", "DERIVED", "X").collect()} == {"a1", "b1"}
    # run 2 scoped to A matches nothing: A's edge is cleaned, B's survives
    AnalysisJob("j", (AnalysisStatement(match_none, (eff,)),), scope=scope).run(
        cat, 3, params={"tid": "A"}
    )
    assert {r.src_id for r in cat.edge("N", "DERIVED", "X").collect()} == {"b1"}


def test_set_properties_multi_prop_with_cleanup(spark):
    """SetProperties sets N props in one statement; auto-cleanup nulls all
    of them on nodes a later run stops matching."""
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.analysis import (
        AnalysisJob,
        AnalysisStatement,
        SetProperties,
    )

    cat = GraphCatalog(spark)
    cat.nodes["N"] = spark.createDataFrame([("1", 5), ("2", 50)], "id string, v int")

    def over(th):
        return lambda c: c.node("N").filter(F.col("v") > th).select(F.col("id").alias("nid"))

    eff = lambda: (SetProperties("N", "nid", {"risk": "HIGH", "reviewed": True}),)  # noqa: E731
    AnalysisJob("j", (AnalysisStatement(over(0), eff()),)).run(cat, 1)
    rows = {r.id: (r.risk, r.reviewed) for r in cat.node("N").collect()}
    assert rows == {"1": ("HIGH", True), "2": ("HIGH", True)}
    AnalysisJob("j", (AnalysisStatement(over(10), eff()),)).run(cat, 2)
    rows = {r.id: (r.risk, r.reviewed) for r in cat.node("N").collect()}
    assert rows == {"1": (None, None), "2": ("HIGH", True)}


def test_set_properties_is_one_join(spark):
    """A 3-property SetProperties joins the node table once, and with a
    duplicate matched id every property comes from the same matched row."""
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.analysis import SetProperties

    cat = GraphCatalog(spark)
    cat.nodes["N"] = spark.createDataFrame([("1",), ("2",)], "id string")
    matched = spark.createDataFrame(
        [("1", "HIGH", 9, True), ("1", "LOW", 1, False)], "nid string, r string, s int, b boolean"
    )
    eff = SetProperties("N", "nid", {"risk": F.col("r"), "score": F.col("s"), "reviewed": F.col("b")})
    eff.apply(cat, matched, 1)
    out = cat.node("N")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert sum(line.lstrip(" :+-").startswith("Join ") for line in plan.splitlines()) == 1, plan
    assert out.columns == ["id", "risk", "risk__tag", "score", "score__tag", "reviewed", "reviewed__tag"]
    rows = {r.id: r for r in out.collect()}
    assert (rows["1"].risk, rows["1"].score, rows["1"].reviewed) in {("HIGH", 9, True), ("LOW", 1, False)}
    assert (rows["1"].risk__tag, rows["1"].score__tag, rows["1"].reviewed__tag) == (1, 1, 1)
    assert (rows["2"].risk, rows["2"].score, rows["2"].reviewed__tag) == (None, None, None)


def test_analysis_k8s_exposure_cascade(spark, sf_dir):
    """The k8s-exposure AnalysisJob cascade writes svc/pod/container flags
    scoped to one cluster tenant, and derives EXPOSE edges with
    exposure_type (reference analysis/kubernetes/analysis.py:8-150)."""
    from cartography_spark.plans.inventory_lifecycle import q_analysis_k8s_exposure

    out = q_analysis_k8s_exposure(spark, sf_dir)
    rows = out.collect()
    assert rows, "expected exposed suppliers at sf0.001"
    assert all(r.exposure_type == "via_lb_only" and r.exposed_internet for r in rows)
    assert all(r.n_exposing_lbs >= 1 for r in rows)


def test_analysis_gcp_case_projection_total(spark, sf_dir):
    """The GCP-style Case/RawCypher projection plus default-fill leaves no
    null booleans and marks only size>45 parts exposed."""
    from cartography_spark.plans.inventory_lifecycle import (
        q_analysis_gcp_ontology_projection,
    )

    rows = q_analysis_gcp_ontology_projection(spark, sf_dir).collect()
    assert rows
    assert all(r.ont_public is not None and r.exposed_internet is not None for r in rows)
    assert all(
        (r.exposed_internet and r.exposed_internet_type == "direct")
        or (not r.exposed_internet and r.exposed_internet_type is None)
        for r in rows
    )


def test_analysis_azure_exposure_backfill_and_antipattern(spark, sf_dir):
    """The Azure exposure battery (reference analysis/azure/analysis.py:9-90)
    leaves exposed_internet TOTAL on Suppliers (null-backfill statements),
    and the scoped LB-EXPOSE job only derives edges for suppliers NOT
    directly exposed (the negated pattern predicate, :96-117)."""
    from cartography_spark.plans.inventory_lifecycle import q_analysis_azure_lb_exposure

    rows = q_analysis_azure_lb_exposure(spark, sf_dir).collect()
    assert rows
    assert all(r.exposed_internet is not None for r in rows), "backfill must be total"
    for r in rows:
        if r.lb_exposure_type is not None:
            # edge only for via-lb-only suppliers, never directly exposed ones
            assert r.lb_exposure_type == "via_lb_only"
            assert r.exposure_types == "lb"
        if r.exposure_types is None:
            assert r.exposed_internet is False


def test_analysis_intune_union_dedups_overlapping_paths(spark, sf_dir):
    """Three statements deriving the same APPLIES_TO rel type from
    overlapping match paths (reference intune/analysis.py:7-56) must
    union-dedup: per-policy device count never exceeds the tenant's
    device universe, and firstseen stays at the first write's tag."""
    from cartography_spark.plans.inventory_lifecycle import (
        T1,
        q_analysis_intune_policy_union,
    )
    from cartography_spark.sources.parquet import load_table

    sf = sf_dir
    rows = q_analysis_intune_policy_union(spark, sf).collect()
    assert rows
    n_orders = load_table(spark, sf, "orders").count()
    assert all(r.firstseen == T1 for r in rows)
    assert all(0 < r.n_devices <= n_orders for r in rows)


def test_analysis_identity_var_null_propagation(spark, sf_dir):
    """Entra Var() projection under OPTIONAL MATCH: linked customers get a
    non-null _ont_enabled copied from the matched supplier; unlinked
    customers keep NULL (reference entra/analysis.py:7-24)."""
    from cartography_spark.plans.inventory_lifecycle import q_analysis_identity_projection

    rows = q_analysis_identity_projection(spark, sf_dir).collect()
    assert rows
    assert any(r.linked for r in rows) and any(not r.linked for r in rows)
    for r in rows:
        if r.linked:
            assert r.ont_enabled in ("true", "false")
        else:
            assert r.ont_enabled is None


def test_analysis_aibom_runs_on_idempotent(spark, sf_dir):
    """One derived RUNS_ON edge per order (linear fan-out, the reference
    job's shape), and re-running the job leaves the set unchanged (the
    reference job reruns every sync — the query itself runs it twice)."""
    from cartography_spark.plans.inventory_lifecycle import q_analysis_aibom_runs_on
    from cartography_spark.sources.parquet import load_table

    out = q_analysis_aibom_runs_on(spark, sf_dir)
    got = {(r.regionkey, r.n_runs_on) for r in out.collect()}
    orders = load_table(spark, sf_dir, "orders")
    cus = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    want = {
        (r.n_regionkey, r.n)
        for r in orders.join(cus, orders.o_custkey == cus.c_custkey)
        .join(nat, cus.c_nationkey == nat.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    assert sum(n for _, n in got) == orders.count()  # exactly one edge per order
