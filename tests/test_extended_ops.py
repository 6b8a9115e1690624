"""Tests for the extended §2 coverage: ontology field mappings, undirected
any-rel match, AddToSet / SetRelationshipProperty effects, and the
LSH-blocked embedding near-dup operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_ontology_transforms(spark):
    from cartography_spark.functions import ontology as ont

    df = spark.createDataFrame(
        [(True, False, "x"), (False, True, None), (None, None, "y")],
        "a boolean, b boolean, s string",
    )
    out = ont.apply_ontology_mappings(
        df,
        {
            "inv": ont.invert_boolean(F.col("a")),
            "either": ont.or_boolean("a", "b"),
            "neither": ont.nor_boolean("a", "b"),
            "eq": ont.equal_boolean("s", "x"),
            "mapped": ont.value_mapping("s", {"x": "ex", "y": "why"}, default="?"),
            "first": ont.ont_coalesce("s", F.lit("fallback")),
        },
    )
    rows = {tuple(r) for r in out.select("a", "_ont_inv", "_ont_either", "_ont_neither",
                                         "_ont_eq", "_ont_mapped", "_ont_first").collect()}
    assert (True, False, True, False, True, "ex", "x") in rows
    assert (False, True, True, False, False, "?", "fallback") in rows
    # null booleans: or/nor treat null as false; equal_boolean is null-safe
    assert (None, None, False, True, False, "why", "y") in rows


def test_to_boolean_lenient(spark):
    from cartography_spark.functions.ontology import to_boolean

    df = spark.createDataFrame([("true",), ("FALSE",), ("nope",), (None,)], "v string")
    got = [r[0] for r in df.select(to_boolean(F.col("v"))).collect()]
    assert got == [True, False, None, None]


def test_any_rel_neighbors_directions(spark):
    from cartography_spark.plans.inventory_lifecycle import base_catalog
    from cartography_spark.plans.query import any_rel_neighbors

    cat = base_catalog(spark, SF_SMOKE)
    n = any_rel_neighbors(cat, "Nation")
    rels = {(r.rel_label, r.neighbor_label) for r in n.select("rel_label", "neighbor_label").distinct().collect()}
    # inward tenant edge AND outward located-in edges must both appear
    assert ("RESOURCE", "Region") in rels
    assert ("LOCATED_IN", "Supplier") in rels
    assert ("LOCATED_IN", "Customer") in rels
    # every nation has exactly one region neighbor
    region_counts = (
        n.filter(F.col("neighbor_label") == "Region").groupBy("id").count().select("count").distinct().collect()
    )
    assert [r[0] for r in region_counts] == [1]


def test_add_to_set_idempotent(spark):
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.analysis import AddToSet, AnalysisJob, AnalysisStatement

    cat = GraphCatalog(spark)
    cat.nodes["N"] = spark.createDataFrame([("1",), ("2",)], "id string")
    matched = spark.createDataFrame([("1", "a"), ("1", "b")], "nid string, v string")
    stmt = AnalysisStatement(lambda c: matched, (AddToSet("N", "nid", "vals", F.col("v")),))
    AnalysisJob("j", (stmt,)).run(cat, 1)
    AnalysisJob("j", (stmt,)).run(cat, 2)  # re-run: no duplicates
    rows = {r.id: (sorted(r.vals) if r.vals is not None else None) for r in cat.node("N").collect()}
    assert rows["1"] == ["a", "b"]
    # unmatched nodes are never touched by the statement, so the property
    # stays NULL (reference MERGE-SET semantics), not an empty list
    assert rows["2"] is None


def test_tenant_scoped_upsert_fast_path(spark):
    """Scoped merge: only the touched tenant's slice joins the batch;
    other tenants' rows pass through bit-identical, and the merge result
    equals the unscoped merge for the same batch."""
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.operators.upsert import load
    from cartography_spark.schema import NodeSchema, PropertyRef

    schema = NodeSchema(
        label="T",
        properties={"id": PropertyRef("k"), "v": PropertyRef("v"), "tenant": PropertyRef("tenant")},
        scoped_cleanup=False,
    )
    rows = [(i, 0, str(i % 3)) for i in range(30)]
    base = spark.createDataFrame(rows, "k int, v int, tenant string")
    batch = spark.createDataFrame(
        [(i, 99, "1") for i in range(30) if i % 3 == 1], "k int, v int, tenant string"
    )

    scoped, unscoped = GraphCatalog(spark), GraphCatalog(spark)
    for cat in (scoped, unscoped):
        load(cat, schema, base, 1)
    load(scoped, schema, batch, 2, scope_col="tenant", scope_value="1")
    load(unscoped, schema, batch, 2)

    def state(cat):
        return {(r.id, r.v, r.tenant, r.firstseen, r.lastupdated) for r in cat.node("T").collect()}

    assert state(scoped) == state(unscoped)
    # tenant-1 rows updated at T2; others untouched at T1
    got = state(scoped)
    assert (str(1), 99, "1", 1, 2) in got
    assert (str(0), 0, "0", 1, 1) in got


def test_hash_split_stability(spark):
    """Split membership is a pure function of id: re-assignment on a
    subset or a repartitioned frame never moves a row between splits, and
    weights land within tolerance."""
    from cartography_spark.operators.sampling import assign_splits

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    full = {r.doc_id: r.split for r in assign_splits(df).collect()}
    subset = df.filter(F.col("doc_id") % 3 == 0).repartition(7)
    again = {r.doc_id: r.split for r in assign_splits(subset).collect()}
    assert all(full[k] == v for k, v in again.items())
    frac = sum(1 for v in full.values() if v == "train") / len(full)
    assert 0.75 < frac < 0.85


def test_cluster_min_label_components(spark):
    from cartography_spark.operators.dedup import cluster_min_label

    # two components: {1,2,3} (chain) and {7,8}; 9 is a singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "a long, b long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 9)], "doc_id long")
    got = {(r.doc_id, r.cluster, r.keep) for r in cluster_min_label(pairs, verts, max_iter=4).collect()}
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False),
        (7, 7, True), (8, 7, False), (9, 9, True),
    }


def test_cluster_min_label_deep_chain(spark):
    from cartography_spark.operators.dedup import cluster_min_label

    # a 6-node chain (radius 5 from the min vertex) plus a star: the chain
    # needs five rounds, so max_iter=6 must reach its fixed point
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (10, 12)], "a long, b long"
    )
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 6, 10, 11, 12)], "doc_id long")
    got = {(r.doc_id, r.cluster, r.keep) for r in cluster_min_label(pairs, verts, max_iter=6).collect()}
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False), (4, 1, False), (5, 1, False), (6, 1, False),
        (10, 10, True), (11, 10, False), (12, 10, False),
    }


def test_embedding_near_dup_finds_injected_copy(spark):
    from cartography_spark.operators.dedup import embedding_near_dup_pairs

    base = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    copies = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    pairs = embedding_near_dup_pairs(emb.unionByName(copies), dim=8, threshold=0.999, n_planes=4)
    got = {(r.a, r.b) for r in pairs.collect()}
    # exact copies always share the LSH bucket and have cosine 1.0
    assert {(0, 100), (1, 101), (2, 102)} <= got


def test_tenant_partition_pruning(spark, tmp_path):
    """A region-partitioned warehouse prunes partitions on tenant-scoped
    reads — the Spark analogue of the reference's tenant-scoped indexes."""
    from pyspark.sql import functions as F

    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.inventory_lifecycle import base_catalog

    cat = base_catalog(spark, SF_SMOKE)
    assert cat.partition_cols["Supplier"] == "region_id"
    cat.save(str(tmp_path / "wh"))
    loaded = GraphCatalog.load(spark, str(tmp_path / "wh"))
    scoped = loaded.node("Supplier").filter(F.col("region_id") == 0)
    plan = scoped._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "region_id" in plan.split("PartitionFilters")[1][:120]
    # and the scan really reads a subset
    assert 0 < scoped.count() < loaded.node("Supplier").count()


def test_principal_allowed_grid_semantics(spark):
    from cartography_spark.functions.permissions import principal_allowed_grid

    grid = spark.createDataFrame(
        [("s3:GetObject", "arn:bucket/a"), ("s3:PutObject", "arn:bucket/a"),
         ("iam:CreateUser", "arn:user/x")],
        "permission string, resource string",
    )
    statements = spark.createDataFrame(
        [(["s3:*"], ["s3:Put*"], ["arn:bucket/*"], None, "Allow"),
         (["iam:*"], None, ["*"], None, "Allow"),
         (["iam:Create*"], None, ["arn:user/*"], None, "Deny")],
        "actions array<string>, notactions array<string>, resources array<string>, "
        "notresources array<string>, effect string",
    )
    got = {(r.permission, r.allowed) for r in principal_allowed_grid(grid, statements).collect()}
    assert ("s3:GetObject", True) in got      # allow matches
    assert ("s3:PutObject", False) in got     # notaction excludes
    assert ("iam:CreateUser", False) in got   # explicit deny wins over allow


def test_catalog_checkpoint_preserves_state(spark):
    """Many chained syncs + checkpoint: results identical, lineage cut."""
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.operators.upsert import load
    from cartography_spark.schema import NodeSchema, PropertyRef

    schema = NodeSchema(
        label="T", properties={"id": PropertyRef("k"), "v": PropertyRef("v")}, scoped_cleanup=False
    )
    cat = GraphCatalog(spark)
    for tag in range(1, 6):
        batch = spark.createDataFrame([(i, tag) for i in range(10)], "k int, v int")
        load(cat, schema, batch, tag)
        cat.checkpoint()
    rows = {(r.id, r.v, r.firstseen, r.lastupdated) for r in cat.node("T").collect()}
    assert rows == {(str(i), 5, 1, 5) for i in range(10)}
    # lineage is truncated: the plan no longer contains the join chain
    assert "Scan ExistingRDD" in cat.node("T")._jdf.queryExecution().executedPlan().toString()


def test_salted_agg_matches_plain(spark):
    from cartography_spark.operators.skew import salted_agg
    from cartography_spark.sources.parquet import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    plain = {
        (r.l_returnflag, r.n, round(r.total, 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("total"))
        .collect()
    }
    salted = {
        (r.l_returnflag, r.n, round(r.total, 2))
        for r in salted_agg(
            li.select("l_returnflag", "l_quantity"),
            ["l_returnflag"],
            {"n": F.count("*"), "total": F.sum("l_quantity")},
            salt_buckets=8,
        ).collect()
    }
    assert salted == plain


def test_introspection(spark):
    from cartography_spark.introspection import describe_schema, schemas_to_df
    from cartography_spark.plans.graph_fixture import SUPPLIER_SCHEMA

    info = describe_schema(SUPPLIER_SCHEMA)
    assert info.label == "Supplier"
    assert {p.name for p in info.properties} >= {"id", "name", "acctbal"}
    rel_by_label = {r.rel_label: r for r in info.relationships}
    assert rel_by_label["RESOURCE"].is_sub_resource
    assert rel_by_label["RESOURCE"].direction == "INWARD"
    assert rel_by_label["LOCATED_IN"].target_label == "Nation"
    assert "HIGH_BALANCE" in info.extra_labels

    df = schemas_to_df(spark, [SUPPLIER_SCHEMA])
    assert df.filter("property = 'acctbal' AND source_column = 's_acctbal'").count() == 1


def test_session_window_gap_semantics(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0), (1, t0 + dt.timedelta(minutes=10)),   # same session
        (1, t0 + dt.timedelta(minutes=50)),            # gap 40m >= 30m -> new session
        (2, t0),
    ]
    e = spark.createDataFrame(rows, "user_id long, ts timestamp")
    sess = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    got = {(r.user_id, r.n) for r in sess.collect()}
    assert got == {(1, 2), (1, 1), (2, 1)}
