"""Extended SURVEY §2 coverage: the operator-inventory rows not exercised by
the relational/lifecycle/LLM inventories —

- rel-only cleanup               (cleanupbuilder.py:123-180,454-515)
- scoped matchlink cleanup       (cleanupbuilder.py:603-667; graph/job.py:401-490)
- AddToSet analysis effect       (analysis.py:114-132; analysisbuilder.py:285-307)
- SetRelationshipProperty effect (analysis.py:90-112)
- undirected/any-rel match       (docs/root/usage/samplequeries.md:104-119)
- ontology field mappings        (graph/querybuilder.py:24-415)
- embedding-cosine near-dup      (north-star dedup, LSH-blocked)
- session-window aggregation     (native-Spark bonus over the events table)

Each entry runs the REAL engine operator and is verified against a DuckDB
oracle that recomputes the expected end state relationally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.operators import dedup as dd
from cartography_spark.operators.cleanup import cleanup_rels
from cartography_spark.operators.matchlink import cleanup_match_links, match_link
from cartography_spark.plans.inventory_lifecycle import T1, T2
from cartography_spark.plans.registry import query
from cartography_spark.schema import PropertyRef, TargetNodeMatcher
from cartography_spark.sources.parquet import load_table


@query(
    "cleanup_rel_only",
    oracle="""
    SELECT CAST(s_suppkey AS VARCHAR) AS src_id,
           CAST(s_nationkey AS VARCHAR) AS dst_id,
           (SELECT count(*) FROM supplier) AS n_supplier_nodes
    FROM supplier WHERE s_suppkey % 2 = 0
    """,
    doc="Rel-only cleanup (cleanupbuilder.py:123-180,454-515): after the T2 "
    "re-sync of even suppliers, stale LOCATED_IN edges are deleted but ALL "
    "supplier nodes survive (n_supplier_nodes proves nodes were untouched).",
    tags=("engine", "mutation"),
)
def q_cleanup_rel_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.plans.inventory_lifecycle import _lifecycle_catalog

    cat = _lifecycle_catalog(spark, sf_dir)
    cleanup_rels(cat, ("Supplier", "LOCATED_IN", "Nation"), T2)
    edges = cat.edge("Supplier", "LOCATED_IN", "Nation").select("src_id", "dst_id")
    n_nodes = cat.node("Supplier").agg(F.count("*").alias("n_supplier_nodes"))
    return edges.crossJoin(F.broadcast(n_nodes))


def _peer_rows(spark: SparkSession, sf_dir: str, regionkey: int) -> DataFrame:
    """Supplier-customer pairs within one region, nation-colocated."""
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") == regionkey)
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(customer, supplier.s_nationkey == customer.c_nationkey)
        .select(
            F.col("s_suppkey").cast("string").alias("supp_id"),
            F.col("c_custkey").cast("string").alias("cust_id"),
        )
    )


@query(
    "matchlink_scoped_cleanup",
    oracle="""
    SELECT CAST(s_suppkey AS VARCHAR) AS src_id,
           CAST(c_custkey AS VARCHAR) AS dst_id,
           CAST(CASE WHEN n_regionkey = 0 THEN 200 ELSE 100 END AS BIGINT) AS lastupdated
    FROM supplier
    JOIN customer ON s_nationkey = c_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_regionkey IN (0, 1)
      AND (n_regionkey = 1 OR s_suppkey % 2 = 0)
    """,
    doc="Scoped matchlink cleanup (cleanupbuilder.py:603-667): PEERS_WITH "
    "matchlinks stamped per-tenant (_sub_resource_label/_id); the T2 re-link "
    "of tenant Region-0 followed by scoped cleanup deletes only Region-0's "
    "stale edges — Region-1's T1 edges survive.",
    tags=("engine", "mutation"),
)
def q_matchlink_scoped_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.plans.inventory_lifecycle import base_catalog

    cat = base_catalog(spark, sf_dir)
    s_matcher = TargetNodeMatcher({"id": PropertyRef("supp_id")})
    c_matcher = TargetNodeMatcher({"id": PropertyRef("cust_id")})

    def link(rows: DataFrame, tag: int, region: str) -> None:
        match_link(
            cat, rows, "PEERS_WITH",
            "Supplier", s_matcher, "Customer", c_matcher,
            update_tag=tag, sub_resource_label="Region", sub_resource_id=region,
        )

    link(_peer_rows(spark, sf_dir, 0), T1, "0")
    link(_peer_rows(spark, sf_dir, 1), T1, "1")
    # T2: only even suppliers of region 0 are re-linked
    link(_peer_rows(spark, sf_dir, 0).filter(F.col("supp_id").cast("long") % 2 == 0), T2, "0")
    cleanup_match_links(cat, ("Supplier", "PEERS_WITH", "Customer"), T2, "Region", "0")
    return cat.edge("Supplier", "PEERS_WITH", "Customer").select("src_id", "dst_id", "lastupdated")


@query(
    "analysis_add_to_set",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS id,
           -- an orderless customer is never MATCHED, so AddToSet leaves its
           -- property NULL (array_to_string of the empty list is NULL in
           -- DuckDB — exactly the never-set marker the engine now produces;
           -- surfaced by the one orderless customer at sf0.1)
           array_to_string(list_sort(coalesce(
             list(DISTINCT o_orderpriority) FILTER (o_orderpriority IS NOT NULL), []
           )), ',') AS priorities
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
    doc="Analysis DSL AddToSet (analysis.py:114-132; the "
    "coalesce(n.p,[])+filter dedup idiom, analysisbuilder.py:285-307): "
    "collect each customer's order priorities into a set property; a second "
    "run over a subset proves append-dedup idempotence.",
    tags=("engine", "analysis"),
)
def q_analysis_add_to_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.analysis import AddToSet, AnalysisJob, AnalysisStatement
    from cartography_spark.plans.inventory_lifecycle import base_catalog

    cat = base_catalog(spark, sf_dir)

    def matcher_all(c: GraphCatalog) -> DataFrame:
        return c.node("Order").select(
            F.col("o_custkey").cast("string").alias("cust_id"), F.col("priority")
        )

    def matcher_urgent(c: GraphCatalog) -> DataFrame:
        return matcher_all(c).filter(F.col("priority").startswith("1"))

    effect = AddToSet("Customer", "cust_id", "priorities", F.col("priority"))
    AnalysisJob("prio-set", (AnalysisStatement(matcher_all, (effect,)),)).run(cat, T1)
    # overlapping second run: values already present must not duplicate
    AnalysisJob("prio-set", (AnalysisStatement(matcher_urgent, (effect,)),)).run(cat, T2)
    return cat.node("Customer").select(
        "id", F.array_join(F.array_sort("priorities"), ",").alias("priorities")
    )


@query(
    "analysis_set_rel_property",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS src_id,
           CAST(o_custkey AS VARCHAR) AS dst_id,
           (o_totalprice > 300000) AS high_value
    FROM orders
    """,
    doc="Analysis DSL SetRelationshipProperty (analysis.py:90-112): flag "
    "PLACED_BY edges of orders over 300k; unmatched edges keep a null "
    "property (the reference's SET touches only matched rels) — coalesced "
    "to false in the report projection.",
    tags=("engine", "analysis"),
)
def q_analysis_set_rel_property(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.analysis import AnalysisJob, AnalysisStatement, SetRelationshipProperty
    from cartography_spark.plans.inventory_lifecycle import base_catalog

    cat = base_catalog(spark, sf_dir)

    def matcher(c: GraphCatalog) -> DataFrame:
        return (
            c.node("Order")
            .filter(F.col("totalprice") > 300000)
            .select(F.col("id").alias("oid"), F.col("o_custkey").cast("string").alias("cid"))
        )

    effect = SetRelationshipProperty(
        ("Order", "PLACED_BY", "Customer"), "oid", "cid", "high_value", True
    )
    AnalysisJob("flag-high-value", (AnalysisStatement(matcher, (effect,)),)).run(cat, T2)
    return cat.edge("Order", "PLACED_BY", "Customer").select(
        "src_id", "dst_id", F.coalesce("high_value", F.lit(False)).alias("high_value")
    )


@query(
    "undirected_any_rel",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS id, 'RESOURCE' AS rel_label,
           'Region' AS neighbor_label, CAST(1 AS BIGINT) AS n_neighbors
    FROM nation
    UNION ALL
    SELECT CAST(n_nationkey AS VARCHAR), 'LOCATED_IN', 'Supplier', count(*)
    FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_nationkey
    UNION ALL
    SELECT CAST(n_nationkey AS VARCHAR), 'LOCATED_IN', 'Customer', count(*)
    FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_nationkey
    """,
    doc="Undirected wildcard match MATCH (n:Nation)-[r]-(m) "
    "(samplequeries.md:104-119): union over every edge table touching the "
    "label in either direction, then neighbor counts per rel type.",
    tags=("join", "graph"),
)
def q_undirected_any_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.plans.inventory_lifecycle import base_catalog
    from cartography_spark.plans.query import any_rel_neighbors

    cat = base_catalog(spark, sf_dir)
    return (
        any_rel_neighbors(cat, "Nation")
        .groupBy("id", "rel_label", "neighbor_label")
        .agg(F.count("*").alias("n_neighbors"))
    )


@query(
    "ontology_field_mapping",
    oracle="""
    SELECT p_partkey,
           (p_size % 2 = 0) AS _ont_is_even,
           NOT (p_size % 2 = 0) AS _ont_is_odd,
           ((p_size % 2 = 0) OR p_retailprice > 1500) AS _ont_any_flag,
           NOT ((p_size % 2 = 0) OR p_retailprice > 1500) AS _ont_no_flag,
           (split_part(p_type, ' ', 1) = 'PROMO') AS _ont_is_promo,
           CASE split_part(p_type, ' ', 1)
                WHEN 'SMALL' THEN 'small' WHEN 'LARGE' THEN 'large'
                WHEN 'MEDIUM' THEN 'medium' WHEN 'PROMO' THEN 'promo'
                WHEN 'ECONOMY' THEN 'economy' ELSE 'other' END AS _ont_type_class,
           coalesce(CASE WHEN p_size > 40 THEN p_type END, p_name) AS _ont_display_name
    FROM part
    """,
    doc="Ontology field mappings (querybuilder.py:24-415): provider columns "
    "projected to normalized _ont_* columns via to_boolean / invert_boolean "
    "/ or_boolean / nor_boolean / equal_boolean / value mapping (CASE) / "
    "coalesce — one codegen'd select, applied at ingest.",
    tags=("schema", "ontology"),
)
def q_ontology_field_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.functions import ontology as ont

    part = load_table(spark, sf_dir, "part")
    flag_even = (F.col("p_size") % 2) == 0
    flag_pricey = F.col("p_retailprice") > 1500
    first_word = F.split_part(F.col("p_type"), F.lit(" "), F.lit(1))
    mapped = ont.apply_ontology_mappings(
        part,
        {
            "is_even": ont.to_boolean(flag_even),
            "is_odd": ont.invert_boolean(flag_even),
            "any_flag": ont.or_boolean(flag_even, flag_pricey),
            "no_flag": ont.nor_boolean(flag_even, flag_pricey),
            "is_promo": ont.equal_boolean(first_word, "PROMO"),
            "type_class": ont.value_mapping(
                first_word,
                {"SMALL": "small", "LARGE": "large", "MEDIUM": "medium",
                 "PROMO": "promo", "ECONOMY": "economy"},
                default="other",
            ),
            "display_name": ont.ont_coalesce(
                F.when(F.col("p_size") > 40, F.col("p_type")), F.col("p_name")
            ),
        },
    )
    return mapped.select(
        "p_partkey", "_ont_is_even", "_ont_is_odd", "_ont_any_flag", "_ont_no_flag",
        "_ont_is_promo", "_ont_type_class", "_ont_display_name",
    )


_PAIR_SIG_SQL = """
    list_aggregate(list_transform(generate_series(0, 7), i ->
      CASE WHEN list_aggregate(list_transform(generate_series(1, 64), j ->
           {vec}[j] *
           (CASE WHEN ('0x' || substring(md5(CAST(i AS VARCHAR) || '_' || CAST(j - 1 AS VARCHAR)), 1, 1))::BIGINT % 2 = 0
                 THEN 1.0 ELSE -1.0 END)), 'sum') > 0
      THEN (1::BIGINT << i) ELSE 0 END), 'sum')
"""

_PAIR_COSINE_SQL = """
      list_aggregate(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i]), 'sum')
      / (sqrt(list_aggregate(list_transform(generate_series(1, 64), i -> a.v[i] * a.v[i]), 'sum'))
       * sqrt(list_aggregate(list_transform(generate_series(1, 64), i -> b.v[i] * b.v[i]), 'sum')))
"""


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                            (x, i) -> CASE WHEN i = 2 THEN x * 1.1 ELSE x END)
      FROM embeddings WHERE vec_id < 20
    ),
    sigs AS (SELECT vec_id, v, {_PAIR_SIG_SQL.format(vec='v')} AS sig FROM base)
    SELECT a.vec_id AS a, b.vec_id AS b, ROUND({_PAIR_COSINE_SQL}, 4) AS cosine
    FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
    WHERE {_PAIR_COSINE_SQL} >= 0.99
    """,
    doc="Embedding-cosine near-dup pairs, LSH-blocked: hyperplane signature "
    "per vector, equi-self-join on the bucket, exact cosine >= 0.99 inside "
    "buckets only — never the O(n^2) cross product. Near-dups injected "
    "deterministically (vec_id<20 copied with one coordinate scaled 1.1x).",
    tags=("llm", "dedup", "similarity"),
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # DuckDB list indices are 1-based: i=2 there is index 1 here
    perturbed = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 1, x * 1.1).otherwise(x)
        ).alias("embedding"),
    )
    return dd.embedding_near_dup_pairs(
        emb.unionByName(perturbed), dim=64, threshold=0.99, n_planes=8
    )


@query(
    "events_moving_avg",
    oracle="""
    SELECT event_id, user_id,
           ROUND(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS mavg
    FROM events
    """,
    doc="Analytic window FRAME (absent in the reference — SURVEY §2.5): "
    "4-row moving average per user with a deterministic (ts, event_id) "
    "ordering; one shuffle on user_id, sorted within partitions.",
    tags=("window", "bonus"),
)
def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", F.round(F.avg("value").over(w), 4).alias("mavg")
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           ROUND(quantile_cont(l_quantity, 0.95), 4) AS p95_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact percentiles (linear interpolation): median and p95 per "
    "group — Spark percentile == DuckDB quantile_cont; sort-based exact "
    "aggregation, one shuffle.",
    tags=("agg", "bonus"),
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 4).alias("p95_qty"),
    )


@query(
    "rollup_pricing",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n,
           ROUND(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (absent in the reference — SURVEY §2.4 "
    "notes grouping sets come free with Spark SQL): subtotals per "
    "returnflag and a grand total in one pass (partial aggregation over "
    "the grouping-set expansion).",
    tags=("agg", "bonus"),
)
def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@query(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot (long->wide cross-tab): order counts per priority x status "
    "via groupBy().pivot() with an explicit value list (one pass, no "
    "second 'distinct values' job).",
    tags=("agg", "bonus"),
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("f"),
            F.coalesce("O", F.lit(0)).alias("o"),
            F.coalesce("P", F.lit(0)).alias("p"),
        )
    )


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag, count(*) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Two-phase salted aggregation (operators/skew.py): hot grouping "
    "keys spread over salt buckets before the final combine — result "
    "identical to the plain groupBy (the oracle).",
    tags=("agg", "skew"),
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("q")
    )
    return salted_agg(
        li, ["l_returnflag"], {"n": F.count("*"), "total_qty": F.sum("q")}, salt_buckets=16
    )


@query(
    "closure_multi_rel_zero",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT n_nationkey AS src, (n_nationkey + 1) % 25 AS dst FROM nation
      UNION
      SELECT n_nationkey, (n_nationkey + 5) % 25 FROM nation
    ),
    r(src, dst, hops) AS (
      SELECT src, dst, 1 FROM e
      UNION ALL
      SELECT r.src, e.dst, r.hops + 1 FROM r JOIN e ON r.dst = e.src WHERE r.hops < 3
    ),
    m AS (SELECT src, dst, min(hops) AS hops FROM r GROUP BY src, dst)
    SELECT CAST(n_nationkey AS VARCHAR) AS src_id,
           CAST(n_nationkey AS VARCHAR) AS dst_id, CAST(0 AS INT) AS hops
    FROM nation
    UNION ALL
    SELECT CAST(src AS VARCHAR), CAST(dst AS VARCHAR), CAST(hops AS INT)
    FROM m WHERE src <> dst
    """,
    doc="Variable-length path over ALTERNATE rel types including zero hops "
    "— [:NEXT|SKIP*0..3] (reference *0..6 analysis/ontology/analysis.py; "
    "MEMBER_OF|SUBGROUP_OF*1..5 googleworkspace): union the edge tables, "
    "run the bounded closure with include_zero min-hop semantics.",
    tags=("engine", "graph"),
)
def q_closure_multi_rel_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.closure import transitive_closure

    n = load_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("string")
    next_edges = n.select(nk.alias("src_id"), ((F.col("n_nationkey") + 1) % 25).cast("string").alias("dst_id"))
    skip_edges = n.select(nk.alias("src_id"), ((F.col("n_nationkey") + 5) % 25).cast("string").alias("dst_id"))
    # MATCH (a)-[:NEXT|SKIP*0..3]->(b): alternate rel types = union of the
    # edge tables before the closure
    edges = next_edges.unionByName(skip_edges)
    return transitive_closure(edges, max_hops=3, include_zero=True)


_WC = "lower(replace(replace({p}, '*', '%'), '?', '_'))"
_MATCH = f"lower({{v}}) LIKE {_WC.format(p='x')}"


def _dd_any(v: str, arr: str) -> str:
    return f"len(list_filter(coalesce({arr}, []), x -> {_MATCH.format(v=v)})) > 0"


@query(
    "permission_statement_eval",
    oracle=f"""
    WITH stmts(actions, notactions, resources, notresources, effect) AS (VALUES
      (['STANDARD*', 'MED*'], ['*BRUSHED*'], ['Brand#1*'], ['Brand#13'], 'Allow'),
      (['*'], NULL, ['Brand#3*'], NULL, 'Allow'),
      (['PROMO*'], NULL, ['*'], NULL, 'Deny')
    ),
    grid AS (
      SELECT p.permission, b.resource
      FROM (SELECT DISTINCT p_type AS permission FROM part) p
      CROSS JOIN (SELECT DISTINCT p_brand AS resource FROM part) b
    ),
    m AS (
      SELECT permission, resource, effect,
             ({_dd_any('permission', 'actions')}
              AND NOT {_dd_any('permission', 'notactions')}
              AND {_dd_any('resource', 'resources')}
              AND NOT {_dd_any('resource', 'notresources')}) AS hit
      FROM grid CROSS JOIN stmts
    )
    SELECT permission, resource,
           (count(CASE WHEN hit AND effect = 'Allow' THEN 1 END) > 0
            AND count(CASE WHEN hit AND effect = 'Deny' THEN 1 END) = 0) AS allowed
    FROM m GROUP BY permission, resource
    """,
    doc="Full IAM statement evaluation "
    "(permission_relationships.py:91-181): action/notaction/resource/"
    "notresource wildcard clauses per statement, allow-unless-explicit-deny "
    "over a permissions x resources grid — higher-order LIKE predicates on "
    "broadcast statements, no Python UDF.",
    tags=("llm", "permissions"),
)
def q_permission_statement_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.functions.permissions import principal_allowed_grid

    part = load_table(spark, sf_dir, "part")
    grid = (
        part.select(F.col("p_type").alias("permission")).distinct()
        .crossJoin(part.select(F.col("p_brand").alias("resource")).distinct())
    )
    statements = spark.createDataFrame(
        [
            (["STANDARD*", "MED*"], ["*BRUSHED*"], ["Brand#1*"], ["Brand#13"], "Allow"),
            (["*"], None, ["Brand#3*"], None, "Allow"),
            (["PROMO*"], None, ["*"], None, "Deny"),
        ],
        "actions array<string>, notactions array<string>, resources array<string>, "
        "notresources array<string>, effect string",
    )
    return principal_allowed_grid(grid, statements)


@query(
    "rules_library_run",
    oracle="""
    SELECT 'neg-balance-high-value-customers' AS fact_id,
           CAST((SELECT count(DISTINCT c_custkey) FROM customer
                 WHERE c_acctbal < 0 AND EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 300000)) AS BIGINT) AS failing,
           CAST((SELECT count(*) FROM customer) AS BIGINT)
             - CAST((SELECT count(DISTINCT c_custkey) FROM customer
                 WHERE c_acctbal < 0 AND EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 300000)) AS BIGINT) AS passing,
           CAST((SELECT count(*) FROM customer) AS BIGINT) AS total
    UNION ALL
    SELECT 'asia-negative-suppliers',
           (SELECT count(DISTINCT s_suppkey) FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND s_acctbal < 0),
           (SELECT count(*) FROM supplier)
             - (SELECT count(DISTINCT s_suppkey) FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA' AND s_acctbal < 0),
           (SELECT count(*) FROM supplier)
    UNION ALL
    SELECT 'bulk-order-customers',
           (SELECT count(*) FROM (SELECT o_custkey FROM orders
            GROUP BY o_custkey HAVING count(*) > 30)),
           (SELECT count(*) FROM customer)
             - (SELECT count(*) FROM (SELECT o_custkey FROM orders
                GROUP BY o_custkey HAVING count(*) > 30)),
           (SELECT count(*) FROM customer)
    UNION ALL
    SELECT 'customers-without-orders',
           (SELECT count(*) FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)),
           (SELECT count(*) FROM customer)
             - (SELECT count(*) FROM customer
                WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)),
           (SELECT count(*) FROM customer)
    UNION ALL
    SELECT 'flag-disabled-suppliers',
           (SELECT count(*) FROM supplier WHERE s_acctbal <= 0),
           (SELECT count(*) FROM supplier)
             - (SELECT count(*) FROM supplier WHERE s_acctbal <= 0),
           (SELECT count(*) FROM supplier)
    UNION ALL
    SELECT 'inactive-customers-open-orders',
           (SELECT count(*) FROM customer WHERE c_acctbal < 0
            AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')),
           (SELECT count(*) FROM customer)
             - (SELECT count(*) FROM customer WHERE c_acctbal < 0
                AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')),
           (SELECT count(*) FROM customer)
    UNION ALL
    SELECT 'stale-customers',
           (SELECT count(*) FROM (SELECT o_custkey FROM orders
            GROUP BY o_custkey HAVING max(o_orderdate) < DATE '1995-01-01')),
           (SELECT count(*) FROM customer)
             - (SELECT count(*) FROM (SELECT o_custkey FROM orders
                GROUP BY o_custkey HAVING max(o_orderdate) < DATE '1995-01-01')),
           (SELECT count(*) FROM customer)
    UNION ALL
    SELECT 'eol-segment-customers',
           (SELECT count(*) FROM customer
            WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') AND c_acctbal < 500),
           (SELECT count(*) FROM customer)
             - (SELECT count(*) FROM customer
                WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY') AND c_acctbal < 500),
           (SELECT count(*) FROM customer)
    UNION ALL
    SELECT 'low-priority-pending-orders',
           (SELECT count(*) FROM orders WHERE o_orderpriority = '5-LOW' AND o_orderstatus = 'P'),
           (SELECT count(*) FROM orders)
             - (SELECT count(*) FROM orders WHERE o_orderpriority = '5-LOW' AND o_orderstatus = 'P'),
           (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 'cross-region-suppliers',
           (SELECT count(DISTINCT l_suppkey)
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE cn.n_regionkey <> sn.n_regionkey),
           (SELECT count(*) FROM supplier)
             - (SELECT count(DISTINCT l_suppkey)
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation cn ON c_nationkey = cn.n_nationkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation sn ON s_nationkey = sn.n_nationkey
                WHERE cn.n_regionkey <> sn.n_regionkey),
           (SELECT count(*) FROM supplier)
    """,
    doc="Rule library end-to-end: the TEN ported reference rules "
    "(rules/data/rules/ shapes: EXISTS-subquery, boolean-false posture "
    "field, inactive-principal-with-live-grants, NOT-EXISTS anti-join, "
    "count-threshold HAVING, multi-hop tenancy scope, temporal threshold, "
    "static deny-list, weak-string settings, cross-tenant trust) run "
    "through the Fact/Rule engine (plans/rules.py run_rules_batched) with "
    "compliance math per fact (runners.py:121-134).",
    tags=("engine", "rules"),
)
def q_rules_library_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.plans.inventory_lifecycle import base_catalog
    from cartography_spark.plans.rules import compliance_summary, run_rules_batched
    from cartography_spark.plans.rules_library import build_rules

    cat = base_catalog(spark, sf_dir)
    results = run_rules_batched(build_rules(spark, sf_dir), cat)
    return compliance_summary([fr for r in results for fr in r.facts])


@query(
    "streaming_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "running per-user totals in the state store, run to completion with "
    "Trigger.AvailableNow; integer-cents accumulation makes the stream's "
    "final state exactly equal to the batch aggregate oracle.",
    tags=("streaming", "stateful"),
)
def q_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        stateful_user_totals,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    name = f"stateful_totals_{uuid.uuid4().hex[:8]}"
    return run_available_now(stateful_user_totals(stream), name, output_mode="update")


@query(
    "events_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           ROUND(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, sess
    """,
    doc="Session-window aggregation (30-min inactivity gap) per user via "
    "F.session_window — the stateful-streaming window shape run in batch; "
    "oracle recomputes sessions with the gaps-and-islands idiom.",
    tags=("window", "streaming"),
)
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events", "total_value"
        )
    )


@query(
    "asof_join_attribution",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
    v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
    j AS (
      SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts, c.value AS click_value,
             v.ts AS view_ts, v.value AS view_value,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
                                ORDER BY v.ts DESC NULLS LAST, v.event_id DESC) AS rn
      FROM c LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
    )
    SELECT click_id, user_id, click_ts, click_value, view_ts, view_value
    FROM j WHERE rn = 1
    """,
    doc="Backward as-of join (operators/asof.py): each click attributed to "
    "the user's most recent view at-or-before it. Union-merge plan: ONE "
    "hash shuffle on user_id + per-partition sort + last(ignorenulls) "
    "carry-forward — linear, vs the oracle's quadratic theta-join + "
    "row_number formulation.",
    tags=("window", "temporal"),
)
def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.asof import asof_join_backward

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts"),
        F.col("value").alias("click_value"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join_backward(
        clicks, views, by="user_id", ts="ts", value_cols=("value",), tie_col="event_id",
        prefix="view_",
    )
    return out.select(
        "click_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        "click_value",
        F.col("view_ts"),
        F.col("view_value"),
    )


@query(
    "range_join_error_clicks",
    oracle="""
    WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    clk AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT err.event_id AS error_id, err.user_id,
           clk.event_id AS r_event_id, clk.value AS r_value
    FROM err JOIN clk
      ON err.user_id = clk.user_id
     AND clk.ts <= err.ts
     AND clk.ts >= err.ts - INTERVAL 2 HOUR
    """,
    doc="Range (interval) join (operators/rangejoin.py): every click within "
    "the 2 hours before each same-user error. Bucketized rewrite — "
    "equi-join on (user_id, 7200s epoch bucket) with a 2-bucket probe "
    "explode + exact residual filter — a hash join, where the naive "
    "theta-join degenerates to a per-key cross product.",
    tags=("window", "temporal"),
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.rangejoin import interval_join_backward

    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    out = interval_join_backward(
        errors, clicks, by="user_id", ts="ts", window_seconds=7200,
        right_cols=("event_id", "value"),
    )
    return out.select("error_id", "user_id", "r_event_id", "r_value")


@query(
    "rollup_continuous_aggregate",
    oracle="""
    SELECT date_trunc('day', ts) AS bucket,
           count(*) AS n_events,
           ROUND(sum(value), 2) AS total_value,
           ROUND(min(value), 2) AS min_value,
           ROUND(max(value), 2) AS max_value,
           ROUND(sum(value) / count(*), 2) AS avg_value
    FROM events GROUP BY date_trunc('day', ts)
    """,
    doc="Hypertable-style continuous aggregate (operators/rollup.py): "
    "day level REAGGREGATED from hour partials, hours from minute "
    "partials, raw rows scanned exactly once; the oracle aggregates "
    "directly from raw events, proving the mergeable-state hierarchy "
    "(count/sum/min/max partials, avg derived at read time) is lossless.",
    tags=("window", "agg"),
)
def q_rollup_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.rollup import continuous_aggregate, finalize

    e = load_table(spark, sf_dir, "events")
    return finalize(continuous_aggregate(e)["day"])


@query(
    "scd2_history",
    oracle="""
    SELECT user_id, event_id, value AS state_value, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
    FROM events WHERE event_type = 'purchase'
    """,
    doc="SCD-2 history from a changelog: each per-user state change gets "
    "[valid_from, valid_to) validity via lead() — one window shuffle on "
    "the natural key, the standard warehouse temporal-table build (the "
    "point-in-time lookup against it is the as-of join above).",
    tags=("window", "temporal"),
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.col("value").alias("state_value"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "bloom_prefilter_join",
    oracle="""
    WITH sm AS (SELECT p_partkey, p_brand FROM part WHERE p_size = 1),
    bits AS (
      SELECT DISTINCT
        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || CAST(p_partkey AS VARCHAR)), 1, 8))::BIGINT
          % 1024 AS b
      FROM sm CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i)
    ),
    kept AS (
      SELECT l_partkey, l_extendedprice, l_discount FROM lineitem
      WHERE ('0x' || substring(md5('0:' || CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT % 1024
              IN (SELECT b FROM bits)
        AND ('0x' || substring(md5('1:' || CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT % 1024
              IN (SELECT b FROM bits)
        AND ('0x' || substring(md5('2:' || CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT % 1024
              IN (SELECT b FROM bits)
    ),
    n AS (SELECT count(*) AS prefilter_kept FROM kept)
    SELECT p_brand, count(*) AS n_items,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(prefilter_kept AS BIGINT) AS prefilter_kept
    FROM kept JOIN sm ON l_partkey = p_partkey CROSS JOIN n
    GROUP BY p_brand, prefilter_kept
    """,
    doc="Bloom-prefiltered selective join (operators/bloom.py): the small "
    "side (p_size=1 parts) is reduced to a 1024-bit md5 Bloom bitset; the "
    "big side (lineitem) is filtered by k=3 literal-string bit probes "
    "INSIDE its scan stage — no shuffle added — then the exact broadcast "
    "join removes false positives, so results equal the plain join. "
    "prefilter_kept (oracle-identical) shows the pre-shuffle row reduction. "
    "Production path at larger m: Spark runtime bloom filters.",
    tags=("join", "perf"),
)
def q_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.bloom import bloom_prefilter

    sm = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 1).select(
        "p_partkey", "p_brand"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    kept = bloom_prefilter(li, sm, "l_partkey", "p_partkey")
    n = kept.agg(F.count("*").cast("bigint").alias("prefilter_kept"))
    return (
        kept.join(F.broadcast(sm), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
        .crossJoin(F.broadcast(n))
    )


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND v.event_type = 'view'
    """,
    doc="Stream-stream interval join (streaming/events.py "
    "stream_stream_attribution): clicks joined to the same user's views in "
    "the preceding hour, both sides watermarked so join state is evictable "
    "(state ∝ watermark x rate, not stream lifetime). Run to completion "
    "with Trigger.AvailableNow; on bounded input the append-mode result "
    "equals the batch interval join, which is the oracle.",
    tags=("streaming", "join"),
)
def q_streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        stream_stream_attribution,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    name = f"ss_join_{uuid.uuid4().hex[:8]}"
    out = run_available_now(
        stream_stream_attribution(clicks, views), name, output_mode="append"
    )
    return out.select("click_id", "user_id", "click_ts", "view_id", "view_ts")


@query(
    "asof_join_forward_next",
    oracle="""
    WITH v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT v.event_id AS view_id, v.user_id, v.ts AS view_ts, v.value AS view_value,
             p.ts AS purchase_ts, p.value AS purchase_value,
             ROW_NUMBER() OVER (PARTITION BY v.event_id
                                ORDER BY p.ts ASC NULLS LAST, p.event_id ASC) AS rn
      FROM v LEFT JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts
    )
    SELECT view_id, user_id, view_ts, view_value, purchase_ts, purchase_value
    FROM j WHERE rn = 1
    """,
    doc="Forward as-of join (operators/asof.py asof_join_forward): each "
    "view attributed to the user's NEXT purchase at-or-after it — the "
    "mirror direction of asof_join_attribution, same union-merge plan with "
    "the per-partition sort reversed (descending ts). One shuffle, no join "
    "node, vs the oracle's theta-join + row_number.",
    tags=("window", "temporal"),
)
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.asof import asof_join_forward

    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts"),
        F.col("value").alias("view_value"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join_forward(
        views, purchases, by="user_id", ts="ts", value_cols=("value",), prefix="purchase_",
    )
    return out.select(
        "view_id",
        "user_id",
        F.col("ts").alias("view_ts"),
        "view_value",
        F.col("purchase_ts"),
        F.col("purchase_value"),
    )


@query(
    "streaming_hll_distinct",
    oracle="""
    WITH h AS (
      SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
    ),
    r AS (
      SELECT ('0x' || substring(hx, 1, 2))::BIGINT AS b,
             regexp_replace(substring(hx, 3, 30), '^0+', '') AS st
      FROM h
    ),
    rho AS (
      SELECT b,
             CASE WHEN st = '' THEN 32
                  ELSE least((30 - length(st)) * 4 +
                       CASE WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 8 THEN 0
                            WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 4 THEN 1
                            WHEN ('0x' || substring(st, 1, 1))::BIGINT >= 2 THEN 2
                            ELSE 3 END + 1, 32) END AS rho
      FROM r
    ),
    regs AS (SELECT b, max(rho) AS mx FROM rho GROUP BY b),
    agg AS (
      SELECT CAST(sum(1::BIGINT << (32 - mx)) AS BIGINT) AS s, count(*) AS used FROM regs
    ),
    x AS (SELECT count(DISTINCT user_id) AS n_exact FROM events)
    SELECT 256 AS m, CAST(used AS BIGINT) AS used_buckets,
           CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 4294967296.0
                     / (s + (256 - used) * 4294967296) <= 640.0 AND used < 256
                THEN ROUND(256.0 * ln(256.0 / (256 - used)), 2)
                ELSE ROUND((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 4294967296.0
                     / (s + (256 - used) * 4294967296), 2) END AS estimate,
           CAST(n_exact AS BIGINT) AS n_exact
    FROM agg CROSS JOIN x
    """,
    doc="Streaming sketch maintenance: HyperLogLog registers of "
    "events.user_id kept per event-time hour by a watermarked streaming "
    "max aggregation (streaming/events.py:hll_register_stream — ONE "
    "state row per (window, bucket), bounded and watermark-evicted), "
    "then merged register-wise (sketches.py:hll_merge) and collapsed to "
    "the estimate. Because max is mergeable, the stream's per-window "
    "partials reproduce the batch registers EXACTLY — the oracle runs "
    "the batch HLL over all events and matches bit-for-bit: streaming "
    "distinct-count with no lambda-architecture divergence.",
    tags=("streaming", "sketch"),
)
def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_merge,
    )
    from cartography_spark.sources.parquet import load_table as _lt
    from cartography_spark.streaming.events import (
        hll_register_stream,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    name = f"hll_stream_{uuid.uuid4().hex[:8]}"
    # complete mode: the final batch emits ALL window state — append would
    # withhold windows newer than the terminal watermark, silently dropping
    # the last watermark-width of data from the merged sketch
    per_window = run_available_now(
        hll_register_stream(stream), name, output_mode="complete"
    )
    regs = hll_merge(per_window.select("b", "mx"))
    est = hll_estimate_from_registers(regs)
    exact = (
        _lt(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return est.crossJoin(F.broadcast(exact))


@query(
    "streaming_countmin_counts",
    oracle="""
    WITH cells AS (
      SELECT r, ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || event_type), 1, 8))::BIGINT % 16 AS b,
             count(*) AS n
      FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
      GROUP BY r, b
    ),
    true_c AS (SELECT event_type, count(*) AS true_n FROM events GROUP BY event_type),
    probes AS (
      SELECT event_type, true_n, r,
             ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || event_type), 1, 8))::BIGINT % 16 AS b
      FROM true_c CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
    )
    SELECT p.event_type, CAST(p.true_n AS BIGINT) AS true_n,
           CAST(min(coalesce(c.n, 0)) AS BIGINT) AS est_n
    FROM probes p LEFT JOIN cells c ON p.r = c.r AND p.b = c.b
    GROUP BY p.event_type, p.true_n
    """,
    doc="Streaming Count-Min maintenance (streaming/events.py:"
    "countmin_cell_stream): 4x16 counter cells per event-time hour from "
    "a watermarked streaming count — the ADDITIVE half of the mergeable-"
    "sketch contract (streaming_hll_distinct is the idempotent-max "
    "half): per-window cells SUM into exactly the batch sketch, so "
    "frequency estimates computed from the merged stream output match "
    "the batch Count-Min oracle bit-for-bit (true counts alongside "
    "expose the overestimate-only error).",
    tags=("streaming", "sketch"),
)
def q_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.operators.sketches import countmin_estimate
    from cartography_spark.sources.parquet import load_table as _lt
    from cartography_spark.streaming.events import (
        countmin_cell_stream,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    name = f"cm_stream_{uuid.uuid4().hex[:8]}"
    # complete mode — see streaming_hll_distinct: append withholds the
    # terminal watermark-width of windows, which for an ADDITIVE sketch
    # shows up immediately as undercounts
    per_window = run_available_now(
        countmin_cell_stream(stream), name, output_mode="complete"
    )
    sketch = per_window.groupBy("r", "b").agg(F.sum("n").cast("bigint").alias("n"))
    batch = _lt(spark, sf_dir, "events")
    truth = batch.groupBy("event_type").agg(F.count("*").cast("bigint").alias("true_n"))
    est = countmin_estimate(sketch, truth.select("event_type"), "event_type")
    return truth.join(est, "event_type").select("event_type", "true_n", "est_n")


@query(
    "asof_join_nearest",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
    v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
    j AS (
      SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
             v.ts AS view_ts, v.value AS view_value,
             ROW_NUMBER() OVER (
               PARTITION BY c.event_id
               ORDER BY abs(epoch_us(v.ts) - epoch_us(c.ts)) ASC,
                        (v.ts <= c.ts) DESC,
                        CASE WHEN v.ts <= c.ts THEN -v.event_id ELSE v.event_id END ASC
             ) AS rn
      FROM c LEFT JOIN v ON c.user_id = v.user_id
    )
    SELECT click_id, user_id, click_ts, view_ts AS asof_ts, view_value AS asof_value
    FROM j WHERE rn = 1
    """,
    doc="Nearest as-of join (operators/asof.py:asof_join_nearest): each "
    "click paired with the user's closest view in EITHER direction, "
    "exact-distance ties to the past — composed from the backward and "
    "forward union-merge passes (one user_id shuffle each, no theta "
    "join) plus an equi-join on the click id; the oracle is the naive "
    "quadratic theta join with an abs-delta row_number. Completes the "
    "as-of family (backward / forward / nearest).",
    tags=("temporal", "join"),
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.asof import asof_join_nearest
    from cartography_spark.sources.parquet import load_table as _lt

    e = _lt(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("ts").alias("click_ts"), F.col("value")
    )
    return asof_join_nearest(
        clicks,
        views,
        by="user_id",
        ts="click_ts",
        value_cols=("value",),
        left_id="click_id",
    ).select(
        "click_id",
        "user_id",
        "click_ts",
        F.col("asof_click_ts").alias("asof_ts"),
        F.col("asof_value").alias("asof_value"),
    )


@query(
    "dedup_embedding_collapsed",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x AS DOUBLE))
      FROM embeddings WHERE vec_id < 20
      UNION ALL
      SELECT vec_id + 2000000,
             list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                            (x, i) -> CASE WHEN i = 2 THEN x * 1.1 ELSE x END)
      FROM embeddings WHERE vec_id < 20
    ),
    grp AS (
      SELECT b.vec_id, g.rep
      FROM base b JOIN (SELECT v, min(vec_id) AS rep FROM base GROUP BY v) g ON b.v = g.v
    ),
    reps AS (
      SELECT b.vec_id, b.v FROM base b
      JOIN grp ON b.vec_id = grp.vec_id AND grp.rep = b.vec_id
    ),
    sigs AS (SELECT vec_id, v, {_PAIR_SIG_SQL.format(vec='v')} AS sig FROM reps),
    p2 AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
      WHERE {_PAIR_COSINE_SQL} >= 0.99
    ),
    und AS (SELECT a AS src, b AS dst FROM p2 UNION SELECT b, a FROM p2),
    r AS (
      SELECT vec_id AS v2, vec_id AS lbl, 0 AS hops FROM reps
      UNION
      SELECT r.v2, und.dst, r.hops + 1 FROM r JOIN und ON r.lbl = und.src WHERE r.hops < 6
    ),
    cl AS (SELECT v2, min(lbl) AS cluster FROM r GROUP BY v2)
    SELECT grp.vec_id, cl.cluster, (grp.vec_id = cl.cluster) AS keep
    FROM grp JOIN cl ON grp.rep = cl.v2
    """,
    doc="Embedding near-dup clustering with exact-copy collapse "
    "(sf1-rehearsal fix): bit-identical vectors group on the array value "
    "itself (no lossy float formatting), the LSH-blocked cosine pair "
    "generator runs on unique vectors only, bounded min-label clustering "
    "merges near-dup components, and a linear rep-join expands back — "
    "O(N) output, immune to the quadratic copy-count blowup the raw pair "
    "contract shows under 10x replication. Exact copies injected at "
    "vec_id+1000000, near-dups (one coordinate scaled 1.1x) at +2000000.",
    tags=("llm", "dedup", "similarity", "scale"),
)
def q_dedup_embedding_collapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    perturbed = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 2000000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == 1, x * 1.1).otherwise(x)
        ).alias("embedding"),
    )
    base = emb.unionByName(copies).unionByName(perturbed)
    return dd.embedding_cluster_collapsed(base, dim=64)


@query(
    "analysis_scoped_set_property",
    oracle="""
    SELECT CAST(s_suppkey AS VARCHAR) AS id,
           CASE WHEN n_regionkey = 0 THEN s_acctbal > 7000
                ELSE s_acctbal > 5000 END AS flagged
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """,
    doc="ScopeById lifecycle (reference analysis.py:12-24 + "
    "analysisbuilder.py:173-194 scope prefix): run 1 flags suppliers with "
    "balance > 5000 globally; run 2 re-runs SCOPED to Region 0 with a "
    "stricter > 7000 match. The scoped auto-cleanup nulls region-0 flags "
    "not refreshed by run 2, while every other region keeps its run-1 "
    "flag untouched — the multi-tenant guarantee: one tenant's analysis "
    "sync can never clobber another tenant's derived state. Scope "
    "members come from the RESOURCE edge table filtered to the scope id "
    "(partition-prunable on a tenant-partitioned warehouse).",
    tags=("engine", "analysis"),
)
def q_analysis_scoped_set_property(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.plans.analysis import (
        AnalysisJob,
        AnalysisStatement,
        ScopeById,
        SetProperty,
    )
    from cartography_spark.plans.inventory_lifecycle import base_catalog

    cat = base_catalog(spark, sf_dir)

    def high_bal(threshold: float):
        def matcher(c: GraphCatalog) -> DataFrame:
            return (
                c.node("Supplier")
                .filter(F.col("acctbal") > threshold)
                .select(F.col("id").alias("sid"))
            )

        return matcher

    effect = lambda: (SetProperty("Supplier", "sid", "flagged", True),)  # noqa: E731
    # run 1 (T2): global flag at > 5000
    AnalysisJob("flag-global", (AnalysisStatement(high_bal(5000), effect()),)).run(cat, T2)
    # run 2 (T2+1): scoped to Region 0, stricter threshold; scoped cleanup
    # must null ONLY region-0 flags that run 2 didn't refresh
    scoped = AnalysisJob(
        "flag-region0",
        (AnalysisStatement(high_bal(7000), effect()),),
        scope=ScopeById("Region", "region_id", scope_on="sid", member_label="Supplier"),
    )
    scoped.run(cat, T2 + 1, params={"region_id": "0"})
    return cat.node("Supplier").select(
        "id", F.coalesce("flagged", F.lit(False)).alias("flagged")
    )


@query(
    "asof_join_tolerance",
    oracle="""
    WITH c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
    v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
    j AS (
      SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
             v.ts AS view_ts, v.value AS view_value,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
                                ORDER BY v.ts DESC NULLS LAST, v.event_id DESC) AS rn
      FROM c LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
    )
    SELECT click_id, user_id, click_ts,
           CASE WHEN view_ts >= click_ts - INTERVAL 10 MINUTE THEN view_ts END AS view_ts,
           CASE WHEN view_ts >= click_ts - INTERVAL 10 MINUTE THEN view_value END AS view_value
    FROM j WHERE rn = 1
    """,
    doc="Backward as-of join with a 10-minute tolerance (pandas "
    "merge_asof(tolerance=...) semantics): a click's most recent view is "
    "attributed only if it happened within the window; staler matches "
    "null out rather than resurrecting older ones. Same one-shuffle "
    "union-merge plan as asof_join_attribution — the tolerance is a "
    "row-local predicate after the carry-forward, zero extra movement. "
    "Completes the as-of family: backward / forward / nearest / "
    "windowed.",
    tags=("window", "temporal"),
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.asof import asof_join_backward_tolerance

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("click_ts"), "event_id", F.col("value").alias("view_value")
    )
    out = asof_join_backward_tolerance(
        clicks,
        views,
        by="user_id",
        ts="click_ts",
        value_cols=("view_value",),
        tolerance=600 * 1_000_000,  # 10 min on the unix_micros axis
        tie_col="event_id",
        prefix="v_",
    )
    return out.select(
        "click_id",
        "user_id",
        "click_ts",
        F.col("v_click_ts").alias("view_ts"),
        F.col("v_view_value").alias("view_value"),
    )


@query(
    "streaming_dedup_watermark",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_unique,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
    doc="Streaming exact dedup under at-least-once delivery "
    "(streaming/events.py stream_dedupe): the event stream is unioned "
    "with itself — every event delivered twice, the at-least-once "
    "redelivery model — and dropDuplicatesWithinWatermark(event_id) "
    "collapses it back. State is watermark-BOUNDED (a key leaves the "
    "state store once the watermark passes it), the only dedup shape "
    "that survives an unbounded stream; batch dropDuplicates state "
    "would grow with the stream's lifetime. Run to completion with "
    "Trigger.AvailableNow; the oracle is the batch aggregate over the "
    "ORIGINAL (undoubled) events — exact equality proves every "
    "duplicate was dropped and every original kept.",
    tags=("streaming", "dedup"),
)
def q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        stream_dedupe,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    doubled = stream.union(stream)  # at-least-once: every event delivered twice
    dedup = stream_dedupe(doubled, ["event_id"]).select("event_id", "event_type", "value")
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    out = run_available_now(dedup, name, output_mode="append")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_unique"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )


@query(
    "streaming_minute_rollup",
    oracle="""
    SELECT date_trunc('minute', ts) AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value), 2) AS sum_value,
           ROUND(min(value), 2) AS min_value,
           ROUND(max(value), 2) AS max_value
    FROM events GROUP BY 1
    """,
    doc="Streaming front-end of the continuous-aggregate hierarchy "
    "(streaming/events.py:minute_rollup_stream; batch levels in "
    "operators/rollup.py): per-minute mergeable partials "
    "(count/sum/min/max) with watermarked state, run to completion under "
    "Trigger.AvailableNow in complete mode. The classic 'streaming "
    "ingest, batch rollup' split with no lambda-architecture divergence "
    "— the stream's final table must EQUAL the batch minute aggregate "
    "(the oracle), which is what lets downstream hour/day levels merge "
    "stream output and backfill output interchangeably.",
    tags=("streaming", "rollup"),
)
def q_streaming_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.streaming.events import (
        minute_rollup_stream,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    roll = minute_rollup_stream(stream)
    name = f"stream_minute_{uuid.uuid4().hex[:8]}"
    out = run_available_now(roll, name, output_mode="complete")
    return out.select(
        "bucket",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    )


@query(
    "streaming_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
      FROM o
    )
    SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events,
           ROUND(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, sess
    """,
    doc="STREAMING session windows (streaming/events.py:sessionize): gap-"
    "based session assignment in the state store via the built-in "
    "session_window — the declarative form of a custom "
    "applyInPandasWithState sessionizer — with a 2h watermark bounding "
    "state, run to completion with Trigger.AvailableNow in complete "
    "mode (append would emit only watermark-finalized sessions, "
    "dropping each user's trailing open session at end-of-stream). The "
    "streaming twin of the batch events_session_window query: the oracle is the "
    "same gaps-and-islands SQL over the static events table, so exact "
    "agreement proves the state-store session merge equals the batch "
    "window semantics (sessions that OVERLAP via the 30-min gap are "
    "merged identically whether events arrive as a stream or a scan). "
    "PRODUCTION-CONTINUOUS NOTE: complete mode is strictly the run-to-"
    "completion parity choice — under Trigger.AvailableNow it emits the "
    "result table exactly once, at the end. A continuously-triggered "
    "deployment must NOT use it (complete re-emits the ENTIRE result "
    "table every trigger, unbounded in stream length); the production "
    "shape is append mode — each session row emitted exactly once, when "
    "the watermark passes session_end + gap — plus, when the dashboard "
    "needs in-flight sessions, a side read of the open-session tail from "
    "the state store (spark.read.format('statestore') on the checkpoint) "
    "unioned over the append sink's finalized history.",
    tags=("streaming", "window"),
)
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        sessionize,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    sess = sessionize(stream, gap="30 minutes")
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    # complete mode: append would emit only watermark-FINALIZED sessions,
    # silently dropping every user's trailing open session at end-of-stream
    out = run_available_now(sess, name, output_mode="complete")
    return out.select(
        "user_id",
        F.col("session_start"),
        F.col("n_events").cast("bigint").alias("n_events"),
        "total_value",
    )


@query(
    "streaming_cdc_latest_state",
    oracle="""
    WITH log AS (
      SELECT c_custkey, c_name AS name, 1 AS seq, 'I' AS op FROM customer
      UNION ALL
      SELECT c_custkey, upper(c_name), 2, 'U' FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, NULL, 3, 'D' FROM customer WHERE c_custkey % 5 = 0
    ),
    latest AS (
      SELECT c_custkey, name, op FROM (
        SELECT c_custkey, name, op,
               row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT c_custkey, name FROM latest WHERE op <> 'D'
    """,
    doc="STREAMING CDC apply (streaming/events.py:cdc_latest_state): the "
    "same I/U/D changelog cdc_apply_changelog replays in batch is "
    "written to parquet and re-consumed as a STREAM; one mergeable "
    "max_by(payload, seq) aggregate in the state store picks each "
    "key's winner and 'D' tombstones are filtered after the aggregate "
    "(so a later re-insert revives the key). Run to completion with "
    "Trigger.AvailableNow in complete mode; exact agreement with the "
    "batch oracle proves stream-replayed CDC state equals the batch "
    "apply — the property that lets a deployment switch between "
    "backfill (batch) and tail (stream) without reconciliation. State "
    "size tracks the live-key population, not the changelog length.",
    tags=("streaming", "lifecycle"),
)
def q_streaming_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from pyspark import SparkFiles

    from cartography_spark.session import memo
    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import cdc_latest_state, run_available_now

    c = load_table(spark, sf_dir, "customer")
    ins = c.select(
        "c_custkey", F.col("c_name").alias("name"), F.lit(1).alias("seq"), F.lit("I").alias("op")
    )
    upd = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.upper("c_name").alias("name"), F.lit(2).alias("seq"), F.lit("U").alias("op")
    )
    dele = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("name"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    log = ins.unionByName(upd).unionByName(dele)
    # write the synthesized changelog ONCE per (application, sf_dir): bench's
    # best-of-5 and the oracle gate re-invoke this builder, and a write per
    # call would fold into the measured query time. The directory sits under
    # the driver's SparkFiles root, so it goes when the context stops.
    def write_log() -> str:
        path = tempfile.mkdtemp(prefix="cdc_log_", dir=SparkFiles.getRootDirectory())
        log.write.mode("overwrite").parquet(path)
        return path

    path = memo(spark, ("cdc_log", sf_dir), write_log)
    stream = spark.readStream.schema(log.schema).parquet(path)
    state = cdc_latest_state(stream, "c_custkey")
    name = f"stream_cdc_{uuid.uuid4().hex[:8]}"
    return run_available_now(state, name, output_mode="complete")


@query(
    "streaming_psi_drift",
    oracle="""
    WITH pb AS (
      SELECT CAST(floor(CAST(round(value * 100) AS BIGINT) / 2000.0) AS INTEGER) AS bin,
             sum(CASE WHEN hour(date_trunc('hour', ts)) % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN hour(date_trunc('hour', ts)) % 2 = 1 THEN 1 ELSE 0 END) AS cb
      FROM events GROUP BY bin
    ),
    t AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS nbins FROM pb),
    j AS (SELECT pb.*, t.na, t.nb, t.nbins,
                 t.na + t.nbins AS na_s, t.nb + t.nbins AS nb_s
          FROM pb CROSS JOIN t),
    terms AS (
      SELECT na, nb, nbins, na_s, nb_s,
             ((ca + 1) * nb_s - (cb + 1) * na_s)
               * CAST(round(ln(CAST((ca + 1) * nb_s AS DOUBLE)
                                / ((cb + 1) * na_s)) * 1000) AS BIGINT) AS term
      FROM j
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(nbins AS BIGINT) AS n_bins,
           sum(term) / (CAST(na_s AS DOUBLE) * nb_s) / 1000.0 AS psi,
           (sum(term) / (CAST(na_s AS DOUBLE) * nb_s) / 1000.0 > 0.2) AS major_shift
    FROM terms GROUP BY na, nb, nbins, na_s, nb_s
    """,
    doc="Streaming drift monitor: the per-window binned value histogram "
    "is maintained by watermarked streaming aggregation "
    "(streaming/events.py:psi_bin_stream — ONE state row per (window, "
    "bin), additive partials, watermark-evicted), then the PSI between "
    "the even- and odd-hour window populations is a read-side fold over "
    "the emitted windows through the SAME psi_drift operator the batch "
    "gate uses (weighted by the streamed counts). Because count() "
    "partials merge by sum, the streamed histogram equals the batch "
    "histogram EXACTLY and the oracle runs the whole computation in "
    "batch SQL — no lambda-architecture divergence. This is the "
    "production deployment shape of psi_drift_binned: stream owns the "
    "mergeable state; the statistic (or a different one — KS, JSD) is "
    "swappable read-side without touching stream state.",
    tags=("streaming", "drift", "scale"),
)
def q_streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.operators.profiling import psi_drift
    from cartography_spark.streaming.events import (
        psi_bin_stream,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    name = f"psi_stream_{uuid.uuid4().hex[:8]}"
    per_window = run_available_now(
        psi_bin_stream(stream), name, output_mode="complete"
    )
    parity = F.hour("window_start") % 2
    cells = per_window.select(parity.alias("p"), "bin", "n")
    return psi_drift(
        cells,
        F.col("bin"),
        F.when(F.col("p") == 0, F.col("n")).otherwise(F.lit(0)),
        F.when(F.col("p") == 1, F.col("n")).otherwise(F.lit(0)),
    )


@query(
    "streaming_ks_drift",
    oracle="""
    WITH pv AS (
      SELECT CAST(floor(CAST(round(value * 100) AS BIGINT) / 100.0) AS BIGINT) AS v,
             sum(CASE WHEN hour(date_trunc('hour', ts)) % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN hour(date_trunc('hour', ts)) % 2 = 1 THEN 1 ELSE 0 END) AS cb
      FROM events GROUP BY v
    ),
    e AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             sum(cb) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      FROM pv
    ),
    t AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM e),
    d AS (SELECT n_a, n_b, v, abs(n_b * cum_a - n_a * cum_b) AS dn
          FROM e CROSS JOIN t),
    m AS (SELECT n_a, n_b, dn AS d_num, v AS ks_at_value,
                 row_number() OVER (ORDER BY dn DESC, v ASC) AS rn
          FROM d)
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS d_num,
           d_num / (CAST(n_a AS DOUBLE) * n_b) AS ks_stat,
           ks_at_value,
           (d_num / (CAST(n_a AS DOUBLE) * n_b) >
            1.358 * sqrt((n_a + n_b) / (CAST(n_a AS DOUBLE) * n_b))) AS reject_95
    FROM m WHERE rn = 1
    """,
    doc="Streaming Kolmogorov-Smirnov drift gate — the KS twin the r07 "
    "PSI factoring was designed to admit (VERDICT r7 item 6): the stream "
    "owns per-(window, quantized-value) count() state "
    "(streaming/events.py:value_count_stream — additive partials, ONE "
    "state row per (window, value), bounded by the value domain and the "
    "watermark), and the KS statistic between the even- and odd-hour "
    "window populations is a read-side fold over emitted windows through "
    "the SAME integer-exact ks_two_sample operator the batch gate uses "
    "(count-weighted indicators). Because count() partials merge by sum, "
    "the streamed value histogram equals the batch histogram EXACTLY and "
    "the oracle runs the whole computation in batch SQL. Swapping the "
    "statistic (PSI -> KS) touched zero stream state — the factoring "
    "doing its job.",
    tags=("streaming", "drift", "scale"),
)
def q_streaming_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from cartography_spark.operators.profiling import ks_two_sample
    from cartography_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        value_count_stream,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    name = f"ks_stream_{uuid.uuid4().hex[:8]}"
    per_window = run_available_now(
        value_count_stream(stream), name, output_mode="complete"
    )
    parity = F.hour("window_start") % 2
    cells = per_window.select(parity.alias("p"), "v", "n")
    return ks_two_sample(
        cells,
        F.col("v"),
        F.when(F.col("p") == 0, F.col("n")).otherwise(F.lit(0)),
        F.when(F.col("p") == 1, F.col("n")).otherwise(F.lit(0)),
    )


@query(
    "skew_shuffle_audit",
    oracle="""
    WITH k AS (
      SELECT event_type AS kk, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type
    ),
    kb AS (
      SELECT kk, c,
             ('0x' || substring(md5(CAST(kk AS VARCHAR)), 1, 8))::BIGINT % 32 AS b
      FROM k
    ),
    bu AS (SELECT b, sum(c) AS rows_, count(*) AS nk FROM kb GROUP BY b),
    ks AS (SELECT sum(c) AS n_rows, count(*) AS n_keys, max(c) AS max_key_rows FROM kb),
    bs AS (SELECT count(*) AS n_buckets_used, max(rows_) AS max_bucket_rows FROM bu)
    SELECT CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_buckets_used AS BIGINT) AS n_buckets_used,
           CAST(max_bucket_rows AS BIGINT) AS max_bucket_rows,
           CAST(max_key_rows AS BIGINT) AS max_key_rows,
           CAST(round(1000.0 * (CAST(max_bucket_rows * 32 AS DOUBLE) / CAST(n_rows AS DOUBLE))) AS BIGINT) AS bucket_skew_millis,
           CAST(round(1000.0 * (CAST(max_key_rows * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE))) AS BIGINT) AS key_skew_millis,
           coalesce(round(1000.0 * (CAST(max_bucket_rows * 32 AS DOUBLE) / CAST(n_rows AS DOUBLE))) > 2000
                    AND 2 * max_key_rows > max_bucket_rows, false) AS salt_recommended
    FROM ks, bs
    """,
    doc="Pre-shuffle skew audit on the event-type grouping key "
    "(operators/skew.py:skew_audit): collapse to distinct keys in one "
    "map-side-combined pass, hash keys into 32 md5-portable reducer "
    "buckets, and report heaviest-bucket vs heaviest-key skew plus a "
    "salt recommendation — the measurement a 100 TB plan runs BEFORE "
    "committing to a shuffle, distinguishing a hot KEY (needs "
    "with_salt/salted_agg; AQE cannot split a hash-agg key) from a hot "
    "BUCKET of cold keys (just needs more partitions). All ratios are "
    "integer-product-then-one-double-division; identical on both "
    "engines.",
    tags=("skew", "scale", "layout"),
)
def q_skew_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.skew import skew_audit

    ev = load_table(spark, sf_dir, "events")
    return skew_audit(ev, F.col("event_type"))
