"""SURVEY §2.2-§2.6 + §2.9 operator inventory: projections, filters,
predicates, joins, aggregations, windows, set ops, scalar functions.

Each reference operator (cited file:line into /root/reference) is expressed
as a declarative DataFrame plan; the oracle is the ANSI-SQL equivalent run
by DuckDB. Column names + float rounding are aligned on both sides because
the driver hash-compares values with columns sorted by name.

Rounding rule: round at p decimals only where the exact value has <= p
decimal digits (so the double error ~1e-9 can never straddle a rounding
boundary); ratios (avg) round at 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cartography_spark.plans.registry import query
from cartography_spark.sources.parquet import load_table


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.2 Projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "projection",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, c_mktsegment AS segment
    FROM customer
    """,
    doc="Property projection with aliases — every rule fact's RETURN clause "
    "(reference rules/data/rules/object_storage_public.py:14-29).",
    tags=("filter",),
)
def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )


@query(
    "filter_eq",
    oracle="""
    SELECT o_orderkey, o_orderstatus
    FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
    """,
    doc="Inline-map equality filter MATCH (n:L {prop: val}) "
    "(reference docs/root/usage/samplequeries.md:46-49).",
    tags=("filter",),
)
def q_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT"))
        .select("o_orderkey", "o_orderstatus")
    )


@query(
    "filter_bool_null",
    oracle="""
    SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal < 0 OR (c_mktsegment IS NOT NULL AND c_mktsegment = 'BUILDING')
    """,
    doc="Boolean/null predicates (reference object_storage_public.py:15-17).",
    tags=("filter",),
)
def q_filter_bool_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    return c.filter(
        (F.col("c_acctbal") < 0) | (F.col("c_mktsegment").isNotNull() & (F.col("c_mktsegment") == "BUILDING"))
    ).select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))


@query(
    "coalesce_default",
    oracle="""
    SELECT c_custkey, COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '(none)') AS segment
    FROM customer
    """,
    doc="coalesce null-default — the reference's most-used function, fn=404 "
    "(e.g. object_storage_public.py:68).",
    tags=("scalar",),
)
def q_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(none)")).alias("segment"),
    )


@query(
    "list_membership_in",
    oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer WHERE c_mktsegment IN ('MACHINERY', 'FURNITURE')
    """,
    doc="IN list membership, fn=184 (reference querybuilder.py:65).",
    tags=("filter",),
)
def q_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("MACHINERY", "FURNITURE"))
        .select("c_custkey", "c_mktsegment")
    )


@query(
    "string_match_filters",
    oracle="""
    SELECT p_partkey, p_brand, p_type
    FROM part
    WHERE p_brand LIKE '%2%' AND p_type LIKE 'M%' AND p_name LIKE '%r%'
    """,
    doc="CONTAINS (fn=96) / STARTS WITH (fn=124) / ENDS WITH (fn=7) "
    "(reference object_storage_public.py:21, rules corpus).",
    tags=("filter",),
)
def q_string_match_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return p.filter(
        F.col("p_brand").contains("2") & F.col("p_type").startswith("M") & F.col("p_name").contains("r")
    ).select("p_partkey", "p_brand", "p_type")


@query(
    "exists_semijoin",
    oracle="""
    SELECT c_custkey FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    """,
    doc="Existential subquery fn=31 -> left-semi join "
    "(reference object_storage_public.py:18-22).",
    tags=("join",),
)
def q_exists_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


@query(
    "not_exists_antijoin",
    oracle="""
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Negated existential -> left-anti join; also the cleanup primitive "
    "(reference cleanupbuilder.py:244-390).",
    tags=("join",),
)
def q_not_exists_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@query(
    "higher_order_list_predicates",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, array_agg(l_returnflag) AS flags
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderkey
    )
    SELECT
      count(*) FILTER (WHERE len(list_filter(flags, x -> x = 'R')) > 0) AS n_any_r,
      count(*) FILTER (WHERE len(list_filter(flags, x -> x = 'N')) = len(flags)) AS n_all_n,
      count(*) FILTER (WHERE len(list_filter(flags, x -> x = 'A')) = 1) AS n_single_a
    FROM t
    """,
    doc="Higher-order list predicates any/all/single (fn=86/68/11) -> "
    "F.exists/F.forall/F.filter+size (reference samplequeries.md:30-34).",
    tags=("scalar", "agg"),
)
def q_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    flags = li.groupBy("l_orderkey").agg(F.collect_list("l_returnflag").alias("flags"))
    return flags.agg(
        F.count(F.when(F.exists("flags", lambda x: x == "R"), 1)).alias("n_any_r"),
        F.count(F.when(F.forall("flags", lambda x: x == "N"), 1)).alias("n_all_n"),
        F.count(F.when(F.size(F.filter("flags", lambda x: x == "A")) == 1, 1)).alias("n_single_a"),
    )


@query(
    "conditional_label",
    oracle="""
    SELECT c_custkey,
           (c_acctbal > 0) AS is_positive,
           CASE WHEN c_acctbal > 0 THEN 'Customer,POSITIVE_BALANCE' ELSE 'Customer' END AS labels
    FROM customer
    """,
    doc="Conditional extra label .when(prop, value) -> boolean label column "
    "(reference nodes.py:145-147, querybuilder.py:486-575).",
    tags=("scalar",),
)
def q_conditional_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    is_pos = F.col("c_acctbal") > 0
    return c.select(
        "c_custkey",
        is_pos.alias("is_positive"),
        F.when(is_pos, F.lit("Customer,POSITIVE_BALANCE")).otherwise(F.lit("Customer")).alias("labels"),
    )


# ---------------------------------------------------------------------------
# §2.3 Joins
# ---------------------------------------------------------------------------


@query(
    "equi_join_1hop",
    oracle="""
    SELECT n_name, count(*) AS n_customers, ROUND(sum(c_acctbal), 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="Ingest-time equi target match (reference querybuilder.py:816-903); "
    "nation is a broadcast dim.",
    tags=("join", "agg"),
)
def q_equi_join_1hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_bal"))
    )


@query(
    "multihop_join_revenue",
    oracle="""
    SELECT r_name, n_name, ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY r_name, n_name
    """,
    doc="Flagship 5-hop pattern join (reference analysis/aws/analysis.py:63 "
    "five-join MATCH; TPC-H Q5 shape). Dims broadcast; fact joins shuffle on keys.",
    tags=("join", "agg", "flagship"),
)
def q_multihop(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


@query(
    "optional_match_outer",
    oracle="""
    SELECT c.c_custkey, COALESCE(o.cnt, 0) AS n_orders
    FROM customer c
    LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) o
      ON o.o_custkey = c.c_custkey
    """,
    doc="OPTIONAL MATCH (fn=91) -> left-outer join + coalesce "
    "(reference querybuilder.py:866-867,963-965).",
    tags=("join",),
)
def q_optional_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").groupBy("o_custkey").agg(F.count("*").alias("cnt"))
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders")
    )


@query(
    "case_insensitive_join",
    oracle="""
    WITH dim AS (SELECT DISTINCT upper(n_name) AS uname FROM nation)
    SELECT n_name, uname FROM nation JOIN dim ON lower(n_name) = lower(uname)
    """,
    doc="Case-insensitive equi-join toLower(n.key)=toLower(item.ref) "
    "(reference querybuilder.py:711,722-727). Pre-computing lower() keeps it "
    "an equi-join (hashable) instead of a theta join.",
    tags=("join",),
)
def q_case_insensitive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = T(spark, sf_dir, "nation")
    dim = n.select(F.upper("n_name").alias("uname")).distinct()
    return n.join(F.broadcast(dim), F.lower(n.n_name) == F.lower(dim.uname)).select("n_name", "uname")


@query(
    "fuzzy_contains_join",
    oracle="""
    WITH needles AS (SELECT DISTINCT '_' || CAST(n_regionkey AS VARCHAR) AS needle FROM nation)
    SELECT needle, count(*) AS n_matches
    FROM nation JOIN needles ON contains(lower(n_name), lower(needle))
    GROUP BY needle
    """,
    doc="Fuzzy theta-join toLower(key) CONTAINS toLower(ref) "
    "(reference querybuilder.py:712-714,728-731). Broadcast-nested-loop on a "
    "small dim side — the only sane physical plan for CONTAINS joins.",
    tags=("join",),
)
def q_fuzzy_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = T(spark, sf_dir, "nation")
    needles = n.select(F.concat(F.lit("_"), F.col("n_regionkey").cast("string")).alias("needle")).distinct()
    return (
        n.join(F.broadcast(needles), F.lower(n.n_name).contains(F.lower(needles.needle)))
        .groupBy("needle")
        .agg(F.count("*").alias("n_matches"))
    )


@query(
    "one_to_many_membership_join",
    oracle="""
    SELECT s_nationkey, count(*) AS n_links
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) pairs
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
    doc="one_to_many list matcher: n.key IN item.list_ref (reference "
    "querybuilder.py:716,732-736). Spark plan: collect_set -> explode -> "
    "equi-join (explode beats array_contains theta join at scale).",
    tags=("join",),
)
def q_one_to_many_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    order_supp = li.groupBy("l_orderkey").agg(F.collect_set("l_suppkey").alias("suppkeys"))
    exploded = order_supp.select("l_orderkey", F.explode("suppkeys").alias("suppkey"))
    return (
        exploded.join(s, exploded.suppkey == s.s_suppkey)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_links"))
    )


@query(
    "matchlink_edges",
    oracle="""
    SELECT c_nationkey AS src_nation, s_nationkey AS dst_nation, count(*) AS n_edges
    FROM (
      SELECT DISTINCT o_custkey, l_suppkey
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ) raw
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY c_nationkey, s_nationkey
    """,
    doc="MatchLink: resolve src+dst among EXISTING nodes then create edges "
    "(reference querybuilder.py:1755-1925, tx.py:846-921): two equi-joins -> "
    "distinct edge set.",
    tags=("join", "engine"),
)
def q_matchlink(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    raw = o.join(li, o.o_orderkey == li.l_orderkey).select("o_custkey", "l_suppkey").distinct()
    return (
        raw.join(c, raw.o_custkey == c.c_custkey)
        .join(s, raw.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src_nation"), F.col("s_nationkey").alias("dst_nation"))
        .agg(F.count("*").alias("n_edges"))
    )


@query(
    "cartesian_product_link",
    oracle="""
    SELECT r_name, seg.c_mktsegment
    FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) seg
    """,
    doc="Cartesian-product link: every source x every target gets an edge "
    "(reference querybuilder.py:1648-1753; tx.py:923-1015 chunks 100x1000 — "
    "Spark crossJoin handles chunking via partitioning).",
    tags=("join", "engine"),
)
def q_cartesian_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = T(spark, sf_dir, "region")
    seg = T(spark, sf_dir, "customer").select("c_mktsegment").distinct()
    return r.crossJoin(seg).select("r_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# §2.4 Aggregations
# ---------------------------------------------------------------------------


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows,
           ROUND(sum(l_quantity), 2) AS sum_qty,
           ROUND(sum(l_extendedprice), 2) AS sum_base,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(avg(l_discount), 6) AS avg_disc
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="count/sum/avg grouped agg (reference fn: count=228; TPC-H Q1 shape). "
    "Map-side partial agg -> single shuffle on group keys.",
    tags=("agg", "flagship"),
)
def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


@query(
    "count_distinct_assets",
    oracle="""
    SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct_customers
    FROM orders GROUP BY o_orderpriority
    """,
    doc="count(DISTINCT asset_id_field) — the rules engine's failing-asset "
    "count (reference rules/runners.py:121-125).",
    tags=("agg",),
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_distinct_customers"))
    )


@query(
    "collect_group_members",
    oracle="""
    SELECT r_name,
           array_to_string(list_sort(list_distinct(array_agg(n_name))), ',') AS nations,
           count(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="collect() group members fn=57 -> collect_set + sort_array "
    "(reference analysis/ontology/analysis.py). Serialized to string for a "
    "stable order-insensitive hash.",
    tags=("agg",),
)
def q_collect_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations"),
            F.count("*").alias("n"),
        )
    )


@query(
    "list_fold_reduce",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, list_aggregate(array_agg(l_quantity), 'sum') AS total_qty
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT count(*) AS n_heavy_orders
    FROM per_order WHERE total_qty > 150
    """,
    doc="reduce() list fold fn=10 -> F.aggregate higher-order function "
    "(reference rules corpus; size fn=54).",
    tags=("agg", "scalar"),
)
def q_list_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.collect_list("l_quantity").alias("qtys"))
    folded = per_order.select(
        F.aggregate("qtys", F.lit(0.0), lambda acc, x: acc + x).alias("total_qty")
    )
    return folded.filter(F.col("total_qty") > 150).agg(F.count("*").alias("n_heavy_orders"))


@query(
    "minmax_stats",
    oracle="""
    SELECT p_brand,
           ROUND(min(p_retailprice), 2) AS min_price,
           ROUND(max(p_retailprice), 2) AS max_price,
           ROUND(sum(p_retailprice), 2) AS sum_price,
           ROUND(avg(p_size), 6) AS avg_size
    FROM part GROUP BY p_brand
    """,
    doc="min/max/sum/avg (reference rules corpus, rare but present).",
    tags=("agg",),
)
def q_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
            F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
            F.round(F.avg("p_size"), 6).alias("avg_size"),
        )
    )


@query(
    "distinct_dedup",
    oracle="""
    SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
    """,
    doc="DISTINCT row dedup fn=97 (reference samplequeries.md:70).",
    tags=("agg",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment").distinct()


# ---------------------------------------------------------------------------
# §2.5 Windows, sorts, limits
# ---------------------------------------------------------------------------


@query(
    "order_by_limit",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    doc="ORDER BY fn=45 + LIMIT fn=22 with deterministic tie-break "
    "(reference samplequeries.md:81-84; cleanupbuilder.py:326-345). Spark "
    "TakeOrderedAndProject avoids a full sort.",
    tags=("window",),
)
def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
    )


@query(
    "top1_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey AS latest_orderkey
    FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) t JOIN customer ON o_custkey = c_custkey
    WHERE rn = 1
    """,
    doc="Top-1 latest per group (reference intel/cve/feed.py:53-57) -> "
    "row_number window; needed internally for upsert dedup too.",
    tags=("window",),
)
def q_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    latest = o.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return latest.join(c, latest.o_custkey == c.c_custkey).select(
        "c_custkey", F.col("o_orderkey").alias("latest_orderkey")
    )


@query(
    "lag_window_delta",
    oracle="""
    WITH t AS (
      SELECT o_custkey, o_totalprice,
             lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev
      FROM orders
    )
    SELECT o_custkey, count(*) AS n_increases
    FROM t WHERE prev IS NOT NULL AND o_totalprice > prev
    GROUP BY o_custkey
    """,
    doc="lag analytic window (absent in reference — SURVEY §2.5 notes Spark "
    "provides it; exposed as part of the SQL surface).",
    tags=("window",),
)
def q_lag_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    t = o.withColumn("prev", F.lag("o_totalprice").over(w))
    return (
        t.filter(F.col("prev").isNotNull() & (F.col("o_totalprice") > F.col("prev")))
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_increases"))
    )


# ---------------------------------------------------------------------------
# §2.6 Set operations
# ---------------------------------------------------------------------------


@query(
    "union_dedup",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="UNION with dedup (reference samplequeries.md:87-95).",
    tags=("setop",),
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "drift_set_difference",
    oracle="""
    WITH s1 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
         s2 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
    SELECT 'new' AS status, o_custkey FROM (SELECT o_custkey FROM s2 EXCEPT SELECT o_custkey FROM s1)
    UNION ALL
    SELECT 'missing' AS status, o_custkey FROM (SELECT o_custkey FROM s1 EXCEPT SELECT o_custkey FROM s2)
    """,
    doc="Drift detect: new = end - start, missing = start - end "
    "(reference driftdetect/detect_deviations.py:92-117) via exceptAll.",
    tags=("setop", "engine"),
)
def q_drift_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    s1 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    s2 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey").distinct()
    new = s2.exceptAll(s1).select(F.lit("new").alias("status"), "o_custkey")
    missing = s1.exceptAll(s2).select(F.lit("missing").alias("status"), "o_custkey")
    return new.unionByName(missing)


@query(
    "intersect_sets",
    oracle="""
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
    """,
    doc="INTERSECT (absent in reference; free via Spark set ops — SURVEY §2.6).",
    tags=("setop",),
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    s1 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    s2 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    return s1.intersect(s2)


# ---------------------------------------------------------------------------
# §2.9 Scalar function surface
# ---------------------------------------------------------------------------


@query(
    "scalar_string_functions",
    oracle="""
    SELECT c_custkey,
           lower(c_name) AS lname,
           upper(c_mktsegment) AS useg,
           replace(c_name, 'Customer', 'Cust') AS renamed,
           trim(concat('  ', c_mktsegment, ' ')) AS trimmed,
           substr(c_name, 10, 4) AS sub4,
           length(c_name) AS name_len,
           string_split(c_name, '#')[1] AS name_head,
           string_split(c_name, '#')[-1] AS name_tail
    FROM customer
    """,
    doc="String scalar parity: toLower(102)/toUpper/split(48)/replace(31)/"
    "trim(20)/substring/toString (SURVEY §2.9; all JVM-side, codegen'd).",
    tags=("scalar",),
)
def q_scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    parts = F.split(F.col("c_name"), "#")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("lname"),
        F.upper("c_mktsegment").alias("useg"),
        F.expr("replace(c_name, 'Customer', 'Cust')").alias("renamed"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
        F.substring("c_name", 10, 4).alias("sub4"),
        F.length("c_name").alias("name_len"),
        F.element_at(parts, 1).alias("name_head"),
        F.element_at(parts, -1).alias("name_tail"),
    )


@query(
    "scalar_datetime_functions",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y,
           month(o_orderdate) AS m,
           day(o_orderdate) AS d,
           date_trunc('month', o_orderdate) AS month_start,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start
    FROM orders WHERE o_orderkey % 100 = 0
    """,
    doc="Temporal parity: datetime(15)/date(28)/duration(10) (SURVEY §2.9) -> "
    "year/month/day/date_trunc/interval arithmetic/datediff.",
    tags=("scalar",),
)
def q_scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
    )


@query(
    "scalar_casts",
    oracle="""
    SELECT c_custkey,
           TRY_CAST(string_split(c_name, '#')[-1] AS BIGINT) AS id_from_name,
           TRY_CAST(c_mktsegment AS BIGINT) AS bad_cast,
           CAST(trunc(c_acctbal) AS BIGINT) AS bal_int,
           CAST(c_custkey AS VARCHAR) AS key_str,
           TRY_CAST('true' AS BOOLEAN) AS b_true
    FROM customer
    """,
    doc="Cast parity: toInteger(22)/toFloat/toBooleanOrNull null-on-bad-input "
    "semantics (reference querybuilder.py:30-56) -> try_cast.",
    tags=("scalar",),
)
def q_scalar_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    tail = F.element_at(F.split(F.col("c_name"), "#"), -1)
    return c.select(
        "c_custkey",
        tail.try_cast("bigint").alias("id_from_name"),
        F.col("c_mktsegment").try_cast("bigint").alias("bad_cast"),
        F.col("c_acctbal").cast("bigint").alias("bal_int"),
        F.col("c_custkey").cast("string").alias("key_str"),
        F.lit("true").try_cast("boolean").alias("b_true"),
    )


@query(
    "case_when_mapping",
    oracle="""
    SELECT c_custkey,
           CASE c_mktsegment
             WHEN 'BUILDING' THEN 'b2b'
             WHEN 'AUTOMOBILE' THEN 'b2c'
             ELSE 'other'
           END AS tier,
           CASE WHEN c_acctbal < 0 THEN 'debtor'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS band
    FROM customer
    """,
    doc="CASE fn=58 value-mapping (reference ontology `mapping` transform, "
    "querybuilder.py:24-415) -> chained F.when.",
    tags=("scalar",),
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", "b2b")
        .when(F.col("c_mktsegment") == "AUTOMOBILE", "b2c")
        .otherwise("other")
        .alias("tier"),
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# Events table: temporal windowed aggregation (native-Spark bonus; the
# reference is batch-only — SURVEY §2.11)
# ---------------------------------------------------------------------------


@query(
    "events_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           ROUND(sum(value), 2) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Tumbling 1-hour window aggregation over events via F.window — the "
    "streaming operator (streaming/events.py:tumbling_counts) run on the batch "
    "table, where Spark drops its watermark.",
    tags=("window", "streaming"),
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.streaming.events import tumbling_counts

    return tumbling_counts(T(spark, sf_dir, "events"))


@query(
    "events_sliding_window",
    oracle="""
    SELECT ws AS window_start, count(*) AS n_events
    FROM (
      SELECT unnest([
        time_bucket(INTERVAL 30 MINUTE, ts),
        time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
      ]) AS ws
      FROM events
    )
    GROUP BY ws
    """,
    doc="Sliding window (1h length, 30m slide): each event lands in 2 "
    "windows; F.window(slideDuration) duplicates rows exactly like the "
    "oracle's unnest of the two bucket starts.",
    tags=("window", "streaming"),
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@query(
    "json_extraction",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events WHERE event_type = 'purchase'
    """,
    doc="JSON-blob property extraction (reference stores JSON strings, "
    "rules/spec/model.py:489-505) -> get_json_object, JVM-side.",
    tags=("scalar",),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )


@query(
    "scalar_array_functions",
    oracle="""
    WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part)
    SELECT p_partkey,
           CAST(len(ws) AS BIGINT) AS n_words,
           array_to_string(list_sort(ws), '-') AS sorted_str,
           array_to_string(list_slice(list_sort(ws), 1, 2), '-') AS first_two_str,
           list_sort(ws)[-1] AS last_word,
           CAST(len(list_distinct(list_intersect(ws, ['green', 'blue']))) AS BIGINT) AS n_colors,
           CAST(len(list_distinct(list_concat(ws, ['tape', 'green']))) AS BIGINT) AS n_union
    FROM w
    """,
    doc="Array scalar-function surface in one pass: split, size, "
    "sort_array, slice, array_join, element_at(-1), array_intersect "
    "against a constant set, array_union — the Spark list-function "
    "family mapped onto DuckDB's list_* equivalents (SURVEY §2.9 list "
    "row, extended past the reference's size/head/last/collect usage). "
    "Pure projection: zero shuffles, whole-stage codegen.",
    tags=("scalar",),
)
def q_scalar_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    ws = F.split("p_name", " ")
    srt = F.sort_array(ws)
    return p.select(
        "p_partkey",
        F.size(ws).cast("long").alias("n_words"),
        F.array_join(srt, "-").alias("sorted_str"),
        F.array_join(F.slice(srt, 1, 2), "-").alias("first_two_str"),
        F.element_at(srt, -1).alias("last_word"),
        F.size(F.array_intersect(ws, F.lit(["green", "blue"]))).cast("long").alias("n_colors"),
        F.size(F.array_union(ws, F.lit(["tape", "green"]))).cast("long").alias("n_union"),
    )


@query(
    "events_variant_semistructured",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(count(*) AS BIGINT) AS n_missing_path
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured processing via Spark 4 VARIANT — the successor to "
    "string-JSON extraction at scale (one parse into the binary variant "
    "encoding, then typed path access, instead of re-parsing the JSON "
    "text per get_json_object call): parse_json(props) once, "
    "variant_get('$.k', 'bigint') feeds the aggregate, and "
    "try_variant_get on an absent path ('$.missing') yields NULL (not an "
    "error, counted here to pin the semantics). Complements the "
    "string-path `json_extraction` query; the oracle uses DuckDB's JSON "
    "path functions over the same props column.",
    tags=("scalar", "variant"),
)
def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "bigint")
    missing = F.try_variant_get("v", "$.missing", "bigint")
    return e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.sum(F.when(missing.isNull(), 1).otherwise(0)).cast("bigint").alias("n_missing_path"),
    )
