"""TPC-H completion set: the remaining classic decision-support shapes not
already covered by ``inventory_warehouse`` / ``inventory_relational``
(Q1→``agg_pricing_summary``, Q4→``exists_semijoin``, Q13/Q14/Q18/Q19/Q20/
Q21/Q22→``inventory_warehouse``). These exercise exactly the Catalyst
behaviors a 100 TB deployment depends on:

- **Subquery decorrelation**: Q2's correlated scalar MIN and Q17's
  correlated AVG are written as their decorrelated plans (grouped
  aggregate + equi-join back) — one shuffle over the fact table instead
  of a per-row re-scan, which is the only plan that survives at scale.
- **Multi-way join ordering**: Q5/Q7/Q8/Q9 join 4-6 tables where every
  dimension (region, nation, supplier, part at sf ratios) broadcasts and
  only the lineitem⋈orders spine shuffles.
- **Scalar global aggregates** (Q11, Q15): a 1-row global sum/max is
  cross-joined broadcast — never a recomputation per group.

Determinism contract shared with the DuckDB oracles: all money is summed
as per-row-rounded integer cents (float sums would make HAVING/threshold
boundaries partition-order-dependent), quantity thresholds are cross-
multiplied integer comparisons (``qty*5*cnt < sum`` instead of
``qty < 0.2*avg``), and every LIMIT carries a total tiebreak order.

The driver tables have no ``partsupp`` (TESTDATA.md), so Q2/Q11/Q16/Q17
use ``lineitem`` as the part-supplier offer relation — same plan shape,
same subquery structure, 60× the rows (harder, not easier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.operators.incremental import cents
from cartography_spark.plans.registry import query
from cartography_spark.sources.parquet import load_table as T


def _rev_cents() -> F.Column:
    """Per-row discounted revenue in exact integer cents."""
    return F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")


@query(
    "tpch_q2_min_cost_offer",
    oracle="""
    WITH offers AS (
      SELECT DISTINCT l.l_partkey AS p_partkey, l.l_suppkey,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS offer_cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    ),
    mins AS (SELECT p_partkey, min(offer_cents) AS offer_cents FROM offers GROUP BY p_partkey)
    SELECT o.p_partkey, s.s_name,
           CAST(round(s.s_acctbal * 100) AS BIGINT) AS s_acctbal_cents, o.offer_cents
    FROM offers o
    JOIN mins m ON o.p_partkey = m.p_partkey AND o.offer_cents = m.offer_cents
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN part p ON p.p_partkey = o.p_partkey AND p.p_size IN (10, 20, 30)
    """,
    doc="TPC-H Q2 shape (min-cost supplier): the correlated scalar MIN "
    "subquery, decorrelated — per-part min over the offer relation as ONE "
    "grouped aggregate, equi-joined back on (part, price). Region dims "
    "broadcast; the offer relation shuffles once on l_partkey and both "
    "the min and the join-back reuse that partitioning.",
    tags=("subquery", "join", "warehouse", "tpch"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    sup = T(spark, sf_dir, "supplier")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    euro_sup = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    offers = (
        li.join(euro_sup, li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "l_suppkey",
            cents("l_extendedprice").alias("offer_cents"),
        )
        .distinct()
    )
    mins = offers.groupBy("p_partkey").agg(F.min("offer_cents").alias("offer_cents"))
    part = T(spark, sf_dir, "part").filter(F.col("p_size").isin(10, 20, 30)).select("p_partkey")
    return (
        offers.join(mins, ["p_partkey", "offer_cents"])
        .join(part, "p_partkey")
        .join(
            sup.select("s_suppkey", "s_name", cents("s_acctbal").alias("s_acctbal_cents")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("p_partkey", "s_name", "s_acctbal_cents", "offer_cents")
    )


@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-03-15'
      AND l.l_shipdate > TIMESTAMP '1997-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue_cents DESC, l.l_orderkey ASC
    LIMIT 10
    """,
    doc="TPC-H Q3 (shipping priority): segment-filtered customer "
    "broadcasts into orders, the filtered spine joins lineitem on the "
    "order key, and the top-10 carries a (revenue, orderkey) total order "
    "so the LIMIT is engine-deterministic under ties.",
    tags=("join", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1997-03-15").cast("timestamp")
    cust = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .select("l_orderkey", "revenue_cents", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_revenue",
    oracle="""
    SELECT n.n_name,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 (local supplier revenue): 6-way join where the "
    "supplier must share the customer's nation — the extra non-key "
    "equality (c_nationkey = s_nationkey) rides the l_suppkey join "
    "condition. All of supplier/nation/region broadcast; only "
    "orders⋈lineitem shuffles.",
    tags=("join", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = T(spark, sf_dir, "lineitem")
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_sup = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            asia_sup,
            (li.l_suppkey == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND CAST(round(l_discount * 100) AS INTEGER) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 (forecast revenue change): pure scan-filter-aggregate — "
    "every predicate pushes to the parquet scan, no shuffle at all "
    "(partial sums combine map-side). The discount band compares rounded "
    "integer percent, not raw float, so the 0.05/0.07 boundaries are "
    "engine-exact.",
    tags=("aggregation", "warehouse", "tpch"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    disc_pct = F.round(F.col("l_discount") * 100).cast("int")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & disc_pct.between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("bigint")).alias(
                "revenue_cents"
            ),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, l_year
    """,
    doc="TPC-H Q7 (volume shipping): bilateral trade flows between two "
    "nations by ship year. The disjunctive nation-pair predicate sits "
    "above two broadcast dimension joins; the only shuffle is the final "
    "4-group aggregate (map-side combined to almost nothing).",
    tags=("join", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nat = T(spark, sf_dir, "nation")
    cust = (
        T(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    sup = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
                         THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS nation_cents,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = cn.n_regionkey AND r.r_name = 'AMERICA'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY o_year
    """,
    doc="TPC-H Q8 (national market share): 7-way join; numerator and "
    "denominator are reported as exact cents instead of a float ratio so "
    "the oracle comparison is bit-stable (the caller divides). The CASE "
    "rides the single aggregate — one pass, not two.",
    tags=("join", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    nat = T(spark, sf_dir, "nation")
    reg = T(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    am_cust = (
        T(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sup = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    rev = _rev_cents()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(am_cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0).cast("bigint"))).alias(
                "nation_cents"
            ),
            F.sum(rev).alias("total_cents"),
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle="""
    SELECT sn.n_name, CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS o_year,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)
                    - CAST(round(p.p_retailprice * 100) AS BIGINT) * CAST(l.l_quantity AS BIGINT))
                AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    GROUP BY sn.n_name, o_year
    """,
    doc="TPC-H Q9 (product-type profit): profit = discounted revenue "
    "minus retail cost x quantity, all in integer cents (quantities are "
    "integral in the dataset so the product is exact). The LIKE filter "
    "on part name prunes the broadcast build side before the join. "
    "Reference has no partsupp table; retail price stands in for "
    "supplycost with the identical plan shape.",
    tags=("join", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    part = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", cents("p_retailprice").alias("retail_cents"))
    )
    nat = T(spark, sf_dir, "nation")
    sup = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_suppkey", "n_name")
    )
    profit = _rev_cents() - F.col("retail_cents") * F.col("l_quantity").cast("bigint")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("n_name", F.year("l_shipdate").cast("int").alias("o_year"))
        .agg(F.sum(profit).alias("profit_cents"))
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS c_acctbal_cents, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, c_acctbal_cents, n.n_name
    ORDER BY revenue_cents DESC, c.c_custkey ASC
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned items): quarter of orders joins the "
    "return-flagged lineitems, grouped per customer with the nation "
    "broadcast in. Top-20 under a (revenue, custkey) total order.",
    tags=("join", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = T(spark, sf_dir, "nation")
    cust = T(spark, sf_dir, "customer").join(
        F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey
    )
    return (
        orders.join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", cents("c_acctbal").alias("c_acctbal_cents"), "n_name")
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
        .select("c_custkey", "c_name", "revenue_cents", "c_acctbal_cents", "n_name")
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey AS p_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
      FROM lineitem GROUP BY l_partkey
    ),
    total AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents FROM per_part)
    SELECT p.p_partkey, p.value_cents
    FROM per_part p, total t
    WHERE p.value_cents * 1500 > t.total_cents
    """,
    doc="TPC-H Q11 (important stock): per-part value vs a fraction of "
    "the global total. The global sum is a 1-row DataFrame cross-join-"
    "broadcast into the filter; the threshold is the integer cross-"
    "multiplication value*1500 > total, never a float fraction.",
    tags=("subquery", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_part = (
        T(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(cents("l_extendedprice")).alias("value_cents"))
    )
    total = per_part.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * 1500 > F.col("total_cents"))
        .select("p_partkey", "value_cents")
    )


@query(
    "tpch_q12_late_shipment_priority",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_returnflag
    """,
    doc="TPC-H Q12 shape (late shipments by priority): the dataset has "
    "no shipmode/commitdate, so 'late' is shipped >90 days after order "
    "— same non-equi post-join predicate and conditional-count "
    "aggregate. Catalyst evaluates the interval comparison above one "
    "hash join; the output is 3 groups.",
    tags=("join", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS s_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.revenue_cents
    FROM rev r JOIN supplier s ON s.s_suppkey = r.s_suppkey
    WHERE r.revenue_cents = (SELECT max(revenue_cents) FROM rev)
    """,
    doc="TPC-H Q15 (top supplier): half-year revenue per supplier, keep "
    "every supplier tied at the max. The scalar max is a 1-row broadcast "
    "cross join (exact cents make the tie test meaningful); the revenue "
    "aggregate is computed once and reused for both sides.",
    tags=("subquery", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.sum(_rev_cents()).alias("revenue_cents"))
    )
    rev = rev.localCheckpoint(eager=False)  # reuse: aggregate once for max and join
    mx = rev.agg(F.max("revenue_cents").alias("max_cents"))
    sup = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("revenue_cents") == F.col("max_cents"))
        .join(sup, "s_suppkey")
        .select("s_suppkey", "s_name", "revenue_cents")
    )


@query(
    "tpch_q16_supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 (supplier-part relationship): count-distinct "
    "suppliers per part attribute triple, excluding a NOT-IN supplier "
    "blocklist — planned as a broadcast anti-join (the blocklist is "
    "tiny), then one count-distinct shuffle keyed by the group columns.",
    tags=("subquery", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(part.select("p_partkey", "p_brand", "p_type", "p_size"), li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH stats AS (
      SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             count(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           count(*) AS n_rows
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#2'
    JOIN stats s ON s.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS BIGINT) * 5 * s.cnt < s.sum_qty
    """,
    doc="TPC-H Q17 (small-quantity revenue): the correlated per-part AVG "
    "threshold, decorrelated into one grouped aggregate joined back on "
    "l_partkey, and the qty < 0.2*avg test cross-multiplied to the "
    "integer form qty*5*cnt < sum — no float division anywhere, so the "
    "threshold boundary is engine-exact.",
    tags=("subquery", "aggregation", "warehouse", "tpch"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").cast("bigint").alias("sum_qty"), F.count("*").alias("cnt")
    )
    part = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2").select("p_partkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(stats, "l_partkey")
        .filter(F.col("l_quantity").cast("bigint") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.sum(cents("l_extendedprice")).alias("revenue_cents"),
            F.count("*").alias("n_rows"),
        )
    )
