"""Whole-graph + event-sequence analytics inventory.

The reference's graph lives in Neo4j and its traversals are fixed MATCH
patterns (SURVEY §2.3); whole-graph algorithms (PageRank, components,
triangles) are what a user would reach for next on the same data, so we
provide them Spark-native (operators/graph.py) and oracle-verify each
one exactly:

- ``graph_pagerank``: integer fixed-point arithmetic makes an iterative
  float algorithm bit-exact — the DuckDB oracle unrolls the same 5
  iterations as chained CTEs.
- ``graph_triangle_count``: Spark uses degree-ordered orientation (the
  O(m^1.5) skew-proof plan); the oracle uses naive id-orientation —
  counts are orientation-invariant, so agreement proves the optimized
  plan correct.
- ``graph_connected_components``: Spark runs log-round path-halving
  label propagation; the oracle materializes the full reachability
  closure with WITH RECURSIVE and takes min per node.
- ``events_funnel``: staged view->click->purchase conversion over the
  events table — two window passes on ONE user_id partitioning (no
  extra shuffle between stages).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cartography_spark.operators.graph import (
    HITS_SCALE,
    PR_SCALE,
    bellman_ford,
    bfs_distances,
    connected_components,
    pagerank_exact,
    symmetrize,
    triangle_count,
)
from cartography_spark.plans.registry import query
from cartography_spark.session import finalize_iterative
from cartography_spark.sources.parquet import load_table as T

PAGERANK_ITERATIONS = 5
BELLMAN_ROUNDS = 8
KCORE_K = 45
KCORE_ROUNDS = 4
TEMPORAL_REACH_ROUNDS = 4
LPA_ROUNDS = 3
PPR_SEED = 1
HITS_ITERATIONS = 3

# Customer<->supplier trade graph: distinct (customer, supplier) pairs that
# appear in any order. Supplier ids offset by 100000 into a shared id space.
_TRADE_EDGES_SQL = """
      SELECT DISTINCT c_custkey AS a, 100000 + l_suppkey AS b
      FROM orders
      JOIN lineitem ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    cust = T(spark, sf_dir, "customer")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(F.col("c_custkey").alias("a"), (F.lit(100000) + F.col("l_suppkey")).alias("b"))
        .distinct()
    )


def _pagerank_oracle() -> str:
    parts = [
        f"WITH base_e AS ({_TRADE_EDGES_SQL}),",
        "e AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),",
        "d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),",
        "p AS (SELECT count(*) AS n FROM d),",
        f"r0 AS (SELECT src AS node, CAST({PR_SCALE} // n AS BIGINT) AS r FROM d, p),",
    ]
    for k in range(1, PAGERANK_ITERATIONS + 1):
        parts.append(
            f"""r{k} AS (
      SELECT e.dst AS node,
             CAST((SELECT (15 * {PR_SCALE}) // (100 * n) FROM p)
                  + (85 * CAST(sum(r.r // d.deg) AS BIGINT)) // 100 AS BIGINT) AS r
      FROM e JOIN r{k - 1} r ON e.src = r.node JOIN d ON e.src = d.src
      GROUP BY e.dst
    ),"""
        )
    body = "\n    ".join(parts).rstrip(",")
    return f"""{body}
    SELECT node, r AS rank FROM r{PAGERANK_ITERATIONS} ORDER BY rank DESC, node ASC LIMIT 20"""


@query(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    doc="Integer-exact PageRank (operators/graph.py:pagerank_exact), 5 "
    "iterations over the symmetrized customer-supplier trade graph; top-20 "
    "nodes. Fixed-point floor arithmetic = bit-exact vs the oracle's "
    "unrolled-CTE iteration. Per iteration: one hash join + one groupBy — "
    "two shuffles, static edge side cached. Reference's graph analytics "
    "delegate to Neo4j (SURVEY §2.3; graph/querybuilder.py); this is the "
    "whole-graph equivalent Spark-native.",
    tags=("graph", "iterative"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = symmetrize(_trade_edges(spark, sf_dir), "a", "b")
    ranks = pagerank_exact(edges, iterations=PAGERANK_ITERATIONS)
    return ranks.select("node", F.col("r").alias("rank")).orderBy(
        F.desc("rank"), F.asc("node")
    ).limit(20)


@query(
    "graph_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 3 = 0
    )
    SELECT (SELECT count(*) FROM pairs e1
            JOIN pairs e2 ON e1.v = e2.u
            JOIN pairs e3 ON e1.u = e3.u AND e2.v = e3.v) AS n_triangles,
           (SELECT count(*) FROM pairs) AS n_edges
    """,
    doc="Triangle count (operators/graph.py:triangle_count) on the part "
    "co-purchase graph (parts sharing an order, 1/3 of orders). Spark plan "
    "uses degree-ordered orientation (max out-degree O(sqrt m), wedge join "
    "bounded O(m^1.5) under skew — Suri & Vassilvitskii WWW'11); the oracle "
    "counts with naive id-orientation. Counts are orientation-invariant, so "
    "the match proves the optimized plan.",
    tags=("graph",),
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, (a.l_orderkey == b.ok2) & (a.u < b.v))
        .select("u", "v")
        .distinct()
    )
    return triangle_count(pairs)


@query(
    "graph_connected_components",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT c_custkey AS node, c_nationkey AS g FROM customer WHERE c_custkey % 2 = 0
    ),
    e0 AS (SELECT node AS a, lead(node) OVER (PARTITION BY g ORDER BY node) AS b FROM nodes),
    base_e AS (SELECT a, b FROM e0 WHERE b IS NOT NULL),
    e AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),
    n2 AS (SELECT DISTINCT src AS node FROM e),
    reach(node, r) AS (
      SELECT node, node FROM n2
      UNION
      SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.node
    )
    SELECT node, min(r) AS component FROM reach GROUP BY node
    """,
    doc="Connected components (operators/graph.py:connected_components) on "
    "per-nation customer chains (consecutive even custkeys) — long paths "
    "that defeat 1-hop propagation. Spark: min-label propagation with "
    "path-halving, O(log diameter) rounds, 2 joins + 1 agg per round. "
    "Oracle: full WITH RECURSIVE reachability closure + min per node.",
    tags=("graph", "iterative"),
)
def q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0)
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    chain = cust.select(
        F.col("c_custkey").alias("u"), F.lead("c_custkey").over(w).alias("v")
    ).filter(F.col("v").isNotNull())
    return connected_components(chain).select("node", F.col("comp").alias("component"))


@query(
    "graph_bfs_distances",
    oracle=f"""
    WITH RECURSIVE base_e AS ({_TRADE_EDGES_SQL}),
    e AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),
    reach(node, d) AS (
      SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      UNION
      SELECT e.dst, reach.d + 1 FROM reach JOIN e ON e.src = reach.node
      WHERE reach.d < 6
    )
    SELECT node, min(d) AS distance FROM reach GROUP BY node
    """,
    doc="BFS shortest-path levels (operators/graph.py:bfs_distances) from "
    "customer 1 over the symmetrized trade graph, 6-hop cap. Spark runs "
    "frontier iteration (join + anti-join per level, O(diameter) rounds); "
    "the oracle explores every (node, depth<=6) pair with WITH RECURSIVE "
    "and takes min depth — same levels, exponentially different work.",
    tags=("graph", "iterative"),
)
def q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = symmetrize(_trade_edges(spark, sf_dir), "a", "b")
    return bfs_distances(edges, source=1, max_depth=6)


def _bellman_oracle() -> str:
    parts = [
        f"WITH base_e AS ({_TRADE_EDGES_SQL}),",
        "eu AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),",
        "e AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM eu),",
        "d0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS cost),",
    ]
    for k in range(1, BELLMAN_ROUNDS + 1):
        parts.append(
            f"""d{k} AS (
      SELECT node, min(cost) AS cost FROM (
        SELECT node, cost FROM d{k - 1}
        UNION ALL
        SELECT e.dst AS node, d.cost + e.w AS cost FROM d{k - 1} d JOIN e ON e.src = d.node
      ) GROUP BY node
    ),"""
        )
    body = "\n    ".join(parts).rstrip(",")
    return f"{body}\n    SELECT node, cost FROM d{BELLMAN_ROUNDS}"


@query(
    "graph_shortest_path_weighted",
    oracle=_bellman_oracle(),
    doc="Hop-bounded weighted shortest path (operators/graph.py:"
    "bellman_ford): 8 Bellman-Ford relaxation rounds from customer 1 over "
    "the symmetrized trade graph with deterministic integer weights "
    "1+(src+dst)%5. Integer arithmetic + fixed round count = bit-exact vs "
    "the oracle's 8 unrolled relaxation CTEs. Per round: one join + one "
    "min-groupBy; never enumerates paths (the naive recursive formulation "
    "is exponential).",
    tags=("graph", "iterative"),
)
def q_bellman(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = symmetrize(_trade_edges(spark, sf_dir), "a", "b")
    weighted = sym.select(
        "src", "dst", (1 + (F.col("src") + F.col("dst")) % 5).alias("w")
    )
    return bellman_ford(weighted, source=1, rounds=BELLMAN_ROUNDS)


@query(
    "events_funnel",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN f ON e.user_id = f.user_id
      WHERE e.event_type = 'click' AND e.ts > f.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM f WHERE t_view IS NOT NULL) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
    doc="Ordered conversion funnel view->click->purchase per user over "
    "events. Spark plan: ONE hash partition by user_id carries all three "
    "window passes (each stage's min depends on the previous stage's, "
    "same partitioning — no extra Exchange), then a global aggregate. "
    "The oracle re-derives each stage with joins.",
    tags=("window", "sequence"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = e.withColumn(
        "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    staged = staged.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    staged = staged.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_view_click"),
        F.count("t_purchase").alias("n_view_click_purchase"),
    )


def _kcore_oracle() -> str:
    parts = [
        f"WITH base_e AS ({_TRADE_EDGES_SQL}),",
        "e0 AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),",
    ]
    for r in range(KCORE_ROUNDS):
        parts.append(
            f"""d{r} AS (SELECT src, count(*) AS deg FROM e{r} GROUP BY src),
    k{r} AS (SELECT src FROM d{r} WHERE deg >= {KCORE_K}),
    e{r + 1} AS (SELECT e.src, e.dst FROM e{r} e
                 JOIN k{r} s ON e.src = s.src
                 JOIN k{r} t ON e.dst = t.src),"""
        )
    parts.append(
        f"""df AS (SELECT src, count(*) AS deg FROM e{KCORE_ROUNDS} GROUP BY src)
    SELECT src AS node, CAST(deg AS BIGINT) AS deg FROM df WHERE deg >= {KCORE_K}"""
    )
    return "\n    ".join(parts)


@query(
    "graph_kcore",
    oracle=_kcore_oracle(),
    doc="k-core decomposition (k=45) of the customer-supplier trade graph "
    "by bounded synchronous peeling (operators/graph.py kcore): 4 rounds "
    "of degree-filter + edge-prune, each one aggregation and two "
    "endpoint-keyed hash joins. The oracle unrolls the identical rounds "
    "as chained CTEs, so the distributed peel is verified "
    "round-for-round, including the no-op rounds after convergence.",
    tags=("graph",),
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import kcore

    edges = _trade_edges(spark, sf_dir).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    return kcore(edges, k=KCORE_K, rounds=KCORE_ROUNDS)


def _lpa_cte() -> str:
    """The shared unrolled-LPA CTE chain (ends with l<LPA_ROUNDS>, no final
    SELECT) — used by both the LPA oracle and the modularity oracle."""
    parts = [
        f"WITH base_e AS ({_TRADE_EDGES_SQL}),",
        "e AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),",
    ]
    for k in range(1, LPA_ROUNDS + 1):
        parts.append(
            f"""c{k} AS (
      SELECT e.src, l.label, count(*) AS cnt
      FROM e JOIN l{k - 1} l ON e.dst = l.node GROUP BY e.src, l.label
    ),
    l{k} AS (
      SELECT src AS node, label FROM (
        SELECT src, label,
               row_number() OVER (PARTITION BY src ORDER BY cnt DESC, label ASC) AS rn
        FROM c{k}
      ) WHERE rn = 1
    ),"""
        )
    return "\n    ".join(parts)


def _lpa_oracle() -> str:
    body = _lpa_cte().rstrip(",")
    return f"{body}\n    SELECT node, label FROM l{LPA_ROUNDS}"


@query(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc="Synchronous label-propagation community detection (operators/"
    "graph.py:label_propagation), 3 rounds over the symmetrized "
    "customer-supplier trade graph. Deterministic: most-frequent "
    "neighbour label, smallest label on count ties. Spark computes the "
    "argmax as a mergeable max_by(label, (cnt, -label)) aggregate (map-"
    "side combine, no per-group sort); the oracle uses the naive "
    "row_number window — agreement proves the sort-free plan correct.",
    tags=("graph", "iterative"),
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import label_propagation

    edges = symmetrize(_trade_edges(spark, sf_dir), "a", "b")
    return label_propagation(edges, rounds=LPA_ROUNDS)


@query(
    "graph_neighbor_jaccard",
    oracle="""
    WITH nb AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey < 300
    ),
    sizes AS (SELECT c, count(*) AS sz FROM nb GROUP BY c),
    inter AS (
      SELECT a.c AS a, b.c AS b, count(*) AS i
      FROM nb a JOIN nb b ON a.s = b.s AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT a, b, ROUND(i / (sa.sz + sb.sz - i), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.c = a JOIN sizes sb ON sb.c = b
    WHERE i / (sa.sz + sb.sz - i) >= 0.4
    """,
    doc="Graph node similarity: neighborhood Jaccard between customers "
    "over their supplier sets (operators/graph.py:neighbor_jaccard_pairs) "
    "— inverted-index self-join on the supplier side so the pair space "
    "is postings^2 per supplier, never customers^2. The co-occurrence "
    "primitive behind 'similar assets' / recommendation queries the "
    "reference would hand to Neo4j GDS nodeSimilarity.",
    tags=("graph", "similarity"),
)
def q_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import neighbor_jaccard_pairs

    orders = T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    li = T(spark, sf_dir, "lineitem")
    rel = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    )
    return neighbor_jaccard_pairs(rel, "c", "s", threshold=0.4)


@query(
    "graph_adamic_adar",
    oracle="""
    WITH nb AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_custkey < 300
    ),
    deg AS (SELECT s, count(*) AS d FROM nb GROUP BY s HAVING count(*) >= 2),
    w AS (
      SELECT nb.c, nb.s, CAST(round(1000.0 / ln(deg.d)) AS BIGINT) AS wm
      FROM nb JOIN deg USING (s)
    )
    SELECT a.c AS a, b.c AS b,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(a.wm) AS BIGINT) AS aa_millinat
    FROM w a JOIN w b ON a.s = b.s AND a.c < b.c
    GROUP BY a.c, b.c
    HAVING sum(a.wm) >= 2000
    """,
    doc="Adamic-Adar link prediction between customers over shared "
    "suppliers (operators/graph.py:adamic_adar_pairs): sum over shared "
    "neighbors of 1/ln(degree) — rare shared suppliers count more than "
    "popular ones, the weighted refinement of the common-neighbor / "
    "Jaccard features beside it. One quantized log per supplier "
    "(integer millinats) rides along the posting rows, so the score is "
    "a pure integer sum and hash-compares exactly; the self-join is on "
    "the supplier side (postings^2, never customers^2), same inverted-"
    "index discipline as graph_neighbor_jaccard.",
    tags=("graph", "similarity"),
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import adamic_adar_pairs

    orders = T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    li = T(spark, sf_dir, "lineitem")
    rel = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
    )
    return adamic_adar_pairs(rel, "c", "s", min_millinat=2000).select(
        F.col("a"), F.col("b"), "n_common", "aa_millinat"
    )


def _modularity_oracle() -> str:
    body = _lpa_cte()
    return f"""{body}
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    tm AS (SELECT CAST(count(*) AS BIGINT) AS two_m FROM e),
    intra AS (
      SELECT CAST(sum(CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END) AS BIGINT) AS intra2
      FROM e JOIN l{LPA_ROUNDS} ls ON e.src = ls.node JOIN l{LPA_ROUNDS} ld ON e.dst = ld.node
    ),
    dc2 AS (
      SELECT CAST(sum(dc * dc) AS BIGINT) AS sum_dc2 FROM (
        SELECT l.label, sum(d) AS dc
        FROM deg JOIN l{LPA_ROUNDS} l ON deg.src = l.node GROUP BY l.label
      )
    )
    SELECT two_m, intra2,
           CAST(two_m * intra2 - sum_dc2 AS BIGINT) AS q_num,
           CAST(((two_m * intra2 - sum_dc2) * 1000000) // (two_m * two_m) AS BIGINT) AS q_micro
    FROM tm CROSS JOIN intra CROSS JOIN dc2"""


@query(
    "graph_modularity",
    oracle=_modularity_oracle(),
    doc="Exact Newman modularity of the 3-round label-propagation "
    "communities (operators/graph.py:modularity_exact): Q*(2m)^2 = "
    "2m*intra2 - sum_c D_c^2 — all integer aggregates, no pairwise "
    "null-model term ever materialized (the d_i*d_j sum collapses to "
    "per-community degree totals squared). The objective LPA/Louvain "
    "optimize, evaluated bit-exactly; q_micro is the floor-scaled Q.",
    tags=("graph", "quality"),
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import label_propagation, modularity_exact

    edges = symmetrize(_trade_edges(spark, sf_dir), "a", "b")
    edges.persist()
    labels = label_propagation(edges, rounds=LPA_ROUNDS)
    return finalize_iterative(modularity_exact(edges, labels), edges)


def _ppr_oracle() -> str:
    parts = [
        f"WITH base_e AS ({_TRADE_EDGES_SQL}),",
        "e AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),",
        "d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),",
        f"r0 AS (SELECT CAST({PPR_SEED} AS BIGINT) AS node, CAST({PR_SCALE} AS BIGINT) AS r),",
    ]
    for k in range(1, PAGERANK_ITERATIONS + 1):
        parts.append(
            f"""r{k} AS (
      SELECT node, CAST(sum(x) AS BIGINT) AS r FROM (
        SELECT e.dst AS node,
               (85 * CAST(sum(r.r // d.deg) AS BIGINT)) // 100 AS x
        FROM e JOIN r{k - 1} r ON e.src = r.node JOIN d ON e.src = d.src
        GROUP BY e.dst
        UNION ALL
        SELECT CAST({PPR_SEED} AS BIGINT), CAST({(15 * PR_SCALE) // 100} AS BIGINT)
      ) GROUP BY node
    ),"""
        )
    body = "\n    ".join(parts).rstrip(",")
    return f"""{body}
    SELECT node, r AS rank FROM r{PAGERANK_ITERATIONS} WHERE r > 0
    ORDER BY rank DESC, node ASC LIMIT 20"""


@query(
    "graph_pagerank_personalized",
    oracle=_ppr_oracle(),
    doc="Personalized PageRank from customer 1 (operators/graph.py:"
    "pagerank_personalized): the pagerank_exact recurrence with all "
    "teleport mass returned to the seed — integer fixed-point, "
    "bit-exact vs the unrolled-CTE oracle. The per-round seed bonus is "
    "a 1-row union folded into the inflow groupBy (no extra join). "
    "Proximity-to-seed ranking = the 'related assets' recommendation "
    "primitive over the trade graph; top-20.",
    tags=("graph", "iterative"),
)
def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import pagerank_personalized

    edges = symmetrize(_trade_edges(spark, sf_dir), "a", "b")
    ranks = pagerank_personalized(edges, seed=PPR_SEED)
    return (
        ranks.filter(F.col("r") > 0)
        .select("node", F.col("r").alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


_TEMPORAL_EDGES_SQL = """
      SELECT o_custkey AS src, 100000 + l_suppkey AS dst,
             CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS t
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      UNION
      SELECT 100000 + l_suppkey, o_custkey,
             CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT)
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def _temporal_reach_oracle() -> str:
    parts = [
        f"WITH e AS ({_TEMPORAL_EDGES_SQL}),",
        "a0 AS (SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS arrival),",
    ]
    for k in range(1, TEMPORAL_REACH_ROUNDS + 1):
        parts.append(
            f"""a{k} AS (
      SELECT node, min(arrival) AS arrival FROM (
        SELECT node, arrival FROM a{k - 1}
        UNION ALL
        SELECT e.dst, e.t FROM e JOIN a{k - 1} a ON e.src = a.node AND e.t >= a.arrival
      ) GROUP BY node
    ),"""
        )
    body = "\n    ".join(parts).rstrip(",")
    return f"{body}\n    SELECT node, arrival FROM a{TEMPORAL_REACH_ROUNDS}"


@query(
    "graph_temporal_reachability",
    oracle=_temporal_reach_oracle(),
    doc="Earliest-arrival temporal reachability (operators/graph.py:"
    "temporal_reachability) over the order/ship handoff graph (customer "
    "-> supplier at order date, supplier -> customer at ship date, "
    "epoch-day integers): nodes reachable from customer 1 by paths "
    "whose edge times never decrease, 4 hops, with their earliest "
    "arrival day. Time-respecting semantics that plain reachability "
    "overstates; per round one join (time constraint as the residual) "
    "+ one mergeable min — bit-exact vs the unrolled-CTE oracle.",
    tags=("graph", "temporal", "iterative"),
)
def q_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import temporal_reachability

    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    j = orders.join(li, orders.o_orderkey == li.l_orderkey)
    day = lambda c: F.expr(
        f"CAST(unix_micros(CAST({c} AS TIMESTAMP)) DIV 86400000000 AS BIGINT)"
    )
    fwd = j.select(
        F.col("o_custkey").alias("src"),
        (F.lit(100000) + F.col("l_suppkey")).alias("dst"),
        day("o_orderdate").alias("t"),
    )
    back = j.select(
        (F.lit(100000) + F.col("l_suppkey")).alias("src"),
        F.col("o_custkey").alias("dst"),
        day("l_shipdate").alias("t"),
    )
    edges = fwd.unionByName(back).distinct()
    return temporal_reachability(edges, source=1, rounds=TEMPORAL_REACH_ROUNDS)


def _hits_oracle() -> str:
    parts = [
        f"WITH base_e AS ({_TRADE_EDGES_SQL}),",
        "e AS (SELECT a AS src, b AS dst FROM base_e),",
        "h0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS h FROM e),",
    ]
    for k in range(1, HITS_ITERATIONS + 1):
        parts.append(
            f"""a{k}r AS (
      SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS a
      FROM e JOIN h{k - 1} h ON e.src = h.node GROUP BY e.dst
    ),
    a{k} AS (SELECT node, CAST((a * {HITS_SCALE}) // (SELECT max(a) FROM a{k}r) AS BIGINT) AS a FROM a{k}r),
    h{k}r AS (
      SELECT e.src AS node, CAST(sum(a{k}.a) AS BIGINT) AS h
      FROM e JOIN a{k} ON e.dst = a{k}.node GROUP BY e.src
    ),
    h{k} AS (SELECT node, CAST((h * {HITS_SCALE}) // (SELECT max(h) FROM h{k}r) AS BIGINT) AS h FROM h{k}r),"""
        )
    body = "\n    ".join(parts).rstrip(",")
    return f"""{body}
    SELECT node, a AS authority FROM a{HITS_ITERATIONS}
    ORDER BY authority DESC, node ASC LIMIT 20"""


@query(
    "graph_hits_authorities",
    oracle=_hits_oracle(),
    doc="Integer-exact HITS (operators/graph.py:hits_exact), 3 iterations "
    "over the DIRECTED customer->supplier trade graph; top-20 authorities "
    "(suppliers ranked by the hub quality of their customers). Fixed-point "
    "floor renormalization after every half-step keeps values bounded and "
    "bit-exact vs the oracle's unrolled CTEs. Per half-step: one hash join "
    "+ one groupBy + a 1-row max broadcast — same dataflow budget as "
    "pagerank. Complements graph_pagerank with the bipartite-flavored "
    "link-analysis primitive Neo4j users get from the GDS library.",
    tags=("graph", "iterative"),
)
def q_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import hits_exact

    edges = _trade_edges(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    hubs, auths = hits_exact(edges, iterations=HITS_ITERATIONS)
    return (
        auths.select("node", F.col("a").alias("authority"))
        .orderBy(F.desc("authority"), F.asc("node"))
        .limit(20)
    )


@query(
    "graph_neighbor_features",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    feat AS (
      SELECT c_custkey AS c, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    layer1 AS (
      SELECT e.s, count(*) AS n1,
             CAST(sum(f.bal_cents) AS BIGINT) AS sum1,
             CAST(max(f.bal_cents) AS BIGINT) AS max1
      FROM e JOIN feat f ON e.c = f.c GROUP BY e.s
    )
    SELECT e.c AS c_custkey, count(*) AS n_suppliers,
           CAST(sum(l1.sum1) AS BIGINT) AS sum_of_sums,
           CAST(sum(l1.n1) AS BIGINT) AS sum_of_counts,
           CAST(max(l1.max1) AS BIGINT) AS max_of_max
    FROM e JOIN layer1 l1 ON e.s = l1.s
    GROUP BY e.c
    """,
    doc="Two-layer GraphSAGE-style neighborhood feature aggregation over "
    "the bipartite trade graph: layer 1 pools each supplier's customer "
    "balances (count/sum/max in exact cents), layer 2 pools each "
    "customer's suppliers' layer-1 features. Means are carried as "
    "(sum, count) integer pairs instead of floats, so the two-hop "
    "aggregation is bit-exact and mergeable — the feature-engineering "
    "primitive for graph-ML pipelines (GNN feature propagation without "
    "a GNN framework). Per layer: one hash join + one map-side-combined "
    "aggregate; identical dataflow at any depth.",
    tags=("graph", "llm"),
)
def q_graph_neighbor_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    e = e.repartition(e.sparkSession.sparkContext.defaultParallelism, "s")
    feat = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("c"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    layer1 = (
        e.join(feat, "c")
        .groupBy("s")
        .agg(
            F.count("*").alias("n1"),
            F.sum("bal_cents").alias("sum1"),
            F.max("bal_cents").alias("max1"),
        )
    )
    return (
        e.join(layer1, "s")
        .groupBy(F.col("c").alias("c_custkey"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum("sum1").alias("sum_of_sums"),
            F.sum("n1").alias("sum_of_counts"),
            F.max("max1").alias("max_of_max"),
        )
    )


@query(
    "events_cooccurrence_lift",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
    tf AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
      FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, p.n_ab,
           ta.n_t AS n_a, tb.n_t AS n_b,
           CAST(n.n_users * p.n_ab AS BIGINT) AS lift_num,
           CAST(ta.n_t * tb.n_t AS BIGINT) AS lift_den
    FROM pairs p
    JOIN tf ta ON p.type_a = ta.event_type
    JOIN tf tb ON p.type_b = tb.event_type
    CROSS JOIN n
    """,
    doc="Market-basket co-occurrence with lift over the event stream: "
    "distinct (user, type) pairs self-join on user (the item side is 5 "
    "types, so postings are bounded), pair counts vs marginal counts, "
    "lift reported as the exact integer ratio N*n_ab / (n_a*n_b) — "
    "numerator and denominator separately, no float division. The "
    "association-rule primitive (recommendations, error-correlation) "
    "with the corpus size attached as a 1-row broadcast.",
    tags=("graph", "aggregation", "llm"),
)
def q_events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("user_id", "event_type").distinct()
    ev = ev.localCheckpoint(eager=False)
    n = ev.select(F.count_distinct("user_id").alias("n_users"))
    tf = ev.groupBy("event_type").agg(F.count("*").alias("n_t"))
    a = ev.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_a"))
    b = ev.select(F.col("user_id").alias("u"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_ab"))
    )
    return (
        pairs.join(F.broadcast(tf.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))), "type_a")
        .join(F.broadcast(tf.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a", "type_b", "n_ab", "n_a", "n_b",
            (F.col("n_users") * F.col("n_ab")).alias("lift_num"),
            (F.col("n_a") * F.col("n_b")).alias("lift_den"),
        )
    )


def _harmonic_2hop_bitset(e: DataFrame) -> DataFrame:
    """(node, harmonic_2x) over a SYMMETRIC edge frame, unordered.

    Bitset 2-hop counting (r8 opt §32). The trade graph is DENSE:
    # 1.17M symmetric edges over 16k nodes at sf0.1, so the distinct 2-hop
    # pair set is ~167M of the 256M possible pairs and the original
    # pair-materializing shape (self-join -> 370M raw pairs -> distinct ->
    # anti-join -> count) spent ~2 minutes hash-aggregating pairs across 2
    # exchanges. Per-source distinct counting is a set-union problem, so
    # the pairs never need to exist as rows: give every node a dense id,
    # chunk the id domain into 64-bit masks, build each node's
    # neighbor-mask chunks ONCE, and OR together the chunks of each
    # source's neighbors — the shuffle carries (src, chunk, mask) rows
    # with map-side bit_or combine (~5x fewer rows, none wider than 20
    # bytes) and the reduce side is a trivial bit_or aggregate instead of
    # a 167M-entry hash dedup. c2 = popcount(two_hop & ~own & ~self) is
    # exact. Interleaved A/B at sf0.1: 111.7/145.3 -> 9.9/11.0 s (11x).
    # At domains where n/64 chunks per mask is impractical (billions of
    # nodes), fall back to the pair-distinct shape or a per-partition
    # roaring-style container; here the node domain is the bounded
    # customer+supplier id space.
    """
    from cartography_spark.operators.dedup import ordered_dense_ids

    e = e.localCheckpoint(eager=False)  # scanned three times below
    # dense 0-based node ids, assigned DISTRIBUTED (range-partition +
    # per-partition offsets, dedup.ordered_dense_ids) — a single-partition
    # row_number window here would serialize the node sort at a 100 TB
    # node domain; only id-compactness matters to the popcounts, and the
    # distributed assignment yields the identical (node -> d) map anyway
    nodes = ordered_dense_ids(
        e.select(F.col("src").alias("node")).distinct(), ["node"], "d"
    ).localCheckpoint(eager=False)  # referenced by both ends + the read-back
    ed = (
        e.join(nodes.select(F.col("node").alias("src"), F.col("d").alias("ds")), "src")
        .join(nodes.select(F.col("node").alias("dst"), F.col("d").alias("dd")), "dst")
        .select("ds", "dd")
    )
    # own neighbor-mask chunks: (ds, i, m) with bit dd%64 of chunk dd/64 set
    own = (
        ed.select(
            "ds",
            (F.col("dd") / 64).cast("int").alias("i"),
            F.expr("shiftleft(1L, CAST(dd % 64 AS INT))").alias("b"),
        )
        .groupBy("ds", "i")
        .agg(F.bit_or("b").alias("m"))
        .localCheckpoint(eager=False)  # consumed by the 2-hop OR and the subtraction
    )
    # 2-hop reachability: OR each source's neighbors' chunks
    two = (
        ed.join(own.select(F.col("ds").alias("dd"), "i", "m"), "dd")
        .groupBy("ds", "i")
        .agg(F.bit_or("m").alias("m2"))
    )
    # drop direct neighbors and self, then count surviving bits
    res = (
        two.join(own, ["ds", "i"], "left")
        .withColumn(
            "selfbit",
            F.when(
                (F.col("ds") / 64).cast("int") == F.col("i"),
                F.expr("shiftleft(1L, CAST(ds % 64 AS INT))"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .withColumn("m1", F.coalesce(F.col("m"), F.lit(0).cast("long")))
        .select("ds", F.expr("bit_count(m2 & ~m1 & ~selfbit)").alias("pc"))
    )
    c2 = res.groupBy("ds").agg(F.sum("pc").alias("c2"))
    c1 = ed.groupBy("ds").agg(F.count("*").alias("c1"))
    return (
        c1.join(c2, "ds", "left")
        .join(nodes.select(F.col("d").alias("ds"), "node"), "ds")
        .select(
            "node",
            (2 * F.col("c1") + F.coalesce("c2", F.lit(0))).cast("bigint").alias("harmonic_2x"),
        )
    )


@query(
    "graph_harmonic_2hop",
    oracle=f"""
    WITH base_e AS ({_TRADE_EDGES_SQL}),
    e AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),
    h1 AS (SELECT src, dst FROM e),
    h2 AS (
      SELECT DISTINCT a.src, b.dst
      FROM e a JOIN e b ON a.dst = b.src
      WHERE b.dst <> a.src
        AND NOT EXISTS (SELECT 1 FROM e d WHERE d.src = a.src AND d.dst = b.dst)
    ),
    n1 AS (SELECT src AS node, count(*) AS c1 FROM h1 GROUP BY src),
    n2 AS (SELECT src AS node, count(*) AS c2 FROM h2 GROUP BY src)
    SELECT n1.node, CAST(2 * n1.c1 + COALESCE(n2.c2, 0) AS BIGINT) AS harmonic_2x
    FROM n1 LEFT JOIN n2 ON n1.node = n2.node
    ORDER BY harmonic_2x DESC, n1.node ASC LIMIT 20
    """,
    doc="Hop-bounded harmonic centrality (top-20): sum of 1/d over "
    "neighbors at distance 1 and 2, carried as the integer 2*|N1| + |N2| "
    "(doubled to avoid the 1/2 fraction). Distance-2 nodes are the "
    "2-hop closure MINUS direct neighbors and self — one self-join, one "
    "distinct, one anti-join, two degree counts; the centrality family's "
    "reach-weighted member next to degree (n1), PageRank (flow), and "
    "HITS (mutual endorsement). At larger radii this becomes iterated "
    "frontier BFS (bfs_distances) feeding the same 1/d sum.",
    tags=("graph",),
)
def q_graph_harmonic_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = symmetrize(_trade_edges(spark, sf_dir), "a", "b")
    return (
        _harmonic_2hop_bitset(e)
        .orderBy(F.col("harmonic_2x").desc(), F.col("node").asc())
        .limit(20)
    )


@query(
    "graph_clustering_coefficient",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      WHERE a.l_orderkey % 3 = 0
    ),
    sym AS (SELECT u AS n, v AS m FROM pairs UNION ALL SELECT v, u FROM pairs),
    deg AS (SELECT n, count(*) AS d FROM sym GROUP BY n),
    w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM pairs e1
          JOIN pairs e2 ON e1.v = e2.u
          JOIN pairs e3 ON e1.u = e3.u AND e2.v = e3.v)
    SELECT n_triangles, n_wedges,
           ROUND(3.0 * n_triangles / n_wedges, 6) AS global_cc
    FROM t CROSS JOIN w
    """,
    doc="Global clustering coefficient / transitivity "
    "(operators/graph.py:clustering_coefficient) on the part co-purchase "
    "graph: 3*triangles/wedges. Wedges come from ONE degree aggregate "
    "(sum d*(d-1)/2 — no join), triangles from the degree-ordered "
    "oriented wedge join shared with graph_triangle_count; the oracle "
    "recomputes both with naive id-orientation, and orientation-"
    "invariance of the counts proves the optimized plan. The classic "
    "one-number summary of whether a graph is clustered (social) or "
    "tree/chain-like — and the densification early-warning for the "
    "O(m^1.5) triangle bound.",
    tags=("graph",),
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import clustering_coefficient

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 3 == 0)
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, (a.l_orderkey == b.ok2) & (a.u < b.v))
        .select("u", "v")
        .distinct()
    )
    return clustering_coefficient(pairs)


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH base_e AS ({_TRADE_EDGES_SQL}),
    e AS (SELECT a AS src, b AS dst FROM base_e UNION SELECT b, a FROM base_e),
    d AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
    j AS (
      SELECT dx.deg AS dx, dy.deg AS dy
      FROM e JOIN d dx ON e.src = dx.node JOIN d dy ON e.dst = dy.node
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(dx) AS BIGINT) AS sum_dx,
             CAST(sum(dy) AS BIGINT) AS sum_dy,
             CAST(sum(dx * dy) AS BIGINT) AS sum_dxdy,
             CAST(sum(dx * dx) AS BIGINT) AS sum_dx2,
             CAST(sum(dy * dy) AS BIGINT) AS sum_dy2
      FROM j
    )
    SELECT n_edges, sum_dx, sum_dy, sum_dxdy, sum_dx2, sum_dy2,
           CAST(round(1000000.0 *
                 (CAST(n_edges AS DOUBLE) * sum_dxdy
                  - CAST(sum_dx AS DOUBLE) * sum_dy)
                 / (sqrt(CAST(n_edges AS DOUBLE) * sum_dx2
                         - CAST(sum_dx AS DOUBLE) * sum_dx)
                    * sqrt(CAST(n_edges AS DOUBLE) * sum_dy2
                           - CAST(sum_dy AS DOUBLE) * sum_dy)))
                AS BIGINT) AS assortativity_micros
    FROM s
    """,
    doc="Degree assortativity (Newman 2002) of the symmetrized customer-"
    "supplier trade graph (operators/graph.py:degree_assortativity): the "
    "Pearson correlation of endpoint degrees across directed edges — the "
    "one-number answer to 'do hubs trade with hubs?'. Bipartite trade "
    "graphs are strongly disassortative (high-degree suppliers serve "
    "long-tail customers), which is exactly what capacity planning and "
    "skew-salting decisions key on. All six moment sums are exact "
    "BIGINTs (order-free, map-side combinable; two shuffle joins of the "
    "degree relation onto the edge list, single-row output); the only "
    "float op is the closed-form Pearson ratio from those six integers, "
    "quantized to micros.",
    tags=("graph", "analytics"),
)
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import degree_assortativity

    return degree_assortativity(_trade_edges(spark, sf_dir).selectExpr("a AS src", "b AS dst"))
