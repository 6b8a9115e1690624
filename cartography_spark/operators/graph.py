"""Distributed graph algorithms over edge DataFrames.

The reference models its catalog as a property graph and leans on Neo4j
for traversals (SURVEY §2.3; cartography/graph/querybuilder.py builds the
MATCH patterns). Beyond the fixed-pattern joins the inventory already
covers, these are the *whole-graph* algorithms an analytics engine needs
at scale — each expressed as iterated DataFrame joins/aggregations so
Catalyst plans every step and the dataflow is a sequence of hash
shuffles, never a driver-side traversal.

Scale notes (100 TB / 1000 executors):

- ``pagerank_exact``: per iteration = one join (edges ⋈ ranks on src) +
  one groupBy(dst). Edges are cached pre-joined with out-degrees so the
  static side is scanned once. All arithmetic is *integer* (rank scaled
  by 1e12, floor division) so results are bit-exact across engines —
  which is what lets a DuckDB oracle verify a distributed iterative
  algorithm exactly.
- ``triangle_count``: degree-ordered orientation — each undirected edge
  points from the (degree, id)-smaller endpoint to the larger. Max
  out-degree becomes O(sqrt(m)), bounding the wedge join at O(m^1.5)
  total work regardless of skew (the standard MapReduce triangle bound;
  cf. Suri & Vassilvitskii, WWW'11). Orientation changes the join sizes
  only — the triangle COUNT is orientation-invariant, so the oracle can
  use plain id-ordering.
- ``connected_components``: min-label propagation with path-halving
  (each round also jumps labels through their parent's label), so chains
  converge in O(log diameter) rounds instead of O(diameter). Each round
  is two hash joins + one aggregation; convergence is read from
  ``Dataset.observe`` metrics gathered during the round's checkpoint
  job, so no separate count() action runs per round.

Every operator that persists its static edge side releases the cache
before returning, so nothing it persisted outlives the query: the
checkpointed loops through ``fixpoint.fixpoint`` (also when a round
raises), the lazy ones through ``finalize_iterative``, which checkpoints
the result first.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.operators.fixpoint import _persist_copartitioned, fixpoint
from cartography_spark.session import finalize_iterative, shuffle_partition_count

N_ITER = 10

PR_SCALE = 1_000_000_000_000  # rank fixed-point scale (1e12)


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge list -> both directions, distinct."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def pagerank_exact(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Integer-exact PageRank (damping 0.85) over a directed edge list
    in which every node has out-degree >= 1 (symmetrize() guarantees it).

    rank0 = SCALE // N;  base = 15*SCALE // (100*N)
    rank'[u] = base + 85 * sum_{v->u}(rank[v] // deg[v]) // 100

    Floor division at every step makes the fixed point identical in any
    engine — no float summation order to disagree on.
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # Static side of every iteration: edges annotated with out-degree.
    e = _persist_copartitioned(
        edges.join(deg, "src").select("src", "dst", "deg"), "src"
    )
    # Materialize the cache with the n-computing action itself and derive
    # both n and the rank init FROM the cache: deg.count() as a separate
    # driver action re-ran the whole upstream edge build (symmetrize +
    # source joins) once per job — the edge subtree now executes exactly
    # once. count_distinct(src) over e == deg.count() (the degree join
    # keeps every src). Interleaved A/B (r8 opt): sf0.1 5.3 -> 3.9 s,
    # sf1 11.1 -> 6.9 s mins.
    n = e.agg(F.count_distinct("src")).collect()[0][0]
    base = (15 * PR_SCALE) // (100 * n)
    ranks = e.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(PR_SCALE // n).alias("r")
    )
    for _ in range(iterations):
        ranks = (
            e.join(ranks, e.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("r div deg")).alias("inflow"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(base) + F.expr(f"(85 * inflow) div 100")).alias("r"),
            )
        )
    return finalize_iterative(ranks, e)


def orient_by_degree(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge {a,b} (given canonically as a<b) from
    the (degree, id)-smaller endpoint to the larger."""
    sym = symmetrize(edges, "u", "v")
    deg = sym.groupBy("src").agg(F.count("*").alias("d")).withColumnRenamed("src", "n")
    e = (
        edges.join(deg.withColumnRenamed("d", "du").withColumnRenamed("n", "u"), "u")
        .join(deg.withColumnRenamed("d", "dv").withColumnRenamed("n", "v"), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    return e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected graph given as canonical (u<v)
    distinct edges. Returns a 1-row DataFrame (n_triangles, n_edges)."""
    o = orient_by_degree(edges)
    o.persist()
    wedges = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .select(F.col("e1.src").alias("a"), F.col("e2.dst").alias("b"))
    )
    closed = wedges.join(o.alias("e3"), (F.col("a") == F.col("e3.src")) & (F.col("b") == F.col("e3.dst")))
    tri = closed.agg(F.count("*").alias("n_triangles"))
    out = tri.crossJoin(edges.agg(F.count("*").alias("n_edges")))
    return finalize_iterative(out, o)


def bfs_distances(edges: DataFrame, source: int, max_depth: int = 6) -> DataFrame:
    """Unweighted shortest-path distances (BFS levels) from ``source``
    over a directed edge list, capped at ``max_depth`` hops. Returns
    (node, distance) for every node reached.

    Frontier iteration: each level is one join (frontier ⋈ edges on src)
    + one anti-join against the visited set — the distributed BFS
    dataflow. ``max_depth`` is both the recursion cap and what makes the
    DuckDB WITH RECURSIVE oracle's search space finite.
    """
    # static side persisted co-partitioned on the per-level join key (r8
    # opt: every other iterative operator here already did this; BFS was
    # re-executing the whole upstream edge build once per level — 6x the
    # trade-graph source joins at max_depth=6)
    edges = _persist_copartitioned(edges.select("src", "dst"), "src")
    start = edges.sparkSession.createDataFrame(
        [(source, 0)], "node BIGINT, distance BIGINT"
    )
    levels = []  # every level a round expanded, starting with the source

    def _level(frontier: DataFrame, r: int) -> DataFrame:
        levels.append(frontier)
        labels = reduce(DataFrame.unionByName, levels)
        nodes = frontier.select("node")
        reached = (
            edges.join(nodes, edges.src == nodes.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        return reached.join(labels, "node", "left_anti").select(
            "node", F.lit(r + 1).cast("long").alias("distance")
        )

    last, converged = fixpoint(_level, start, max_depth, F.count("*"), release=[edges])
    if not converged:  # the depth cap stopped the loop before ``last`` was expanded
        levels.append(last)
    return finalize_iterative(reduce(DataFrame.unionByName, levels))


def bellman_ford(edges: DataFrame, source: int, rounds: int) -> DataFrame:
    """Hop-bounded cheapest-path costs from ``source`` over a directed
    weighted edge list (src, dst, w) with non-negative integer weights:
    exactly ``rounds`` Bellman-Ford relaxations, so the result is the
    minimum cost over paths of <= ``rounds`` hops — the hop-constrained
    routing semantics, and bit-exact for an oracle that unrolls the same
    rounds. Each round = one join + one groupBy (two shuffles); the edge
    side is cached once.

    Returns (node, cost) for nodes reachable within the hop bound.
    """
    edges = _persist_copartitioned(edges, "src")
    dist = edges.sparkSession.createDataFrame([(source, 0)], "node BIGINT, cost BIGINT")

    def _relax(dist: DataFrame, _r: int) -> DataFrame:
        relaxed = (
            edges.join(dist, edges.src == dist.node)
            .select(F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        return dist.unionByName(relaxed).groupBy("node").agg(F.min("cost").alias("cost"))

    return fixpoint(_relax, dist, rounds, release=[edges])[0]


def connected_components(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Min-label propagation with path-halving over an undirected graph
    (canonical u<v edges). Returns (node, component) where component is
    the minimum node id reachable. Converges in O(log diameter) rounds.

    Convergence is detected with ``Dataset.observe`` metrics: the
    changed-label count is aggregated DURING the same job that
    materializes the round's localCheckpoint, so each round runs exactly
    ONE job — no separate driver-synchronized count() action (the
    at-scale fix for the extra job per round a recompute-based check
    would cost)."""
    sym = _persist_copartitioned(symmetrize(edges, "u", "v"), "src")
    labels = sym.select("src").distinct().select(F.col("src").alias("node"), F.col("src").alias("comp"))

    def _round(state: DataFrame, _r: int) -> DataFrame:
        labels = state.drop("prev")
        # Min over neighbours' labels (and own); carry the previous
        # label through so the changed-count is a row-local predicate.
        nbr = (
            sym.join(labels, sym.src == labels.node)
            .groupBy("dst")
            .agg(F.min("comp").alias("nmin"))
            .select(F.col("dst").alias("node"), "nmin")
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.least("comp", F.coalesce("nmin", "comp")).alias("newc"),
            F.col("comp").alias("prev"),
        )
        # Path-halving: jump each label through its parent's label.
        parent = stepped.select(F.col("node").alias("p_node"), F.col("newc").alias("p_comp"))
        return (
            stepped.join(parent, stepped.newc == parent.p_node, "left")
            .select("node", F.least("newc", F.coalesce("p_comp", "newc")).alias("comp"), "prev")
        )

    changed = F.count_if(F.col("comp") != F.col("prev"))
    return fixpoint(_round, labels, max_iterations, changed, release=[sym])[0].drop("prev")


def kcore(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Bounded synchronous k-core peeling over an undirected edge list
    (u, v): each round drops every node of degree < k simultaneously, then
    removes edges touching dropped nodes. After ``rounds`` rounds the
    final degrees are filtered once more, so the result is the exact
    k-core whenever peeling converges within ``rounds`` synchronous
    rounds — and deterministic (round-for-round reproducible by an
    unrolled-CTE oracle) either way.

    Each round = one degree aggregation + two semi-join-shaped edge
    filters, all hash-partitioned on the endpoint — no driver-side
    state. Peeling is the standard distributed k-core shape
    (Montresor et al.-style synchronous rounds); converged rounds are
    no-ops, so over-provisioning ``rounds`` costs only empty shuffles.
    Returns (node, deg) for nodes in the core with their in-core degree.
    """
    sym = symmetrize(edges, "u", "v").localCheckpoint(eager=True)

    def _peel(sym: DataFrame, _r: int) -> DataFrame:
        deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        return (
            sym.join(keep, "src")
            .join(keep.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )

    return (
        fixpoint(_peel, sym, rounds)[0]
        .groupBy("src")
        .agg(F.count("*").alias("deg"))
        .filter(F.col("deg") >= k)
        .select(F.col("src").alias("node"), F.col("deg").cast("long").alias("deg"))
    )


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Deterministic synchronous label-propagation community detection
    over an already-symmetrized directed edge list (every node appears as
    a src). label0(v) = v; each round every node adopts the most frequent
    label among its neighbours, ties broken by the smallest label — a
    total order, so the result is reproducible in any engine.

    Per round: one hash join (static edge side persisted) + a two-level
    aggregation sharing ONE exchange — the joined (src, label) rows are
    repartitioned by src, and HashPartitioning(src) satisfies the
    clustering requirement of both the (src, label) count and the
    per-src argmax, so neither aggregate shuffles again. The alternative
    (two aggregate exchanges with map-side combine) shuffles the count
    frame twice; early rounds have near-distinct (src, label) pairs so
    the combine saves almost nothing (interleaved A/B at sf0.1: ~3.9 s
    -> ~2.7 s for the single-exchange shape). The argmax is
    ``max_by(label, (cnt, -label))`` — a mergeable aggregate — instead
    of a row_number window, so no per-group sort materializes. Lineage is
    truncated every 4 rounds: each eager
    localCheckpoint is a full materialization barrier, so at small round
    counts skipping it is ~40% wall-clock (measured at sf0.1), while
    long runs still get bounded plans (iterative-plan pattern shared
    with connected_components above).
    """
    e = _persist_copartitioned(edges.select("src", "dst"), "dst")
    labels = e.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    n = shuffle_partition_count(edges.sparkSession)
    for r in range(rounds):
        counts = (
            e.join(labels, e.dst == labels.node)
            .select("src", "label")
            .repartition(n, "src")
            .groupBy("src", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            counts.groupBy("src")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("label")
            )
            .select(F.col("src").alias("node"), "label")
        )
        if (r + 1) % 4 == 0 and r + 1 < rounds:
            labels = labels.localCheckpoint(eager=True)
    return finalize_iterative(labels, e)


def adamic_adar_pairs(
    rel: DataFrame, id_col: str, item_col: str, min_millinat: int = 0
) -> DataFrame:
    """Adamic-Adar link-prediction score over a bipartite relation
    (id, item): for each id pair, sum over SHARED items of 1/ln(deg(item))
    — rare shared neighbors count more than popular ones, the classic
    refinement of raw common-neighbor counting (and of neighbor-Jaccard,
    which weighs all items equally). Returns (a, b, n_common,
    aa_millinat) for pairs scoring >= ``min_millinat``.

    Exactness: one quantized log per ITEM (round(1000/ln(deg)) — a single
    IEEE double op any engine reproduces bit-identically), then pure
    integer sums, so the score hash-compares exactly. Items with deg < 2
    cannot be shared by any pair and are dropped up front, which also
    removes the ln(1)=0 pole.

    Scale shape: same inverted-index discipline as neighbor_jaccard_pairs
    — the self-join is on the item side, so the pair space is
    sum-over-items of postings^2, bounded by the hottest posting list
    (cap or salt hot items at 100 TB), never |ids|^2. Degree weights ride
    along the posting rows; no second join against a weight table.
    """
    r = rel.select(F.col(id_col).alias("__id"), F.col(item_col).alias("__item")).distinct()
    deg = r.groupBy("__item").agg(F.count("*").alias("__deg")).filter(F.col("__deg") >= 2)
    weighted = r.join(deg, "__item").select(
        "__id",
        "__item",
        F.round(F.lit(1000.0) / F.log(F.col("__deg"))).cast("bigint").alias("__w"),
    )
    a = weighted.select(F.col("__id").alias("a"), "__item", "__w")
    b = weighted.select(F.col("__id").alias("b"), "__item")
    return (
        a.join(b, "__item")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum("__w").cast("bigint").alias("aa_millinat"),
        )
        .filter(F.col("aa_millinat") >= min_millinat)
    )


def neighbor_jaccard_pairs(
    rel: DataFrame, id_col: str, item_col: str, threshold: float = 0.5
) -> DataFrame:
    """Node-similarity by neighborhood Jaccard over a bipartite relation
    (id, item): pairs of ids whose item sets overlap by >= threshold —
    the co-occurrence/recommendation primitive ("customers who share
    suppliers"). Inverted-index self-join on the ITEM side, so the pair
    space is sum-over-items of postings^2, never |ids|^2; the hot-item
    skew guard at scale is capping or salting the posting lists (cf.
    similarity.sparse_token_cosine_pairs' df-cap).

    |A∩B| from the item join, |A∪B| = |A| + |B| - |A∩B|.
    """
    r = rel.select(F.col(id_col).alias("__id"), F.col(item_col).alias("__item")).distinct()
    sizes = r.groupBy("__id").agg(F.count("*").alias("__sz"))
    a = r.select(F.col("__id").alias("a"), "__item")
    b = r.select(F.col("__id").alias("b"), "__item")
    inter = (
        a.join(b, "__item")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("__inter"))
    )
    sa = sizes.select(F.col("__id").alias("a"), F.col("__sz").alias("__sza"))
    sb = sizes.select(F.col("__id").alias("b"), F.col("__sz").alias("__szb"))
    jac = F.col("__inter") / (F.col("__sza") + F.col("__szb") - F.col("__inter"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .filter(jac >= threshold)
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )


def modularity_exact(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Exact Newman modularity of a community assignment over a
    symmetrized directed edge list, in pure integer arithmetic:

      Q = (1/2m) * sum_ij [A_ij - d_i*d_j/(2m)] * delta(c_i, c_j)
        = (2m * intra2 - sum_c D_c^2) / (2m)^2

    with intra2 = directed intra-community edge count and D_c the total
    degree of community c — both plain integer aggregates, so Q's exact
    numerator q_num and the floor-scaled q_micro = (q_num * 1e6) DIV
    (2m)^2 reproduce bit-exactly in any engine. The objective LPA /
    Louvain optimize, computable here as three map-side-combinable
    aggregates + two label joins: no pairwise term ever materializes.

    ``labels``: (node, label) as returned by :func:`label_propagation`,
    which checkpoints it, so its three references below (both intra sides
    and the community-degree rollup) do not re-run the round loop.
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    two_m = edges.agg(F.count("*").cast("long").alias("two_m"))
    lab_src = labels.select(F.col("node").alias("src"), F.col("label").alias("__cs"))
    lab_dst = labels.select(F.col("node").alias("dst"), F.col("label").alias("__cd"))
    intra = (
        edges.join(lab_src, "src")
        .join(lab_dst, "dst")
        .agg(F.sum((F.col("__cs") == F.col("__cd")).cast("long")).alias("intra2"))
    )
    dc2 = (
        deg.join(lab_src, "src")
        .groupBy("__cs")
        .agg(F.sum("d").alias("__dc"))
        .agg(F.sum(F.col("__dc") * F.col("__dc")).cast("long").alias("sum_dc2"))
    )
    return (
        two_m.crossJoin(F.broadcast(intra))
        .crossJoin(F.broadcast(dc2))
        .select(
            "two_m",
            "intra2",
            (F.col("two_m") * F.col("intra2") - F.col("sum_dc2")).alias("q_num"),
            F.expr(
                "CAST(((two_m * intra2 - sum_dc2) * 1000000)"
                " DIV (two_m * two_m) AS BIGINT)"
            ).alias("q_micro"),
        )
    )


def pagerank_personalized(edges: DataFrame, seed: int) -> DataFrame:
    """Personalized PageRank: identical integer fixed-point recurrence to
    :func:`pagerank_exact` except ALL teleport mass returns to ``seed``
    (rank0 = SCALE at the seed, 0 elsewhere) — proximity-to-seed scores,
    the classic graph recommendation primitive. The per-iteration seed
    bonus rides a 1-row union into the same groupBy that merges inflow
    (no extra join), so nodes whose only mass is the teleport term —
    including a seed with no inbound edges — still appear.
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    e = _persist_copartitioned(
        edges.join(deg, "src").select("src", "dst", "deg"), "src"
    )
    spark = edges.sparkSession
    bonus = spark.createDataFrame(
        [(seed, (15 * PR_SCALE) // 100)], "node BIGINT, r BIGINT"
    )
    ranks = spark.createDataFrame([(seed, PR_SCALE)], "node BIGINT, r BIGINT")
    for _ in range(5):
        inflow = (
            e.join(ranks, e.src == ranks.node)
            .groupBy("dst")
            .agg(F.expr("(85 * sum(r div deg)) div 100").alias("r"))
            .select(F.col("dst").alias("node"), "r")
        )
        ranks = inflow.unionByName(bonus).groupBy("node").agg(F.sum("r").alias("r"))
    return finalize_iterative(ranks, e)


def temporal_reachability(
    edges: DataFrame, source: int, rounds: int = 4
) -> DataFrame:
    """Earliest-arrival temporal reachability: over a directed edge list
    (src, dst, t), a path is valid only if edge times never decrease —
    the time-respecting-path semantics of temporal graphs (information
    flow, supply chains, lateral movement), which plain reachability
    overstates. Returns (node, arrival) = the earliest time each node is
    reachable from ``source`` within ``rounds`` hops (source itself at 0).

    Bellman-Ford-shaped dataflow: per round one equi-join on the node key
    with the time constraint ``t >= arrival`` as the join residual, then
    a mergeable min-aggregate; monotone integer arrival times make the
    bounded fixed point bit-exact in any engine. Lineage truncated per
    round (same pattern as bellman_ford above).
    """
    edges = _persist_copartitioned(edges, "src")
    arr = edges.sparkSession.createDataFrame(
        [(source, 0)], "node BIGINT, arrival BIGINT"
    )

    def _relax(arr: DataFrame, _r: int) -> DataFrame:
        relaxed = (
            edges.join(arr, edges.src == arr.node)
            .filter(F.col("t") >= F.col("arrival"))
            .select(F.col("dst").alias("node"), F.col("t").alias("arrival"))
        )
        return arr.unionByName(relaxed).groupBy("node").agg(F.min("arrival").alias("arrival"))

    return fixpoint(_relax, arr, rounds, release=[edges])[0]


HITS_SCALE = 100_000  # hub/authority fixed-point scale (1e5)


def hits_exact(edges: DataFrame, iterations: int = 3) -> tuple[DataFrame, DataFrame]:
    """Integer-exact HITS (hubs & authorities) over a DIRECTED edge list.

    Per iteration: auth'[v] = sum of hub[u] over u->v, then renormalized
    to ``(a * HITS_SCALE) div max(a)``; hubs symmetrically from the fresh
    authorities. Floor division after every step makes the fixed point
    bit-identical in any engine (the DuckDB oracle unrolls the same
    recurrence), exactly like :func:`pagerank_exact` — no float norms.

    Scale bound: values stay <= HITS_SCALE after each renorm, so the largest
    intermediate is ``max_inflow * S <= (S * max_degree) * S`` (S = HITS_SCALE)
    — with S=1e5 that overflows bigint only past ~9e8 in-degree,
    far beyond any real web/trade graph's hottest node.

    Returns ``(hubs, auths)`` as (node, h) / (node, a). The static edge
    side is persisted co-partitioned on src (hub join key); the auth join
    probes the same cache (one extra shuffle per round, same as the
    textbook message-passing dataflow). The renorm divisor ``max(a)`` is
    read from a ``Dataset.observe`` metric gathered DURING the half-step's
    checkpoint job — so each half-step runs exactly ONE job and the
    division is a narrow map over the checkpointed rows (no scalar
    broadcast join, no second aggregate job; same trick as
    connected_components' convergence counter). Reference delegates all
    graph analytics to Neo4j (SURVEY §2.3); this is the Spark-native
    link-analysis companion to pagerank_exact.
    """
    from pyspark.sql import Observation

    if iterations < 1:
        raise ValueError(f"hits_exact requires iterations >= 1, got {iterations}")
    e = _persist_copartitioned(edges.select("src", "dst"), "src")
    hubs = e.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1).cast("bigint").alias("h")
    )
    auths = None

    def half_step(frontier: DataFrame, probe, val: str) -> DataFrame:
        raw = (
            e.join(frontier, probe == frontier.node)
            .groupBy("dst" if val == "a" else "src")
            .agg(F.sum("h" if val == "a" else "a").alias(val))
            .select(F.col("dst" if val == "a" else "src").alias("node"), val)
        )
        obs = Observation()
        raw = raw.observe(obs, F.max(val).alias("m")).localCheckpoint(eager=True)
        m = obs.get["m"]
        if m is None:  # empty frontier (no edges): propagate the empty frame
            return raw
        return raw.select("node", F.expr(f"({val} * {HITS_SCALE}) div {int(m)}").alias(val))

    for _ in range(iterations):
        auths = half_step(hubs, e.src, "a")
        hubs = half_step(auths, e.dst, "h")
    e.unpersist()
    return hubs, auths


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Global clustering coefficient: 3 * triangles / wedges over an
    undirected graph given as canonical (u<v) distinct edges. Returns a
    1-row DataFrame (n_triangles, n_wedges, global_cc).

    Wedges (open + closed 2-paths) come straight from the degree
    distribution — sum over nodes of d*(d-1)/2, one aggregate, no join;
    triangles reuse the degree-ordered orientation of
    :func:`triangle_count` (wedge join bounded O(m^1.5) under skew). Both
    counts are exact integers; only the final transitivity ratio rounds.
    """
    sym = symmetrize(edges, "u", "v")
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    o = orient_by_degree(edges)
    o.persist()
    wedge_pairs = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .select(F.col("e1.src").alias("a"), F.col("e2.dst").alias("b"))
    )
    closed = wedge_pairs.join(
        o.alias("e3"), (F.col("a") == F.col("e3.src")) & (F.col("b") == F.col("e3.dst"))
    )
    tri = closed.agg(F.count("*").cast("bigint").alias("n_triangles"))
    out = tri.crossJoin(wedges).select(
        "n_triangles",
        "n_wedges",
        F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6).alias("global_cc"),
    )
    return finalize_iterative(out, o)


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of (deg(src), deg(dst)) over the DIRECTED edge list of a
    symmetrized graph. Returns a 1-row DataFrame with the exact integer
    moment sums (n_edges, sum_dx, sum_dy, sum_dxdy, sum_dx2, sum_dy2)
    plus the quantized coefficient (assortativity_micros).

    Positive r = hubs link to hubs (social nets), negative = hubs link
    to leaves (infrastructure / bipartite trade graphs like ours).

    Scale shape: one degree aggregate (map-side combinable), then the
    degree relation joined onto the edge list twice — both joins are
    plain shuffle hash/SMJ on (src) then (dst), each touching the edge
    list once; the final six-sum aggregate collapses to a single row
    with partial aggregation, so nothing is ever collected or sorted.
    All six moments are exact BIGINTs (order-free sums); the only float
    math is the closed-form Pearson ratio computed once from those six
    numbers, identical in any engine up to 1 ulp — far inside the 1e-6
    quantization.

    Overflow headroom: sum_dx2/sum_dy2 = sum over directed edges of
    deg(endpoint)^2, which is bounded by 2E * max_deg^2 — exactness
    holds while that stays under 2^63 (e.g. 1e9 edges with hubs up to
    deg ~2e6; beyond that, hub-heavy graphs overflow int64 and ANSI
    mode errors rather than wrapping). Past the bound, shard the edge
    list and merge per-shard moment rows (all six sums are mergeable by
    addition — the dimension_stats escape hatch), or compute on
    log-bucketed degrees.
    """
    e = symmetrize(edges, "src", "dst")
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed("src", "node")
    dx = deg.select(F.col("node").alias("src"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("node").alias("dst"), F.col("deg").alias("dy"))
    j = e.join(dx, "src").join(dy, "dst")
    s = j.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.sum("dx").cast("bigint").alias("sum_dx"),
        F.sum("dy").cast("bigint").alias("sum_dy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sum_dxdy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sum_dx2"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("sum_dy2"),
    )
    n = F.col("n_edges").cast("double")
    num = n * F.col("sum_dxdy").cast("double") - F.col("sum_dx").cast("double") * F.col("sum_dy").cast("double")
    den = F.sqrt(n * F.col("sum_dx2").cast("double") - F.col("sum_dx").cast("double") * F.col("sum_dx").cast("double")) * F.sqrt(
        n * F.col("sum_dy2").cast("double") - F.col("sum_dy").cast("double") * F.col("sum_dy").cast("double")
    )
    return s.select(
        "n_edges",
        "sum_dx",
        "sum_dy",
        "sum_dxdy",
        "sum_dx2",
        "sum_dy2",
        # try_divide: a regular graph has zero degree variance, so the
        # coefficient is undefined (NULL), not a divide-by-zero error
        F.round(F.try_divide(F.lit(1_000_000.0) * num, den)).cast("bigint").alias("assortativity_micros"),
    )


def _transition_micros(trans):
    """(states, P) for a finite chain from observed transition counts
    ``(prev_type, event_type, n_transitions)``:
    row-stochastic P quantized once to micros from exact counts, with
    the standard dangling self-loop (p = 1e6) for states that never
    transition out. Shared by markov_stationary and markov_entropy_rate
    so the quantization contract lives in ONE body (the ks/psi _by
    lesson from ADVICE r7)."""
    t = trans.select(
        F.col("prev_type").alias("i"), F.col("event_type").alias("j"),
        F.col("n_transitions").cast("long").alias("c"),
    )
    # Domain-collapse barrier (r8 opt): t is <= k^2 rows on the event-type
    # domain, but every downstream reference (states x2, out_tot, p_obs,
    # dangling, and each power-iteration's broadcast build) re-rooted the
    # FULL data-scale upstream — the pre-execution plan for
    # events_markov_entropy_rate held 288 copies of the events scan and 908
    # Exchange nodes at n_iter=10, and planning/AQE orchestration of that
    # tree dominated the query (4.9 s at sf0.1 vs 0.3 s for the sibling
    # one-pass events aggregates). The lazy localCheckpoint executes the
    # upstream exactly once per action; everything after runs on the
    # checkpointed domain-bounded rows. Interleaved A/B in
    # OPTIMIZATION_r08.md §27.
    t = t.localCheckpoint(eager=False)
    states = (
        t.select(F.col("i").alias("s")).union(t.select(F.col("j").alias("s"))).distinct()
    )
    out_tot = t.groupBy("i").agg(F.sum("c").alias("ci"))
    p_obs = t.join(out_tot, "i").select(
        "i", "j",
        F.round(F.lit(1_000_000.0) * F.col("c") / F.col("ci")).cast("long").alias("p"),
    )
    dangling = states.join(out_tot, states.s == out_tot.i, "left_anti").select(
        F.col("s").alias("i"), F.col("s").alias("j"), F.lit(1_000_000).cast("long").alias("p")
    )
    # states is referenced 3x per consumer and P once per power-iteration
    # broadcast build — checkpoint both (k and k^2 rows) so each reference
    # is a leaf instead of a rebuilt join tree over t.
    return (
        states.localCheckpoint(eager=False),
        p_obs.union(dangling).localCheckpoint(eager=False),
    )


def markov_stationary(trans: DataFrame) -> DataFrame:
    """Stationary distribution of a finite Markov chain from observed
    transition counts — the long-run occupancy the transition matrix
    (event_transition_matrix) only implies: "where does a user
    eventually spend their time?" is what capacity planning and
    engagement scoring actually consume; markov_next_event_accuracy
    evaluates one-step prediction, this closes the family with the
    fixed-point view. N_ITER fixed power iterations from the uniform
    vector (enough for the sub-percent accuracy bounded state spaces
    need; the answer is the ITERATE-10 contract, not a convergence
    promise).

    Integer-deterministic iteration: P quantizes once to micros from
    exact counts; each step computes v'[j] = round(sum_i v[i]*p[i][j]
    / 1e6) where the inner sum is an EXACT BIGINT (v, p <= 1e6, so each
    product <= 1e12 and the k-term sum is far inside int64) — both
    engines iterate on identical integers, so the unrolled-CTE oracle
    reproduces every step bit-for-bit. States with no outgoing
    transitions get the standard dangling self-loop (p = 1e6) so mass
    is conserved up to the +-k/2-micro rounding per step. Output: one
    row per state (state, pi_micros), zero-mass states included.

    Scale shape: the chain lives on the event-type DOMAIN — after the
    count collapse every frame is k or k^2 rows, and the N_ITER
    join+agg steps run on those bounded broadcast frames. The only
    data-sized work is whatever built `trans` upstream.
    """
    states, p_full = _transition_micros(trans)
    return _stationary_iterate(states, p_full, N_ITER)


def _stationary_iterate(states: DataFrame, p_full: DataFrame, n_iter: int) -> DataFrame:
    """The integer power iteration of markov_stationary, factored over a
    prebuilt (states, P) pair so markov_entropy_rate shares ONE
    _transition_micros subtree with its internal stationary solve instead
    of instantiating a second copy of the whole upstream (r8 opt §27)."""
    k = states.agg(F.count("*").alias("k"))
    v = states.crossJoin(F.broadcast(k)).select(
        F.col("s").alias("state"),
        F.round(F.lit(1_000_000.0) / F.col("k")).cast("long").alias("v"),
    )
    for _ in range(n_iter):
        v = (
            v.join(F.broadcast(p_full), v.state == p_full.i)
            .groupBy(F.col("j").alias("state"))
            .agg(
                F.round(F.sum(F.col("v") * F.col("p")).cast("double") / 1e6)
                .cast("long")
                .alias("v")
            )
        )
    return (
        states.join(v, states.s == v.state, "left")
        .select(
            F.col("s").alias("state"),
            F.coalesce(F.col("v"), F.lit(0)).cast("bigint").alias("pi_micros"),
        )
    )


def markov_entropy_rate(trans: DataFrame) -> DataFrame:
    """Entropy rate of the finite Markov chain the event stream induces —
    the capstone over the family (event_transition_matrix -> where mass
    FLOWS, markov_next_event_accuracy -> one-step predictability,
    markov_stationary -> long-run occupancy): H = sum_i pi_i * H_i with
    H_i = -sum_j p_ij ln p_ij, the per-visit information content of the
    stream in nats. A near-zero rate means sessions are deterministic
    ritual (prefetchable, compressible, low-value for training); a rate
    near ln(k) means uniform churn. Returns one row per state
    (state, pi_micros, h_cond_micronats, contrib_micronats) — the
    conditional entropy of each state's outgoing row and its
    pi-weighted contribution — plus the chain total on every row
    (entropy_rate_micronats) so the one-number answer needs no second
    query.

    Exactness: pi comes from markov_stationary's integer iterate; P is
    the SAME micro-quantized row-stochastic matrix (shared
    _transition_micros body). ln p is quantized once per cell to
    millinats — round(1000*ln(p/1e6)), the PSI convention — after which
    every product pi * p * lnq is an exact BIGINT and sums are
    reduction-order-immune (per state, sum_j p*lq <= 1e6 * 13816
    because the p's sum to 1e6, so each pi-weighted term is <= 1.4e16
    and the k-state total stays inside int64 for any k < ~650 — far
    above an event-type domain); the two
    final micronat conversions are identical single double-divisions.
    Dangling self-loops contribute ln(1) = 0 exactly. p = 0 cells never
    appear (only observed transitions are materialized), so the log is
    total. ANSI-safe throughout (try_divide on the empty-chain edge).

    Scale shape: identical to markov_stationary — the chain lives on
    the event-type DOMAIN, so after the upstream count collapse every
    frame here is k or k^2 rows on broadcast joins; the only data-scale
    work built `trans` upstream.
    """
    states, p_full = _transition_micros(trans)
    pi = _stationary_iterate(states, p_full, N_ITER)
    lnq = F.round(
        F.lit(1000.0) * F.log(F.col("p").cast("double") / F.lit(1_000_000.0))
    ).cast("long")
    cells = p_full.select("i", "j", "p", lnq.alias("lq"))
    per_state = cells.groupBy("i").agg(
        F.sum(F.col("p") * F.col("lq")).alias("s_pl")
    )
    # H_i in micronats: -(sum_j p*lq) is in (micro * millinat) = 1e-9 nat
    # units -> one double division by 1e3 lands micronats.
    h_cond = F.round(-F.col("s_pl").cast("double") / F.lit(1000.0)).cast("long")
    joined = pi.join(per_state, pi.state == per_state.i).select(
        "state",
        "pi_micros",
        h_cond.alias("h_cond_micronats"),
        (F.col("pi_micros") * F.col("s_pl")).alias("wterm"),
    )
    total = joined.agg(
        F.round(
            -F.coalesce(F.sum("wterm"), F.lit(0)).cast("double") / F.lit(1_000_000_000.0)
        )
        .cast("long")
        .alias("entropy_rate_micronats")
    )
    return joined.crossJoin(F.broadcast(total)).select(
        "state",
        "pi_micros",
        "h_cond_micronats",
        F.round(-F.col("wterm").cast("double") / F.lit(1_000_000_000.0))
        .cast("long")
        .alias("contrib_micronats"),
        "entropy_rate_micronats",
    )
