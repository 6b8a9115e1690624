"""The checkpointed fixpoint loops: work per call and cache hygiene.

Job counts are read from Spark's status tracker under a job group, so a
change to any loop's plan (an extra barrier, a lost observe metric, a
recomputed static side) shows up as a different count. The cache checks
read the session's CacheManager directly: every loop persists its static
side, and must release it whether the rounds finish or raise."""

from __future__ import annotations

import pytest

from cartography_spark.operators.closure import transitive_closure
from cartography_spark.operators.dedup import cluster_min_label, cluster_min_label_bipartite
from cartography_spark.operators.graph import (
    bellman_ford,
    bfs_distances,
    connected_components,
    kcore,
    temporal_reachability,
)

# a 6-node chain 1-2-...-6 plus a star centred on 10
CHAIN_STAR = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (10, 12), (10, 13)]
VERTS = sorted({v for e in CHAIN_STAR for v in e})


def _cases(spark):
    def edges(schema):
        return spark.createDataFrame(CHAIN_STAR, schema)

    def numbered(schema):
        # third column numbers the edges 1..8: weights, or times that rise
        # along the chain so every node is reachable
        return spark.createDataFrame([(a, b, i + 1) for i, (a, b) in enumerate(CHAIN_STAR)], schema)

    verts = spark.createDataFrame([(v,) for v in VERTS], "doc_id bigint")
    members = spark.createDataFrame(
        [(v, f"b{a}") for a, b in CHAIN_STAR for v in (a, b)], "doc_id bigint, bucket string"
    )
    return {
        "connected_components": lambda: connected_components(edges("u bigint, v bigint")),
        "bfs_distances": lambda: bfs_distances(edges("src bigint, dst bigint"), 1, max_depth=6),
        "bellman_ford": lambda: bellman_ford(
            numbered("src bigint, dst bigint, w bigint"), 1, rounds=6
        ),
        "temporal_reachability": lambda: temporal_reachability(
            numbered("src bigint, dst bigint, t bigint"), 1, rounds=6
        ),
        "kcore": lambda: kcore(edges("u bigint, v bigint"), 2, rounds=3),
        "transitive_closure": lambda: transitive_closure(
            edges("src_id bigint, dst_id bigint"), max_hops=6
        ),
        "cluster_min_label": lambda: cluster_min_label(
            edges("a bigint, b bigint"), verts, max_iter=6
        ),
        "cluster_min_label_bipartite": lambda: cluster_min_label_bipartite(members, verts, max_iter=6),
    }


# Spark jobs per call, including one collect of the returned frame, with
# AQE off: AQE submits every query stage as its own job and cancels sibling
# stages once one comes back empty, so its job count varies with timing and
# core count. Without it each job is an action (a round's checkpoint, the
# collect) or a broadcast, so a count is exactly the number of barriers.
EXPECTED_JOBS = {
    "connected_components": 6,
    "bfs_distances": 13,
    "bellman_ford": 12,
    "temporal_reachability": 12,
    "kcore": 5,
    "transitive_closure": 7,
    "cluster_min_label": 12,
    "cluster_min_label_bipartite": 17,
}


def test_fixpoint_job_counts(spark):
    sc = spark.sparkContext
    got = {}
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, run in _cases(spark).items():
            group = f"fixpoint-jobs-{name}"
            sc.setJobGroup(group, group)
            run().collect()
            got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert got == EXPECTED_JOBS


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_fixpoint_releases_static_side_on_error(spark):
    spark.catalog.clearCache()
    # cost 2**62 + 2**62 overflows BIGINT in round 2 (ANSI arithmetic)
    edges = spark.createDataFrame([(1, 2, 2**62), (2, 3, 2**62)], "src bigint, dst bigint, w bigint")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        bellman_ford(edges, 1, rounds=3)
    assert _cache_empty(spark)

    # a non-numeric vertex id fails the label join's cast in round 1
    pairs = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    verts = spark.createDataFrame([("x",), ("1",)], "doc_id string")
    with pytest.raises(Exception):
        cluster_min_label(pairs, verts, max_iter=3)
    assert _cache_empty(spark)
