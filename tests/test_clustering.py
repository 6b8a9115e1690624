"""Property tests for distributed k-means — the oracle gate can't cover
iterative float algorithms, so correctness is pinned by invariants:
assignment optimality, inertia descent across iterations, determinism,
and cluster/label agreement on the synthetic embeddings."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from cartography_spark.operators.clustering import assign_clusters, kmeans, update_centroids
from cartography_spark.sources.parquet import load_table
from tests.conftest import SF_SMOKE


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_assignment_is_nearest_centroid(spark):
    emb = _emb(spark)
    init = [[float(x) for x in r[0]] for r in emb.orderBy("vec_id").limit(4).select("embedding").collect()]
    out = assign_clusters(emb, init).collect()
    for r in out[:25]:
        v = [float(x) for x in r["embedding"]]
        dists = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in init]
        best = min(range(4), key=lambda i: (dists[i], i))
        assert r["cluster"] == best
        assert math.isclose(r["dist_sq"], dists[best], rel_tol=1e-9)


def test_inertia_decreases(spark):
    emb = _emb(spark).cache()
    init = [[float(x) for x in r[0]] for r in emb.orderBy("vec_id").limit(8).select("embedding").collect()]
    a0 = assign_clusters(emb, init)
    i0 = a0.agg(F.sum("dist_sq")).collect()[0][0]
    c1 = update_centroids(a0, k=8, dim=64)
    i1 = assign_clusters(emb, c1).agg(F.sum("dist_sq")).collect()[0][0]
    assert i1 <= i0  # Lloyd steps never increase inertia


def test_kmeans_deterministic_and_complete(spark):
    out1 = kmeans(_emb(spark), k=8).orderBy("vec_id").collect()
    out2 = kmeans(_emb(spark), k=8).orderBy("vec_id").collect()
    assert [(r.vec_id, r.cluster) for r in out1] == [(r.vec_id, r.cluster) for r in out2]
    n = _emb(spark).count()
    assert len(out1) == n
    # exactly one canonical keeper per non-empty cluster
    keepers = [r for r in out1 if r.keep]
    assert len(keepers) == len({r.cluster for r in out1})


def test_kmeans_beats_random_label_purity(spark):
    """The synthetic embeddings carry a ground-truth label column; majority-
    label purity of k-means clusters must clearly beat the random baseline
    (1/n_labels)."""
    emb = _emb(spark)
    out = kmeans(emb, k=16).join(emb.select("vec_id", "label"), "vec_id")
    counts = out.groupBy("cluster", "label").count()
    top = counts.groupBy("cluster").agg(F.max("count").alias("top"))
    purity = (
        top.agg(F.sum("top")).collect()[0][0] / out.count()
    )
    n_labels = emb.select("label").distinct().count()
    assert purity > 1.5 / n_labels, f"purity {purity} vs random {1 / n_labels}"


def test_kcenter_diverse_hand_computed(spark):
    """Greedy trajectory on a 2-dim toy: farthest first, running min
    updates push near-duplicates of selected points to the back."""
    from cartography_spark.operators.clustering import kcenter_diverse

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (2, [5.0, 5.0]),
            (3, [9.0, 9.0]),  # near-dup of 1: never picked at k=3
        ],
        "vec_id bigint, embedding array<float>",
    )
    got = [(r.sel_order, r.vec_id, r.dmin)
           for r in kcenter_diverse(emb, k=3, seed_id=0).collect()]
    assert got == [(0, 0, 0), (1, 1, 2 * 254 * 254), (2, 2, 2 * 127 * 127)]
