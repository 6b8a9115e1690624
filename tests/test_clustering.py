"""Property tests for distributed k-means beyond the oracle's exact
values: determinism, one keeper per cluster, and cluster/label agreement
on the synthetic embeddings."""

from __future__ import annotations

from pyspark.sql import functions as F

from cartography_spark.operators.clustering import kmeans_exact
from cartography_spark.sources.parquet import load_table
from tests.conftest import SF_SMOKE


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_kmeans_deterministic_and_complete(spark):
    out1 = kmeans_exact(_emb(spark), k=8).orderBy("vec_id").collect()
    out2 = kmeans_exact(_emb(spark), k=8).orderBy("vec_id").collect()
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
    out = kmeans_exact(emb, k=16).join(emb.select("vec_id", "label"), "vec_id")
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
