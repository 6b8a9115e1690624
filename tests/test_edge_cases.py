"""Boundary-condition tests: empty inputs, sub-n documents, null keys —
semantics that a refactor could silently change without failing the main
fixtures."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_closure_empty_edges(spark):
    from cartography_spark.operators.closure import transitive_closure

    empty = spark.createDataFrame([], "src_id string, dst_id string")
    assert transitive_closure(empty, max_hops=3).count() == 0
    assert transitive_closure(empty, max_hops=3, include_zero=True).count() == 0


def test_upsert_empty_batch_is_noop(spark):
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.operators.upsert import load
    from cartography_spark.schema import NodeSchema, PropertyRef

    schema = NodeSchema(
        label="T", properties={"id": PropertyRef("k"), "v": PropertyRef("v")}, scoped_cleanup=False
    )
    cat = GraphCatalog(spark)
    load(cat, schema, spark.createDataFrame([(1, 10)], "k int, v int"), 1)
    before = {tuple(r) for r in cat.node("T").collect()}
    load(cat, schema, spark.createDataFrame([], "k int, v int"), 2)
    after = {tuple(r) for r in cat.node("T").collect()}
    assert after == before  # nothing touched, lastupdated untouched


def test_shingles_short_docs(spark):
    """Docs shorter than n yield NO shingles (Spark's sequence(1,0) is
    descending, not empty — the operator must guard)."""
    from cartography_spark.operators.dedup import doc_shingles

    docs = spark.createDataFrame([(1, "ab"), (2, ""), (3, "abc")], "doc_id long, text string")
    got = {(r.doc_id, r.shingle) for r in doc_shingles(docs, n=3).collect()}
    assert got == {(3, "abc")}


def test_exact_dedup_null_text_groups_together(spark):
    from cartography_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    rows = {r.doc_id: (r.keep, r.group_size) for r in exact_dedup(docs).collect()}
    # null texts hash to null -> one group, lowest id kept
    assert rows[1] == (True, 2) and rows[2] == (False, 2) and rows[3] == (True, 1)


def test_cluster_min_label_no_pairs(spark):
    from cartography_spark.operators.dedup import cluster_min_label

    pairs = spark.createDataFrame([], "a long, b long")
    verts = spark.createDataFrame([(1,), (2,)], "doc_id long")
    got = {(r.doc_id, r.cluster, r.keep) for r in cluster_min_label(pairs, verts, 2).collect()}
    assert got == {(1, 1, True), (2, 2, True)}


def test_matcher_one_to_many_null_list(spark):
    """one_to_many matcher with a null list column drops the row (matches
    OPTIONAL MATCH + null-filter semantics), it must not throw."""
    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.operators.upsert import load
    from cartography_spark.schema import (
        NodeSchema,
        PropertyRef,
        RelSchema,
        TargetNodeMatcher,
    )

    target = NodeSchema(
        label="Tgt", properties={"id": PropertyRef("tid")}, scoped_cleanup=False
    )
    src = NodeSchema(
        label="Src",
        properties={"id": PropertyRef("sid")},
        other_relationships=(
            RelSchema(
                rel_label="REL",
                target_node_label="Tgt",
                target_node_matcher=TargetNodeMatcher(
                    {"id": PropertyRef("refs", one_to_many=True)}
                ),
            ),
        ),
        scoped_cleanup=False,
    )
    cat = GraphCatalog(spark)
    load(cat, target, spark.createDataFrame([("t1",)], "tid string"), 1)
    batch = spark.createDataFrame(
        [("s1", ["t1"]), ("s2", None)], "sid string, refs array<string>"
    )
    load(cat, src, batch, 1)
    edges = {(r.src_id, r.dst_id) for r in cat.edge("Src", "REL", "Tgt").collect()}
    assert edges == {("s1", "t1")}


def test_ordered_dense_ids_matches_window_path(spark):
    """Distributed id assignment (range partition + offsets) must produce
    the identical (order -> id) mapping as the single-partition window."""
    from pyspark.sql import Window

    from cartography_spark.operators.dedup import ordered_dense_ids

    rows = [(f"s{i:03d}", (i * 7) % 13) for i in range(300)]
    df = spark.createDataFrame(rows, "shingle string, __df long").repartition(8)
    dist = {r.shingle: r.sid for r in ordered_dense_ids(df, ["__df", "shingle"], "sid").collect()}
    win = {
        r.shingle: r.sid
        for r in df.withColumn(
            "sid", F.row_number().over(Window.orderBy("__df", "shingle")) - 1
        ).collect()
    }
    assert dist == win


def test_kcenter_validates_inputs(spark, sf_dir):
    import pytest

    from cartography_spark.operators.clustering import kcenter_diverse
    from cartography_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(5)
    with pytest.raises(ValueError, match="not present"):
        kcenter_diverse(emb, k=3, seed_id=10**9)
    with pytest.raises(ValueError, match="exceeds"):
        kcenter_diverse(emb, k=50, seed_id=0)
