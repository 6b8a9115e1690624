"""Concurrent warehouse I/O and driver-built frames: job-group inheritance of
helper threads, the failure rule of a concurrent ``GraphCatalog.save``, and
the ``LocalRelation`` plans of the frames built from driver-side rows."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.upsert import upsert_rel
from cartography_spark.plans import driftarchive as da
from cartography_spark.plans.graph_fixture import SUPPLIER_SCHEMA, build_catalog
from cartography_spark.plans.inventory_lifecycle import base_catalog
from cartography_spark.plans.job import merge_sync_metadata
from cartography_spark.plans.rules import compliance_summary, framework_rollup, run_rules_batched
from cartography_spark.plans.rules_corpus import build_corpus_rules


def _settled(spark):
    """The driver's status store once every queued listener event is in."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore()


def _all_job_ids(spark) -> set[int]:
    jobs = _settled(spark).jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_helper_threads_keep_job_group(spark, sf_dir, tmp_path):
    rules = build_corpus_rules(spark, sf_dir)
    cat = base_catalog(spark, sf_dir)
    to_save = build_catalog(spark, sf_dir)
    before = _all_job_ids(spark)
    sc = spark.sparkContext
    sc.setJobGroup("g", "helper-thread inheritance")
    try:
        run_rules_batched(rules, cat)
        to_save.save(str(tmp_path / "wh"))
    finally:
        sc._jsc.clearJobGroup()
    started = _all_job_ids(spark) - before
    assert started
    assert started <= set(sc.statusTracker().getJobIdsForGroup("g"))


def test_concurrent_save_failure(spark, tmp_path):
    ids = spark.range(4).select(
        F.col("id").cast("string").alias("id"),
        F.lit(1).cast("long").alias("firstseen"),
        F.lit(1).cast("long").alias("lastupdated"),
    )
    edge = ids.select(F.col("id").alias("src_id"), F.col("id").alias("dst_id"), "firstseen", "lastupdated")
    # fails in the write job's tasks, not while planning
    bad = edge.withColumn(
        "dst_id", F.raise_error(F.concat(F.lit("bad row "), F.col("src_id"))).cast("string")
    )
    cat = GraphCatalog(spark)
    cat.set_node("A", ids)
    cat.set_edge(("A", "BAD1", "A"), bad)
    cat.set_edge(("A", "OK", "A"), edge)
    cat.set_edge(("A", "BAD2", "A"), bad)
    path = str(tmp_path / "wh")
    # both bad edges fail; the first in catalog order is the one raised
    with pytest.raises(RuntimeError, match=re.escape(f"{path}/edges/A__BAD1__A:")) as info:
        cat.save(path)
    assert "bad row" in str(info.value)
    _settled(spark)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    # the good tables were still written: a failed save leaves a torn warehouse
    for table in ("nodes/A", "edges/A__OK__A"):
        assert os.path.exists(f"{path}/{table}/_SUCCESS")


def _assert_local(df):
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_driver_frames_are_local_relations(spark, sf_dir, tmp_path):
    results = run_rules_batched(build_corpus_rules(spark, sf_dir), base_catalog(spark, sf_dir))
    _assert_local(framework_rollup(results))
    _assert_local(compliance_summary([fr for rr in results for fr in rr.facts]))

    root = str(tmp_path)
    da.init_query(root, "q", "Q")
    for fname, rows in (("full.json", [("a", 1), ("b", None)]), ("empty.json", [])):
        da.get_states(root, lambda _sql, rows=rows: spark.createDataFrame(rows, "id string, n long"),
                      filename=fname)
    full = da.load_state(spark, root, "q", "full.json").results
    empty = da.load_state(spark, root, "q", "empty.json").results
    _assert_local(full)
    _assert_local(empty)
    assert sorted(map(tuple, full.collect())) == [("a", "1"), ("b", "")]
    assert empty.collect() == [] and empty.columns == ["id", "n"]

    cat = GraphCatalog(spark)  # no Nation table: the rel's target is missing
    batch = spark.createDataFrame([(1, 2)], "s_suppkey long, s_nationkey long")
    missing = upsert_rel(cat, SUPPLIER_SCHEMA, SUPPLIER_SCHEMA.other_relationships[0], batch, 1)
    _assert_local(missing)
    assert missing.collect() == []
    assert missing.columns == ["src_id", "dst_id", "lastupdated", "firstseen"]

    merge_sync_metadata(cat, "Region", "0", "Supplier", 1)
    _assert_local(cat.nodes["SyncMetadata"])
