"""MatchLink: edge creation between EXISTING nodes (no node writes).

Reference: ``UNWIND $DictList MATCH (from:A {k}) MATCH (to:B {k})
MERGE (from)-[r:REL]->(to)`` — querybuilder.py:1755-1925, loader
tx.py:846-921, docs docs/root/dev/matchlinks.md. Spark plan: two inner
joins resolve src/dst ids, then the edge table merges keyed on
(src_id, dst_id).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.upsert import _matcher_condition, merge
from cartography_spark.schema import PropertyRef, TargetNodeMatcher


def match_link(
    catalog: GraphCatalog,
    rows: DataFrame,
    rel_label: str,
    src_label: str,
    src_matcher: TargetNodeMatcher,
    dst_label: str,
    dst_matcher: TargetNodeMatcher,
    update_tag: int,
    properties: dict[str, PropertyRef] | None = None,
    params: dict[str, Any] | None = None,
    sub_resource_label: str | None = None,
    sub_resource_id: str | None = None,
) -> DataFrame:
    """Create/refresh edges between existing nodes resolved by the two
    matchers. ``sub_resource_*`` stamps provenance columns used by scoped
    matchlink cleanup (cleanupbuilder.py:603-667)."""
    src = catalog.node(src_label).select(F.col("id").alias("__s_id"), *[
        F.col(k) for k in src_matcher.keys
    ])
    dst = catalog.node(dst_label).select(F.col("id").alias("__d_id"), *[
        F.col(k) for k in dst_matcher.keys
    ])
    resolved = rows.join(src, _matcher_condition(src_matcher, src, params), "inner")
    resolved = resolved.join(dst, _matcher_condition(dst_matcher, dst, params), "inner")

    cols = [F.col("__s_id").alias("src_id"), F.col("__d_id").alias("dst_id")]
    for out_name, ref in (properties or {}).items():
        cols.append(ref.expr(params).alias(out_name))
    edges = resolved.select(*cols).dropDuplicates(["src_id", "dst_id"])
    if sub_resource_label is not None:
        edges = edges.withColumn("_sub_resource_label", F.lit(sub_resource_label)).withColumn(
            "_sub_resource_id", F.lit(str(sub_resource_id))
        )

    key = (src_label, rel_label, dst_label)
    catalog.edges[key] = merged = merge(catalog.edges.get(key), edges, ["src_id", "dst_id"], update_tag)
    return merged


def cleanup_match_links(
    catalog: GraphCatalog,
    edge_key: tuple[str, str, str],
    update_tag: int,
    sub_resource_label: str,
    sub_resource_id: str,
) -> DataFrame:
    """Delete stale matchlink edges carrying the given sub-resource stamp
    (cleanupbuilder.py:603-667; graph/job.py:401-490)."""
    edges = catalog.edge(*edge_key)
    doomed = (
        (F.col("lastupdated") != F.lit(update_tag))
        & (F.col("_sub_resource_label") == sub_resource_label)
        & (F.col("_sub_resource_id") == str(sub_resource_id))
    )
    kept = edges.filter(~doomed)
    catalog.edges[edge_key] = kept
    return kept

