"""Stale-data cleanup: the reference's 4-case dispatch
(cartography/graph/cleanupbuilder.py:16-122) as set-based rewrites.

Reference semantics: after a sync at ``update_tag``, delete rows of a label
whose ``lastupdated <> $UPDATE_TAG`` — scoped to the tenant (sub-resource)
that was synced, so other tenants' data is untouched
(cleanupbuilder.py:244-390). Cascade deletes also remove stale children
reached via the sub-resource edge (:309-334). The reference chunks deletes
with ``LIMIT $LIMIT_SIZE`` loops (statement.py:303+); Spark needs no
chunking — one anti-join rewrite is a single distributed job.

Scale note: with node tables partitioned by tenant, the scoped filter
prunes partitions, so a one-tenant cleanup never scans other tenants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.schema import NodeSchema


def _scoped_ids(catalog: GraphCatalog, schema: NodeSchema, tenant_id: str) -> DataFrame:
    """ids of nodes of this label attached to the given tenant."""
    key, own_col, tenant_col = schema.sub_resource_relationship.stored_edge(schema.label)
    tenant_edges = catalog.edge(*key).filter(F.col(tenant_col) == str(tenant_id))
    return tenant_edges.select(F.col(own_col).alias("id"))


def cleanup_nodes(
    catalog: GraphCatalog,
    schema: NodeSchema,
    update_tag: int,
    tenant_id: str | None = None,
) -> DataFrame:
    """Delete stale nodes of ``schema.label``; scoped to ``tenant_id`` when
    the schema declares a sub-resource and scoped_cleanup=True (case 1 of
    cleanupbuilder.py:16-122), else global (case: unscoped,
    cleanupbuilder.py:386-452). Also removes edges touching deleted nodes
    (DETACH DELETE semantics)."""
    table = catalog.node(schema.label)
    stale = F.col("lastupdated") != F.lit(update_tag)

    if tenant_id is not None and schema.scoped_cleanup and schema.sub_resource_relationship:
        scoped = _scoped_ids(catalog, schema, tenant_id)
        doomed = table.filter(stale).join(scoped, "id", "left_semi").select("id")
        kept = table.join(doomed, "id", "left_anti")
    else:
        doomed = table.filter(stale).select("id")
        kept = table.filter(~stale)

    catalog.nodes[schema.label] = kept
    _detach_edges(catalog, schema.label, doomed)
    return kept


def _detach_edges(catalog: GraphCatalog, label: str, doomed_ids: DataFrame) -> None:
    """DETACH DELETE: remove edges whose endpoint was deleted."""
    for (sl, rl, dl), edf in list(catalog.edges.items()):
        if sl == label:
            edf = edf.join(doomed_ids.select(F.col("id").alias("src_id")), "src_id", "left_anti")
        if dl == label:
            edf = edf.join(doomed_ids.select(F.col("id").alias("dst_id")), "dst_id", "left_anti")
        if sl == label or dl == label:
            catalog.edges[(sl, rl, dl)] = edf


def cleanup_cascade(
    catalog: GraphCatalog,
    parent_schema: NodeSchema,
    child_schema: NodeSchema,
    update_tag: int,
) -> None:
    """Cascade delete (cleanupbuilder.py:309-334): delete stale parents,
    then stale children attached to those parents through the one
    relationship ``child_schema`` declares to the parent label, whichever
    way it is stored. Unscoped: every tenant's stale parents."""
    rels = [r for r in child_schema.all_relationships() if r.target_node_label == parent_schema.label]
    if len(rels) != 1:
        raise ValueError(
            f"{child_schema.label} declares {len(rels)} relationships to "
            f"{parent_schema.label}; a cascade needs exactly one"
        )
    key, child_col, parent_col = rels[0].stored_edge(child_schema.label)
    parents = catalog.node(parent_schema.label)
    stale_parents = parents.filter(F.col("lastupdated") != F.lit(update_tag)).select("id")
    edges = catalog.edge(*key)
    child_ids = edges.join(
        stale_parents.select(F.col("id").alias(parent_col)), parent_col, "left_semi"
    ).select(F.col(child_col).alias("id"))

    children = catalog.node(child_schema.label)
    doomed_children = (
        children.filter(F.col("lastupdated") != F.lit(update_tag))
        .join(child_ids, "id", "left_semi")
        .select("id")
    )
    catalog.nodes[child_schema.label] = children.join(doomed_children, "id", "left_anti")
    _detach_edges(catalog, child_schema.label, doomed_children)
    cleanup_nodes(catalog, parent_schema, update_tag)


def cleanup_rels(
    catalog: GraphCatalog,
    edge_key: tuple[str, str, str],
    update_tag: int,
) -> DataFrame:
    """Rel-only cleanup (cleanupbuilder.py:123-180,454-515): delete stale
    edges, keep nodes."""
    edges = catalog.edge(*edge_key)
    stale = F.col("lastupdated") != F.lit(update_tag)
    kept = edges.filter(~stale)
    catalog.edges[edge_key] = kept
    return kept
