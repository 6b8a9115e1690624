"""Upsert: the engine's core write operator.

Reference semantics (cartography/graph/querybuilder.py:1219-1317, template at
1266-1279):

    UNWIND $DictList AS item
    MERGE (i:Label {id: item.id})
    ON CREATE SET i.firstseen = timestamp()
    SET i.lastupdated = $lastupdated_tag, i.prop = item.prop, ...

plus conditional extra labels (:486-575) and relationship attachment through
the four matcher modes (:632-666, 711-736).

Every graph write — node upserts, schema relationships, matchlinks,
cartesian links, analysis-derived edges and sync metadata — goes through
one set-based MERGE, :func:`merge`, keyed by a column list (``["id"]`` for
node tables, ``["src_id", "dst_id"]`` for edge tables):

1. stamp the batch with ``lastupdated = firstseen = update_tag``;
2. full-outer-join it with the existing table on the key columns;
3. matched rows take the batch's property values but keep ``firstseen``;
   unmatched existing rows pass through untouched; new rows keep the stamp.

Deduplication stays with the caller: each one drops duplicate keys from its
batch before merging (MERGE processes a batch row by row, so one row per key
is its set-based equivalent), and the merge assumes a batch with unique keys.

This is exactly Delta's ``MERGE INTO`` decomposed into vanilla DataFrame
ops, so it runs anywhere. At scale the join shuffles on the key once; with a
tenant-partitioned table and a tenant filter pushed down, only the touched
partitions rewrite (partition pruning replaces Neo4j's index seek).

Relationship attach mirrors OPTIONAL MATCH tolerance
(querybuilder.py:866-867): an inner join against the target table simply
drops rows whose target is missing — identical visible semantics to
OPTIONAL MATCH + null-filter.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.schema import NodeSchema, RelSchema, TargetNodeMatcher
from cartography_spark.sources.rows import local_frame


def project_batch(
    batch: DataFrame,
    schema: NodeSchema,
    params: dict[str, Any] | None = None,
) -> DataFrame:
    """Project raw batch rows into the node-table shape declared by the
    schema: id + declared properties + labels, one row per id."""
    cols: list[Column] = [schema.properties["id"].expr(params).cast("string").alias("id")]
    for out_name, ref in schema.properties.items():
        if out_name == "id":
            continue
        cols.append(ref.expr(params).alias(out_name))
    # conditional extra labels -> labels array column (reference nodes.py:88-147)
    if schema.extra_node_labels:
        label_exprs = [
            F.when(el.condition(), F.lit(el.label)).otherwise(F.lit(None)) for el in schema.extra_node_labels
        ]
        labels = F.array_compact(F.array(F.lit(schema.label), *label_exprs))
        cols.append(labels.alias("labels"))
    projected = batch.select(*cols).filter(F.col("id").isNotNull())
    # MERGE processes per-id sequentially; set-based equivalent: one row per id
    return projected.dropDuplicates(["id"])


def upsert_nodes(
    catalog: GraphCatalog,
    schema: NodeSchema,
    batch: DataFrame,
    update_tag: int,
    params: dict[str, Any] | None = None,
    scope_col: str | None = None,
    scope_value: Any | None = None,
) -> DataFrame:
    """MERGE the projected batch into the catalog's node table for
    ``schema.label``; returns the new table (also stored in the catalog).

    ``scope_col``/``scope_value`` enable the tenant-scoped fast path: only
    the touched tenant's slice joins the batch; every other tenant's rows
    pass through untouched with no shuffle. On a table partitioned by
    ``scope_col`` (catalog.partition_cols) both branches are partition-
    pruned scans, so a one-tenant sync over a 1000-tenant warehouse
    shuffles 1/1000th of the data — the Spark analogue of the reference
    syncing one account at a time against Neo4j indexes
    (intel/aws/__init__.py:598-684 per-account loop).
    """
    incoming = project_batch(batch, schema, params)
    existing = catalog.nodes.get(schema.label)
    if existing is not None and scope_col is not None and scope_col in existing.columns:
        touched = existing.filter(F.col(scope_col).eqNullSafe(F.lit(scope_value)))
        untouched = existing.filter(~F.col(scope_col).eqNullSafe(F.lit(scope_value)))
        merged = untouched.unionByName(merge(touched, incoming, ["id"], update_tag), allowMissingColumns=True)
    else:
        merged = merge(existing, incoming, ["id"], update_tag)
    catalog.nodes[schema.label] = merged
    return merged


def merge(existing: DataFrame | None, rows: DataFrame, keys: list[str], update_tag: int) -> DataFrame:
    """MERGE ``rows`` (unique on ``keys``) into ``existing`` stamped with
    ``update_tag``; with no existing table the stamped rows are the table.

    Full-outer merge on ``keys``: the batch wins on every property, even a
    null one (SET overwrites); ``firstseen`` survives from the existing row
    (ON CREATE SET semantics); columns the batch lacks are nulled on batch
    rows; existing-only rows pass through unchanged. Columns: the keys, then
    the existing table's, then the batch's new ones."""
    tag = F.lit(update_tag).cast("long")
    rows = rows.withColumn("lastupdated", tag).withColumn("firstseen", tag)
    if existing is None:
        return rows
    e = existing.alias("e")
    i = rows.alias("i")
    on = reduce(operator.and_, [F.col(f"e.{k}") == F.col(f"i.{k}") for k in keys])
    joined = e.join(i, on, "full_outer")

    in_batch = F.col(f"i.{keys[0]}").isNotNull()
    out_cols: list[Column] = [F.coalesce(F.col(f"i.{k}"), F.col(f"e.{k}")).alias(k) for k in keys]
    for c in dict.fromkeys(existing.columns + rows.columns):
        if c in keys:
            continue
        has_e, has_i = c in existing.columns, c in rows.columns
        if c == "firstseen":
            out_cols.append(F.coalesce(F.col("e.firstseen"), F.col("i.firstseen")).alias("firstseen"))
        elif has_e and has_i:
            # batch value wins even when null (SET overwrites), except rows
            # not in the batch keep their existing value
            out_cols.append(F.when(in_batch, F.col(f"i.{c}")).otherwise(F.col(f"e.{c}")).alias(c))
        elif has_i:
            out_cols.append(F.col(f"i.{c}").alias(c))
        else:
            out_cols.append(F.when(in_batch, F.lit(None)).otherwise(F.col(f"e.{c}")).alias(c))
    return joined.select(*out_cols)


def attach_relationships(
    catalog: GraphCatalog,
    schema: NodeSchema,
    batch: DataFrame,
    update_tag: int,
    params: dict[str, Any] | None = None,
) -> None:
    """Resolve and upsert the edges declared by the node schema
    (sub-resource first, then other_relationships) — reference
    querybuilder.py:816-1013."""
    for rel in schema.all_relationships():
        upsert_rel(catalog, schema, rel, batch, update_tag, params)


def _matcher_condition(
    matcher: TargetNodeMatcher, target: DataFrame, params: dict[str, Any] | None
) -> Column:
    """Build the join condition for a matcher's keys, honouring the
    PropertyRef flags — the four matcher join modes of
    querybuilder.py:632-666,711-736. Both relationship upserts and
    matchlinks resolve their targets through it."""
    conds: list[Column] = []
    for target_key, ref in matcher.keys.items():
        t = target[target_key]
        b = ref.expr(params)
        if ref.one_to_many:
            # n.key IN item.list_ref (common.py:84-96)
            conds.append(F.array_contains(b, t))
        elif ref.fuzzy_and_ignore_case:
            conds.append(F.lower(t).contains(F.lower(b)))
        elif ref.ignore_case:
            conds.append(F.lower(t) == F.lower(b))
        else:
            conds.append(t == b)
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def upsert_rel(
    catalog: GraphCatalog,
    schema: NodeSchema,
    rel: RelSchema,
    batch: DataFrame,
    update_tag: int,
    params: dict[str, Any] | None = None,
) -> DataFrame:
    """Join batch rows to the target node table via the matcher, orient
    (src_id, dst_id) by ``rel.stored_edge``, and MERGE into the edge table.

    A target label absent from the catalog matches ZERO nodes (Cypher
    MATCH semantics: the reference's MERGE query simply binds no target
    rows, tx.py:846-921) — so a partial sync that loads a label before
    its relationship targets creates no edges rather than failing."""
    if rel.target_node_label not in catalog.nodes:
        return local_frame(
            batch.sparkSession, [], "src_id string, dst_id string, lastupdated long, firstseen long"
        )
    target = catalog.node(rel.target_node_label)
    src_id = schema.properties["id"].expr(params).cast("string")
    rows = batch.withColumn("__src_id", src_id).filter(F.col("__src_id").isNotNull())

    cond = _matcher_condition(rel.target_node_matcher, target, params)
    # small target tables (tenants/dims) broadcast; Catalyst/AQE decides
    matched = rows.join(target, cond, "inner")  # OPTIONAL MATCH tolerance: missing targets drop
    key, own_col, target_col = rel.stored_edge(schema.label)
    ids = {own_col: F.col("__src_id"), target_col: target["id"]}
    edge_cols = [ids["src_id"].alias("src_id"), ids["dst_id"].alias("dst_id")]
    for out_name, ref in rel.properties.items():
        edge_cols.append(ref.expr(params).alias(out_name))
    edges = matched.select(*edge_cols).dropDuplicates(["src_id", "dst_id"])
    catalog.edges[key] = merged = merge(catalog.edges.get(key), edges, ["src_id", "dst_id"], update_tag)
    return merged


def load(
    catalog: GraphCatalog,
    schema: NodeSchema,
    batch: DataFrame,
    update_tag: int,
    params: dict[str, Any] | None = None,
    scope_col: str | None = None,
    scope_value: Any | None = None,
) -> DataFrame:
    """The reference's ``load()`` (client/core/tx.py:783-845): upsert nodes,
    then attach all declared relationships. Nodes commit before edges so
    edges always reference existing ids (SURVEY §7.3 atomicity note).
    ``scope_col``/``scope_value`` select the tenant-scoped merge fast path
    (see :func:`upsert_nodes`)."""
    merged = upsert_nodes(catalog, schema, batch, update_tag, params, scope_col, scope_value)
    attach_relationships(catalog, schema, batch, update_tag, params)
    return merged
