"""Typed analysis DSL — the reference's "second compiler"
(cartography/graph/analysis.py:12-260 IR; compiled by
graph/analysisbuilder.py:36-556 to Cypher writes + auto-generated cleanup).

Spark-native: an ``AnalysisStatement`` holds a *matcher* (a function
``catalog -> DataFrame`` — typically built with plans.query.match) and a
list of typed effects compiled to DataFrame rewrites. Every effect but
``AddRelationship`` writes through one keyed update (``_keyed_update``):
left-join a frame unique on the table's key, then set its columns in one
projection.

- ``SetProperties``           analysis.py:71-88   -> one keyed update sets all
  (``SetProperty`` = one prop)                        props + ``<prop>__tag``
- ``AddToSet``                analysis.py:114-132 -> keyed update with
  ``AddValuesToSet``                                  array_distinct(concat(...))
- ``SetRelationshipProperty`` analysis.py:90-112  -> keyed update on
                                                     (src_id, dst_id)
- ``AddRelationship``         analysis.py:134-150 -> MERGE into a derived
                                                     edge table

Auto-cleanup (analysisbuilder.py:132-165,385-490): derived properties are
cleared on nodes NOT matched in the current run; derived edges with
``lastupdated <> tag`` are deleted — same anti-join shape as §2.7 cleanup.
A scoped job marks its scope with the same keyed update, so other
tenants' rows are never cleaned.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.upsert import merge
from cartography_spark.schema import LinkDirection, RelSchema, TargetNodeMatcher

Matcher = Callable[[GraphCatalog], DataFrame]


@dataclass(frozen=True)
class ScopeById:
    """Restrict an AnalysisJob — matches AND generated cleanup — to the
    sub-resources of one scoping node (reference analysis.py:12-24
    ScopeById; compiled as a ``(scope {id: $param})-[:RESOURCE]->(var)``
    match prefix by analysisbuilder.py:173-194).

    ``id_param`` names the key in ``AnalysisJob.run(params=...)`` holding
    the scope node's id; ``scope_on`` names the matched-frame COLUMN
    (one string for every statement, or one per statement in order)
    whose ids must belong to the scope. Spark-native compilation: the
    member-id set is read from the catalog's ``rel_label`` edge tables
    touching ``label`` and semi-joined onto each statement's matched
    frame; effect cleanup receives the same id set so out-of-scope
    derived state (other tenants) is never clobbered — the multi-tenant
    guarantee the reference gets from the Cypher scope prefix."""

    label: str
    id_param: str
    rel_label: str = "RESOURCE"
    scope_on: str | tuple[str, ...] | None = None
    # The reference leans on Neo4j's globally-unique node ids (ARNs); in a
    # label-keyed catalog, raw fixture ids collide across labels, so the
    # member set can optionally be typed to the label(s) the scoped
    # statements actually touch.
    member_label: str | None = None


def _scope_member_ids(catalog: GraphCatalog, scope: ScopeById, scope_id: Any) -> DataFrame:
    """ids of nodes attached to the scope node via ``rel_label`` edges,
    whichever way each member label declares the edge; restricted to
    ``member_label`` edge tables when set."""
    members = (
        (scope.member_label,)
        if scope.member_label is not None
        else dict.fromkeys(label for sl, _, dl in catalog.edges for label in (sl, dl))
    )
    parts: dict[tuple[str, str, str], DataFrame] = {}
    for member in members:
        for direction in LinkDirection:
            # the membership edge as the member would declare it
            rel = RelSchema(scope.rel_label, scope.label, TargetNodeMatcher({}), direction)
            key, member_col, scope_col = rel.stored_edge(member)
            if key in catalog.edges and key not in parts:
                scoped = catalog.edges[key].filter(F.col(scope_col) == scope_id)
                parts[key] = scoped.select(F.col(member_col).alias("id"))
    if not parts:
        raise KeyError(
            f"no {scope.rel_label!r} edges touching label {scope.label!r} in the catalog"
        )
    return reduce(DataFrame.unionByName, parts.values()).distinct()


def _keyed_update(
    table: DataFrame, frame: DataFrame, keys: list[str], cols: dict[str, Column]
) -> DataFrame:
    """Left-join ``frame`` (unique on ``keys``) onto ``table`` and set
    ``cols`` in one projection: the table's other columns keep their order,
    then each of ``cols`` follows in order, replacing the table's column of
    that name (a SET's drop-and-append). ``frame``'s other columns are seen
    only by the ``cols`` expressions. Every property and set effect, and
    the scope mark of scoped cleanup, writes through it."""
    joined = table.join(frame, keys, "left")
    kept = [F.col(c) for c in table.columns if c not in cols]
    return joined.select(*kept, *[expr.alias(c) for c, expr in cols.items()])


def _mark_scope(
    table: DataFrame, scope_ids: DataFrame | None, key: str
) -> tuple[DataFrame, Column]:
    """``table`` with an ``__in_scope`` mark on rows whose ``key`` is one of
    ``scope_ids``, and the condition "row is outside the scope" — never true
    without ``scope_ids``. Scoped cleanup spares the rows outside."""
    if scope_ids is None:
        return table, F.lit(False)
    mark = scope_ids.select(F.col("id").alias(key), F.lit(True).alias("__in_scope"))
    marked = _keyed_update(table, mark, [key], {"__in_scope": F.col("__in_scope")})
    return marked, F.col("__in_scope").isNull()


@dataclass(frozen=True)
class SetProperties:
    """Set each ``properties`` item (prop -> Column or literal) on nodes of
    ``target_label`` whose id is in the matched frame's ``id_col`` (reference
    analysis.py:71-88 SetProperty/SetProperties) — one join for all of them,
    so with duplicate matched ids every value comes from the same row.

    SET touches only matched nodes (reference SET semantics): values written
    by earlier statements in the same run survive. A companion audit column
    ``<prop>__tag`` records the run that last set each value; auto-cleanup
    then nulls values not refreshed in the current run — the Spark analog of
    the generated ``REMOVE`` statements (analysisbuilder.py:385-490).
    Setting an explicit ``None`` value is indistinguishable from "not set"
    and is therefore cleaned; the reference uses REMOVE for that too."""

    target_label: str
    id_col: str
    properties: dict[str, Any]

    def apply(self, catalog: GraphCatalog, matched: DataFrame, update_tag: int) -> None:
        table = catalog.node(self.target_label)
        vals = matched.select(
            F.col(self.id_col).alias("id"),
            *[_as_col(v).alias(f"__v{i}") for i, v in enumerate(self.properties.values())],
        ).dropDuplicates(["id"])
        stamp = F.lit(update_tag).cast("long")
        cols: dict[str, Column] = {}
        for i, prop in enumerate(self.properties):
            v, tagc = F.col(f"__v{i}"), f"{prop}__tag"
            value, tag = v, F.when(v.isNotNull(), stamp)
            if prop in table.columns:
                value = F.coalesce(v, F.col(prop))
                if tagc in table.columns:
                    tag = tag.otherwise(F.col(tagc))
            cols |= {prop: value, tagc: tag}
        catalog.nodes[self.target_label] = _keyed_update(table, vals, ["id"], cols)

    def cleanup(
        self, catalog: GraphCatalog, update_tag: int, scope_ids: DataFrame | None = None
    ) -> None:
        """Null out values whose tag was not refreshed this run (REMOVE).
        With ``scope_ids``, only in-scope nodes are cleaned — other
        tenants' derived values survive (scoped generated cleanup,
        analysisbuilder.py:385-490 with the ScopeById prefix)."""
        table = catalog.node(self.target_label)
        marked, outside = _mark_scope(table, scope_ids, "id")
        cleared: dict[str, Column] = {}
        for prop in self.properties:
            tagc = f"{prop}__tag"
            if prop in table.columns and tagc in table.columns:
                keep = (F.col(tagc) == update_tag) | outside
                cleared |= {prop: F.when(keep, F.col(prop)), tagc: F.when(keep, F.col(tagc))}
        if cleared:
            catalog.nodes[self.target_label] = marked.withColumns(cleared).drop("__in_scope")


def SetProperty(target_label: str, id_col: str, prop: str, value: Any) -> SetProperties:
    """Set ``prop`` = ``value`` on the matched nodes: the one-property
    :class:`SetProperties` (reference analysis.py:71-80)."""
    return SetProperties(target_label, id_col, {prop: value})


def _add_to_set(catalog: GraphCatalog, label: str, prop: str, vals: DataFrame) -> None:
    """Append each node's matched values (``vals``: id, __v) to the array
    property ``prop`` of ``label``, dedup'd — the coalesce(n.p, []) + filter
    idiom of AddToSet and AddValuesToSet (analysisbuilder.py:285-307)."""
    vals = vals.groupBy("id").agg(F.collect_set("__v").alias("__vs"))
    table = catalog.node(label)
    # never-set base is a typed NULL (not an empty array: unmatched
    # nodes must keep the property NULL); the cast matches the VALUE's
    # element type so concat typechecks for e.g. int sets
    base = (
        F.col(prop)
        if prop in table.columns
        else F.lit(None).cast(vals.schema["__vs"].dataType.simpleString())
    )
    # SET only fires on MATCHED nodes (reference analysisbuilder.py:
    # 285-307 compiles MATCH ... SET): unmatched nodes — and matches
    # contributing only NULL values — keep their previous property
    # (NULL if never set); they do NOT gain an empty array. Surfaced
    # by the one orderless customer at sf0.1.
    appended = F.array_distinct(F.concat(F.coalesce(base, F.array()), F.col("__vs")))
    newcol = F.when(F.size(F.col("__vs")) > 0, appended).otherwise(base)
    catalog.nodes[label] = _keyed_update(table, vals, ["id"], {prop: newcol})


@dataclass(frozen=True)
class AddToSet:
    """Append ``value`` to the array property ``prop``, dedup'd —
    coalesce(n.p, []) + filter idiom (analysisbuilder.py:285-307)."""

    target_label: str
    id_col: str
    prop: str
    value: Any

    def apply(self, catalog: GraphCatalog, matched: DataFrame, update_tag: int) -> None:
        vals = matched.select(F.col(self.id_col).alias("id"), _as_col(self.value).alias("__v"))
        _add_to_set(catalog, self.target_label, self.prop, vals)

    def cleanup(
        self, catalog: GraphCatalog, update_tag: int, scope_ids: DataFrame | None = None
    ) -> None:
        pass


@dataclass(frozen=True)
class AddRelationship:
    """Create derived edges (src_col -> dst_col) in the edge table
    (src_label, rel_label, dst_label); e.g. STS_ASSUMEROLE_ALLOW from the
    instance->profile->role chain (analysis/aws/analysis.py:10-29)."""

    src_label: str
    rel_label: str
    dst_label: str
    src_col: str
    dst_col: str

    def key(self) -> tuple[str, str, str]:
        return (self.src_label, self.rel_label, self.dst_label)

    def apply(self, catalog: GraphCatalog, matched: DataFrame, update_tag: int) -> None:
        edges = matched.select(
            F.col(self.src_col).alias("src_id"), F.col(self.dst_col).alias("dst_id")
        ).dropDuplicates(["src_id", "dst_id"])
        catalog.edges[self.key()] = merge(catalog.edges.get(self.key()), edges, ["src_id", "dst_id"], update_tag)

    def cleanup(
        self, catalog: GraphCatalog, update_tag: int, scope_ids: DataFrame | None = None
    ) -> None:
        """Auto-cleanup: drop derived edges not refreshed this run
        (analysisbuilder.py:385-490). With ``scope_ids``, only edges whose
        SOURCE is in scope are candidates (reference scoped_to="source"
        default) — other tenants' derived edges survive."""
        key = self.key()
        if key not in catalog.edges:
            return
        marked, outside = _mark_scope(catalog.edges[key], scope_ids, "src_id")
        fresh = F.col("lastupdated") == update_tag
        catalog.edges[key] = marked.filter(fresh | outside).drop("__in_scope")


@dataclass(frozen=True)
class SetRelationshipProperty:
    """Set a property on matched edges (analysis.py:90-112).
    ``if_missing=True`` only fills nulls."""

    edge_key: tuple[str, str, str]
    src_col: str
    dst_col: str
    prop: str
    value: Any
    if_missing: bool = False

    def apply(self, catalog: GraphCatalog, matched: DataFrame, update_tag: int) -> None:
        sel = matched.select(
            F.col(self.src_col).alias("src_id"),
            F.col(self.dst_col).alias("dst_id"),
            _as_col(self.value).alias("__v"),
        ).dropDuplicates(["src_id", "dst_id"])
        edges = catalog.edge(*self.edge_key)
        if self.prop not in edges.columns:
            newcol = F.col("__v")
        elif self.if_missing:
            newcol = F.coalesce(F.col(self.prop), F.col("__v"))
        else:
            newcol = F.coalesce(F.col("__v"), F.col(self.prop))
        catalog.edges[self.edge_key] = _keyed_update(
            edges, sel, ["src_id", "dst_id"], {self.prop: newcol}
        )

    def cleanup(
        self, catalog: GraphCatalog, update_tag: int, scope_ids: DataFrame | None = None
    ) -> None:
        pass


@dataclass(frozen=True)
class AddValuesToSet:
    """Append MULTIPLE values to the array property ``prop``, dedup'd — the
    reference's AddValuesToSet (analysis.py:114-132 family; compiled as the
    same coalesce(n.p,[]) + filter idiom with one term per value,
    analysisbuilder.py:285-307)."""

    target_label: str
    id_col: str
    prop: str
    values: tuple[Any, ...]

    def apply(self, catalog: GraphCatalog, matched: DataFrame, update_tag: int) -> None:
        vals = matched.select(
            F.col(self.id_col).alias("id"),
            F.explode(F.array(*[_as_col(v) for v in self.values])).alias("__v"),
        )
        _add_to_set(catalog, self.target_label, self.prop, vals)

    def cleanup(
        self, catalog: GraphCatalog, update_tag: int, scope_ids: DataFrame | None = None
    ) -> None:
        pass


def SetRelationshipPropertyIfMissing(
    edge_key: tuple[str, str, str], src_col: str, dst_col: str, prop: str, value: Any
) -> SetRelationshipProperty:
    """Reference parity constructor (analysis.py:104-112): set a property on
    matched edges only where it is currently null — existing values win."""
    return SetRelationshipProperty(edge_key, src_col, dst_col, prop, value, if_missing=True)


def _as_col(v: Any) -> Column:
    return v if isinstance(v, Column) else F.lit(v)


Effect = SetProperties | AddToSet | AddValuesToSet | AddRelationship | SetRelationshipProperty


@dataclass(frozen=True)
class AnalysisStatement:
    """match + effects (reference analysis.py:39-68).

    ``incremental_on`` (reference analysis.py:28-36 IncrementalMatch;
    analysisbuilder.py:195-232) names columns of the MATCHED frame that
    carry ``lastupdated`` values; when the job runs with
    ``incremental=True`` (a stock sync run), matched rows are gated on
    every named column equalling the current update tag — so the statement
    only acts on entities refreshed this sync."""

    matcher: Matcher
    effects: tuple[Effect, ...]
    incremental_on: tuple[str, ...] = field(default=())


@dataclass(frozen=True)
class AnalysisJob:
    """Ordered statements, fail-fast, with auto-cleanup of effects after all
    statements ran (reference graph/job.py:133-254 execution contract)."""

    name: str
    statements: tuple[AnalysisStatement, ...]
    scope: ScopeById | None = None

    def run(
        self,
        catalog: GraphCatalog,
        update_tag: int,
        incremental: bool = False,
        params: dict[str, Any] | None = None,
    ) -> None:
        scope_ids: DataFrame | None = None
        scope_cols: tuple[str, ...] = ()
        if self.scope is not None:
            if self.scope.scope_on is None:
                raise ValueError("Scoped AnalysisJob requires ScopeById.scope_on.")
            so = self.scope.scope_on
            scope_cols = (
                (so,) * len(self.statements) if isinstance(so, str) else tuple(so)
            )
            if len(scope_cols) != len(self.statements):
                raise ValueError(
                    "ScopeById.scope_on must contain one column per statement."
                )
            if params is None or self.scope.id_param not in params:
                raise KeyError(f"missing scope parameter {self.scope.id_param!r}")
            scope_ids = _scope_member_ids(
                catalog, self.scope, params[self.scope.id_param]
            ).localCheckpoint(eager=True)  # reused by every statement + cleanup
        for i, stmt in enumerate(self.statements):
            matched = stmt.matcher(catalog)
            if scope_ids is not None:
                matched = matched.join(
                    scope_ids.select(F.col("id").alias(scope_cols[i])),
                    scope_cols[i],
                    "left_semi",
                )
            if incremental and stmt.incremental_on:
                for col in stmt.incremental_on:
                    matched = matched.filter(F.col(col) == update_tag)
            for effect in stmt.effects:
                effect.apply(catalog, matched, update_tag)
        for stmt in self.statements:
            for effect in stmt.effects:
                effect.cleanup(catalog, update_tag, scope_ids=scope_ids)
