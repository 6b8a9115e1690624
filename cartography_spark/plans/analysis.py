"""Typed analysis DSL — the reference's "second compiler"
(cartography/graph/analysis.py:12-260 IR; compiled by
graph/analysisbuilder.py:36-556 to Cypher writes + auto-generated cleanup).

Spark-native: an ``AnalysisStatement`` holds a *matcher* (a function
``catalog -> DataFrame`` — typically built with plans.query.match) and a
list of typed effects compiled to DataFrame rewrites:

- ``SetProperty``            analysis.py:71-88   -> join target ids, withColumn
- ``AddToSet``               analysis.py:114-132 -> array_distinct(concat(...))
- ``AddRelationship``        analysis.py:134-150 -> edge upsert into a derived
                                                    edge table
- ``SetRelationshipProperty`` analysis.py:90-112 -> edge-table update

Auto-cleanup (analysisbuilder.py:132-165,385-490): derived properties are
cleared on nodes NOT matched in the current run; derived edges with
``lastupdated <> tag`` are deleted — same anti-join shape as §2.7 cleanup.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.upsert import merge

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
    whichever way the edge table is oriented; restricted to
    ``member_label`` edge tables when set."""
    parts = []
    for (sl, rl, dl), edf in catalog.edges.items():
        if rl != scope.rel_label:
            continue
        if scope.member_label is not None and scope.member_label not in (sl, dl):
            continue
        if sl == scope.label:
            parts.append(
                edf.filter(F.col("src_id") == scope_id).select(F.col("dst_id").alias("id"))
            )
        elif dl == scope.label:
            parts.append(
                edf.filter(F.col("dst_id") == scope_id).select(F.col("src_id").alias("id"))
            )
    if not parts:
        raise KeyError(
            f"no {scope.rel_label!r} edges touching label {scope.label!r} in the catalog"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


@dataclass(frozen=True)
class SetProperty:
    """Set ``prop`` = ``value`` on nodes of ``target_label`` whose id is in
    the matched frame's ``id_col``.

    SET touches only matched nodes (reference SET semantics): values written
    by earlier statements in the same run survive. A companion audit column
    ``<prop>__tag`` records the run that last set each value; auto-cleanup
    then nulls values not refreshed in the current run — the Spark analog of
    the generated ``REMOVE`` statements (analysisbuilder.py:385-490).
    Setting an explicit ``None`` value is indistinguishable from "not set"
    and is therefore cleaned; the reference uses REMOVE for that too."""

    target_label: str
    id_col: str
    prop: str
    value: Any  # Column or literal

    def _tag_col(self) -> str:
        return f"{self.prop}__tag"

    def apply(self, catalog: GraphCatalog, matched: DataFrame, update_tag: int) -> None:
        ids = matched.select(F.col(self.id_col).alias("id"), _as_col(self.value).alias("__v")).dropDuplicates(
            ["id"]
        )
        table = catalog.node(self.target_label)
        tagc = self._tag_col()
        has = self.prop in table.columns
        joined = table.join(ids, "id", "left")
        newval = F.coalesce(F.col("__v"), F.col(self.prop)) if has else F.col("__v")
        newtag = (
            F.when(F.col("__v").isNotNull(), F.lit(update_tag).cast("long")).otherwise(F.col(tagc))
            if has and tagc in table.columns
            else F.when(F.col("__v").isNotNull(), F.lit(update_tag).cast("long"))
        )
        out = joined.withColumn("__newv", newval).withColumn("__newt", newtag).drop("__v")
        if has:
            out = out.drop(self.prop)
        if tagc in table.columns:
            out = out.drop(tagc)
        catalog.nodes[self.target_label] = out.withColumnRenamed("__newv", self.prop).withColumnRenamed(
            "__newt", tagc
        )

    def cleanup(
        self, catalog: GraphCatalog, update_tag: int, scope_ids: DataFrame | None = None
    ) -> None:
        """Null out values whose tag was not refreshed this run (REMOVE).
        With ``scope_ids``, only in-scope nodes are cleaned — other
        tenants' derived values survive (scoped generated cleanup,
        analysisbuilder.py:385-490 with the ScopeById prefix)."""
        table = catalog.node(self.target_label)
        tagc = self._tag_col()
        if self.prop not in table.columns or tagc not in table.columns:
            return
        keep = F.col(tagc) == update_tag
        if scope_ids is not None:
            marked = table.join(
                scope_ids.withColumn("__in_scope", F.lit(True)), "id", "left"
            )
            keep = keep | F.col("__in_scope").isNull()
            catalog.nodes[self.target_label] = (
                marked.withColumn(self.prop, F.when(keep, F.col(self.prop)))
                .withColumn(tagc, F.when(keep, F.col(tagc)))
                .drop("__in_scope")
            )
            return
        catalog.nodes[self.target_label] = table.withColumn(
            self.prop, F.when(keep, F.col(self.prop))
        ).withColumn(tagc, F.when(keep, F.col(tagc)))


@dataclass(frozen=True)
class SetProperties:
    """Set MULTIPLE properties on matched nodes in one pass (reference
    analysis.py:81-88 SetProperties) — compiled as one join + N
    withColumns instead of N statements, sharing SetProperty's per-prop
    audit tag + scoped-cleanup semantics."""

    target_label: str
    id_col: str
    properties: dict[str, Any]  # prop -> Column or literal

    def _parts(self) -> tuple[SetProperty, ...]:
        return tuple(
            SetProperty(self.target_label, self.id_col, p, v)
            for p, v in self.properties.items()
        )

    def apply(self, catalog: GraphCatalog, matched: DataFrame, update_tag: int) -> None:
        # one matched frame, applied per property (each rewrite is a narrow
        # withColumn chain over the same join; Catalyst collapses the
        # projections into a single stage)
        for part in self._parts():
            part.apply(catalog, matched, update_tag)

    def cleanup(
        self, catalog: GraphCatalog, update_tag: int, scope_ids: DataFrame | None = None
    ) -> None:
        for part in self._parts():
            part.cleanup(catalog, update_tag, scope_ids=scope_ids)


def _add_to_set(catalog: GraphCatalog, label: str, prop: str, vals: DataFrame) -> None:
    """Append each node's matched values (``vals``: id, __v) to the array
    property ``prop`` of ``label``, dedup'd — the coalesce(n.p, []) + filter
    idiom of AddToSet and AddValuesToSet (analysisbuilder.py:285-307)."""
    vals = vals.groupBy("id").agg(F.collect_set("__v").alias("__vs"))
    table = catalog.node(label)
    has = prop in table.columns
    joined = table.join(vals, "id", "left")
    # never-set base is a typed NULL (not an empty array: unmatched
    # nodes must keep the property NULL); the cast matches the VALUE's
    # element type so concat typechecks for e.g. int sets
    base = (
        F.col(prop)
        if has
        else F.lit(None).cast(vals.schema["__vs"].dataType.simpleString())
    )
    # SET only fires on MATCHED nodes (reference analysisbuilder.py:
    # 285-307 compiles MATCH ... SET): unmatched nodes — and matches
    # contributing only NULL values — keep their previous property
    # (NULL if never set); they do NOT gain an empty array. Surfaced
    # by the one orderless customer at sf0.1.
    appended = F.array_distinct(F.concat(F.coalesce(base, F.array()), F.col("__vs")))
    newcol = F.when(F.size(F.col("__vs")) > 0, appended).otherwise(base)
    out = joined.withColumn("__new", newcol).drop("__vs")
    if has:
        out = out.drop(prop)
    catalog.nodes[label] = out.withColumnRenamed("__new", prop)


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
        edges = catalog.edges[key]
        fresh = F.col("lastupdated") == update_tag
        if scope_ids is not None:
            marked = edges.join(
                scope_ids.select(F.col("id").alias("src_id")).withColumn(
                    "__in_scope", F.lit(True)
                ),
                "src_id",
                "left",
            )
            catalog.edges[key] = marked.filter(
                fresh | F.col("__in_scope").isNull()
            ).drop("__in_scope")
            return
        catalog.edges[key] = edges.filter(fresh)


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
        has = self.prop in edges.columns
        joined = edges.join(sel, ["src_id", "dst_id"], "left")
        if has and self.if_missing:
            newcol = F.coalesce(F.col(self.prop), F.col("__v"))
        elif has:
            newcol = F.coalesce(F.col("__v"), F.col(self.prop))
        else:
            newcol = F.col("__v")
        out = joined.withColumn("__new", newcol).drop("__v")
        if has:
            out = out.drop(self.prop)
        catalog.edges[self.edge_key] = out.withColumnRenamed("__new", self.prop)

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


Effect = (
    SetProperty
    | SetProperties
    | AddToSet
    | AddValuesToSet
    | AddRelationship
    | SetRelationshipProperty
)


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
