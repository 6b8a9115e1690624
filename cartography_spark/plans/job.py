"""GraphJob / GraphStatement: ordered, parameterized, JSON-(de)serializable
statement lists — the reference's job IR
(cartography/graph/job.py:133-548; statement.py:71-300; JSON corpus under
cartography/data/jobs/{analysis,cleanup,scoped_analysis}/).

Spark port: a statement is Spark SQL text over the catalog's registered
views, with ``$PARAM`` placeholders bound from job parameters (the
reference binds Neo4j query parameters the same way). Statements run
sequentially and fail fast (job.py:217-254). The reference's iterative
LIMIT-chunked execution (statement.py:303+) is unnecessary — each Spark
statement is one set-based job.

Write statements: a statement whose ``writes`` field names a node label (or
edge key "Src,REL,Dst") replaces that catalog table with the statement's
result — the set-based analogue of Cypher SET/DELETE statements.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.upsert import merge
from cartography_spark.sources.rows import local_frame


# A write statement whose analyzed plan has at least this many leaf
# relations is checkpointed at the statement boundary (GraphStatement.run).
CHECKPOINT_LEAF_THRESHOLD = 12


# (application, session id, view name) -> the DataFrame object currently
# registered under that view BY THIS FUNCTION (held by reference, compared
# with `is`, so a garbage-collected frame can never alias a live one).
# Re-registering an unchanged frame is a py4j round-trip + analyzer pass per
# table; a multi-statement GraphJob re-registered the WHOLE catalog before
# every statement (12 statements x ~17 tables for the cleanup-corpus ports —
# pure driver time, guide §7.3). Only frames that set_node/set_edge
# actually replaced are re-registered. Temp views are PER-SESSION, so the
# memo keys on the SparkSession identity too (the memoized frames reference
# their session, so id() cannot be recycled while an entry is live); an
# external dropTempView of an n_*/e_* view under this function's feet is
# not detected — verifying via catalog.tableExists would re-pay the py4j
# round-trip per view per statement this memo exists to remove. Not a
# session.memo: it records which frame a view holds and is overwritten.
_VIEW_STATE: dict[tuple[str, int, str], DataFrame] = {}


def register_catalog_views(catalog: GraphCatalog) -> None:
    """Expose node tables as ``n_<Label>`` and edge tables as
    ``e_<Src>__<REL>__<Dst>`` temp views for SQL statements."""
    app = catalog.spark.sparkContext.applicationId
    sess = id(catalog.spark)
    for label, df in catalog.nodes.items():
        name = f"n_{label}"
        if _VIEW_STATE.get((app, sess, name)) is not df:
            df.createOrReplaceTempView(name)
            _VIEW_STATE[(app, sess, name)] = df
    for (sl, rl, dl), df in catalog.edges.items():
        name = f"e_{sl}__{rl}__{dl}"
        if _VIEW_STATE.get((app, sess, name)) is not df:
            df.createOrReplaceTempView(name)
            _VIEW_STATE[(app, sess, name)] = df


def _bind(sql: str, params: dict[str, Any]) -> str:
    # longest-first so $UPDATE_TAG_X binds before $UPDATE_TAG
    for k in sorted(params, key=len, reverse=True):
        v = params[k]
        lit = f"'{v}'" if isinstance(v, str) else str(v)
        sql = sql.replace(f"${k}", lit)
    return sql


@dataclass(frozen=True)
class GraphStatement:
    """One parameterized SQL statement (reference statement.py:71-300)."""

    query: str
    writes: str | None = None  # node label or "Src,REL,Dst" edge key

    def run(self, catalog: GraphCatalog, params: dict[str, Any]) -> DataFrame:
        register_catalog_views(catalog)
        result = catalog.spark.sql(_bind(self.query, params))
        if self.writes:
            # Statement-boundary barrier (r8 opt §30): a written frame is
            # read by every later statement (and the idempotency re-run
            # nests the first run's whole chain), so a lazy job's plan can
            # grow multiplicatively with statement count (the backfill and
            # tenant-materialization ports accumulate 34-62 leaf relations
            # by run 2), with Catalyst analysis of that tree costing more
            # than the data. The lazy localCheckpoint executes such a
            # statement exactly once at action time — matching the
            # reference's eager per-statement execution contract
            # (graph/job.py runs statements against the store
            # sequentially). But a barrier on a SHALLOW statement is pure
            # overhead (an extra persisted RDD + stage per statement: the
            # okta port, max 4 leaves, measured +0.3-0.5 s with a blanket
            # barrier), so the barrier is gated on the analyzed plan's
            # leaf-relation count — self-regulating, since a barriered
            # statement becomes a single leaf for everything downstream,
            # capping every later statement's plan near the threshold.
            leaves = result._jdf.queryExecution().analyzed().collectLeaves().size()
            if leaves >= CHECKPOINT_LEAF_THRESHOLD:
                # Spark 4.1 can fail attribute rebinding when planning a
                # lazy checkpoint over some MERGE-shaped unions whose
                # branches read a just-swapped view
                # (NoSuchElementException: key not found: <attr>, surfacing
                # in Python as Py4JJavaError); the barrier is an
                # optimization, so fall back to the unbarriered frame for
                # exactly those statements — but only for that observed
                # JVM-side planning failure, logged once, so unrelated
                # planner errors are not swallowed silently.
                from py4j.protocol import Py4JJavaError
                from pyspark.errors import PySparkException

                try:
                    result = result.localCheckpoint(eager=False)
                except (Py4JJavaError, PySparkException) as err:
                    import logging

                    logging.getLogger(__name__).debug(
                        "statement barrier skipped (lazy localCheckpoint "
                        "failed to plan): %s",
                        str(err).splitlines()[0] if str(err) else err,
                    )
            if "," in self.writes:
                sl, rl, dl = (p.strip() for p in self.writes.split(","))
                catalog.set_edge((sl, rl, dl), result)
            else:
                catalog.set_node(self.writes, result)
        return result

    def to_dict(self) -> dict[str, Any]:
        return {"query": self.query, "writes": self.writes}

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> GraphStatement:
        return cls(query=d["query"], writes=d.get("writes"))


@dataclass(frozen=True)
class GraphJob:
    """Ordered statements, sequential, fail-fast (job.py:133-254); JSON
    round-trip matches the reference's job-file workflow (job.py:256-327)."""

    name: str
    statements: tuple[GraphStatement, ...]
    short_name: str | None = None

    def run(self, catalog: GraphCatalog, params: dict[str, Any] | None = None) -> list[DataFrame]:
        params = params or {}
        results = []
        for i, stmt in enumerate(self.statements):
            try:
                results.append(stmt.run(catalog, params))
            except Exception as exc:  # fail fast with statement context
                raise RuntimeError(
                    f"job {self.name!r} failed at statement {i}: {stmt.query[:120]}"
                ) from exc
        return results

    def as_json(self, indent: int | None = None) -> str:
        return json.dumps(
            {
                "name": self.name,
                "short_name": self.short_name,
                "statements": [s.to_dict() for s in self.statements],
            },
            indent=indent,
        )

    @classmethod
    def from_json(cls, blob: str) -> GraphJob:
        d = json.loads(blob)
        return cls(
            name=d["name"],
            short_name=d.get("short_name"),
            statements=tuple(GraphStatement.from_dict(s) for s in d["statements"]),
        )


def merge_sync_metadata(
    catalog: GraphCatalog,
    group_type: str,
    group_id: str,
    synced_type: str,
    update_tag: int,
) -> None:
    """Record sync provenance (reference util.py merge_module_sync_metadata
    :363+): one row per (group_type, group_id, synced_type)."""
    row = local_frame(
        catalog.spark,
        [(f"{group_type}:{group_id}:{synced_type}", group_type, str(group_id), synced_type)],
        "id string, grouptype string, groupid string, syncedtype string",
    )
    catalog.nodes["SyncMetadata"] = merge(catalog.nodes.get("SyncMetadata"), row, ["id"], update_tag)
