"""Declarative schema layer — the Spark-native port of the reference's
dataclass schema system.

Reference anatomy (all file:line into /root/reference):
- ``CartographyNodeSchema``     cartography/models/core/nodes.py:176-284
- ``CartographyNodeProperties`` cartography/models/core/nodes.py:14-70
  (``id``/``lastupdated`` mandatory :48-49; ``firstseen`` engine-set :65-70)
- ``CartographyRelSchema``      cartography/models/core/relationships.py:262-426
- ``PropertyRef`` flags         cartography/models/core/common.py:38-128
  (ignore_case / fuzzy_and_ignore_case / one_to_many / set_in_kwargs)
- ``ExtraNodeLabel.when``       cartography/models/core/nodes.py:145-147

Here a schema compiles to DataFrame transformations instead of Cypher text:
``PropertyRef`` becomes a column expression; matcher flags select the join
strategy used when attaching relationships (see operators/upsert.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F


class LinkDirection(Enum):
    """Reference: relationships.py:13-27."""

    INWARD = "INWARD"
    OUTWARD = "OUTWARD"


@dataclass(frozen=True)
class PropertyRef:
    """Binds an output property to a batch column or a query parameter.

    ``set_in_kwargs=True`` -> the value comes from the load call's params
    (``F.lit``), else from the batch row (``F.col``) — reference
    common.py:146-172. The matcher flags change join semantics
    (common.py:38-128).
    """

    name: str
    set_in_kwargs: bool = False
    ignore_case: bool = False
    fuzzy_and_ignore_case: bool = False
    one_to_many: bool = False

    def expr(self, params: dict[str, Any] | None = None) -> Column:
        if self.set_in_kwargs:
            if params is None or self.name not in params:
                raise KeyError(f"parameter ${self.name} not supplied")
            return F.lit(params[self.name])
        return F.col(self.name)


@dataclass(frozen=True)
class ExtraNodeLabel:
    """Extra label, optionally conditional on a property value
    (reference nodes.py:88-147; ``.when()`` at :145-147). Stored as the
    ``labels`` array column on the node table."""

    label: str
    when_property: str | None = None
    when_value: Any = None

    def condition(self) -> Column:
        if self.when_property is None:
            return F.lit(True)
        return F.col(self.when_property) == F.lit(self.when_value)


@dataclass(frozen=True)
class TargetNodeMatcher:
    """Mapping of target-node key column -> PropertyRef on the batch row
    (reference relationships.py:132-169)."""

    keys: dict[str, PropertyRef]


@dataclass(frozen=True)
class RelSchema:
    """Relationship declaration (reference relationships.py:262-426).

    ``direction=OUTWARD``: (source)-[rel]->(target);
    ``INWARD``: (source)<-[rel]-(target). The edge table is always stored
    with physical columns (src_id, dst_id) following the arrow.
    """

    rel_label: str
    target_node_label: str
    target_node_matcher: TargetNodeMatcher
    direction: LinkDirection = LinkDirection.OUTWARD
    properties: dict[str, PropertyRef] = field(default_factory=dict)

    def stored_edge(self, label: str) -> tuple[tuple[str, str, str], str, str]:
        """Where this relationship, declared on ``label`` nodes, is stored:
        the edge-table key, the id column holding ``label``'s nodes and the
        id column holding the target's. The only place that reads
        ``direction`` to orient an edge."""
        if self.direction == LinkDirection.INWARD:
            return (self.target_node_label, self.rel_label, label), "dst_id", "src_id"
        return (label, self.rel_label, self.target_node_label), "src_id", "dst_id"


@dataclass(frozen=True)
class NodeSchema:
    """Node declaration (reference nodes.py:176-284).

    ``properties`` maps output column name -> PropertyRef; its ``"id"``
    entry is mandatory and is the upsert key;
    ``sub_resource_relationship`` is the tenant edge (nodes.py:215-235);
    ``scoped_cleanup`` controls whether stale-deletes are tenant-scoped
    (nodes.py:265-284).
    """

    label: str
    properties: dict[str, PropertyRef]
    sub_resource_relationship: RelSchema | None = None
    other_relationships: tuple[RelSchema, ...] = ()
    extra_node_labels: tuple[ExtraNodeLabel, ...] = ()
    scoped_cleanup: bool = True

    def all_relationships(self) -> tuple[RelSchema, ...]:
        rels = tuple(self.other_relationships)
        if self.sub_resource_relationship is not None:
            rels = (self.sub_resource_relationship, *rels)
        return rels
