"""Schema introspection: reflection over declared NodeSchema/RelSchema
objects — the port of cartography/models/introspection.py:160-237
(``Property`` / ``Node`` / ``Relationship`` records used by docs tooling).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from cartography_spark.schema import NodeSchema


@dataclass(frozen=True)
class PropertyInfo:
    name: str
    source_column: str
    from_params: bool


@dataclass(frozen=True)
class RelationshipInfo:
    rel_label: str
    target_label: str
    direction: str
    matcher_keys: tuple[str, ...]
    is_sub_resource: bool


@dataclass(frozen=True)
class NodeInfo:
    label: str
    properties: tuple[PropertyInfo, ...]
    relationships: tuple[RelationshipInfo, ...]
    extra_labels: tuple[str, ...]
    scoped_cleanup: bool


def describe_schema(schema: NodeSchema) -> NodeInfo:
    """Reflect one declared schema into typed records
    (introspection.py:160-237)."""
    props = tuple(
        PropertyInfo(name=n, source_column=ref.name, from_params=ref.set_in_kwargs)
        for n, ref in schema.properties.items()
    )
    rels = []
    for rel in schema.all_relationships():
        rels.append(
            RelationshipInfo(
                rel_label=rel.rel_label,
                target_label=rel.target_node_label,
                direction=rel.direction.name,
                matcher_keys=tuple(rel.target_node_matcher.keys),
                is_sub_resource=(rel is schema.sub_resource_relationship),
            )
        )
    return NodeInfo(
        label=schema.label,
        properties=props,
        relationships=tuple(rels),
        extra_labels=tuple(el.label for el in schema.extra_node_labels),
        scoped_cleanup=schema.scoped_cleanup,
    )


def schemas_to_df(spark, schemas: list[NodeSchema]) -> DataFrame:
    """One row per (label, property) — the docs-tooling table shape."""
    rows = []
    for s in schemas:
        info = describe_schema(s)
        for p in info.properties:
            rows.append((info.label, p.name, p.source_column, p.from_params))
    return spark.createDataFrame(
        rows, "label string, property string, source_column string, from_params boolean"
    )

