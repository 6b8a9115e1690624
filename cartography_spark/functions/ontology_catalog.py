"""Cross-provider ontology catalog: the full 42-label semantic catalog and
the module->ontology field-mapping spec compiler.

Reference: cartography/models/ontology/labels.py (42 ``ExtraNodeLabel``
records, kind=ONTOLOGY) and models/ontology/mapping/specs.py
(``OntologyFieldMapping`` / ``OntologyNodeMapping`` with eight
``special_handling`` transforms). The reference attaches these
labels at ingest and materializes ``_ont_<field>`` properties per node;
here the label catalog is a first-class dimension table and a mapping spec
compiles to ONE Spark ``select`` of Column expressions (whole-stage
codegen), with required-field eligibility as a filter.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cartography_spark.functions.ontology import (
    equal_boolean,
    invert_boolean,
    nor_boolean,
    ont_coalesce,
    or_boolean,
    to_boolean,
    value_mapping,
)

# --- label catalog (labels.py:1-295) ---------------------------------------

_CROSS = "A cross-provider {0} resource in Cartography's ontology."

#: (label, description) for every semantic label in the reference catalog.
ONTOLOGY_LABELS: tuple[tuple[str, str], ...] = tuple(
    (name, desc)
    for name, desc in [
        ("AIModel", _CROSS.format("AIModel")),
        ("APIKey", _CROSS.format("APIKey")),
        ("BlockStorage", _CROSS.format("BlockStorage")),
        ("CICDPipeline", _CROSS.format("CICDPipeline")),
        ("CVE", _CROSS.format("CVE")),
        ("Certificate", _CROSS.format("Certificate")),
        ("CodeRepository", _CROSS.format("CodeRepository")),
        ("ComputeCluster", _CROSS.format("ComputeCluster")),
        ("ComputeInstance", _CROSS.format("ComputeInstance")),
        ("ComputeNamespace", _CROSS.format("ComputeNamespace")),
        ("ComputePod", _CROSS.format("ComputePod")),
        ("ComputeService", _CROSS.format("ComputeService")),
        ("Container", _CROSS.format("Container")),
        ("ContainerRegistry", _CROSS.format("ContainerRegistry")),
        ("DNSRecord", _CROSS.format("DNSRecord")),
        ("DNSZone", _CROSS.format("DNSZone")),
        ("Database", _CROSS.format("Database")),
        ("EncryptionKey", _CROSS.format("EncryptionKey")),
        ("FileStorage", _CROSS.format("FileStorage")),
        ("Function", _CROSS.format("Function")),
        ("IdentityProvider", _CROSS.format("IdentityProvider")),
        ("Image", "A concrete single-platform container image."),
        ("ImageAttestation", _CROSS.format("ImageAttestation")),
        ("ImageLayer", _CROSS.format("ImageLayer")),
        ("ImageManifestList", _CROSS.format("ImageManifestList")),
        ("ImageTag", _CROSS.format("ImageTag")),
        ("LoadBalancer", _CROSS.format("LoadBalancer")),
        ("NetworkAccessControl", _CROSS.format("NetworkAccessControl")),
        ("ObjectStorage", _CROSS.format("ObjectStorage")),
        ("Ontology", "A canonical node managed by Cartography's cross-provider ontology."),
        ("PermissionRole", _CROSS.format("PermissionRole")),
        ("Secret", _CROSS.format("Secret")),
        ("SecurityIssue", _CROSS.format("SecurityIssue")),
        ("ServiceAccount", _CROSS.format("ServiceAccount")),
        ("Snapshot", _CROSS.format("Snapshot")),
        ("Subnet", _CROSS.format("Subnet")),
        ("Tag", _CROSS.format("Tag")),
        ("Tenant", _CROSS.format("Tenant")),
        ("ThirdPartyApp", _CROSS.format("ThirdPartyApp")),
        ("UserAccount", "An identity on a specific system or service."),
        ("UserGroup", _CROSS.format("UserGroup")),
        ("VirtualNetwork", _CROSS.format("VirtualNetwork")),
    ]
)


def labels_df(spark) -> DataFrame:
    """The label catalog as a dimension table (kind is uniformly
    'ONTOLOGY' in the reference catalog)."""
    return spark.createDataFrame(
        [(n, d, "ONTOLOGY") for n, d in ONTOLOGY_LABELS],
        "label string, description string, kind string",
    )


# --- mapping specs (mapping/specs.py) --------------------------------------


@dataclass(frozen=True)
class OntologyFieldMapping:
    """One ontology field <- module node field (specs.py:6-44)."""

    ontology_field: str
    node_field: str
    required: bool = False
    special_handling: str | None = None
    extra: dict[str, Any] = field(default_factory=dict)
    indexed: bool = True  # advisory only: Spark has no value-size index limit


@dataclass(frozen=True)
class OntologyNodeMapping:
    node_label: str
    fields: tuple[OntologyFieldMapping, ...]
    eligible_for_source: bool = True


def compile_field(m: OntologyFieldMapping) -> Column:
    """Dispatch a mapping's ``special_handling`` to the Column-expression
    transforms of functions/ontology.py (the eight reference handlers,
    specs.py:20-31)."""
    h = m.special_handling
    if h is None:
        return F.col(m.node_field)
    if h == "invert_boolean":
        return invert_boolean(m.node_field)
    if h == "to_boolean":
        # querybuilder.py:41-56: coalesce(toBooleanOrNull(x), x IS NOT NULL)
        # — castable values keep their truth, other non-nulls are true,
        # null/absent is false.
        return F.coalesce(to_boolean(m.node_field), F.col(m.node_field).isNotNull())
    if h == "or_boolean":
        return or_boolean(*m.extra["fields"])
    if h == "nor_boolean":
        return nor_boolean(*m.extra["fields"])
    if h == "equal_boolean":
        return equal_boolean(m.node_field, m.extra["value"])
    if h == "static_value":
        return F.lit(m.extra["value"])
    if h == "mapping":
        return value_mapping(m.node_field, m.extra["map"])
    if h == "coalesce":
        return ont_coalesce(m.node_field, *m.extra.get("fields", ()))
    raise ValueError(f"unknown special_handling {h!r}")


def apply_node_mapping(df: DataFrame, nm: OntologyNodeMapping) -> DataFrame:
    """Attach every ``_ont_<field>`` column in one select, then apply
    required-field eligibility: rows missing a required ontology field are
    NOT eligible to source an ontology node (specs.py:47-62) — surfaced as
    ``_ont_eligible`` so callers can filter or audit."""
    proj = df.select(
        "*", *[compile_field(f).alias(f"_ont_{f.ontology_field}") for f in nm.fields]
    )
    required = [f"_ont_{f.ontology_field}" for f in nm.fields if f.required]
    eligible = F.lit(bool(nm.eligible_for_source))
    for c in required:
        eligible = eligible & F.col(c).isNotNull()
    return proj.withColumn("_ont_eligible", eligible)
