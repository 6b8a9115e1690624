"""Drift-state archive: the reference's per-query directory lifecycle
(driftdetect/storage.py FileSystem; get_states.py:24-160 run_get_states /
get_query_state; add_shortcut.py; detect_deviations.py:19-91).

Layout (mirrors the reference's drift-detection directory):

    <root>/<query-name>/template.json      {name, validation_query, properties}
    <root>/<query-name>/<timestamp>.json   state snapshots (sorted keys)
    <root>/<query-name>/shortcut.json      {"shortcuts": {"most-recent": file}}

``get_states`` walks every query directory, runs each template's
validation query, persists a timestamped state file and repoints the
``most-recent`` shortcut — exactly the reference's sync loop. ``detect``
resolves start/end through shortcuts, then validates that both states
came from the same name/query/properties before diffing
(detect_deviations.py:70-91).

The state payload stores one list-of-strings per row with list-valued
columns '|'-joined (serializers.py:9-28 storage format); results are
bounded by the validation query, not the table size.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from cartography_spark.plans.drift import DriftState, compare_states, snapshot
from cartography_spark.sources.rows import local_frame


def _write_json(data: dict, path: str) -> None:
    with open(path, "w") as f:
        json.dump(data, f, sort_keys=True, indent=4)
        f.write("\n")


def _load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def init_query(root: str, name: str, validation_query: str) -> str:
    """Create a query directory with its template (the reference's
    template.json contract: name + validation_query; properties filled at
    get-state time)."""
    qdir = os.path.join(root, name)
    os.makedirs(qdir, exist_ok=True)
    path = os.path.join(qdir, "template.json")
    _write_json({"name": name, "validation_query": validation_query, "properties": []}, path)
    return path


def walk_queries(root: str):
    """Yield query directories that carry a template (storage.py walk)."""
    if not os.path.isdir(root):
        return
    for entry in sorted(os.listdir(root)):
        qdir = os.path.join(root, entry)
        if os.path.isdir(qdir) and os.path.isfile(os.path.join(qdir, "template.json")):
            yield qdir


def add_shortcut(qdir: str, alias: str, filename: str) -> None:
    """Point ``alias`` at a state file (add_shortcut.py)."""
    path = os.path.join(qdir, "shortcut.json")
    data = _load_json(path) if os.path.isfile(path) else {"shortcuts": {}}
    data["shortcuts"][alias] = filename
    _write_json(data, path)


def resolve_shortcut(qdir: str, alias_or_file: str) -> str:
    path = os.path.join(qdir, "shortcut.json")
    if os.path.isfile(path):
        return _load_json(path)["shortcuts"].get(alias_or_file, alias_or_file)
    return alias_or_file


def get_states(
    root: str,
    run_query: Callable[[str], DataFrame],
    filename: str | None = None,
) -> list[str]:
    """Run every template's validation query, persist a timestamped state
    per query directory, repoint ``most-recent`` (get_states.py:24-110).

    One shared filename per sweep (the reference uses one gmtime stamp for
    the whole run) so cross-query states of a sync align."""
    filename = filename or ".".join([str(i) for i in time.gmtime()] + ["json"])
    written = []
    for qdir in walk_queries(root):
        tpl = _load_json(os.path.join(qdir, "template.json"))
        state = snapshot(tpl["name"], run_query(tpl["validation_query"]))
        payload = {
            "name": tpl["name"],
            "validation_query": tpl["validation_query"],
            "properties": list(state.properties),
            "results": [
                ["" if v is None else str(v) for v in row] for row in state.results.collect()
            ],
        }
        path = os.path.join(qdir, filename)
        _write_json(payload, path)
        add_shortcut(qdir, "most-recent", filename)
        written.append(path)
    return written


def load_state(spark: SparkSession, root: str, name: str, alias_or_file: str) -> DriftState:
    """Load a state by shortcut alias or filename into a DriftState whose
    results DataFrame mirrors the stored flat-string rows."""
    qdir = os.path.join(root, name)
    fname = resolve_shortcut(qdir, alias_or_file)
    payload = _load_json(os.path.join(qdir, fname))
    props = payload["properties"]
    schema = StructType([StructField(p, StringType()) for p in props])
    df = local_frame(spark, payload["results"], schema)
    return DriftState(
        name=payload["name"],
        properties=tuple(props),
        results=df,
        query=payload.get("validation_query"),
    )


def perform_drift_detection(start: DriftState, end: DriftState) -> DataFrame:
    """Validate name/query/properties agree, then diff both directions
    (detect_deviations.py:70-91)."""
    if start.name != end.name:
        raise ValueError("State names do not match.")
    if start.query is not None and end.query is not None and start.query != end.query:
        raise ValueError("State queries do not match.")
    if start.properties != end.properties:
        raise ValueError("State properties do not match.")
    return compare_states(start, end)
