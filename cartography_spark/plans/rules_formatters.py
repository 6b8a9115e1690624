"""Findings output formatters — the Spark port of the reference's
``rules/formatters.py`` (text summary :200-260 and JSON dump :227-229):
per-rule sections with fact compliance lines, then an execution summary
with totals and a compliance percentage.

The JSON report materializes findings with ``limit(max_findings)`` so it
never collects an unbounded result to the driver; the text report lists
no findings.
"""

from __future__ import annotations

import json
from dataclasses import asdict, is_dataclass
from typing import Any

from cartography_spark.plans.rules import RuleResult


def to_serializable(obj: Any) -> Any:
    """Best-effort JSON coercion (reference formatters.py:90-121)."""
    if is_dataclass(obj) and not isinstance(obj, type):
        return to_serializable(asdict(obj))
    if isinstance(obj, dict):
        return {k: to_serializable(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple, set)):
        return [to_serializable(v) for v in obj]
    if hasattr(obj, "asDict"):  # pyspark Row
        return to_serializable(obj.asDict(recursive=True))
    if isinstance(obj, (str, int, float, bool)) or obj is None:
        return obj
    return str(obj)


def _result_payload(r: RuleResult, max_findings: int) -> dict:
    return {
        "rule_id": r.rule_id,
        "rule_name": r.rule_name,
        "rule_description": r.rule_description,
        "rule_tags": list(r.rule_tags),
        "rule_frameworks": [to_serializable(f) for f in r.rule_frameworks],
        "counter": {
            "facts": r.total_facts,
            "findings": r.total_findings,
            "assets": r.total_assets,
            "passing": r.total_passing,
            "failing": r.total_failing,
        },
        "facts": [
            {
                "fact_id": fr.fact.fact_id,
                "fact_name": fr.fact.name,
                "asset_label": fr.fact.asset_label,
                "asset_id_field": fr.fact.asset_id_field,
                "failing": fr.failing_assets,
                "passing": fr.passing_assets,
                "total": fr.total_assets,
                "findings": [
                    to_serializable(row) for row in fr.findings.limit(max_findings).collect()
                ],
            }
            for fr in r.facts
        ],
    }


def format_json(results: list[RuleResult], max_findings: int = 100) -> str:
    """JSON report: one object per rule (reference formatters.py:227-229)."""
    return json.dumps([_result_payload(r, max_findings) for r in results], indent=2)


def format_text(results: list[RuleResult]) -> str:
    """Human-readable report (reference formatters.py:230-260 layout)."""
    lines: list[str] = []
    for res in results:
        lines.append("=" * 60)
        lines.append(f"RULE - {res.rule_name} [{res.rule_id}]")
        if res.rule_description:
            lines.append(res.rule_description)
        if res.rule_frameworks:
            fws = ", ".join(f"{f.short_name}:{f.requirement}" for f in res.rule_frameworks)
            lines.append(f"Frameworks: {fws}")
        for fr in res.facts:
            pct = (fr.passing_assets / fr.total_assets * 100) if fr.total_assets else 100.0
            lines.append(
                f"  {fr.fact.fact_id}: {fr.failing_assets} failing / "
                f"{fr.passing_assets} passing / {fr.total_assets} total "
                f"({pct:.1f}% compliant)"
            )
    total_facts = sum(r.total_facts for r in results)
    total_assets = sum(r.total_assets for r in results)
    total_passing = sum(r.total_passing for r in results)
    total_failing = sum(r.total_failing for r in results)
    lines.append("=" * 60)
    lines.append(
        f"EXECUTION SUMMARY - {results[0].rule_name}" if len(results) == 1 else "OVERALL SUMMARY"
    )
    lines.append("=" * 60)
    if len(results) > 1:
        lines.append(f"Rules executed: {len(results)}")
    lines.append(f"Total facts: {total_facts}")
    if total_assets > 0:
        lines.append(f"Total assets: {total_assets}")
        lines.append(f"Passing: {total_passing}")
        lines.append(f"Failing: {total_failing}")
        lines.append(f"Compliance: {total_passing / total_assets * 100:.1f}%")
    if total_failing > 0:
        lines.append(f"Rule execution completed with {total_failing} total findings")
    else:
        lines.append("Rule execution completed with no findings")
    return "\n".join(lines)
