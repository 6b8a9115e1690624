"""Edge orientation has one owner: ``RelSchema.stored_edge`` in
``schema.py`` decides where a relationship is stored. A module that
compares against ``LinkDirection`` or a ``.direction`` attribute derives
that again, and drifts from it the day one copy changes. Reading the
direction for display (``rel.direction.name``) is fine."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "cartography_spark"


def _reads_direction(node: ast.AST) -> bool:
    return any(
        (isinstance(n, ast.Name) and n.id == "LinkDirection")
        or (isinstance(n, ast.Attribute) and n.attr == "direction")
        for n in ast.walk(node)
    )


def direction_branches(source: str) -> list[int]:
    """Lines of ``source`` that compare or match against a link direction."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Compare) and _reads_direction(node):
            lines.append(node.lineno)
        elif isinstance(node, ast.Match) and (
            _reads_direction(node.subject) or any(_reads_direction(c.pattern) for c in node.cases)
        ):
            lines.append(node.lineno)
    return lines


def test_only_schema_orients_edges():
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel != "schema.py" and (lines := direction_branches(path.read_text())):
            found[rel] = lines
    assert found == {}, f"orient edges with RelSchema.stored_edge, not by comparing directions: {found}"


def test_guard_sees_comparisons_not_display():
    assert direction_branches("if rel.direction == LinkDirection.INWARD:\n    pass\n") == [1]
    assert direction_branches("x = rel.direction is not d\n") == [1]
    assert direction_branches("match d:\n    case LinkDirection.OUTWARD:\n        pass\n") == [1]
    assert direction_branches("info = dict(direction=rel.direction.name)\n") == []
    assert direction_branches("RelSchema('R', 'T', m, direction=LinkDirection.INWARD)\n") == []
