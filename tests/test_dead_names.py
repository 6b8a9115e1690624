"""Every module-level name in ``cartography_spark/`` has a caller.

A function, class or assignment at module level that no code references is
dead code. A reference is an ``ast`` node, so a name mentioned only in a
docstring or comment stays dead: a loaded ``Name``, an ``Attribute`` of that
name, or an imported alias. ``@query``-registered builders are reached
through the registry, and dunders through the runtime, so both are skipped.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cartography_spark"
# where a caller can live: the package, its tests and tools, the benchmark,
# and the two entry points (bench CLI, driver contract)
TREES = ("cartography_spark", "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _sources(tree: str) -> list[Path]:
    path = ROOT / tree
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        target = dec.func if isinstance(dec, ast.Call) else dec
        name = target.attr if isinstance(target, ast.Attribute) else getattr(target, "id", None)
        if name == "query":
            return True
    return False


def _defined_names(source: Path) -> list[str]:
    names = []
    for node in ast.parse(source.read_text(encoding="utf-8")).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_query(node):
                names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                names.extend(n.id for n in ast.walk(target) if isinstance(n, ast.Name))
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _references(source: Path) -> list[str]:
    refs = []
    for node in ast.walk(ast.parse(source.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.append(node.id)
        elif isinstance(node, ast.Attribute):
            refs.append(node.attr)
        elif isinstance(node, ast.alias):
            refs.append(node.name.rsplit(".", 1)[-1])
    return refs


def test_every_module_level_name_is_used():
    refs = Counter(name for tree in TREES for source in _sources(tree) for name in _references(source))
    dead = sorted(
        f"{source.relative_to(ROOT)}:{name}"
        for source in sorted(PACKAGE.rglob("*.py"))
        for name in _defined_names(source)
        if not refs[name]
    )
    assert not dead, f"module-level names nothing references: {dead}"
