"""Every module-level name in ``cartography_spark/`` has a product caller.

A function, class or assignment at module level that no product code
references is dead code. Product code is the package, the tools, the
benchmark and the two entry points (``bench.py``, ``__spark_entry__.py``);
tests check code, they do not keep it alive. A reference is an ``ast``
node, so a name mentioned only in a docstring or comment stays dead: a
loaded ``Name``, an ``Attribute`` of that name, or an imported alias.
References from a definition whose names are all dead do not count, nor a
definition's references to its own name, so a name reached only from dead
names is dead too. ``@query``-registered functions are reached through the
registry, and dunders through the runtime, so both are skipped.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cartography_spark"
# where a product caller can live: the package, its tools, the benchmark,
# and the two entry points
TREES = ("cartography_spark", "tools", "perfbench", "bench.py", "__spark_entry__.py")


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


def _defined(node: ast.stmt) -> list[str]:
    """The non-dunder names a module-level statement defines."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        names = [] if _is_query(node) else [node.name]
    elif isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    else:
        names = []
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _references(node: ast.AST) -> list[str]:
    refs = []
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
            refs.append(sub.id)
        elif isinstance(sub, ast.Attribute):
            refs.append(sub.attr)
        elif isinstance(sub, ast.alias):
            refs.append(sub.name.rsplit(".", 1)[-1])
    return refs


def dead_names() -> list[str]:
    # each top-level statement is one unit: the names it defines (none for
    # imports and bare code, which always run) and the other names it
    # references, so a recursive function does not keep itself alive
    units = []
    for tree in TREES:
        for source in _sources(tree):
            path = source.relative_to(ROOT).as_posix()
            for node in ast.parse(source.read_text(encoding="utf-8")).body:
                names = _defined(node)
                units.append((path, names, [r for r in _references(node) if r not in names]))
    dead: set[tuple[str, str]] = set()
    while True:
        # a unit whose names are all dead no longer references anything
        refs = Counter(
            ref
            for path, names, unit_refs in units
            if not names or any((path, n) not in dead for n in names)
            for ref in unit_refs
        )
        now = {
            (path, name)
            for path, names, _ in units
            if path.startswith("cartography_spark/")
            for name in names
            if not refs[name]
        }
        if now == dead:
            return sorted(f"{path}:{name}" for path, name in dead)
        dead = now


def test_every_module_level_name_is_used():
    dead = dead_names()
    assert not dead, f"module-level names no product code references: {dead}"
