"""Every optional parameter in ``cartography_spark/`` has a caller that sets it.

A defaulted parameter that no call site passes a value other than its
default is a constant with an option's cost: each one doubles the
configurations tests must cover. For every function whose name is defined
once in the package, each defaulted parameter must be passed, by keyword
or by position, a value whose source text differs from the default's
somewhere in the trees a caller can live in. A call with ``*args`` or
``**kwargs`` counts as passing every value.
"""

from __future__ import annotations

import ast
from collections import Counter, defaultdict
from pathlib import Path

from test_dead_names import PACKAGE, ROOT, TREES, _sources

# the graph write path keeps the reference's data model (matcher params,
# scoped upserts) even where one value is in use
EXEMPT = ("schema.py", "operators/upsert.py", "operators/matchlink.py")


def _functions() -> dict[str, list[tuple[str, ast.FunctionDef]]]:
    defs = defaultdict(list)
    for source in sorted(PACKAGE.rglob("*.py")):
        rel = source.relative_to(PACKAGE).as_posix()
        for node in ast.walk(ast.parse(source.read_text(encoding="utf-8"))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append((rel, node))
    return defs


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], dict[str, str]]:
    """Positional parameter names, and each defaulted name's default source."""
    args = fn.args
    positional = [a.arg for a in args.posonlyargs + args.args]
    defaults = dict(zip(positional[len(positional) - len(args.defaults) :], args.defaults))
    defaults.update((a.arg, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None)
    return positional, {name: ast.unparse(d) for name, d in defaults.items()}


def unused_options() -> list[str]:
    targets = {}
    for name, defs in _functions().items():
        (rel, fn), *rest = defs
        if rest or rel in EXEMPT:
            continue
        positional, defaults = _defaulted(fn)
        if defaults:
            targets[name] = (rel, positional, defaults)
    passed = Counter()
    for tree in TREES:
        for source in _sources(tree):
            for call in ast.walk(ast.parse(source.read_text(encoding="utf-8"))):
                if not isinstance(call, ast.Call):
                    continue
                func = call.func
                name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
                if name not in targets:
                    continue
                rel, positional, defaults = targets[name]
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    passed.update((name, p) for p in defaults)
                    continue
                bound = {k.arg: k.value for k in call.keywords}
                # a method called through an attribute binds its first
                # positional argument to the parameter after self/cls
                skip = isinstance(func, ast.Attribute) and positional[:1] in (["self"], ["cls"])
                bound.update(zip(positional[skip:], call.args))
                passed.update(
                    (name, p)
                    for p, value in bound.items()
                    if p in defaults and ast.unparse(value) != defaults[p]
                )
    return sorted(
        f"{rel}:{name}({param}={default})"
        for name, (rel, _, defaults) in targets.items()
        for param, default in defaults.items()
        if not passed[name, param]
    )


def test_every_option_is_set_by_a_caller():
    unused = unused_options()
    assert not unused, f"{len(unused)} parameters no caller sets: {unused}"
