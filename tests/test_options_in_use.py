"""Every optional parameter in ``cartography_spark/`` has a caller that sets it.

A defaulted parameter that no call site passes a value other than its
default is a constant with an option's cost: each one doubles the
configurations tests must cover. For every function whose name is defined
once in the package, each defaulted parameter must be passed, by keyword
or by position, a value whose source text differs from the default's
somewhere in the trees a caller can live in. A call with ``*args`` or
``**kwargs`` counts as passing every value.

The converse holds for private helpers: a required parameter of a
``_``-prefixed function defined once that every call passes the same
literal is a constant spelled at each call site instead of at its use.
"""

from __future__ import annotations

import ast
from collections import Counter, defaultdict
from pathlib import Path

from test_dead_names import PACKAGE, ROOT, TREES, _sources

# a test that sets an option checks the operator at a second value, so
# tests count as callers here, though not as the callers that keep a name
CALLER_TREES = (*TREES, "tests")

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


def _bound_calls(targets: dict[str, tuple]) -> list[tuple[str, dict[str, ast.expr] | None]]:
    """(name, parameter -> argument node) for every call of a target in the
    caller trees; None for a call with ``*args`` or ``**kwargs``. A target
    maps to (file, positional parameter names, ...)."""
    calls = []
    for tree in CALLER_TREES:
        for source in _sources(tree):
            for call in ast.walk(ast.parse(source.read_text(encoding="utf-8"))):
                if not isinstance(call, ast.Call):
                    continue
                func = call.func
                name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
                if name not in targets:
                    continue
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    calls.append((name, None))
                    continue
                positional = targets[name][1]
                bound = {k.arg: k.value for k in call.keywords}
                # a method called through an attribute binds its first
                # positional argument to the parameter after self/cls
                skip = isinstance(func, ast.Attribute) and positional[:1] in (["self"], ["cls"])
                bound.update(zip(positional[skip:], call.args))
                calls.append((name, bound))
    return calls


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
    for name, bound in _bound_calls(targets):
        defaults = targets[name][2]
        if bound is None:
            passed.update((name, p) for p in defaults)
            continue
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


def _literal_source(node: ast.expr | None) -> str | None:
    try:
        ast.literal_eval(node)
    except ValueError:
        return None
    return ast.unparse(node)


def constant_arguments() -> list[str]:
    targets = {}
    for name, defs in _functions().items():
        (rel, fn), *rest = defs
        if rest or not name.startswith("_") or name.startswith("__"):
            continue
        positional, defaults = _defaulted(fn)
        params = [a.arg for a in fn.args.kwonlyargs] + positional
        required = [p for p in params if p not in defaults and p not in ("self", "cls")]
        if required:
            targets[name] = (rel, positional, required)
    # every distinct argument source per parameter; None for a non-literal
    passed = defaultdict(set)
    for name, bound in _bound_calls(targets):
        for p in targets[name][2]:
            passed[name, p].add(None if bound is None else _literal_source(bound.get(p)))
    return sorted(
        f"{rel}:{name}({param}={next(iter(passed[name, param]))})"
        for name, (rel, _, required) in targets.items()
        for param in required
        if len(passed[name, param]) == 1 and None not in passed[name, param]
    )


def test_every_option_is_set_by_a_caller():
    unused = unused_options()
    assert not unused, f"{len(unused)} parameters no caller sets: {unused}"


def test_no_private_helper_takes_a_constant_argument():
    constant = constant_arguments()
    assert not constant, f"{len(constant)} parameters every caller passes one literal: {constant}"
