"""IAM-style permission evaluation — the reference's biggest UDF-shaped
logic (cartography/intel/aws/permission_relationships.py:25-442):
wildcard patterns (``*`` any-run, ``?`` single char) from policy statements
are matched case-insensitively against permission/resource names, with
action / notaction / resource / notresource and explicit-deny semantics
(evaluate_* :25-254, compile_regex :395-442).

Spark-native: patterns compile to SQL LIKE (``*``->``%``, ``?``->``_``,
escaping literal ``%_``) so matching stays JVM-side in a join condition —
no Python UDF. ``evaluate_policy_grid`` computes, for a principals x
permissions grid, whether any allow statement matches with no deny match:
the reference's ``principal_allowed_on_resource`` (:157-181) as one
relational expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def wildcard_to_like(pattern: Column) -> Column:
    """Translate ``*``/``?`` wildcards to a LIKE pattern, escaping LIKE
    metacharacters (mirrors compile_regex, permission_relationships.py:395-442,
    which regex-escapes then maps * -> .* and ? -> .)."""
    escaped = F.regexp_replace(pattern, r"([%_\\])", r"\\$1")
    return F.replace(F.replace(escaped, F.lit("*"), F.lit("%")), F.lit("?"), F.lit("_"))


def wildcard_match(value: Column, pattern: Column) -> Column:
    """Case-insensitive wildcard match (the reference lowercases both sides,
    permission_relationships.py:25-60)."""
    return F.like(F.lower(value), F.lower(wildcard_to_like(pattern)))


def evaluate_policy_grid(names: DataFrame, statements: DataFrame) -> DataFrame:
    """For every name: allowed iff >=1 Allow statement matches and no Deny
    statement matches (explicit deny wins — :157-181). ``statements`` is a
    small dim -> broadcast; the match is a theta join on LIKE."""
    s = F.broadcast(statements.select("pattern", "effect"))
    m = names.join(s, wildcard_match(F.col("name"), F.col("pattern")), "left")
    return (
        m.groupBy("name")
        .agg(
            (
                (F.count(F.when(F.col("effect") == "Allow", 1)) > 0)
                & (F.count(F.when(F.col("effect") == "Deny", 1)) == 0)
            ).alias("allowed")
        )
    )


def _any_match(value: Column, patterns: Column) -> Column:
    """True iff any wildcard pattern in the array matches (lowercased both
    sides, like evaluate_policy_for_permissions :61-90). Null/empty pattern
    arrays yield false."""
    return F.coalesce(
        F.exists(patterns, lambda p: F.like(F.lower(value), F.lower(wildcard_to_like(p)))),
        F.lit(False),
    )


def statement_matches(
    permission: Column,
    resource: Column,
    actions: Column,
    notactions: Column,
    resources: Column,
    notresources: Column,
) -> Column:
    """Full statement-match semantics
    (permission_relationships.py evaluate_statements_for_permission :91-156):
    a statement matches (permission, resource) iff

    - some ``action`` pattern matches the permission AND no ``notaction``
      pattern matches it, and
    - some ``resource`` pattern matches the resource AND no ``notresource``
      pattern matches it.
    """
    return (
        _any_match(permission, actions)
        & ~_any_match(permission, notactions)
        & _any_match(resource, resources)
        & ~_any_match(resource, notresources)
    )


def principal_allowed_grid(grid: DataFrame, statements: DataFrame) -> DataFrame:
    """For every (permission, resource) row of ``grid``: allowed iff at
    least one Allow statement fully matches and NO Deny statement matches —
    ``principal_allowed_on_resource`` (:157-181) as one relational pass.

    ``statements`` columns: ``actions``, ``notactions``, ``resources``,
    ``notresources`` (array<string>, null = absent clause) and ``effect``.
    Statements broadcast (policy sets are small); the match runs JVM-side
    through higher-order LIKE predicates — no Python UDF, so a
    principals x resources grid of any size stays whole-stage codegen'd.
    """
    m = grid.crossJoin(F.broadcast(statements))
    hit = statement_matches(
        F.col("permission"), F.col("resource"),
        F.col("actions"), F.col("notactions"), F.col("resources"), F.col("notresources"),
    )
    return (
        m.withColumn("__hit", hit)
        .groupBy("permission", "resource")
        .agg(
            (
                (F.count(F.when(F.col("__hit") & (F.col("effect") == "Allow"), 1)) > 0)
                & (F.count(F.when(F.col("__hit") & (F.col("effect") == "Deny"), 1)) == 0)
            ).alias("allowed")
        )
    )
