"""Command-line entry points mirroring the reference's three CLIs
(cartography/cli.py:372+ sync; rules/cli.py:328-477 run; driftdetect/cli.py:14-231):

    python -m cartography_spark sync        --sf-dir D --warehouse W [--update-tag N]
    python -m cartography_spark query       --warehouse W --sql "SELECT ..."
    python -m cartography_spark rules run   --warehouse W [--format text|json]
    python -m cartography_spark drift get-state --warehouse W --name X --sql "..." --state-dir S
    python -m cartography_spark drift detect    --state-dir S --name X --start F1 --end F2

``sync`` ingests the synthetic provider tables through the real
schema->upsert->edge pipeline and persists the graph catalog as parquet;
every other command loads that warehouse. Node tables are registered as
temp views ``n_<Label>``, edge tables as ``e_<src>__<rel>__<dst>``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

from pyspark.sql import SparkSession

from cartography_spark.catalog import GraphCatalog
from cartography_spark.plans.job import register_catalog_views
from cartography_spark.session import get_spark


def _register_views(spark: SparkSession, cat: GraphCatalog) -> None:
    """Expose ``cat`` as ``n_*``/``e_*`` SQL views; ``spark`` is unused and
    kept for existing callers (perfbench/workloads.py)."""
    register_catalog_views(cat)


def cmd_sync(args: argparse.Namespace) -> int:
    spark = get_spark("cartography-spark-sync")
    update_tag = args.update_tag or int(time.time())
    from cartography_spark.plans.graph_fixture import stage_fns
    from cartography_spark.sync import build_staged_sync

    cat = GraphCatalog(spark)
    cat.partition_cols["Supplier"] = "region_id"
    try:
        sync = build_staged_sync(
            stage_fns(spark, args.sf_dir), getattr(args, "selected_stages", None)
        )
    except ValueError as exc:
        print(str(exc), file=sys.stderr)
        return 1
    try:
        sync.run(cat, {"UPDATE_TAG": update_tag})
    except RuntimeError as exc:
        # Sync.run records the failing stage last, then raises from its cause
        cause = str(exc.__cause__).partition("\n")[0]
        print(f"stage {sync.metrics[-1]['stage']} failed: {cause}", file=sys.stderr)
        return 1
    cat.save(args.warehouse)
    # count the written tables: parquet counts read footers, while counting
    # ``cat`` would recompute every label's merge lineage
    saved = GraphCatalog.load(spark, args.warehouse)
    summary = {label: saved.node(label).count() for label in sorted(cat.nodes)}
    print(json.dumps({"update_tag": update_tag, "nodes": summary, "stages": sync.metrics}))
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    spark = get_spark("cartography-spark-query")
    cat = GraphCatalog.load(spark, args.warehouse)
    _register_views(spark, cat)
    out = spark.sql(args.sql)
    for row in out.limit(args.limit).collect():
        print(json.dumps(row.asDict(recursive=True), default=str))
    return 0


def cmd_rules_run(args: argparse.Namespace) -> int:
    """Run the built-in rule library against a loaded warehouse and emit
    the reference-shaped text/JSON report (rules/cli.py:328-477 run_cmd;
    formatters.py:122+)."""
    from cartography_spark.plans.rules import run_rules_batched
    from cartography_spark.plans.rules_formatters import format_json, format_text
    from cartography_spark.plans.rules_library import CATALOG_RULES

    spark = get_spark("cartography-spark-rules")
    cat = GraphCatalog.load(spark, args.warehouse)
    if getattr(args, "sf_dir", None):
        # with raw tables available, run the whole ported corpus (37/37
        # reference rule files); catalog-only mode keeps the 9 static rules
        from cartography_spark.plans.rules_corpus import full_rule_set

        rules = list(full_rule_set(spark, args.sf_dir))
    else:
        rules = list(CATALOG_RULES)
    if getattr(args, "framework", None):
        # reference filter syntax: SHORT[:scope[:revision]], e.g. cis:aws:5.0
        # (rules/cli.py run_cmd --framework)
        short, scope, revision = (args.framework.split(":") + [None, None])[:3]
        rules = [r for r in rules if r.has_framework(short, scope, revision)]
    if getattr(args, "rule", None):
        rules = [r for r in rules if r.rule_id == args.rule]
    if getattr(args, "fact", None):
        rules = [r for r in rules if r.get_fact_by_id(args.fact) is not None]
        rules = [dataclasses.replace(r, facts=(r.get_fact_by_id(args.fact),)) for r in rules]
    if not rules:
        print("no rules matched the filter", file=sys.stderr)
        return 1
    results = run_rules_batched(rules, cat)
    if args.format == "json":
        print(format_json(results, max_findings=args.max_findings))
    else:
        print(format_text(results))
    return 0


def cmd_rules_list(args: argparse.Namespace) -> int:
    """List rules and their framework mappings (rules/cli.py list/frameworks
    commands)."""
    from cartography_spark.plans.frameworks import framework_coverage
    from cartography_spark.plans.rules_library import CATALOG_RULES

    if getattr(args, "full", False):
        # builders are lazy, so the full corpus lists without a session
        from cartography_spark.plans.rules_corpus import full_rule_set

        CATALOG_RULES = full_rule_set(None, "")
    if getattr(args, "coverage", False):
        for row in framework_coverage(CATALOG_RULES):
            title = f" — {row['control_title']}" if row["control_title"] else ""
            print(
                f"{row['framework']} {row['revision']} {row['requirement']}"
                f" <- {row['rule_id']}{title}"
            )
    else:
        for rule in CATALOG_RULES:
            fws = ", ".join(f"{f.short_name}:{f.requirement}" for f in rule.frameworks)
            print(f"{rule.rule_id}: {rule.name} [{len(rule.facts)} facts] ({fws})")
    return 0


def cmd_rules_frameworks(args: argparse.Namespace) -> int:
    """Aggregated framework summary — name, scope/revision, rule count,
    mapped controls with titles (reference rules/cli.py:181-233
    frameworks_cmd output shape)."""
    from collections import defaultdict

    from cartography_spark.plans.rules_corpus import full_rule_set

    rules = full_rule_set(None, "")
    by_short: dict[str, list] = defaultdict(list)
    for rule in rules:
        for f in rule.frameworks:
            by_short[f.short_name].append(f)
    for short_name in sorted(by_short):
        fws = by_short[short_name]
        print(short_name.upper())
        print(f"  Name: {fws[0].name}")
        scopes: dict[str, set] = defaultdict(set)
        for f in fws:
            if f.scope:
                scopes[f.scope].add(f.revision)
        for scope, revisions in sorted(scopes.items()):
            revs = ", ".join(sorted(r for r in revisions if r))
            print(f"  Scope: {scope}" + (f" (revisions: {revs})" if revs else ""))
        n_rules = sum(1 for r in rules if r.has_framework(short_name))
        print(f"  Rules: {n_rules}")
        titled = sorted(
            {(f.requirement, f.control_title) for f in fws if f.control_title}
        )
        if titled:
            print("  Controls:")
            for req, title in titled:
                print(f"    - {req}: {title}")
        print()
    return 0


def cmd_rules_rollup(args: argparse.Namespace) -> int:
    """Per-(framework, requirement) compliance rollup over executed rules
    (plans/rules.py framework_rollup; the `frameworks` listing extended
    with runners.py:121-134 compliance math, batched execution)."""
    from cartography_spark.plans.rules import framework_rollup, run_rules_batched
    from cartography_spark.plans.rules_corpus import full_rule_set

    spark = get_spark("cartography-spark-rules")
    cat = GraphCatalog.load(spark, args.warehouse)
    if getattr(args, "sf_dir", None):
        rules = [r for r in full_rule_set(spark, args.sf_dir) if r.frameworks]
    else:
        from cartography_spark.plans.rules_library import CATALOG_RULES

        rules = [r for r in CATALOG_RULES if r.frameworks]
    if not rules:
        print("no framework-mapped rules available", file=sys.stderr)
        return 1
    rows = (
        framework_rollup(run_rules_batched(rules, cat))
        .orderBy("framework", "requirement")
        .collect()
    )
    print(f"{'framework':<14}{'requirement':<14}{'rules':>6}{'failing':>9}"
          f"{'assets_fail':>12}{'assets_total':>13}")
    for r in rows:
        print(f"{r.framework:<14}{r.requirement:<14}{r.n_rules:>6}{r.n_failing_rules:>9}"
              f"{r.failing_assets:>12}{r.total_assets:>13}")
    return 0


def cmd_drift_get_state(args: argparse.Namespace) -> int:
    spark = get_spark("cartography-spark-drift")
    cat = GraphCatalog.load(spark, args.warehouse)
    _register_views(spark, cat)
    from cartography_spark.plans import driftarchive as da

    if args.sql and args.name:
        # convenience: register (or refresh) the template, then sweep
        da.init_query(args.state_dir, args.name, args.sql)
    written = da.get_states(args.state_dir, lambda sql: spark.sql(sql))
    if not written:
        print("no query templates under state dir; use drift init-query", file=sys.stderr)
        return 1
    for path in written:
        print(path)
    return 0


def cmd_drift_init_query(args: argparse.Namespace) -> int:
    from cartography_spark.plans import driftarchive as da

    print(da.init_query(args.state_dir, args.name, args.sql))
    return 0


def cmd_drift_detect(args: argparse.Namespace) -> int:
    spark = get_spark("cartography-spark-drift")
    from cartography_spark.plans import driftarchive as da

    try:
        start = da.load_state(spark, args.state_dir, args.name, args.start)
        end = da.load_state(spark, args.state_dir, args.name, args.end)
        diff = da.perform_drift_detection(start, end)
    except ValueError as e:
        print(str(e), file=sys.stderr)
        return 2
    for row in diff.collect():
        print(json.dumps(row.asDict(recursive=True), default=str))
    return 0


def cmd_drift_add_shortcut(args: argparse.Namespace) -> int:
    """Alias a drift-state file (reference driftdetect/cli.py:130-153
    add-shortcut; add_shortcut.py) — no Spark session needed."""
    import os as _os

    from cartography_spark.plans import driftarchive as da

    qdir = _os.path.join(args.state_dir, args.name)
    if not _os.path.isdir(qdir):
        print(f"no query directory {qdir!r}; run drift init-query first", file=sys.stderr)
        return 1
    if not _os.path.isfile(_os.path.join(qdir, args.filename)):
        print(f"state file {args.filename!r} not found under {qdir!r}", file=sys.stderr)
        return 1
    da.add_shortcut(qdir, args.shortcut, args.filename)
    print(_os.path.join(qdir, "shortcut.json"))
    return 0



def cmd_inventory_list(args: argparse.Namespace) -> int:
    from cartography_spark.plans.registry import _ordered

    for name, spec in _ordered().items():
        if args.tag and args.tag not in spec.tags:
            continue
        tags = ",".join(spec.tags)
        print(f"{name}\t[{tags}]")
    return 0


def cmd_inventory_run(args: argparse.Namespace) -> int:
    from cartography_spark.plans.registry import _ordered
    from cartography_spark.session import get_spark

    reg = _ordered()
    if args.name not in reg:
        print(f"unknown query {args.name!r}; see `inventory list`", file=sys.stderr)
        return 2
    spark = get_spark("inventory")
    spark.sparkContext.setLogLevel("ERROR")
    df = reg[args.name].spark(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    for row in df.limit(args.limit).collect():
        print(row.asDict())
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="cartography_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("sync", help="ingest provider tables into the graph warehouse")
    s.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    s.add_argument("--warehouse", required=True)
    s.add_argument("--update-tag", type=int, default=None)
    s.add_argument(
        "--selected-stages", dest="selected_stages",
        help="comma-separated subset of sync stages (reference --selected-modules)",
    )
    s.set_defaults(fn=cmd_sync)

    q = sub.add_parser("query", help="run SQL over the graph warehouse views")
    q.add_argument("--warehouse", required=True)
    q.add_argument("--sql", required=True)
    q.add_argument("--limit", type=int, default=100)
    q.set_defaults(fn=cmd_query)

    r = sub.add_parser("rules", help="security-rules engine")
    rsub = r.add_subparsers(dest="rules_cmd", required=True)
    rr = rsub.add_parser("run")
    rr.add_argument("--warehouse", required=True)
    rr.add_argument("--format", choices=("text", "json"), default="text")
    rr.add_argument("--framework", help="filter rules by framework short name")
    rr.add_argument("--rule", help="run a single rule by id")
    rr.add_argument("--max-findings", type=int, default=100, dest="max_findings")
    rr.add_argument(
        "--sf-dir", dest="sf_dir",
        help="raw-table directory; enables the full 37-file rule corpus",
    )
    rr.set_defaults(fn=cmd_rules_run)
    rr.add_argument("--fact", help="run a single fact by id")
    rl = rsub.add_parser("list")
    rl.add_argument("--coverage", action="store_true", help="framework coverage map")
    rl.add_argument("--full", action="store_true", help="list the full ported corpus")
    rl.set_defaults(fn=cmd_rules_list)
    rf = rsub.add_parser("frameworks", help="aggregated framework summary")
    rf.set_defaults(fn=cmd_rules_frameworks)
    ru = rsub.add_parser("rollup", help="per-control compliance rollup over executed rules")
    ru.add_argument("--warehouse", required=True)
    ru.add_argument(
        "--sf-dir", dest="sf_dir",
        help="raw-table directory; enables the full framework-mapped corpus",
    )
    ru.set_defaults(fn=cmd_rules_rollup)

    d = sub.add_parser("drift", help="state snapshot + drift detection")
    dsub = d.add_subparsers(dest="drift_cmd", required=True)
    di = dsub.add_parser("init-query", help="register a validation-query template")
    di.add_argument("--state-dir", required=True)
    di.add_argument("--name", required=True)
    di.add_argument("--sql", required=True)
    di.set_defaults(fn=cmd_drift_init_query)
    dg = dsub.add_parser("get-state", help="snapshot every registered query")
    dg.add_argument("--warehouse", required=True)
    dg.add_argument("--state-dir", required=True)
    dg.add_argument("--name", help="with --sql: register this template before the sweep")
    dg.add_argument("--sql", help="with --name: register this template before the sweep")
    dg.set_defaults(fn=cmd_drift_get_state)
    dd = dsub.add_parser("detect")
    dd.add_argument("--state-dir", required=True)
    dd.add_argument("--name", required=True)
    dd.add_argument("--start", required=True, help="state filename or shortcut alias")
    dd.add_argument("--end", required=True, help="state filename or shortcut alias")
    dd.set_defaults(fn=cmd_drift_detect)
    ds = dsub.add_parser(
        "add-shortcut", help="alias a state file (reference driftdetect add-shortcut)"
    )
    ds.add_argument("--state-dir", required=True)
    ds.add_argument("--name", required=True, help="query directory name")
    ds.add_argument("--shortcut", required=True, help="alias for the filename")
    ds.add_argument("--filename", required=True, help="state file to alias")
    ds.set_defaults(fn=cmd_drift_add_shortcut)

    inv = sub.add_parser("inventory", help="the oracle-verified query registry")
    isub = inv.add_subparsers(dest="inventory_cmd", required=True)
    il = isub.add_parser("list", help="list registry queries (verification order)")
    il.add_argument("--tag", help="filter by tag, e.g. dedup / graph / llm")
    il.set_defaults(fn=cmd_inventory_list)
    ir = isub.add_parser("run", help="run one registry query against an sf dir")
    ir.add_argument("name")
    ir.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ir.add_argument("--limit", type=int, default=20)
    ir.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")
    ir.set_defaults(fn=cmd_inventory_run)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
