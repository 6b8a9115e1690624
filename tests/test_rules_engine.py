"""Rules engine model/formatters/frameworks tests (reference
rules/spec/model.py, rules/formatters.py, rules/data/frameworks/)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from cartography_spark.plans.frameworks import framework_coverage, fw
from cartography_spark.plans.rules import Framework, run_rules_batched
from cartography_spark.plans.rules_formatters import format_json, format_text
from cartography_spark.plans.rules_library import CATALOG_RULES, build_rules
from cartography_spark.plans.inventory_lifecycle import base_catalog


def test_framework_matching_normalization():
    f = Framework(name="CIS AWS Foundations Benchmark", short_name="CIS",
                  requirement="2.1.4", scope="AWS", revision="5.0")
    assert f.short_name == "cis" and f.requirement == "2.1.4"
    assert f.matches(short_name="cis") and f.matches("CIS", scope="aws")
    assert not f.matches("soc2") and not f.matches("cis", revision="4.0")


def test_library_breadth_and_mappings():
    assert len(CATALOG_RULES) == 9
    for rule in CATALOG_RULES:
        assert rule.facts and rule.description and rule.frameworks
    # every mapped control with a title resolves through the registry
    cov = framework_coverage(CATALOG_RULES)
    assert {"cis", "soc2", "iso27001", "nist-ai-rmf"} <= {r["framework"] for r in cov}
    assert fw("soc2", "CC6.1").control_title is not None


def test_run_rules_and_formatters(spark, sf_dir):
    cat = base_catalog(spark, sf_dir)
    rules = build_rules(spark, sf_dir)
    assert len(rules) == 10
    results = run_rules_batched(rules[:2], cat)
    payload = json.loads(format_json(results, max_findings=3))
    assert len(payload) == 2
    for rule in payload:
        assert rule["counter"]["passing"] + rule["counter"]["failing"] == rule["counter"]["assets"]
        for f in rule["facts"]:
            assert len(f["findings"]) <= 3
    text = format_text(results)
    assert "OVERALL SUMMARY" in text and "Compliance:" in text
    single = format_text(results[:1])
    assert "EXECUTION SUMMARY" in single


def test_extended_rule_shapes(spark, sf_dir):
    """Round-2 shape ports: watchlist pair-join, case-insensitive coverage
    gap, 3-hop coalesce-default chain (see rules_library.py citations)."""
    from cartography_spark.plans.rules_library import build_extended_rules

    cat = base_catalog(spark, sf_dir)
    rules = build_extended_rules(spark, sf_dir)
    assert [r.rule_id for r in rules] == [
        "watchlist-parts", "module-coverage-gaps", "chain-default-exposure",
    ]
    results = run_rules_batched(rules, cat)
    by_id = {r.facts[0].fact.fact_id: r.facts[0] for r in results}
    # coverage gap: exactly ASIA and AFRICA match unconfigured modules
    cov = by_id["module-coverage-gaps"]
    assert cov.failing_assets == 2 and cov.total_assets == 5
    names = {r.name for r in cov.findings.collect()}
    assert names == {"ASIA", "AFRICA"}
    # watchlist join uses the Part total from count_query, not a catalog label
    wl = by_id["watchlist-parts"]
    assert wl.total_assets > 0 and wl.passing_assets + wl.failing_assets == wl.total_assets
    # chain findings never include the exempt nation
    chain = by_id["chain-default-exposure"]
    assert all(r.nation_name != "NATION_1" for r in chain.findings.collect())


def test_corpus_completes_reference_rule_files(spark, sf_dir):
    """37/37 reference rule files have a ported Rule: 14 in rules_library,
    23 in rules_corpus — ids unique, every rule mapped to a framework and
    citing its reference file in the description."""
    from cartography_spark.plans.rules_corpus import build_corpus_rules

    corpus = build_corpus_rules(spark, sf_dir)
    assert len(corpus) == 23
    ids = [r.rule_id for r in corpus]
    assert len(set(ids)) == 23
    lib_ids = {r.rule_id for r in CATALOG_RULES}
    assert not lib_ids & set(ids)
    for rule in corpus:
        assert rule.frameworks and rule.references
        assert "rules/data/rules/" in rule.description or ".py" in rule.description


def test_corpus_rules_fire_on_fixture(spark, sf_dir):
    """The corpus is not decorative: running it yields non-zero findings on
    a spread of facts, and compliance math holds for every fact."""
    from cartography_spark.plans.rules_corpus import build_corpus_rules

    cat = base_catalog(spark, sf_dir)
    results = run_rules_batched(build_corpus_rules(spark, sf_dir), cat)
    frs = [fr for r in results for fr in r.facts]
    assert len(frs) == 23
    for fr in frs:
        assert fr.failing_assets + fr.passing_assets == fr.total_assets
        assert fr.failing_assets >= 0 and fr.total_assets > 0
    firing = [fr.fact.fact_id for fr in frs if fr.failing_assets > 0]
    assert len(firing) >= 8, firing


def test_framework_mapping_oracle_literal_matches_rules():
    """The rollup oracle's VALUES literal must equal the live rule->framework
    mapping — the only way the Spark side and the DuckDB side can agree."""
    import ast

    from cartography_spark.plans.inventory_meta import _FRAMEWORK_MAPPING_VALUES
    from cartography_spark.plans.rules_corpus import build_corpus_rules

    literal = set(ast.literal_eval(f"[{_FRAMEWORK_MAPPING_VALUES}]"))
    live = {
        (fwk.short_name, fwk.requirement, fr.fact_id)
        for r in build_corpus_rules(None, "/unused")
        for fr in r.facts
        for fwk in r.frameworks
    }
    assert literal == live


def test_framework_rollup_math(spark, sf_dir):
    """Rollup invariants: every mapped control appears once; n_failing_rules
    <= n_rules; a control mapped by two rules sums both rules' counts."""
    from cartography_spark.plans.rules import framework_rollup, run_rules_batched
    from cartography_spark.plans.rules_corpus import build_corpus_rules

    cat = base_catalog(spark, sf_dir)
    results = run_rules_batched(build_corpus_rules(spark, sf_dir), cat)
    rows = {(r.framework, r.requirement): r for r in framework_rollup(results).collect()}
    live_controls = {
        (fwk.short_name, fwk.requirement) for r in results for fwk in r.rule_frameworks
    }
    assert set(rows) == live_controls
    for r in rows.values():
        assert 0 <= r.n_failing_rules <= r.n_rules
        assert r.failing_assets <= r.total_assets
    # cc6.3 is mapped by four rules in the corpus
    assert rows[("soc2", "cc6.3")].n_rules == 4


def test_batched_runner_equals_sequential(spark, sf_dir):
    """run_rules_batched must produce the exact per-fact counters of the
    reference's per-fact definition (rules/runners.py:121-134), computed
    here one fact at a time: failing = distinct asset ids of the findings,
    total = the label's row count or the counter frame's n."""
    from cartography_spark.plans.rules_corpus import build_corpus_rules

    cat = base_catalog(spark, sf_dir)
    rules = build_corpus_rules(spark, sf_dir)
    ref = {}
    for rule in rules:
        for fact in rule.facts:
            failing = fact.query(cat).select(fact.asset_id_field).distinct().count()
            if fact.count_query is not None:
                total = fact.count_query(cat).first()["n"]
            else:
                total = cat.node(fact.asset_label).count()
            ref[fact.fact_id] = (failing, max(total - failing, 0), total)
    bat = {
        fr.fact.fact_id: (fr.failing_assets, fr.passing_assets, fr.total_assets)
        for r in run_rules_batched(rules, cat)
        for fr in r.facts
    }
    assert ref == bat


def _null_asset_catalog(spark):
    """Tiny catalog whose 'Thing' node table is just ids; findings below
    reference it by label for the total-asset count."""
    from cartography_spark.catalog import ENGINE_NODE_COLS, GraphCatalog

    df = spark.createDataFrame(
        [(str(i),) for i in range(6)], "id string"
    )
    for c in ENGINE_NODE_COLS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("long"))
    cat = GraphCatalog(spark=spark)
    cat.set_node("Thing", df)
    return cat


def test_batched_counts_null_asset_ids_like_sequential(spark):
    """A finding frame with NULL asset ids: reference semantics (Python set)
    count NULL as ONE failing asset, as distinct().count() does; the
    batched distinct-group count must agree — the ADVICE-flagged
    F.countDistinct would silently drop the NULLs."""
    from cartography_spark.plans.rules import Fact, Rule

    cat = _null_asset_catalog(spark)

    def findings(c):
        return c.spark.createDataFrame(
            [("a",), ("a",), (None,), (None,), ("b",)], "id string"
        )

    rule = Rule(
        rule_id="r-null",
        name="null assets",
        facts=(Fact(fact_id="f-null", name="n", query=findings,
                    asset_label="Thing", asset_id_field="id"),),
    )
    bat = run_rules_batched([rule], cat)[0].facts[0]
    # 2 non-null distinct + the NULL group = 3 failing of 6 total
    assert (bat.failing_assets, bat.passing_assets, bat.total_assets) == (3, 3, 6)


def test_batched_rejects_duplicate_fact_ids(spark):
    """Failing counts are keyed by fact_id across the union; a collision
    would merge two facts' findings — must be rejected up front."""
    import pytest

    from cartography_spark.plans.rules import Fact, Rule, run_rules_batched

    cat = _null_asset_catalog(spark)

    def findings(c):
        return c.spark.createDataFrame([("a",)], "id string")

    mk = lambda rid: Rule(
        rule_id=rid, name=rid,
        facts=(Fact(fact_id="f-shared", name="n", query=findings,
                    asset_label="Thing", asset_id_field="id"),),
    )
    with pytest.raises(ValueError, match="duplicate fact_id"):
        run_rules_batched([mk("r1"), mk("r2")], cat)


def test_framework_rollup_skips_empty_facts_result(spark):
    """A first RuleResult with an empty facts list must not crash the
    session lookup (ADVICE: results[0].facts[0] raised IndexError)."""
    import pytest

    from cartography_spark.plans.rules import (
        Fact, Framework, Rule, RuleResult, framework_rollup, run_rules_batched,
    )

    cat = _null_asset_catalog(spark)

    def findings(c):
        return c.spark.createDataFrame([("a",)], "id string")

    rule = Rule(
        rule_id="r-x", name="x",
        facts=(Fact(fact_id="f-x", name="n", query=findings,
                    asset_label="Thing", asset_id_field="id"),),
        frameworks=(Framework(name="SOC 2", short_name="soc2",
                              requirement="cc1.1"),),
    )
    real = run_rules_batched([rule], cat)[0]
    empty = RuleResult(rule_id="r-empty", rule_name="e", rule_description="",
                       facts=[])
    rows = framework_rollup([empty, real]).collect()
    assert len(rows) == 1 and rows[0].n_rules == 1
    with pytest.raises(ValueError, match="no results with facts"):
        framework_rollup([empty])
