"""Security-rules engine: Facts, Rules, Findings and compliance math.

Reference: cartography/rules/spec/model.py (Fact :363-462, Finding
:464-505, Rule :505-560) executed by rules/runners.py (_run_fact :72-188;
failing = distinct asset_id_field values :121-125; passing = count_query
total - failing :127-134).

Spark-native: a Fact's query is a function ``(catalog) -> DataFrame`` whose
result must expose the declared ``asset_id_field``, and its counter is a
one-row DataFrame. :func:`run_rules_batched` is the one runner: it computes
every fact's failing count in one unioned job and every total in another.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.session import run_concurrently
from cartography_spark.sources.rows import local_frame


@dataclass(frozen=True)
class Fact:
    """A single detection query (reference model.py:363-462).

    ``count_query`` computes the fact's total assets as a one-row frame with
    a bigint column ``n``; when None the total is the row count of the
    ``asset_label`` node table."""

    fact_id: str
    name: str
    query: Callable[[GraphCatalog], DataFrame]
    asset_label: str
    asset_id_field: str
    count_query: Callable[[GraphCatalog], DataFrame] | None = None


@dataclass(frozen=True)
class FactResult:
    fact: Fact
    findings: DataFrame
    failing_assets: int
    total_assets: int
    passing_assets: int


@dataclass(frozen=True)
class Framework:
    """A compliance-framework control mapping (reference model.py:287-352).

    Matching fields are normalized to lowercase on creation;
    ``control_title`` keeps display casing (it is user-facing copy)."""

    name: str
    short_name: str
    requirement: str
    scope: str | None = None
    revision: str | None = None
    control_title: str | None = None

    def __post_init__(self) -> None:
        object.__setattr__(self, "name", self.name.lower())
        object.__setattr__(self, "short_name", self.short_name.lower())
        object.__setattr__(self, "requirement", self.requirement.lower())
        if self.scope is not None:
            object.__setattr__(self, "scope", self.scope.lower())
        if self.revision is not None:
            object.__setattr__(self, "revision", self.revision.lower())

    def matches(
        self,
        short_name: str | None = None,
        scope: str | None = None,
        revision: str | None = None,
    ) -> bool:
        if short_name and self.short_name != short_name.lower():
            return False
        if scope and (self.scope is None or self.scope != scope.lower()):
            return False
        if revision and (self.revision is None or self.revision != revision.lower()):
            return False
        return True


@dataclass(frozen=True)
class RuleReference:
    """External reference document for a Rule (reference model.py:355-360)."""

    text: str
    url: str


@dataclass(frozen=True)
class Rule:
    """A group of facts with metadata + framework mappings
    (reference model.py:505-560; frameworks under rules/data/frameworks/)."""

    rule_id: str
    name: str
    facts: tuple[Fact, ...]
    description: str = ""
    tags: tuple[str, ...] = ()
    version: str = "1.0"
    references: tuple[RuleReference, ...] = ()
    frameworks: tuple[Framework, ...] = ()

    def has_framework(
        self,
        short_name: str | None = None,
        scope: str | None = None,
        revision: str | None = None,
    ) -> bool:
        return any(fw.matches(short_name, scope, revision) for fw in self.frameworks)

    def get_fact_by_id(self, fact_id: str) -> Fact | None:
        for fact in self.facts:
            if fact.fact_id.lower() == fact_id.lower():
                return fact
        return None


@dataclass
class RuleResult:
    """Aggregated results for one Rule execution (reference
    rules/spec/result.py:88-120): per-fact results plus counters."""

    rule_id: str
    rule_name: str
    rule_description: str
    facts: list[FactResult]
    rule_tags: tuple[str, ...] = ()
    rule_frameworks: tuple[Framework, ...] = ()

    @property
    def total_facts(self) -> int:
        return len(self.facts)

    @property
    def total_findings(self) -> int:
        return sum(r.failing_assets for r in self.facts)

    @property
    def total_assets(self) -> int:
        return sum(r.total_assets for r in self.facts)

    @property
    def total_passing(self) -> int:
        return sum(r.passing_assets for r in self.facts)

    @property
    def total_failing(self) -> int:
        return sum(r.failing_assets for r in self.facts)


def run_rules_batched(
    rules: list[Rule] | tuple[Rule, ...], catalog: GraphCatalog
) -> list[RuleResult]:
    """Run rules: the engine's one rule runner, with the reference's
    per-fact results in a fraction of the driver round-trips.

    The reference runner (rules/runners.py:188-340) executes rules
    sequentially — each fact is its own query plus its own count query,
    so N rules cost ~2N driver actions. Here all fact findings are
    tagged with their fact_id, unioned into ONE plan, and every fact's
    distinct-failing count comes back from a single groupBy job; total-
    asset counts are computed once per DISTINCT asset label / count
    query in a second unioned job (rules share labels, the reference
    re-counts them per rule). At scale the union job reads each fact's
    inputs in one pass and the per-fact aggregate is map-side combinable
    on the (fact_id, asset) pairs.

    Validation contract preserved: every fact's result frame must carry
    its declared ``asset_id_field`` (model.py:414-462), enforced before
    the union so a schema break still names the offending fact.
    """
    facts = [(rule, fact) for rule in rules for fact in rule.facts]
    # failing counts are keyed by fact_id across the whole union — a duplicate
    # fact_id in two rules would silently merge their findings into one count
    fact_ids = [fact.fact_id for _, fact in facts]
    dupes = {fid for fid in fact_ids if fact_ids.count(fid) > 1}
    if dupes:
        raise ValueError(f"duplicate fact_id(s) across rules: {sorted(dupes)}")
    # Build each fact frame ONCE and reuse it for both the tagged union and
    # the FactResult.findings handed back to the caller — the frames are
    # identical plans, and building them twice doubled the driver-side
    # analysis cost of this runner (measured ~1.5 s over the 23-fact corpus
    # at sf0.1; Catalyst analyzes each unionByName side eagerly).
    fact_dfs: list[DataFrame] = []
    parts: list[DataFrame] = []
    for _, fact in facts:
        df = fact.query(catalog)
        if fact.asset_id_field not in df.columns:
            raise ValueError(
                f"fact {fact.fact_id}: result is missing asset_id_field "
                f"{fact.asset_id_field!r} (schema validation, model.py:414-462)"
            )
        fact_dfs.append(df)
        parts.append(
            df.select(
                F.lit(fact.fact_id).alias("__fact"),
                F.col(fact.asset_id_field).cast("string").alias("__asset"),
            )
        )
    # Balanced pairwise union: a left-deep unionByName chain re-analyzes the
    # growing prefix at every link (O(N^2) analyzer work — measured 2.8-3.8 s
    # of pure driver time for 23 facts at sf0.1, with zero cluster work).
    # Folding in pairs keeps total analyzed plan size O(N log N); the final
    # logical plan flattens to the identical Union node either way.
    while len(parts) > 1:
        parts = [
            parts[i].unionByName(parts[i + 1]) if i + 1 < len(parts) else parts[i]
            for i in range(0, len(parts), 2)
        ]
    tagged = parts[0] if parts else None

    # totals: one count per distinct asset label and one per distinct
    # counter callable (keyed by identity, first-use order), all in ONE
    # unioned job
    def total_key(fact: Fact) -> str:
        if fact.count_query is not None:
            return f"fn:{id(fact.count_query)}"
        return f"label:{fact.asset_label}"

    labels_needed = sorted(
        {f.asset_label for _, f in facts if f.count_query is None}
    )
    counters = {
        total_key(f): f.count_query for _, f in facts if f.count_query is not None
    }
    count_parts: list[DataFrame] = [
        catalog.node(lbl)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(f"label:{lbl}").alias("__lbl"), "n")
        for lbl in labels_needed
    ]
    count_parts.extend(
        fn(catalog).select(F.lit(key).alias("__lbl"), F.col("n"))
        for key, fn in counters.items()
    )
    counts = None
    if count_parts:
        counts = count_parts[0]
        for one in count_parts[1:]:
            counts = counts.unionByName(one)

    def _collect_failing() -> dict[str, int]:
        # distinct-asset count must match the reference's Python-set semantics
        # (a NULL asset_id is one set element) — countDistinct drops NULLs, so
        # count distinct groups instead: groupBy collapses all NULLs into one
        # group, and both aggregates are map-side combinable
        if tagged is None:
            return {}
        return {
            r["__fact"]: r["n"]
            for r in tagged.groupBy("__fact", "__asset")
            .count()
            .groupBy("__fact")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def _collect_totals() -> dict[str, int]:
        if counts is None:
            return {}
        return {r["__lbl"]: r["n"] for r in counts.collect()}

    # Overlap the two independent collect jobs (guide §2.6): the counts job
    # is a handful of tiny per-label aggregates whose stages back-fill
    # executors left idle by the union job's straggler tail instead of
    # paying their scheduling latency sequentially after it. Results are
    # byte-identical — the jobs share no state.
    failing, totals = (
        f.result() for f in run_concurrently(catalog.spark, [_collect_failing, _collect_totals])
    )

    by_rule: dict[str, list[FactResult]] = {}
    for (rule, fact), fact_df in zip(facts, fact_dfs):
        n_fail = failing.get(fact.fact_id, 0)
        total = totals[total_key(fact)]
        by_rule.setdefault(rule.rule_id, []).append(
            FactResult(
                fact=fact,
                findings=fact_df,
                failing_assets=n_fail,
                total_assets=total,
                passing_assets=max(total - n_fail, 0),
            )
        )
    return [
        RuleResult(
            rule_id=rule.rule_id,
            rule_name=rule.name,
            rule_description=rule.description,
            facts=by_rule.get(rule.rule_id, []),
            rule_tags=rule.tags,
            rule_frameworks=rule.frameworks,
        )
        for rule in rules
    ]


def framework_rollup(results: list[RuleResult]) -> DataFrame:
    """Per-(framework, requirement) compliance rollup over executed rules —
    the DataFrame form of the reference's ``cartography-rules frameworks``
    view (rules/runners.py:24-41 get_all_frameworks groups rule->framework
    mappings by short_name; rules/cli.py:181-230 renders per-framework rule
    counts). One row per control actually mapped by some rule:
    (framework, requirement, n_rules, n_failing_rules, failing_assets,
    total_assets). A rule fails a control iff any of its facts has failing
    assets. The flatten + groupBy runs over rule COUNT x mapping rows —
    metadata-scale (dozens), never data-scale: the per-fact counts were
    already aggregated by the distributed fact queries themselves."""
    if not results:
        raise ValueError("no results")
    # a RuleResult may carry an empty facts list; take the session from the
    # first result that actually has findings
    spark = next(
        (rr.facts[0].findings.sparkSession for rr in results if rr.facts), None
    )
    if spark is None:
        raise ValueError("no results with facts")
    rows = [
        (
            fwk.short_name,
            fwk.requirement,
            rr.rule_id,
            rr.total_failing,
            rr.total_assets,
        )
        for rr in results
        for fwk in rr.rule_frameworks
    ]
    flat = local_frame(
        spark,
        rows,
        "framework string, requirement string, rule_id string, failing long, total long",
    )
    return (
        flat.groupBy("framework", "requirement")
        .agg(
            F.count("*").cast("bigint").alias("n_rules"),
            F.count_if(F.col("failing") > 0).cast("bigint").alias("n_failing_rules"),
            F.sum("failing").cast("bigint").alias("failing_assets"),
            F.sum("total").cast("bigint").alias("total_assets"),
        )
    )


def compliance_summary(results: list[FactResult]) -> DataFrame:
    """One row per fact: (fact_id, failing, passing, total) — the formatter
    contract (rules/formatters.py:122+)."""
    if not results:
        raise ValueError("no results")
    spark = results[0].findings.sparkSession
    rows = [
        (r.fact.fact_id, r.failing_assets, r.passing_assets, r.total_assets) for r in results
    ]
    return local_frame(spark, rows, "fact_id string, failing long, passing long, total long")
