"""Built-in rule library: the reference ships 37 rule files under
cartography/rules/data/rules/ — this ports the TEN most representative of
them onto the fixture catalog, end-to-end through the Fact/Rule engine
(plans/rules.py) with framework mappings (plans/frameworks.py) and the
text/JSON formatters (plans/rules_formatters.py).

Each rule cites the reference rule file whose detection SHAPE it mirrors;
the subject matter is re-expressed over the fixture graph (Customer /
Supplier / Order / Nation / Region), since the reference's cloud-asset
labels do not exist here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.plans.frameworks import fw
from cartography_spark.plans.query import match
from cartography_spark.plans.rules import Fact, Rule, RuleReference


def _neg_bal_high_value(c: GraphCatalog):
    """Customers with negative balance AND >=1 high-value order (EXISTS)."""
    orders = c.node("Order").filter(F.col("totalprice") > 300000)
    return (
        c.node("Customer")
        .filter(F.col("acctbal") < 0)
        .join(
            orders.select(F.col("o_custkey").cast("string").alias("id")).distinct(),
            "id",
            "left_semi",
        )
        .select(F.col("id").alias("asset_id"), "name", "acctbal")
    )


def _asia_negative_suppliers(c: GraphCatalog):
    """Suppliers in region ASIA with negative balance (2-hop tenancy)."""
    p = (
        match(c, "Supplier", "s")
        .where(F.col("s__acctbal") < 0)
        .out("LOCATED_IN", "Nation", "n")
        .inward("RESOURCE", "Region", "r")
    )
    return p.df.filter(F.col("r__name") == "ASIA").select(
        F.col("s__id").alias("asset_id"), F.col("s__name").alias("name")
    )


def _bulk_order_customers(c: GraphCatalog):
    """Customers with more than 30 orders (aggregation-threshold / HAVING
    shape — the rules corpus's count(...) > N idiom)."""
    heavy = (
        c.node("Order")
        .groupBy(F.col("o_custkey").cast("string").alias("id"))
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") > 30)
    )
    return (
        c.node("Customer")
        .join(heavy, "id")
        .select(F.col("id").alias("asset_id"), "name", "n_orders")
    )


def _customers_without_orders(c: GraphCatalog):
    """Customers with NO orders at all (anti-join / NOT EXISTS)."""
    orders = c.node("Order").select(F.col("o_custkey").cast("string").alias("id")).distinct()
    return (
        c.node("Customer")
        .join(orders, "id", "left_anti")
        .select(F.col("id").alias("asset_id"), "name")
    )


def _flag_disabled_suppliers(c: GraphCatalog):
    """Boolean-false posture field (mirrors mfa_missing.py's
    `_ont_has_mfa = false` idiom with explicit-false, not-null semantics)."""
    return (
        c.node("Supplier")
        .filter(F.coalesce(F.col("acctbal") > 0, F.lit(False)) == False)  # noqa: E712
        .select(F.col("id").alias("asset_id"), "name", "acctbal")
    )


def _inactive_customers_open_orders(c: GraphCatalog):
    """Inactive principal still attached to live resources (mirrors
    inactive_user_active_accounts.py)."""
    open_orders = c.node("Order").filter(F.col("status") == "O")
    return (
        c.node("Customer")
        .filter(F.col("acctbal") < 0)
        .join(
            open_orders.select(F.col("o_custkey").cast("string").alias("id")).distinct(),
            "id",
            "left_semi",
        )
        .select(F.col("id").alias("asset_id"), "name", "acctbal")
    )


def _stale_customers(c: GraphCatalog):
    """Most-recent related record older than a cutoff (mirrors
    database_backup_gaps.py's last-backup-age threshold)."""
    latest = (
        c.node("Order")
        .groupBy(F.col("o_custkey").cast("string").alias("id"))
        .agg(F.max("orderdate").alias("last_order"))
        .filter(F.col("last_order") < F.lit("1995-01-01").cast("date"))
    )
    return (
        c.node("Customer")
        .join(latest, "id")
        .select(F.col("id").alias("asset_id"), "name", "last_order")
    )


def _eol_segment_customers(c: GraphCatalog):
    """Static deny-list membership (mirrors eol_software.py's
    version-in-list idiom)."""
    return (
        c.node("Customer")
        .filter(F.col("mktsegment").isin("AUTOMOBILE", "MACHINERY") & (F.col("acctbal") < 500))
        .select(F.col("id").alias("asset_id"), "name", "mktsegment", "acctbal")
    )


def _low_priority_pending(c: GraphCatalog):
    """Weak-setting string predicates (mirrors transport_encryption_gaps.py's
    protocol/policy string checks)."""
    return (
        c.node("Order")
        .filter((F.col("priority") == "5-LOW") & (F.col("status") == "P"))
        .select(F.col("id").alias("asset_id"), "priority", "status")
    )


PUBLIC_EXPOSURE = Rule(
    rule_id="public-exposure",
    name="Negative-balance customers with high-value orders",
    description="EXISTS-subquery detection shape of rules/data/rules/"
    "object_storage_public.py:14-29: asset fails iff a related record "
    "exists with the given predicates.",
    tags=("fixture", "exposure"),
    facts=(
        Fact(
            fact_id="neg-balance-high-value-customers",
            name="Negative-balance customers with high-value orders",
            query=_neg_bal_high_value,
            asset_label="Customer",
            asset_id_field="asset_id",
        ),
    ),
    references=(RuleReference("CIS storage guidance", "https://www.cisecurity.org/benchmark"),),
    frameworks=(fw("cis", "2.1.4"), fw("soc2", "CC6.1"), fw("iso27001", "A.5.15")),
)

POSTURE_FLAG_DISABLED = Rule(
    rule_id="posture-flag-disabled",
    name="Suppliers with protection flag explicitly off",
    description="Boolean-false ontology-field shape of rules/data/rules/"
    "mfa_missing.py (explicit false, null means unknown).",
    tags=("fixture", "identity"),
    facts=(
        Fact(
            fact_id="flag-disabled-suppliers",
            name="Suppliers with non-positive balance flag",
            query=_flag_disabled_suppliers,
            asset_label="Supplier",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("cis", "1.12"), fw("soc2", "CC6.2"), fw("iso27001", "A.5.16")),
)

INACTIVE_ACTIVE = Rule(
    rule_id="inactive-with-active-resources",
    name="Inactive customers holding open orders",
    description="Inactive-principal-with-live-grants shape of "
    "rules/data/rules/inactive_user_active_accounts.py.",
    tags=("fixture", "identity"),
    facts=(
        Fact(
            fact_id="inactive-customers-open-orders",
            name="Negative-balance customers with open orders",
            query=_inactive_customers_open_orders,
            asset_label="Customer",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("cis", "1.12"), fw("soc2", "CC6.3")),
)

UNMANAGED_ACCOUNTS = Rule(
    rule_id="unmanaged-accounts",
    name="Customers with no orders",
    description="Unattached-principal anti-join shape of "
    "rules/data/rules/unmanaged_accounts.py (NOT EXISTS).",
    tags=("fixture", "identity"),
    facts=(
        Fact(
            fact_id="customers-without-orders",
            name="Customers with no orders",
            query=_customers_without_orders,
            asset_label="Customer",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("soc2", "CC6.2"), fw("iso27001", "A.5.16")),
)

ADMIN_PRIVILEGES = Rule(
    rule_id="excessive-privileges",
    name="Customers exceeding 30 orders",
    description="Aggregation-threshold shape of rules/data/rules/"
    "identity_administration_privileges.py (count(...) > N / HAVING).",
    tags=("fixture", "privilege"),
    facts=(
        Fact(
            fact_id="bulk-order-customers",
            name="Customers exceeding 30 orders",
            query=_bulk_order_customers,
            asset_label="Customer",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("cis", "1.14"), fw("iso27001", "A.8.2")),
)

REGIONAL_EXPOSURE = Rule(
    rule_id="regional-exposure",
    name="ASIA-region suppliers with negative balance",
    description="Multi-hop tenancy-chain shape of rules/data/rules/"
    "compute_instance_exposed.py (asset filtered through a join chain).",
    tags=("fixture", "exposure"),
    facts=(
        Fact(
            fact_id="asia-negative-suppliers",
            name="ASIA-region suppliers with negative balance",
            query=_asia_negative_suppliers,
            asset_label="Supplier",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("cis", "5.2"), fw("soc2", "CC6.6"), fw("iso27001", "A.8.20")),
)

BACKUP_GAPS = Rule(
    rule_id="stale-activity",
    name="Customers with no orders since 1995",
    description="Temporal-threshold shape of rules/data/rules/"
    "database_backup_gaps.py (latest related record older than cutoff).",
    tags=("fixture", "resilience"),
    facts=(
        Fact(
            fact_id="stale-customers",
            name="Customers whose latest order predates 1995",
            query=_stale_customers,
            asset_label="Customer",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("soc2", "A1.2"), fw("iso27001", "A.8.13")),
)

EOL_SEGMENTS = Rule(
    rule_id="eol-market-segments",
    name="Low-balance customers in deprecated segments",
    description="Static-list membership shape of rules/data/rules/"
    "eol_software.py (attribute IN deny-list).",
    tags=("fixture", "hygiene"),
    facts=(
        Fact(
            fact_id="eol-segment-customers",
            name="Low-balance customers in deprecated market segments",
            query=_eol_segment_customers,
            asset_label="Customer",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("soc2", "CC7.2"), fw("nist-ai-rmf", "MEASURE 2.7")),
)

TRANSPORT_GAPS = Rule(
    rule_id="weak-order-settings",
    name="Low-priority pending orders",
    description="Weak-string-setting shape of rules/data/rules/"
    "transport_encryption_gaps.py (insecure protocol/policy values).",
    tags=("fixture", "hygiene"),
    facts=(
        Fact(
            fact_id="low-priority-pending-orders",
            name="Pending orders filed at lowest priority",
            query=_low_priority_pending,
            asset_label="Order",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("soc2", "CC6.7"), fw("iso27001", "A.8.24")),
)


def watchlist_rule(spark: SparkSession, sf_dir: str) -> Rule:
    """IOC-watchlist literal-list join shape of rules/data/rules/
    malicious_npm_dependencies_shai_hulud.py: an inline (name, version)
    watchlist UNWINDs and joins assets on BOTH fields, with a REPLACE
    normalization on one side (the reference strips '= ' from
    requirements; here 'Brand#' strips from p_brand)."""
    from cartography_spark.sources.parquet import load_table

    def _watchlist_parts(c: GraphCatalog) -> DataFrame:
        part = load_table(spark, sf_dir, "part")
        watch = part.sparkSession.createDataFrame(
            [("STANDARD", "16"), ("PROMO", "3"), ("ECONOMY", "25")],
            "w_type string, w_brand string",
        )
        return (
            part.withColumn("brand_norm", F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("")))
            .join(
                F.broadcast(watch),
                (F.col("p_type") == F.col("w_type")) & (F.col("brand_norm") == F.col("w_brand")),
            )
            .select(
                F.col("p_partkey").cast("string").alias("asset_id"),
                F.col("p_name").alias("name"),
                "p_type",
                "p_brand",
            )
        )

    return Rule(
        rule_id="watchlist-parts",
        name="Parts matching the compromised-catalog watchlist",
        description="IOC-watchlist join shape of rules/data/rules/"
        "malicious_npm_dependencies_shai_hulud.py (literal name+version "
        "pairs, REPLACE-normalized equality).",
        tags=("fixture", "supply_chain"),
        facts=(
            Fact(
                fact_id="watchlist-parts",
                name="Parts on the (type, brand) watchlist",
                query=_watchlist_parts,
                asset_label="Part",
                asset_id_field="asset_id",
                count_query=lambda c: load_table(spark, sf_dir, "part").agg(
                    F.count(F.lit(1)).alias("n")
                ),
            ),
        ),
        references=(RuleReference("Supply-chain watchlists", "https://owasp.org"),),
        frameworks=(fw("soc2", "CC7.1"), fw("iso27001", "A.8.7")),
    )


def _module_coverage_gaps(c: GraphCatalog) -> DataFrame:
    """Case-insensitive coverage-gap join shape of rules/data/rules/
    subimage_coverage.py: modules with is_configured=false whose lowercased
    id matches an in-use asset's lowercased name."""
    spark = c.spark
    modules = spark.createDataFrame(
        [("asia", False), ("EUROPE", True), ("Africa", False), ("orbit", False)],
        "module_id string, is_configured boolean",
    )
    regions = c.node("Region").select(F.col("id").alias("asset_id"), "name")
    return (
        modules.filter(~F.col("is_configured"))
        .join(
            F.broadcast(regions),
            F.lower(F.col("module_id")) == F.lower(F.col("name")),
        )
        .select("asset_id", "name", "module_id")
    )


MODULE_COVERAGE = Rule(
    rule_id="module-coverage-gaps",
    name="Regions used without a configured coverage module",
    description="Case-insensitive coverage-gap shape of rules/data/rules/"
    "subimage_coverage.py (toLower(module.id) = toLower(asset.name), "
    "is_configured = false).",
    tags=("fixture", "coverage"),
    facts=(
        Fact(
            fact_id="module-coverage-gaps",
            name="Regions matching an unconfigured module",
            query=_module_coverage_gaps,
            asset_label="Region",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("soc2", "CC7.2"),),
)


def _chain_default_exposure(c: GraphCatalog) -> DataFrame:
    """3-hop chain with coalesce-false defaults and an exclusion predicate —
    the rules/data/rules/unpinned_github_actions.py shape
    (repo->workflow->action, coalesce(archived,false)=false,
    owner <> 'docker')."""
    chain = (
        c.node("Region")
        .filter(F.col("name") == "EUROPE")
        .select(F.col("r_regionkey").alias("rk"), F.col("name").alias("region_name"))
        .join(
            c.node("Nation").select(
                F.col("n_nationkey").alias("nk"),
                F.col("n_regionkey").alias("rk"),
                F.col("name").alias("nation_name"),
            ),
            "rk",
        )
        .join(
            c.node("Supplier").select(
                F.col("id").alias("asset_id"),
                F.col("name").alias("supplier_name"),
                F.col("s_nationkey").alias("nk"),
                "acctbal",
            ),
            "nk",
        )
    )
    return (
        chain.filter(
            (F.coalesce(F.col("acctbal"), F.lit(0.0)) < 0)
            & (F.col("nation_name") != "NATION_1")
        )
        .select("asset_id", "supplier_name", "nation_name", "region_name")
    )


CHAIN_DEFAULT_EXPOSURE = Rule(
    rule_id="chain-default-exposure",
    name="EUROPE suppliers overdrawn outside the exempt nation",
    description="3-hop chain + coalesce-false defaults + exclusion shape "
    "of rules/data/rules/unpinned_github_actions.py.",
    tags=("fixture", "supply_chain"),
    facts=(
        Fact(
            fact_id="chain-default-exposure",
            name="Overdrawn EUROPE suppliers (non-exempt nations)",
            query=_chain_default_exposure,
            asset_label="Supplier",
            asset_id_field="asset_id",
        ),
    ),
    frameworks=(fw("cis", "5.2"), fw("iso27001", "A.8.20")),
)


def build_extended_rules(spark: SparkSession, sf_dir: str) -> tuple[Rule, ...]:
    """The three round-2 shape ports (watchlist join, case-insensitive
    coverage gap, 3-hop coalesce-default chain) — with build_rules, all
    thirteen distinct detection shapes of the reference's 37-rule corpus."""
    return (watchlist_rule(spark, sf_dir), MODULE_COVERAGE, CHAIN_DEFAULT_EXPOSURE)


def cross_region_rule(spark: SparkSession, sf_dir: str) -> Rule:
    """Cross-tenant trust shape of rules/data/rules/
    iam_role_external_account_trust.py: asset trusted from a different
    tenant than its own. Built per-sf_dir because the linking table
    (lineitem) is not a catalog label."""
    from cartography_spark.sources.parquet import load_table

    def _cross_region_suppliers(c: GraphCatalog) -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        cust = c.node("Customer").select(
            F.col("id").alias("cust_id"), F.col("c_nationkey").alias("cn")
        )
        nat = c.node("Nation").select(
            F.col("n_nationkey").alias("nk"), F.col("n_regionkey").alias("rk")
        )
        sup = c.node("Supplier").select(
            F.col("id").alias("asset_id"), "name", F.col("s_nationkey").alias("sn")
        )
        pairs = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(
                F.col("l_suppkey").cast("string").alias("asset_id"),
                F.col("o_custkey").cast("string").alias("cust_id"),
            )
            .distinct()
        )
        cust_r = cust.join(nat, cust.cn == nat.nk).select("cust_id", F.col("rk").alias("cust_region"))
        sup_r = sup.join(nat, sup.sn == nat.nk).select("asset_id", "name", F.col("rk").alias("sup_region"))
        return (
            pairs.join(cust_r, "cust_id")
            .join(sup_r, "asset_id")
            .filter(F.col("cust_region") != F.col("sup_region"))
            .select("asset_id", "name")
            .distinct()
        )

    return Rule(
        rule_id="cross-region-trade",
        name="Suppliers trading across regions",
        description="Cross-tenant trust shape of rules/data/rules/"
        "iam_role_external_account_trust.py (resource reachable from a "
        "foreign tenant).",
        tags=("fixture", "trust"),
        facts=(
            Fact(
                fact_id="cross-region-suppliers",
                name="Suppliers with buyers outside their region",
                query=_cross_region_suppliers,
                asset_label="Supplier",
                asset_id_field="asset_id",
            ),
        ),
        frameworks=(fw("soc2", "CC6.6"), fw("iso27001", "A.8.16")),
    )


# The nine catalog-only rules (usable against any loaded warehouse).
CATALOG_RULES: tuple[Rule, ...] = (
    PUBLIC_EXPOSURE,
    POSTURE_FLAG_DISABLED,
    INACTIVE_ACTIVE,
    UNMANAGED_ACCOUNTS,
    ADMIN_PRIVILEGES,
    REGIONAL_EXPOSURE,
    BACKUP_GAPS,
    EOL_SEGMENTS,
    TRANSPORT_GAPS,
)


def build_rules(spark: SparkSession, sf_dir: str) -> tuple[Rule, ...]:
    """All ten ported rules (the nine catalog rules + the lineitem-backed
    cross-region trust rule)."""
    return CATALOG_RULES + (cross_region_rule(spark, sf_dir),)
