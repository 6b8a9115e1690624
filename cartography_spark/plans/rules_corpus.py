"""Completion of the reference rules corpus: one Rule per remaining
reference rule file (rules/data/rules/ — 37 files total; the 14 files whose
query shapes anchor plans/rules_library.py are ported there, the other 23
are ported here), each mapped onto the fixture catalog / TPC-H-ish tables
with the same detection semantics, maturity framing, and framework
mappings. Every Rule cites its reference file; fact predicates are the
fixture-domain analog of the reference's Cypher detection (the reference
queries cloud-provider labels this engine's test fixtures don't ingest).

All facts are set-based DataFrame plans over the catalog or raw parquet
tables — filters and joins Catalyst can push to the scan; counts are the
engine's compliance math (rules/runners.py:121-134 contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.plans.frameworks import fw
from cartography_spark.plans.rules import Fact, Rule, RuleReference
from cartography_spark.sources.parquet import load_table


def _cis_ref(section: str) -> RuleReference:
    return RuleReference(f"CIS Benchmark {section}", "https://www.cisecurity.org/benchmark")


def build_corpus_rules(spark: SparkSession, sf_dir: str) -> tuple[Rule, ...]:
    """The 23 corpus rules that need raw-table access bound to (spark,
    sf_dir) — same closure pattern as rules_library.watchlist_rule."""

    part = lambda: load_table(spark, sf_dir, "part")  # noqa: E731
    li = lambda: load_table(spark, sf_dir, "lineitem")  # noqa: E731
    orders = lambda: load_table(spark, sf_dir, "orders")  # noqa: E731
    cust = lambda: load_table(spark, sf_dir, "customer")  # noqa: E731
    nation = lambda: load_table(spark, sf_dir, "nation")  # noqa: E731
    events = lambda: load_table(spark, sf_dir, "events")  # noqa: E731
    docs = lambda: load_table(spark, sf_dir, "documents")  # noqa: E731

    def n_parts(c: GraphCatalog) -> DataFrame:
        return part().agg(F.count(F.lit(1)).alias("n"))

    def n_docs(c: GraphCatalog) -> DataFrame:
        return docs().agg(F.count(F.lit(1)).alias("n"))

    def n_event_users(c: GraphCatalog) -> DataFrame:
        return events().select("user_id").distinct().agg(F.count(F.lit(1)).alias("n"))

    # --- per-file fixture facts -------------------------------------------

    def _uncovered_nations(c: GraphCatalog) -> DataFrame:
        """cis_4_0_gcp.py (audit-config coverage checks): scopes with no
        audit subject at all — nations containing zero customers."""
        custs = cust().select(F.col("c_nationkey").alias("n_nationkey"))
        return (
            c.node("Nation")
            .join(custs, "n_nationkey", "left_anti")
            .select(F.col("id").alias("asset_id"), "name")
        )

    def _stale_privileged(c: GraphCatalog) -> DataFrame:
        """cis_aws_iam.py (credentials unused 45+ days on privileged
        principals): high-balance customers whose latest order is stale."""
        last = (
            c.node("Order")
            .groupBy(F.col("o_custkey").cast("string").alias("id"))
            .agg(F.max("orderdate").alias("last_order"))
            .filter(F.col("last_order") < F.lit("1995-06-01").cast("timestamp"))
        )
        return (
            c.node("Customer")
            .filter(F.col("acctbal") > 9000)
            .join(last, "id")
            .select(F.col("id").alias("asset_id"), "name", "acctbal", "last_order")
        )

    def _no_collector_nations(c: GraphCatalog) -> DataFrame:
        """cis_aws_logging.py (no trail/flow-log in a region): nations with
        zero suppliers — no collector deployed in the scope."""
        sups = c.node("Supplier").select(F.col("s_nationkey").alias("n_nationkey"))
        return (
            c.node("Nation")
            .join(sups, "n_nationkey", "left_anti")
            .select(F.col("id").alias("asset_id"), "name")
        )

    def _wide_open_suppliers(c: GraphCatalog) -> DataFrame:
        """cis_aws_networking.py (0.0.0.0/0 ingress): suppliers reachable
        from >= 4 distinct regions' customers."""
        reach = (
            li()
            .select("l_suppkey", "l_orderkey")
            .join(orders().select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
            .join(cust().select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(nation().select("n_nationkey", "n_regionkey")), F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("l_suppkey")
            .agg(F.countDistinct("n_regionkey").alias("n_regions"))
            .filter(F.col("n_regions") >= 4)
        )
        return reach.select(F.col("l_suppkey").cast("string").alias("asset_id"), "n_regions")

    def _public_large_parts(c: GraphCatalog) -> DataFrame:
        """cis_aws_storage.py (public bucket holding data): oversized
        high-value parts in the open catalog."""
        return (
            part()
            .filter((F.col("p_size") >= 45) & (F.col("p_retailprice") > 1800))
            .select(F.col("p_partkey").cast("string").alias("asset_id"), "p_name", "p_size")
        )

    def _external_sharing(c: GraphCatalog) -> DataFrame:
        """cis_google_workspace.py (external-sharing enabled for privileged
        OUs): high-balance HOUSEHOLD-segment customers."""
        return (
            c.node("Customer")
            .filter((F.col("mktsegment") == "HOUSEHOLD") & (F.col("acctbal") > 8000))
            .select(F.col("id").alias("asset_id"), "name", "acctbal")
        )

    def _rbac_wildcard(c: GraphCatalog) -> DataFrame:
        """cis_kubernetes_rbac.py (wildcard verbs bound to untrusted
        subjects): urgent orders placed by negative-standing customers."""
        bad_cust = c.node("Customer").filter(F.col("acctbal") < 0).select(
            F.col("id").alias("cust_id")
        )
        return (
            c.node("Order")
            .filter(F.col("priority") == "1-URGENT")
            .withColumn("cust_id", F.col("o_custkey").cast("string"))
            .join(bad_cust, "cust_id")
            .select(F.col("id").alias("asset_id"), "priority", "cust_id")
        )

    def _privileged_workload(c: GraphCatalog) -> DataFrame:
        """cis_kubernetes_workloads.py (privileged/limit-maxed containers):
        orders containing a limit-maxed line item."""
        hot = (
            li()
            .filter((F.col("l_quantity") >= 49) & (F.col("l_discount") > 0.08))
            .select(F.col("l_orderkey").cast("string").alias("asset_id"))
            .distinct()
        )
        return hot

    def _product_deactivated(c: GraphCatalog) -> DataFrame:
        """cloud_security_product_deactivated.py (tenant lost its security
        product): regions with fewer than 2 well-funded suppliers."""
        per_region = (
            c.node("Supplier")
            .groupBy(F.col("region_id").alias("r_regionkey"))
            .agg(F.count_if(F.col("acctbal") > 9000).alias("n_guarded"))
        )
        return (
            c.node("Region")
            .join(per_region, "r_regionkey", "left")
            .filter(F.coalesce("n_guarded", F.lit(0)) < 2)
            .select(F.col("id").alias("asset_id"), "name", F.coalesce("n_guarded", F.lit(0)).alias("n_guarded"))
        )

    def _db_exposed(c: GraphCatalog) -> DataFrame:
        """database_instance_exposed.py (publicly reachable DB instance):
        finalized orders with exposed-scale totals."""
        return (
            c.node("Order")
            .filter((F.col("status") == "F") & (F.col("totalprice") > 400000))
            .select(F.col("id").alias("asset_id"), "totalprice")
        )

    def _databricks_weak(c: GraphCatalog) -> DataFrame:
        """databricks_security.py (weak workspace config): MACHINERY
        customers running on a near-zero balance."""
        return (
            c.node("Customer")
            .filter(
                (F.col("mktsegment") == "MACHINERY")
                & (F.col("acctbal") >= 0)
                & (F.col("acctbal") <= 100)
            )
            .select(F.col("id").alias("asset_id"), "name", "acctbal")
        )

    def _delegation_modifiable(c: GraphCatalog) -> DataFrame:
        """delegation_boundary_modifiable.py (principal can edit its own
        boundary): suppliers with returns spread over > 10 orders."""
        return (
            li()
            .filter(F.col("l_returnflag") == "R")
            .groupBy("l_suppkey")
            .agg(F.countDistinct("l_orderkey").alias("n_return_orders"))
            .filter(F.col("n_return_orders") > 10)
            .select(F.col("l_suppkey").cast("string").alias("asset_id"), "n_return_orders")
        )

    def _device_posture_gap(c: GraphCatalog) -> DataFrame:
        """device_security_posture_gaps.py (posture field set but below
        bar): suppliers funded above zero but under the posture floor."""
        return (
            c.node("Supplier")
            .filter((F.col("acctbal") > 0) & (F.col("acctbal") < 1000))
            .select(F.col("id").alias("asset_id"), "name", "acctbal")
        )

    def _guardduty_threat(c: GraphCatalog) -> DataFrame:
        """guardduty_active_threat.py (active high-severity finding):
        users emitting an error burst."""
        return (
            events()
            .filter(F.col("event_type") == "error")
            .groupBy("user_id")
            .agg(F.count("*").alias("n_errors"))
            .filter(F.col("n_errors") >= 20)
            .select(F.col("user_id").cast("string").alias("asset_id"), "n_errors")
        )

    def _mfa_org_gap(c: GraphCatalog) -> DataFrame:
        """identity_mfa_gaps.py (org-level MFA ratio below policy): nations
        where > 12% of customers are in negative standing."""
        return (
            c.node("Customer")
            .groupBy(F.col("c_nationkey").alias("n_nationkey"))
            .agg(
                F.count_if(F.col("acctbal") < 0).alias("n_bad"),
                F.count(F.lit(1)).alias("n_all"),
            )
            .filter(F.col("n_bad") * 100 > F.col("n_all") * 12)
            .select(F.col("n_nationkey").cast("string").alias("asset_id"), "n_bad", "n_all")
        )

    def _control_plane_exposed(c: GraphCatalog) -> DataFrame:
        """kubernetes_control_plane_exposed.py (public API server with
        admin creds): high-balance EUROPE suppliers."""
        europe = c.node("Region").filter(F.col("name") == "EUROPE").select(
            F.col("r_regionkey").alias("region_id")
        )
        return (
            c.node("Supplier")
            .filter(F.col("acctbal") > 9000)
            .join(F.broadcast(europe), "region_id")
            .select(F.col("id").alias("asset_id"), "name", "acctbal")
        )

    def _policy_admin(c: GraphCatalog) -> DataFrame:
        """policy_administration_privileges.py (who can edit IAM policy):
        customers driving > 4 urgent orders."""
        return (
            c.node("Order")
            .filter(F.col("priority") == "1-URGENT")
            .groupBy(F.col("o_custkey").cast("string").alias("asset_id"))
            .agg(F.count("*").alias("n_urgent"))
            .filter(F.col("n_urgent") > 4)
        )

    def _public_snapshots(c: GraphCatalog) -> DataFrame:
        """public_snapshots.py (snapshot shared to all accounts): cut-rate
        PROMO parts visible in the open catalog."""
        return (
            part()
            .filter(F.col("p_type").startswith("PROMO") & (F.col("p_retailprice") < 950))
            .select(F.col("p_partkey").cast("string").alias("asset_id"), "p_name", "p_type")
        )

    def _monitoring_gap(c: GraphCatalog) -> DataFrame:
        """security_monitoring_gaps.py (activity without onboarding
        telemetry): users with purchases but no signup event."""
        e = events()
        buyers = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
        signed = e.filter(F.col("event_type") == "signup").select("user_id").distinct()
        return buyers.join(signed, "user_id", "left_anti").select(
            F.col("user_id").cast("string").alias("asset_id")
        )

    def _serverless_exposed(c: GraphCatalog) -> DataFrame:
        """serverless_workload_exposed.py (public function with broad
        role): open high-priority orders at exposed scale."""
        return (
            c.node("Order")
            .filter(
                (F.col("priority") == "2-HIGH")
                & (F.col("status") == "O")
                & (F.col("totalprice") > 300000)
            )
            .select(F.col("id").alias("asset_id"), "totalprice")
        )

    def _tailscale_gap(c: GraphCatalog) -> DataFrame:
        """tailscale_security_configuration_gaps.py (key expiry disabled):
        underfunded suppliers inside the I-nations tailnet."""
        inats = c.node("Nation").filter(F.col("name").startswith("I")).select(
            F.col("n_nationkey").alias("s_nationkey")
        )
        return (
            c.node("Supplier")
            .filter(F.col("acctbal") < 500)
            .join(F.broadcast(inats), "s_nationkey")
            .select(F.col("id").alias("asset_id"), "name", "acctbal")
        )

    def _workload_identity_admin(c: GraphCatalog) -> DataFrame:
        """workload_identity_admin_capabilities.py (workload identity bound
        to admin capability): suppliers shipping max-size parts."""
        big = part().filter(F.col("p_size") >= 49).select("p_partkey")
        return (
            li()
            .join(F.broadcast(big), F.col("l_partkey") == F.col("p_partkey"))
            .select(F.col("l_suppkey").cast("string").alias("asset_id"))
            .distinct()
        )

    def _ai_provenance(c: GraphCatalog) -> DataFrame:
        """nist_ai_rmf.py (GOVERN/MAP: training-data provenance): documents
        with missing source or sub-minimal content."""
        return (
            docs()
            .filter(F.col("source").isNull() | (F.col("n_chars") < 50))
            .select(F.col("doc_id").cast("string").alias("asset_id"), "source", "n_chars")
        )

    # --- the 23 rules ------------------------------------------------------

    return (
        Rule(
            rule_id="cis-gcp-audit-coverage",
            name="Scopes with no audit subjects",
            description="Fixture port of rules/data/rules/cis_4_0_gcp.py "
            "(audit-config coverage family, 26 facts sharing the "
            "missing-configuration shape): a scope (nation) exists with no "
            "covered subject at all.",
            tags=("fixture", "cis", "gcp"),
            facts=(Fact("cis-gcp-uncovered-nations", "Nations with no customers", _uncovered_nations, "Nation", "asset_id"),),
            references=(_cis_ref("GCP 4.0"),),
            frameworks=(fw("cis", "2.1"), fw("iso27001", "A.8.15")),
        ),
        Rule(
            rule_id="cis-aws-iam-stale-credentials",
            name="Stale credentials on privileged principals",
            description="Fixture port of rules/data/rules/cis_aws_iam.py "
            "(credentials unused 45+ days): privileged (high-balance) "
            "customers whose latest activity predates the cutoff.",
            tags=("fixture", "cis", "iam"),
            facts=(Fact("cis-aws-iam-stale-privileged", "High-balance customers with stale activity", _stale_privileged, "Customer", "asset_id"),),
            references=(_cis_ref("AWS IAM 1.12"),),
            frameworks=(fw("cis", "1.12"), fw("soc2", "CC6.2")),
        ),
        Rule(
            rule_id="cis-aws-logging-coverage",
            name="Scopes with no log collector",
            description="Fixture port of rules/data/rules/cis_aws_logging.py "
            "(trail/flow-log missing in a region): nations with no supplier "
            "(collector) deployed.",
            tags=("fixture", "cis", "logging"),
            facts=(Fact("cis-aws-logging-no-collector", "Nations with no suppliers", _no_collector_nations, "Nation", "asset_id"),),
            references=(_cis_ref("AWS Logging 3.1"),),
            frameworks=(fw("cis", "3.1"), fw("iso27001", "A.8.15")),
        ),
        Rule(
            rule_id="cis-aws-networking-open-ingress",
            name="Assets reachable from every region",
            description="Fixture port of rules/data/rules/"
            "cis_aws_networking.py (0.0.0.0/0 ingress): suppliers reachable "
            "from customers of >= 4 distinct regions.",
            tags=("fixture", "cis", "networking"),
            facts=(Fact("cis-aws-networking-wide-open", "Suppliers reachable from >= 4 regions", _wide_open_suppliers, "Supplier", "asset_id"),),
            references=(_cis_ref("AWS Networking 5.2"),),
            frameworks=(fw("cis", "5.2"), fw("soc2", "CC6.6")),
        ),
        Rule(
            rule_id="cis-aws-storage-public-data",
            name="Public storage holding oversized data",
            description="Fixture port of rules/data/rules/cis_aws_storage.py "
            "(public bucket): oversized high-value parts in the open "
            "catalog.",
            tags=("fixture", "cis", "storage"),
            facts=(Fact("cis-aws-storage-public-large", "Oversized high-value public parts", _public_large_parts, "Part", "asset_id", count_query=n_parts),),
            references=(_cis_ref("AWS Storage 2.1"),),
            frameworks=(fw("cis", "2.1.4"), fw("soc2", "CC6.1")),
        ),
        Rule(
            rule_id="cis-gws-external-sharing",
            name="External sharing enabled for privileged users",
            description="Fixture port of rules/data/rules/"
            "cis_google_workspace.py (drive external-sharing policy): "
            "high-balance HOUSEHOLD customers.",
            tags=("fixture", "cis", "workspace"),
            facts=(Fact("cis-gws-external-sharing", "High-balance HOUSEHOLD customers", _external_sharing, "Customer", "asset_id"),),
            references=(_cis_ref("Google Workspace 3.1"),),
            frameworks=(fw("cis", "3.1"), fw("iso27001", "A.5.14")),
        ),
        Rule(
            rule_id="cis-k8s-rbac-wildcard",
            name="Wildcard privileges bound to untrusted subjects",
            description="Fixture port of rules/data/rules/"
            "cis_kubernetes_rbac.py (wildcard verbs/resources in bindings, "
            "21 facts sharing the over-grant join shape): urgent orders "
            "held by negative-standing customers.",
            tags=("fixture", "cis", "kubernetes"),
            facts=(Fact("cis-k8s-rbac-wildcard", "Urgent orders by negative-balance customers", _rbac_wildcard, "Order", "asset_id"),),
            references=(_cis_ref("Kubernetes RBAC 5.1"),),
            frameworks=(fw("cis", "5.1.1"), fw("soc2", "CC6.3")),
        ),
        Rule(
            rule_id="cis-k8s-privileged-workloads",
            name="Limit-maxed privileged workloads",
            description="Fixture port of rules/data/rules/"
            "cis_kubernetes_workloads.py (privileged containers / maxed "
            "limits): orders containing a limit-maxed line item.",
            tags=("fixture", "cis", "kubernetes"),
            facts=(Fact("cis-k8s-privileged-workload", "Orders with limit-maxed line items", _privileged_workload, "Order", "asset_id"),),
            references=(_cis_ref("Kubernetes Workloads 5.2"),),
            frameworks=(fw("cis", "5.2.1"), fw("iso27001", "A.8.9")),
        ),
        Rule(
            rule_id="security-product-deactivated",
            name="Tenant lost its security product",
            description="Fixture port of rules/data/rules/"
            "cloud_security_product_deactivated.py: regions that dropped "
            "below the guarded-supplier floor.",
            tags=("fixture", "posture"),
            facts=(Fact("security-product-deactivated", "Regions with < 2 well-funded suppliers", _product_deactivated, "Region", "asset_id"),),
            references=(RuleReference("Security product coverage", "https://attack.mitre.org/techniques/T1562/"),),
            frameworks=(fw("soc2", "CC7.1"),),
        ),
        Rule(
            rule_id="database-instance-exposed",
            name="Publicly reachable database instances",
            description="Fixture port of rules/data/rules/"
            "database_instance_exposed.py: finalized orders at "
            "exposed-scale totals.",
            tags=("fixture", "exposure"),
            facts=(Fact("database-instance-exposed", "Finalized orders above exposure scale", _db_exposed, "Order", "asset_id"),),
            references=(_cis_ref("Database exposure"),),
            frameworks=(fw("cis", "2.3.3"), fw("soc2", "CC6.6")),
        ),
        Rule(
            rule_id="databricks-workspace-security",
            name="Weakly configured workspaces",
            description="Fixture port of rules/data/rules/"
            "databricks_security.py: MACHINERY customers on a near-zero "
            "balance.",
            tags=("fixture", "posture"),
            facts=(Fact("databricks-weak-workspace", "MACHINERY customers with near-zero balance", _databricks_weak, "Customer", "asset_id"),),
            references=(RuleReference("Databricks security guide", "https://docs.databricks.com/en/security/index.html"),),
            frameworks=(fw("soc2", "CC6.1"),),
        ),
        Rule(
            rule_id="delegation-boundary-modifiable",
            name="Principals able to modify their own boundary",
            description="Fixture port of rules/data/rules/"
            "delegation_boundary_modifiable.py: suppliers with returns "
            "spread across > 10 orders.",
            tags=("fixture", "iam"),
            facts=(Fact("delegation-boundary-modifiable", "Suppliers with broad return reach", _delegation_modifiable, "Supplier", "asset_id"),),
            references=(RuleReference("Permissions boundaries", "https://docs.aws.amazon.com/IAM/latest/UserGuide/access_policies_boundaries.html"),),
            frameworks=(fw("soc2", "CC6.3"), fw("iso27001", "A.5.18")),
        ),
        Rule(
            rule_id="device-security-posture-gaps",
            name="Devices below the posture floor",
            description="Fixture port of rules/data/rules/"
            "device_security_posture_gaps.py (14 facts sharing the "
            "posture-threshold shape): suppliers funded above zero but "
            "under the posture floor.",
            tags=("fixture", "devices"),
            facts=(Fact("device-posture-gap", "Suppliers under the posture floor", _device_posture_gap, "Supplier", "asset_id"),),
            references=(_cis_ref("Device posture"),),
            frameworks=(fw("cis", "1.1"), fw("iso27001", "A.8.1")),
        ),
        Rule(
            rule_id="guardduty-active-threat",
            name="Active high-severity threat findings",
            description="Fixture port of rules/data/rules/"
            "guardduty_active_threat.py: users emitting an error burst.",
            tags=("fixture", "threat"),
            facts=(Fact("guardduty-active-threat", "Users with >= 20 error events", _guardduty_threat, "EventUser", "asset_id", count_query=n_event_users),),
            references=(RuleReference("GuardDuty findings", "https://docs.aws.amazon.com/guardduty/latest/ug/guardduty_findings.html"),),
            frameworks=(fw("soc2", "CC7.2"),),
        ),
        Rule(
            rule_id="identity-mfa-gaps",
            name="Org-level MFA enforcement gaps",
            description="Fixture port of rules/data/rules/"
            "identity_mfa_gaps.py (org-ratio policy checks): nations where "
            "> 12% of customers are in negative standing.",
            tags=("fixture", "identity"),
            facts=(Fact("identity-mfa-org-gap", "Nations above the negative-standing ratio", _mfa_org_gap, "Nation", "asset_id"),),
            references=(_cis_ref("Identity MFA"),),
            frameworks=(fw("cis", "1.10"), fw("soc2", "CC6.7")),
        ),
        Rule(
            rule_id="kubernetes-control-plane-exposed",
            name="Exposed control planes with admin access",
            description="Fixture port of rules/data/rules/"
            "kubernetes_control_plane_exposed.py: high-balance EUROPE "
            "suppliers.",
            tags=("fixture", "kubernetes", "exposure"),
            facts=(Fact("k8s-control-plane-exposed", "High-balance EUROPE suppliers", _control_plane_exposed, "Supplier", "asset_id"),),
            references=(_cis_ref("Kubernetes API server"),),
            frameworks=(fw("cis", "1.2.1"), fw("soc2", "CC6.6")),
        ),
        Rule(
            rule_id="policy-administration-privileges",
            name="Broad policy-administration privileges",
            description="Fixture port of rules/data/rules/"
            "policy_administration_privileges.py: customers driving > 4 "
            "urgent orders.",
            tags=("fixture", "iam"),
            facts=(Fact("policy-admin-privileges", "Customers with > 4 urgent orders", _policy_admin, "Customer", "asset_id"),),
            references=(RuleReference("IAM policy administration", "https://docs.aws.amazon.com/IAM/latest/UserGuide/best-practices.html"),),
            frameworks=(fw("soc2", "CC6.3"), fw("iso27001", "A.5.15")),
        ),
        Rule(
            rule_id="public-snapshots",
            name="Snapshots shared publicly",
            description="Fixture port of rules/data/rules/"
            "public_snapshots.py: cut-rate PROMO parts visible in the open "
            "catalog.",
            tags=("fixture", "exposure"),
            facts=(Fact("public-snapshots", "Cut-rate PROMO parts", _public_snapshots, "Part", "asset_id", count_query=n_parts),),
            references=(_cis_ref("EBS/RDS snapshots"),),
            frameworks=(fw("cis", "2.2.2"), fw("soc2", "CC6.1")),
        ),
        Rule(
            rule_id="security-monitoring-gaps",
            name="Activity without monitoring telemetry",
            description="Fixture port of rules/data/rules/"
            "security_monitoring_gaps.py: users with purchases but no "
            "signup telemetry.",
            tags=("fixture", "monitoring"),
            facts=(Fact("monitoring-gap-users", "Purchasers with no signup event", _monitoring_gap, "EventUser", "asset_id", count_query=n_event_users),),
            references=(RuleReference("Monitoring coverage", "https://attack.mitre.org/tactics/TA0005/"),),
            frameworks=(fw("soc2", "CC7.2"), fw("iso27001", "A.8.16")),
        ),
        Rule(
            rule_id="serverless-workload-exposed",
            name="Exposed serverless workloads with broad roles",
            description="Fixture port of rules/data/rules/"
            "serverless_workload_exposed.py: open high-priority orders at "
            "exposed scale.",
            tags=("fixture", "exposure", "serverless"),
            facts=(Fact("serverless-exposed", "Open 2-HIGH orders above exposure scale", _serverless_exposed, "Order", "asset_id"),),
            references=(_cis_ref("Serverless exposure"),),
            frameworks=(fw("cis", "4.3"), fw("soc2", "CC6.6")),
        ),
        Rule(
            rule_id="tailscale-configuration-gaps",
            name="Tailnet nodes with weakened key policy",
            description="Fixture port of rules/data/rules/"
            "tailscale_security_configuration_gaps.py: underfunded "
            "suppliers inside the I-nations tailnet.",
            tags=("fixture", "network"),
            facts=(Fact("tailscale-key-expiry", "Underfunded I-nation suppliers", _tailscale_gap, "Supplier", "asset_id"),),
            references=(RuleReference("Tailscale key expiry", "https://tailscale.com/kb/1028/key-expiry"),),
            frameworks=(fw("iso27001", "A.8.20"),),
        ),
        Rule(
            rule_id="workload-identity-admin-capabilities",
            name="Workload identities with admin capabilities",
            description="Fixture port of rules/data/rules/"
            "workload_identity_admin_capabilities.py: suppliers shipping "
            "max-size parts.",
            tags=("fixture", "iam", "workload"),
            facts=(Fact("workload-identity-admin", "Suppliers shipping max-size parts", _workload_identity_admin, "Supplier", "asset_id"),),
            references=(RuleReference("Workload identity federation", "https://cloud.google.com/iam/docs/workload-identity-federation"),),
            frameworks=(fw("soc2", "CC6.3"),),
        ),
        Rule(
            rule_id="nist-ai-rmf-data-provenance",
            name="Training data without provenance",
            description="Fixture port of rules/data/rules/nist_ai_rmf.py "
            "(GOVERN/MAP data-governance facts): documents with missing "
            "source or sub-minimal content.",
            tags=("fixture", "ai", "governance"),
            facts=(Fact("nist-ai-data-provenance", "Documents lacking provenance or content", _ai_provenance, "Document", "asset_id", count_query=n_docs),),
            references=(RuleReference("NIST AI RMF 1.0", "https://www.nist.gov/itl/ai-risk-management-framework"),),
            frameworks=(fw("nist-ai-rmf", "GOVERN-1.2"), fw("nist-ai-rmf", "MAP-2.3")),
        ),
    )


def full_rule_set(spark: SparkSession, sf_dir: str) -> tuple[Rule, ...]:
    """Every ported rule across the whole reference corpus (37/37 files of
    rules/data/rules/): the 10 library rules, the 3 extended shape ports,
    and the 23 corpus rules. All builders are lazy — table access happens
    when a fact runs, so listing metadata needs no live session."""
    from cartography_spark.plans.rules_library import build_extended_rules, build_rules

    return build_rules(spark, sf_dir) + build_extended_rules(spark, sf_dir) + build_corpus_rules(spark, sf_dir)
