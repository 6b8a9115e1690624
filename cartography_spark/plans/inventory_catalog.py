"""Catalog-engine utilities inventory: profiling, fuzzy entity
resolution, and multi-dimensional layout.

The reference's whole reason to exist is cataloguing assets and their
relationships (SURVEY §1). These queries are that mission applied to
tabular data:

- ``table_profile``: per-column inventory stats in one scan — the
  tabular analogue of the reference's node/property introspection
  (cartography/client/core/tx.py read helpers).
- ``entity_resolution_fuzzy``: blocked fuzzy matching (levenshtein
  within an equality block) — the approximate version of the
  reference's exact MatchLink (querybuilder.py:1755); blocking keeps
  the candidate space linear, never all-pairs.
- ``layout_zorder``: Morton-interleaved clustering key over two query
  dimensions — the data-layout lever (Delta/Iceberg OPTIMIZE ZORDER)
  that makes file skipping work for either predicate at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.operators.profiling import profile_table, zorder_key, zorder_sql
from cartography_spark.plans.registry import query
from cartography_spark.sources.parquet import load_table as T


@query(
    "table_profile",
    oracle="""
    WITH o AS (SELECT *, date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS o_epoch_day FROM orders)
    SELECT 'o_orderkey' AS col_name,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS DOUBLE) AS min_num, CAST(max(o_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM o
    UNION ALL
    SELECT 'o_custkey', CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_custkey), CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
           NULL, NULL FROM o
    UNION ALL
    SELECT 'o_totalprice', CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_totalprice), min(o_totalprice), max(o_totalprice), NULL, NULL FROM o
    UNION ALL
    SELECT 'o_epoch_day', CAST(sum(CASE WHEN o_epoch_day IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_epoch_day), CAST(min(o_epoch_day) AS DOUBLE), CAST(max(o_epoch_day) AS DOUBLE),
           NULL, NULL FROM o
    UNION ALL
    SELECT 'o_orderstatus', CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderstatus), NULL, NULL, min(o_orderstatus), max(o_orderstatus) FROM o
    UNION ALL
    SELECT 'o_orderpriority', CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderpriority), NULL, NULL, min(o_orderpriority), max(o_orderpriority) FROM o
    """,
    doc="One-scan per-column profile of orders (operators/profiling.py:"
    "profile_table): nulls, distinct counts, numeric/string ranges. Spark "
    "computes all 20 aggregates in a single pass (count-distincts share "
    "one Expand) then explodes to rows; the oracle re-scans per column.",
    tags=("profiling", "catalog"),
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").withColumn(
        "o_epoch_day", F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
    )
    return profile_table(
        o,
        numeric_cols=["o_orderkey", "o_custkey", "o_totalprice", "o_epoch_day"],
        string_cols=["o_orderstatus", "o_orderpriority"],
    )


@query(
    "entity_resolution_fuzzy",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM names a JOIN names b
      ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.p_name < b.p_name
     AND levenshtein(a.p_name, b.p_name) <= 4
    """,
    doc="Blocked fuzzy entity resolution over part names: equality block "
    "on the noun token, levenshtein<=4 within the block. The approximate "
    "MatchLink (reference's exact-key matchlink: querybuilder.py:1755). "
    "Blocking turns the all-pairs O(n^2) into per-block candidates — at "
    "scale the block key is the shuffle key and skewed blocks get salted "
    "like any hot aggregation key.",
    tags=("join", "fuzzy", "catalog"),
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = T(spark, sf_dir, "part").select("p_name").distinct()
    blk = lambda c: F.element_at(F.split(F.col(c), " "), 2)  # noqa: E731
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    return (
        a.join(
            b,
            (blk("name_a") == blk("name_b"))
            & (F.col("name_a") < F.col("name_b"))
            & (F.levenshtein("name_a", "name_b") <= 4),
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
    )


@query(
    "layout_zorder",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey,
             o_custkey % 65536 AS x,
             date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) % 65536 AS y
      FROM orders
    )
    SELECT o_orderkey, CAST({zorder_sql("x", "y")} AS BIGINT) AS zval
    FROM o ORDER BY zval ASC, o_orderkey ASC LIMIT 50
    """,
    doc="Morton z-order clustering key over (customer, order-day) "
    "(operators/profiling.py:zorder_key): pure per-row bit arithmetic, "
    "no shuffle; sorting by it co-locates rows close in BOTH dimensions "
    "so parquet min/max skipping serves either predicate. Bit-identical "
    "in the oracle via the arithmetic zorder_sql form.",
    tags=("layout", "catalog"),
)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).alias("x"),
        (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long") % 65536).alias("y"),
    )
    return (
        o.select("o_orderkey", zorder_key("x", "y").alias("zval"))
        .orderBy(F.asc("zval"), F.asc("o_orderkey"))
        .limit(50)
    )


@query(
    "dq_expectations",
    oracle="""
    SELECT 'orderkey_unique' AS check_name,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'custkey_not_null', CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer', CAST(count(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'totalprice_nonnegative', CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_fk_orders', CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'discount_in_unit_range',
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    """,
    doc="Data-quality expectation suite in ONE submitted job: uniqueness, "
    "null-rate, two referential-integrity (anti-join) checks, and two "
    "range checks, unioned into a (check_name, n_violations) report. "
    "Each check is an independent scan/anti-join branch, so Spark "
    "schedules them concurrently; the anti-joins broadcast the key side. "
    "The batch analogue of the reference's drift/consistency checking "
    "(driftdetect/) applied to ingest validation.",
    tags=("quality", "catalog"),
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    li = T(spark, sf_dir, "lineitem")

    def row(name: str, val):
        return val.select(F.lit(name).alias("check_name"), F.col("n").cast("long").alias("n_violations"))

    uniq = o.agg((F.count("*") - F.countDistinct("o_orderkey")).alias("n"))
    nn = o.agg(F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias("n"))
    fk_o = o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(F.count("*").alias("n"))
    price = o.agg(F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias("n"))
    fk_l = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(F.count("*").alias("n"))
    disc = li.agg(
        F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)).alias("n")
    )
    return (
        row("orderkey_unique", uniq)
        .unionByName(row("custkey_not_null", nn))
        .unionByName(row("orders_fk_customer", fk_o))
        .unionByName(row("totalprice_nonnegative", price))
        .unionByName(row("lineitem_fk_orders", fk_l))
        .unionByName(row("discount_in_unit_range", disc))
    )


@query(
    "layout_skipping_stats",
    oracle="""
    WITH tagged AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS file_id,
             'range' AS layout, o_orderdate
      FROM orders
      UNION ALL
      SELECT CAST(o_orderkey % 84 AS BIGINT), 'hash', o_orderdate FROM orders
    ),
    files AS (
      SELECT layout, file_id, min(o_orderdate) AS mn, max(o_orderdate) AS mx,
             count(*) AS n_rows
      FROM tagged GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN mx < DATE '1994-01-01' OR mn > DATE '1994-03-31'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
           CAST(sum(CASE WHEN mx < DATE '1994-01-01' OR mn > DATE '1994-03-31'
                         THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
    FROM files GROUP BY layout
    """,
    doc="Data-skipping effectiveness audit — the measurement behind "
    "layout_zorder: simulate the same orders table written under a "
    "RANGE layout (one file per order month, the clustered write) and a "
    "HASH layout (orderkey % 84, the scattered write), compute each "
    "file's min/max footer stats for o_orderdate, and apply the "
    "standard skip rule (max < lo OR min > hi) for a one-quarter "
    "predicate. The range layout prunes ~96% of files; the hash layout "
    "prunes none and must scan every row — the quantified argument for "
    "range/z-order writes at 100 TB, where this ratio is the difference "
    "between scanning one month and scanning the lake. One shuffle "
    "(file-stats aggregate over the tagged union); the audit costs the "
    "same as a count per layout regardless of table size.",
    tags=("catalog", "layout"),
)
def q_layout_skipping_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    rng = o.select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("file_id"),
        F.lit("range").alias("layout"),
        "o_orderdate",
    )
    hsh = o.select(
        (F.col("o_orderkey") % 84).cast("bigint").alias("file_id"),
        F.lit("hash").alias("layout"),
        "o_orderdate",
    )
    files = (
        rng.unionByName(hsh)
        .groupBy("layout", "file_id")
        .agg(
            F.min("o_orderdate").alias("mn"),
            F.max("o_orderdate").alias("mx"),
            F.count("*").alias("n_rows"),
        )
    )
    lo, hi = F.lit("1994-01-01").cast("date"), F.lit("1994-03-31").cast("date")
    skip = (F.col("mx") < lo) | (F.col("mn") > hi)
    return files.groupBy("layout").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(F.when(skip, 1).otherwise(0)).cast("bigint").alias("n_skipped"),
        F.sum(F.when(skip, 0).otherwise(F.col("n_rows"))).cast("bigint").alias("rows_scanned"),
    )


@query(
    "layout_compaction_plan",
    oracle="""
    WITH files AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS file_month,
             CAST(o_custkey % 8 AS BIGINT) AS bucket,
             count(*) AS n_rows,
             min(o_orderdate) AS mn, max(o_orderdate) AS mx
      FROM orders GROUP BY 1, 2
    ),
    planned AS (
      SELECT *,
             CAST(floor((sum(n_rows) OVER (ORDER BY file_month, bucket
                                           ROWS UNBOUNDED PRECEDING) - n_rows) / 2000.0)
                  AS BIGINT) AS bin
      FROM files
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           min(mn) AS mn_date, max(mx) AS mx_date
    FROM planned GROUP BY bin
    """,
    doc="Small-file compaction planner — the OPTIMIZE/bin-packing pass "
    "every lakehouse table needs at 100 TB, planned over FILE METADATA "
    "(footer stats), never data. Simulates the pathological layout a "
    "streaming writer produces (one file per (order-month, writer "
    "bucket): ~670 small skewed files), then assigns files to "
    "compaction groups by SORTED bin-packing: files ordered by their "
    "clustering key, bin = floor(preceding-row-cumsum / target). "
    "Sorted packing (vs first-fit-decreasing) is the right call for "
    "analytics: it preserves the table's clustering order, so the "
    "min/max date span per OUTPUT bin stays narrow and data skipping "
    "(layout_skipping_stats) keeps working after compaction — FFD "
    "would shuffle months together and destroy pruning. The cumsum "
    "window runs on the file-stats frame (one row per file — metadata-"
    "scale: ~10^6 rows for a 100 TB table, fine for one partition), "
    "not the fact table; the only full-scan cost is the per-file "
    "stats aggregate, same as any footer-stats collection.",
    tags=("catalog", "layout"),
)
def q_layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    files = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("file_month"),
        (F.col("o_custkey") % 8).cast("bigint").alias("bucket"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("o_orderdate").alias("mn"),
        F.max("o_orderdate").alias("mx"),
    )
    w = Window.orderBy("file_month", "bucket").rowsBetween(Window.unboundedPreceding, 0)
    planned = files.withColumn(
        "bin", F.floor((F.sum("n_rows").over(w) - F.col("n_rows")) / 2000.0).cast("bigint")
    )
    return planned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.min("mn").alias("mn_date"),
        F.max("mx").alias("mx_date"),
    )


@query(
    "layout_overlap_depth",
    oracle="""
    WITH tagged AS (
      SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS file_id,
             'range' AS layout, o_orderdate
      FROM orders
      UNION ALL
      SELECT CAST(o_orderkey % 84 AS BIGINT), 'hash', o_orderdate FROM orders
    ),
    files AS (
      SELECT layout, file_id, min(o_orderdate) AS mn, max(o_orderdate) AS mx
      FROM tagged GROUP BY layout, file_id
    ),
    depth AS (
      SELECT a.layout, a.file_id, count(*) AS n_overlapping
      FROM files a JOIN files b
        ON a.layout = b.layout AND a.mn <= b.mx AND b.mn <= a.mx
      GROUP BY a.layout, a.file_id
    )
    SELECT layout,
           CAST(max(n_overlapping) AS BIGINT) AS max_depth,
           ROUND(avg(n_overlapping), 4) AS avg_depth
    FROM depth GROUP BY layout
    """,
    doc="Clustering-depth audit: for each file, how many files' "
    "[min,max] ranges of the clustering column overlap it (its own "
    "included) — the metric lakehouse optimizers use to decide WHEN "
    "re-clustering is due (depth ~1 = perfectly clustered, depth ~F = "
    "fully interleaved; Delta OPTIMIZE's clusteringQuality, Iceberg's "
    "overlap metrics). Computed over the same simulated range vs hash "
    "layouts as layout_skipping_stats: range files overlap only at "
    "month boundaries (depth ~1-2), hash files all span the full date "
    "domain (depth = n_files) — the leading indicator that predicts "
    "layout_skipping_stats' pruning collapse BEFORE queries slow "
    "down. The overlap self-join runs on the footer-stats frame (one "
    "row per file), metadata-scale like the compaction planner.",
    tags=("catalog", "layout"),
)
def q_layout_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    rng = o.select(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("file_id"),
        F.lit("range").alias("layout"),
        "o_orderdate",
    )
    hsh = o.select(
        (F.col("o_orderkey") % 84).cast("bigint").alias("file_id"),
        F.lit("hash").alias("layout"),
        "o_orderdate",
    )
    files = (
        rng.unionByName(hsh)
        .groupBy("layout", "file_id")
        .agg(F.min("o_orderdate").alias("mn"), F.max("o_orderdate").alias("mx"))
    )
    a = files.alias("a")
    b = files.select(
        F.col("layout").alias("layout_b"), F.col("mn").alias("mn_b"), F.col("mx").alias("mx_b")
    ).alias("b")
    depth = (
        a.join(
            F.broadcast(b),
            (F.col("a.layout") == F.col("layout_b"))
            & (F.col("a.mn") <= F.col("mx_b"))
            & (F.col("mn_b") <= F.col("a.mx")),
        )
        .groupBy("a.layout", "a.file_id")
        .agg(F.count("*").alias("n_overlapping"))
    )
    return depth.groupBy("layout").agg(
        F.max("n_overlapping").cast("bigint").alias("max_depth"),
        F.round(F.avg("n_overlapping"), 4).alias("avg_depth"),
    )


@query(
    "record_linkage_fs_scores",
    oracle="""
    WITH a AS (
      SELECT c_custkey AS a_id, c_nationkey AS block, c_name AS name,
             c_mktsegment AS seg, CAST(floor(round(c_acctbal) / 1000) AS BIGINT) AS bal
      FROM customer
    ),
    b AS (
      SELECT c_custkey + 1000000 AS b_id, c_nationkey AS block,
             CASE WHEN c_custkey % 5 = 0 THEN reverse(c_name) ELSE c_name END AS name,
             CASE WHEN c_custkey % 7 = 0 THEN 'OTHER' ELSE c_mktsegment END AS seg,
             CAST(floor(round(c_acctbal) / 1000) AS BIGINT)
               + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS bal
      FROM customer
    ),
    p AS (
      SELECT a_id, b_id,
             (a.name = b.name) AS g_name, (a.seg = b.seg) AS g_seg,
             (a.bal = b.bal) AS g_bal
      FROM a JOIN b USING (block)
    ),
    u AS (
      SELECT sum(CASE WHEN g_name THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS u_name,
             sum(CASE WHEN g_seg THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS u_seg,
             sum(CASE WHEN g_bal THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS u_bal
      FROM p
    ),
    s AS (
      SELECT a_id, b_id,
             CAST((CASE WHEN g_name THEN 1 ELSE 0 END)
                + (CASE WHEN g_seg THEN 1 ELSE 0 END)
                + (CASE WHEN g_bal THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
             CAST((CASE WHEN g_name THEN floor(ln(0.95 / u_name) * 1000)
                        ELSE floor(ln(0.05 / (1 - u_name)) * 1000) END)
                + (CASE WHEN g_seg THEN floor(ln(0.95 / u_seg) * 1000)
                        ELSE floor(ln(0.05 / (1 - u_seg)) * 1000) END)
                + (CASE WHEN g_bal THEN floor(ln(0.95 / u_bal) * 1000)
                        ELSE floor(ln(0.05 / (1 - u_bal)) * 1000) END) AS BIGINT) AS score_milli
      FROM p CROSS JOIN u
    )
    SELECT a_id, b_id, n_agree, score_milli FROM s WHERE score_milli > 0
    """,
    doc="Fellegi-Sunter record linkage (operators/profiling.py:"
    "fellegi_sunter_scores) over a nation-blocked roster vs its "
    "perturbed twin (reversed names on custkey%5, swapped segment on "
    "%7, shifted balance bucket on %3): per-field ln(m/u) agreement "
    "weights with u estimated from the candidate pairs, summed to an "
    "integer-millinat match score — the probabilistic upgrade of "
    "entity_resolution_fuzzy's fixed edit-distance threshold (fields "
    "that agree by chance buy little; rare agreements buy a lot). Six "
    "GLOBAL quantized logs broadcast once (blockmax idf pattern), then "
    "pure integer addition per pair; blocking keeps candidates linear, "
    "never all-pairs. Output: every pair scoring above the match "
    "threshold 0.",
    tags=("join", "fuzzy", "catalog", "llm"),
)
def q_record_linkage_fs_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import fellegi_sunter_scores

    cust = T(spark, sf_dir, "customer")
    bal = F.floor(F.round("c_acctbal") / 1000).cast("long")
    a = cust.select(
        F.col("c_custkey").alias("a_id"),
        F.col("c_nationkey").alias("block"),
        F.col("c_name").alias("name_a"),
        F.col("c_mktsegment").alias("seg_a"),
        bal.alias("bal_a"),
    )
    k = F.col("c_custkey")
    b = cust.select(
        (k + 1000000).alias("b_id"),
        F.col("c_nationkey").alias("block"),
        F.when(k % 5 == 0, F.reverse("c_name")).otherwise(F.col("c_name")).alias("name_b"),
        F.when(k % 7 == 0, F.lit("OTHER")).otherwise(F.col("c_mktsegment")).alias("seg_b"),
        (bal + F.when(k % 3 == 0, 1).otherwise(0)).alias("bal_b"),
    )
    pairs = a.join(b, "block").select(
        "a_id",
        "b_id",
        (F.col("name_a") == F.col("name_b")).alias("g_name"),
        (F.col("seg_a") == F.col("seg_b")).alias("g_seg"),
        (F.col("bal_a") == F.col("bal_b")).alias("g_bal"),
    )
    scored = fellegi_sunter_scores(pairs, ["g_name", "g_seg", "g_bal"])
    return scored.filter(F.col("score_milli") > 0).select("a_id", "b_id", "n_agree", "score_milli")
