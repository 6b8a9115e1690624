"""Analytics-breadth inventory: the OLAP / time-series / text-scoring
surface a warehouse user expects beyond SURVEY §2's literal rows.

- ``cube_pricing``: CUBE grouping sets (completes ROLLUP/pivot already
  in §2.4 coverage) — one Expand feeds every grouping, single scan.
- ``window_ntile_quartiles``: ntile ranking windows.
- ``correlated_subquery_above_avg``: correlated scalar subquery that
  Catalyst decorrelates into an aggregate + join (no per-row re-scan).
- ``join_null_safe``: null-safe equality (<=> / IS NOT DISTINCT FROM) —
  NULL keys match each other instead of vanishing.
- ``timeseries_gap_fill``: hour spine per user (sequence + explode) +
  forward fill (last ignorenulls) — the hypertable 'locf/gap-fill'
  operation; one window shuffle, spine generated without a join.
- ``retention_cohorts``: first-touch day cohort x activity day counts.
- ``tfidf_quantized``: TF-IDF with integer-scaled idf ((N*1e6)//df) so
  an inherently-float scoring pipeline is bit-exact for the oracle;
  top-3 terms per document by (score, term) total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cartography_spark.plans.registry import query
from cartography_spark.sources.parquet import load_table as T

N_REPS = 32


@query(
    "cube_pricing",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           count(*) AS n_orders,
           ROUND(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets over orders: all 4 grouping combinations from "
    "ONE scan via Expand (vs 4 unioned scans). GROUPING() flags "
    "disambiguate 'ALL' rows from literal values.",
    tags=("aggregation", "olap"),
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "revenue",
        )
    )


@query(
    "window_ntile_quartiles",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile
    FROM customer WHERE c_nationkey < 5
    """,
    doc="ntile(4) balance quartiles within each nation — rank-family "
    "window completing §2.5 (row_number/lag already covered). One hash "
    "partition by nation, per-partition sort.",
    tags=("window",),
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").filter(F.col("c_nationkey") < 5)
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select("c_custkey", F.ntile(4).over(w).cast("long").alias("quartile"))


@query(
    "correlated_subquery_above_avg",
    oracle="""
    SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    """,
    doc="Correlated scalar subquery (customers above their nation's mean "
    "balance). Catalyst decorrelates to one aggregate + one join — the "
    "plan scans customer twice, never once per row.",
    tags=("subquery", "join"),
)
def q_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    c.createOrReplaceTempView("customer_v")
    return spark.sql(
        """
        SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
        FROM customer_v c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer_v c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


@query(
    "join_null_safe",
    oracle="""
    WITH c AS (SELECT c_custkey, nullif(c_nationkey, 3) AS k FROM customer WHERE c_nationkey IN (2, 3)),
         s AS (SELECT s_suppkey, nullif(s_nationkey, 3) AS k FROM supplier WHERE s_nationkey IN (2, 3))
    SELECT coalesce(CAST(c.k AS VARCHAR), 'NULL') AS join_key, count(*) AS n_pairs
    FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
    GROUP BY 1
    """,
    doc="Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of dropping out — still hash-partitionable "
    "(NULL is one partition key), unlike a theta-join workaround.",
    tags=("join",),
)
def q_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(2, 3))
        .select("c_custkey", F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck"))
    )
    s = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey").isin(2, 3))
        .select("s_suppkey", F.nullif(F.col("s_nationkey"), F.lit(3)).alias("sk"))
    )
    return (
        c.join(s, c.ck.eqNullSafe(s.sk))
        .groupBy(F.coalesce(F.col("ck").cast("string"), F.lit("NULL")).alias("join_key"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "timeseries_gap_fill",
    oracle="""
    WITH e AS (SELECT user_id, ts, value FROM events WHERE user_id < 20),
    hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS h, ROUND(sum(value), 2) AS s
      FROM e GROUP BY 1, 2
    ),
    bounds AS (
      SELECT user_id, date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
      FROM e GROUP BY 1
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
    )
    SELECT spine.user_id, spine.h,
           last_value(hourly.s IGNORE NULLS)
             OVER (PARTITION BY spine.user_id ORDER BY spine.h) AS filled_sum
    FROM spine LEFT JOIN hourly ON spine.user_id = hourly.user_id AND spine.h = hourly.h
    """,
    doc="Hypertable-style gap fill + locf: dense hour spine per user "
    "generated with sequence()+explode (no join against a calendar "
    "table), hourly sums left-joined on, gaps forward-filled with "
    "last(ignorenulls). One window shuffle on user_id.",
    tags=("window", "temporal"),
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.round(F.sum("value"), 2).alias("s"))
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h"),
    )
    joined = spine.join(hourly, ["user_id", "h"], "left")
    w = Window.partitionBy("user_id").orderBy("h")
    return joined.select(
        "user_id", "h", F.last("s", ignorenulls=True).over(w).alias("filled_sum")
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH first_touch AS (
      SELECT user_id, CAST(CAST(date_trunc('day', min(ts)) AS DATE) AS VARCHAR) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_day, CAST(CAST(date_trunc('day', e.ts) AS DATE) AS VARCHAR) AS activity_day,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first_touch f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
    doc="Cohort retention matrix: users grouped by first-touch day, "
    "distinct-user counts per activity day. First-touch derived with one "
    "aggregation and joined back (both shuffles share the user_id key).",
    tags=("aggregation", "temporal"),
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").cast("string").alias("cohort_day")
    )
    return (
        e.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.date_trunc("day", "ts").cast("date").cast("string").alias("activity_day"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "tfidf_quantized",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * CAST((SELECT n FROM n) * 1000000 // df.df AS BIGINT) AS score
      FROM tf JOIN df ON tf.term = df.term
    ),
    ranked AS (
      SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, score, CAST(rn AS BIGINT) AS rn FROM ranked WHERE rn <= 3
    """,
    doc="Quantized TF-IDF: idf = (N*1e6)//df in integer arithmetic, so "
    "the classically-float scoring pipeline is bit-exact cross-engine. "
    "Top-3 terms per doc by the (score desc, term) total order. Shuffles: "
    "tf groupBy, df groupBy (broadcast back — df table is vocabulary-"
    "sized), one window.",
    tags=("text", "llm-data"),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = tf.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.expr("(n * 1000000) div df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "score", "rn")
    )


@query(
    "timeseries_ewma_exact",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x, ts, event_id
      FROM events
    ),
    seq AS (
      SELECT user_id, list(x ORDER BY ts, event_id) AS xs
      FROM ev GROUP BY user_id
    )
    SELECT user_id,
           CAST(list_reduce(xs, (a, b) -> (3 * a + b) // 4) AS BIGINT) AS ewma_cents,
           CAST(len(xs) AS BIGINT) AS n_events
    FROM seq
    """,
    doc="Integer-exact exponentially weighted moving average per user "
    "(alpha = 1/4): s_t = (3*s_{t-1} + x_t) div 4 over the time-ordered "
    "event values in cents. A sequential recurrence can't be a window "
    "function (the decay multiplies, partial sums don't merge), so the "
    "legitimate distributed dataflow is a per-key fold: collect the "
    "key's sequence (sorted by (ts, event_id) — a total order), fold "
    "with the higher-order aggregate() — all JVM-side, no UDF. State "
    "per key is one long; keys parallelize, the fold within a key is "
    "inherently serial on any engine. Floor division makes the result "
    "bit-identical to the oracle's list_reduce.",
    tags=("temporal", "analytics"),
)
def q_timeseries_ewma_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
    )
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "x"))),
            lambda s: s["x"],
        ).alias("xs")
    )
    return seq.select(
        "user_id",
        F.expr(
            "aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),"
            " (a, b) -> (3 * a + b) div 4)"
        ).alias("ewma_cents"),
        F.size("xs").cast("bigint").alias("n_events"),
    )


@query(
    "events_pattern_count",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             array_to_string(list(event_type ORDER BY ts, event_id), ',') AS s
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(s, 'view,click,purchase')) AS BIGINT) AS n_patterns,
           CAST(len(string_split(s, ',')) AS BIGINT) AS n_events
    FROM seq
    """,
    doc="Ordered sequence-pattern counting per user (MATCH_RECOGNIZE's "
    "bread-and-butter case): serialize each user's time-ordered event "
    "types ((ts, event_id) total order) and count ADJACENT "
    "view->click->purchase runs with one regexp pass — complementing "
    "events_funnel (first-occurrence staged conversion) with repeated-"
    "occurrence counting. The per-key serialize-then-scan dataflow is "
    "the same shape as the EWMA fold: keys parallelize, the sequence "
    "scan within a key is inherently serial, state is one string.",
    tags=("temporal", "analytics"),
)
def q_events_pattern_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ",",
        ).alias("s")
    )
    return seq.select(
        "user_id",
        F.regexp_count("s", F.lit("view,click,purchase")).cast("bigint").alias("n_patterns"),
        F.size(F.split("s", ",")).cast("bigint").alias("n_events"),
    )


@query(
    "join_size_estimate",
    oracle="""
    WITH a AS (SELECT o_orderkey AS k, count(*) AS n_a FROM orders GROUP BY o_orderkey),
    b AS (SELECT l_orderkey AS k, count(*) AS n_b FROM lineitem GROUP BY l_orderkey)
    SELECT CAST(sum(a.n_a * b.n_b) AS BIGINT) AS join_rows,
           CAST(count(*) AS BIGINT) AS n_join_keys,
           CAST(max(a.n_a * b.n_b) AS BIGINT) AS hottest_key_rows
    FROM a JOIN b ON a.k = b.k
    """,
    doc="Exact join-cardinality estimation WITHOUT running the join: "
    "|A join B| = sum over keys of n_a(k)*n_b(k), from two per-key "
    "count aggregates joined on the key — cost is two map-side-combined "
    "aggregates plus a join of the collapsed count tables (|keys| rows, "
    "not |join| rows). The operational pre-flight for any big fact-fact "
    "join: the hottest-key product also quantifies skew (whether an AQE "
    "skew split or salting is warranted) before committing the shuffle.",
    tags=("analytics", "scale"),
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        T(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        T(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count("*").alias("n_b"))
    )
    prod = F.col("n_a") * F.col("n_b")
    return a.join(b, "k").agg(
        F.sum(prod).alias("join_rows"),
        F.count("*").alias("n_join_keys"),
        F.max(prod).alias("hottest_key_rows"),
    )


@query(
    "pareto_skyline",
    oracle="""
    WITH dm AS (
      SELECT o_orderdate AS d, max(o_totalprice) AS dmax
      FROM orders GROUP BY o_orderdate
    ),
    run AS (
      SELECT d, dmax,
             max(dmax) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
      FROM dm
    )
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM orders o JOIN run r ON o.o_orderdate = r.d
    WHERE o.o_totalprice = r.dmax
      AND (r.prevmax IS NULL OR o.o_totalprice > r.prevmax)
    """,
    doc="2-D Pareto skyline (maximize price, minimize date): every order "
    "not dominated by an earlier-or-same-date order of >= price with one "
    "strict inequality. NOT the naive O(n^2) dominance self-join: "
    "collapse to one max per date first (map-side-combined groupBy), "
    "take a running max over the DISTINCT-date frame only (bounded "
    "cardinality), then a broadcast join back tags survivors — a row "
    "survives iff it is its date's max AND strictly beats every earlier "
    "date's max. Same-date same-price ties are mutually non-dominating "
    "and all kept. At 100 TB the only full-data costs are the per-date "
    "collapse and one broadcast-joined filter pass.",
    tags=("analytics", "scale"),
)
def q_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    dm = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("dmax")
    )
    prev = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    run = dm.withColumn("prevmax", F.max("dmax").over(prev))
    return (
        o.join(F.broadcast(run), o["o_orderdate"] == run["d"])
        .filter(
            (F.col("o_totalprice") == F.col("dmax"))
            & (F.col("prevmax").isNull() | (F.col("o_totalprice") > F.col("prevmax")))
        )
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


def _boot_oracle() -> str:
    cuts = (1580030169, 3160060337, 3950075422, 4213413783)
    n_groups = (N_REPS + 3) // 4
    hs = [f"md5('boot{g}:' || rid) AS h{g}" for g in range(n_groups)]
    ws, sums, structs = [], [], []
    for b in range(N_REPS):
        group, slot = divmod(b, 4)
        u = f"('0x' || substring(h{group}, {1 + 8 * slot}, 8))::BIGINT"
        case = f"CASE WHEN {u} < {cuts[0]} THEN 0"
        for k in range(1, 4):
            case += f" WHEN {u} < {cuts[k]} THEN {k}"
        case += " ELSE 4 END"
        ws.append(f"{case} AS w{b}")
        sums.append(f"sum(w{b} * x) AS s{b}, sum(w{b}) AS n{b}")
        structs.append(f"{{'b': {b}, 'm': s{b} / n{b}}}")
    return f"""
    WITH base AS (
      SELECT CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR) AS rid,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS x
      FROM lineitem
    ),
    hashed AS (SELECT x, {", ".join(hs)} FROM base),
    wts AS (SELECT x, {", ".join(ws)} FROM hashed),
    agg AS (SELECT sum(x) AS s, count(*) AS n, {", ".join(sums)} FROM wts),
    reps AS (SELECT s, n, u.b AS b, u.m AS m
             FROM agg, unnest([{", ".join(structs)}]) AS t(u)),
    ranked AS (SELECT s, n, m, row_number() OVER (ORDER BY m, b) AS rk FROM reps)
    SELECT CAST(max(n) AS BIGINT) AS n_rows,
           max(s) / max(n) AS point_mean,
           max(CASE WHEN rk = 2 THEN m END) AS ci_lo,
           max(CASE WHEN rk = {N_REPS - 1} THEN m END) AS ci_hi,
           {N_REPS} AS n_replicates
    FROM ranked
    """


@query(
    "bootstrap_mean_ci",
    oracle=_boot_oracle(),
    doc="One-pass Poisson-bootstrap 95%-ish CI for the mean line price "
    "(operators/sampling.py:poisson_bootstrap_ci): every replicate "
    "resamples each row with a deterministic hash-derived Poisson(1) "
    "weight, so 32 replicate means are 64 running sums in ONE scan with "
    "map-side combine — no 32x data explode, no global N needed up "
    "front, which is exactly why the Poisson bootstrap is THE bootstrap "
    "at 100 TB. Values quantized to integer cents so sums are "
    "reduction-order-exact; CI bounds are exact order statistics (ranks "
    "2 and 31), no percentile interpolation to disagree across engines.",
    tags=("analytics", "sampling", "scale"),
)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sampling import poisson_bootstrap_ci

    li = T(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"),
    )
    return poisson_bootstrap_ci(li, F.col("x"), F.col("rid"))


@query(
    "ks_drift_two_sample",
    oracle="""
    WITH pv AS (
      SELECT l_quantity AS v,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS cb
      FROM lineitem GROUP BY l_quantity
    ),
    e AS (
      SELECT v,
             sum(ca) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             sum(cb) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      FROM pv
    ),
    t AS (SELECT max(cum_a) AS n_a, max(cum_b) AS n_b FROM e),
    d AS (SELECT n_a, n_b, v, abs(n_b * cum_a - n_a * cum_b) AS dn
          FROM e CROSS JOIN t),
    m AS (SELECT n_a, n_b, dn AS d_num, v AS ks_at_value,
                 row_number() OVER (ORDER BY dn DESC, v ASC) AS rn
          FROM d)
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS d_num,
           d_num / (CAST(n_a AS DOUBLE) * n_b) AS ks_stat,
           ks_at_value,
           (d_num / (CAST(n_a AS DOUBLE) * n_b) >
            1.358 * sqrt((n_a + n_b) / (CAST(n_a AS DOUBLE) * n_b))) AS reject_95
    FROM m WHERE rn = 1
    """,
    doc="Two-sample Kolmogorov-Smirnov drift test between the returned "
    "('R') and delivered ('N') quantity distributions "
    "(operators/profiling.py:ks_two_sample) — the distribution-drift "
    "monitor a pipeline runs between data snapshots before retraining. "
    "D = max |ECDF_a - ECDF_b| kept integer-exact by cross-multiplying "
    "(d_num = max |n_b*cum_a - n_a*cum_b|); the only float ops are two "
    "identical final divisions plus the 1.358*sqrt large-sample critical "
    "value. One map-side-combined collapse to DISTINCT values; ECDF "
    "cumsum and argmax run on that bounded frame only.",
    tags=("analytics", "drift", "scale"),
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import ks_two_sample

    li = T(spark, sf_dir, "lineitem").select("l_quantity", "l_returnflag")
    return ks_two_sample(
        li,
        F.col("l_quantity"),
        F.col("l_returnflag") == "R",
        F.col("l_returnflag") == "N",
    )


@query(
    "psi_drift_binned",
    oracle="""
    WITH pb AS (
      SELECT CAST(trunc(o_totalprice / 20000) AS INTEGER) AS bin,
             sum(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END) AS cb
      FROM orders GROUP BY bin
    ),
    t AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS nbins FROM pb),
    j AS (SELECT pb.*, t.na, t.nb, t.nbins,
                 t.na + t.nbins AS na_s, t.nb + t.nbins AS nb_s
          FROM pb CROSS JOIN t),
    terms AS (
      SELECT na, nb, nbins, na_s, nb_s,
             ((ca + 1) * nb_s - (cb + 1) * na_s)
               * CAST(round(ln(CAST((ca + 1) * nb_s AS DOUBLE)
                                / ((cb + 1) * na_s)) * 1000) AS BIGINT) AS term
      FROM j
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(nbins AS BIGINT) AS n_bins,
           sum(term) / (CAST(na_s AS DOUBLE) * nb_s) / 1000.0 AS psi,
           (sum(term) / (CAST(na_s AS DOUBLE) * nb_s) / 1000.0 > 0.2) AS major_shift
    FROM terms GROUP BY na, nb, nbins, na_s, nb_s
    """,
    doc="Population Stability Index between early (<=1997) and late "
    "(>=1998) order-price distributions in 20k bins "
    "(operators/profiling.py:psi_drift) — the binned companion to "
    "ks_drift_two_sample and the industry-standard score-drift gate "
    "(PSI > 0.2 = major shift, here expected false: prices are "
    "stationary). Add-1 smoothing over observed bins keeps zero cells "
    "defined; the log-ratio quantizes to millinat BIGINTs and the "
    "probability gap is cross-multiplied, so per-bin terms sum as exact "
    "integers and PSI is two identical final divisions.",
    tags=("analytics", "drift", "scale"),
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import psi_drift

    o = T(spark, sf_dir, "orders").select("o_totalprice", "o_orderdate")
    return psi_drift(
        o,
        F.floor(F.col("o_totalprice") / 20000).cast("int"),
        F.year("o_orderdate") <= 1997,
        F.year("o_orderdate") >= 1998,
    )


@query(
    "conformal_interval_coverage",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y,
             ('0x' || substring(md5('conformal:' || CAST(o_orderkey AS VARCHAR)),
                                1, 8))::BIGINT % 2 AS b
      FROM orders
    ),
    mu AS (SELECT g, CAST(floor(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS m
           FROM o WHERE b = 0 GROUP BY g),
    cal AS (SELECT abs(y - m) AS s FROM o JOIN mu USING (g) WHERE b = 0),
    pv AS (SELECT s AS v, count(*) AS c FROM cal GROUP BY s),
    e AS (SELECT v, sum(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM pv),
    t AS (SELECT max(cum) AS n_cal FROM e),
    kq AS (SELECT n_cal, CAST(ceil((n_cal + 1) * 0.9) AS BIGINT) AS k FROM t),
    qh AS (SELECT kq.n_cal, kq.k, min(v) AS q_hat
           FROM e CROSS JOIN kq WHERE cum >= least(kq.k, kq.n_cal)
           GROUP BY kq.n_cal, kq.k),
    tst AS (SELECT abs(y - m) AS s FROM o JOIN mu USING (g) WHERE b = 1)
    SELECT CAST(n_cal AS BIGINT) AS n_cal,
           CAST(k AS BIGINT) AS k,
           CAST(q_hat AS BIGINT) AS q_hat,
           CAST(count(*) AS BIGINT) AS n_test,
           sum(CASE WHEN s <= q_hat THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) AS coverage,
           0.9 AS target
    FROM tst CROSS JOIN qh GROUP BY n_cal, k, q_hat
    """,
    doc="Split-conformal prediction intervals with finite-sample coverage "
    "(operators/profiling.py:conformal_interval_calibrate): a hash-based "
    "50/50 split (deterministic, leakage-safe) trains a per-priority "
    "integer mean on the calibration half, q_hat is the exact "
    "ceil((n+1)*0.9)-th order statistic of |y - mu| — found via the "
    "distinct-value cumsum, NEVER a global sort of raw scores — and the "
    "test half reports empirical coverage, which conformal theory "
    "guarantees >= 90% in expectation regardless of how bad the model "
    "is. The modern ML-ops uncertainty gate, integer-exact end to end "
    "except the one final coverage division.",
    tags=("analytics", "eval", "scale"),
)
def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import conformal_interval_calibrate
    from cartography_spark.operators.sampling import hash_bucket

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
        hash_bucket(F.col("o_orderkey"), 2, "conformal").alias("b"),
    )
    cal = o.filter(F.col("b") == 0)
    mu = cal.groupBy("g").agg(
        F.floor(F.sum("y").cast("double") / F.count("*")).cast("bigint").alias("m")
    )
    cal_scores = cal.join(F.broadcast(mu), "g").select(F.abs(F.col("y") - F.col("m")).alias("s"))
    calib = conformal_interval_calibrate(cal_scores)
    test = o.filter(F.col("b") == 1).join(F.broadcast(mu), "g").select(
        F.abs(F.col("y") - F.col("m")).alias("s")
    )
    return (
        test.crossJoin(F.broadcast(calib))
        .groupBy("n_cal", "k", "q_hat")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            (
                F.sum(F.when(F.col("s") <= F.col("q_hat"), 1).otherwise(0))
                / F.count("*").cast("double")
            ).alias("coverage"),
        )
        .select("n_cal", "k", "q_hat", "n_test", "coverage", F.lit(0.9).alias("target"))
    )


@query(
    "psi_drift_windowed",
    oracle="""
    WITH e AS (
      SELECT date_trunc('day', ts) AS w,
             CAST(trunc(value / 25) AS INTEGER) AS bin
      FROM events
    ),
    wc AS (SELECT w, bin, count(*) AS ca FROM e GROUP BY w, bin),
    wt AS (SELECT w, sum(ca) AS na FROM wc GROUP BY w),
    gb AS (SELECT bin, sum(ca) AS cb FROM wc GROUP BY bin),
    g AS (SELECT sum(cb) AS nb, count(*) AS nbins FROM gb),
    spine AS (SELECT wt.w, wt.na, gb.bin, gb.cb FROM wt CROSS JOIN gb),
    dense AS (
      SELECT s.w, s.na, s.bin, s.cb, coalesce(wc.ca, 0) AS ca
      FROM spine s LEFT JOIN wc ON s.w = wc.w AND s.bin = wc.bin
    ),
    terms AS (
      SELECT d.w, d.na, g.nb, g.nbins,
             d.na + g.nbins AS na_s, g.nb + g.nbins AS nb_s,
             ((d.ca + 1) * (g.nb + g.nbins) - (d.cb + 1) * (d.na + g.nbins))
               * CAST(round(ln(CAST((d.ca + 1) * (g.nb + g.nbins) AS DOUBLE)
                                / ((d.cb + 1) * (d.na + g.nbins))) * 1000)
                      AS BIGINT) AS term
      FROM dense d CROSS JOIN g
    )
    SELECT w AS window_start,
           CAST(na AS BIGINT) AS n_window,
           sum(term) / (CAST(na_s AS DOUBLE) * nb_s) / 1000.0 AS psi,
           (sum(term) / (CAST(na_s AS DOUBLE) * nb_s) / 1000.0 > 0.2) AS major_shift
    FROM terms GROUP BY w, na, na_s, nb_s
    """,
    doc="PSI per tumbling 1-day window against the whole-corpus reference "
    "— the monitoring-over-TIME shape of psi_drift_binned: the dashboard "
    "a pipeline watches to catch the day ingestion went wrong. Same "
    "integer-exact machinery (millinat logs, cross-multiplied gaps) "
    "grouped by window; absent (window, bin) cells get their add-1 "
    "smoothing terms from a dense spine built by crossing the BOUNDED "
    "window-total and global-bin frames (30 x ~14 rows here; never a "
    "dense join against raw data). One shuffle of (window, bin) cells "
    "pays for everything.",
    tags=("analytics", "drift", "window", "scale"),
)
def q_psi_drift_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select(
        F.window("ts", "1 day").start.alias("w"),
        F.floor(F.col("value") / 25).cast("int").alias("bin"),
    )
    wc = e.groupBy("w", "bin").agg(F.count("*").alias("ca"))
    wt = wc.groupBy("w").agg(F.sum("ca").alias("na"))
    gb = wc.groupBy("bin").agg(F.sum("ca").alias("cb"))
    g = gb.agg(F.sum("cb").alias("nb"), F.count("*").alias("nbins"))
    spine = wt.crossJoin(F.broadcast(gb))
    dense = spine.join(wc, ["w", "bin"], "left").select(
        "w", "na", "bin", "cb", F.coalesce(F.col("ca"), F.lit(0)).alias("ca")
    )
    j = dense.crossJoin(F.broadcast(g))
    na_s = F.col("na") + F.col("nbins")
    nb_s = F.col("nb") + F.col("nbins")
    num_a = (F.col("ca") + 1) * nb_s
    num_b = (F.col("cb") + 1) * na_s
    q = F.round(F.log(num_a.cast("double") / num_b) * 1000).cast("bigint")
    terms = j.select(
        "w", "na", na_s.alias("na_s"), nb_s.alias("nb_s"),
        ((num_a - num_b) * q).alias("term"),
    )
    psi = F.sum("term") / (F.col("na_s").cast("double") * F.col("nb_s")) / 1000.0
    return (
        terms.groupBy("w", "na", "na_s", "nb_s")
        .agg(psi.alias("psi"))
        .select(
            F.col("w").alias("window_start"),
            F.col("na").cast("long").alias("n_window"),
            "psi",
            (F.col("psi") > 0.2).alias("major_shift"),
        )
    )


@query(
    "stats_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sum_a,
             CAST(sum(CASE WHEN event_type = 'view'
                           THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sum_b,
             CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS sumsq_a,
             CAST(sum(CASE WHEN event_type = 'view'
                           THEN CAST(round(value * 100) AS BIGINT) * CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS sumsq_b
      FROM events WHERE event_type IN ('click', 'view')
    ),
    v AS (
      SELECT *,
             (CAST(sumsq_a AS DOUBLE)
              - CAST(sum_a AS DOUBLE) * CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE))
             / (CAST(n_a AS DOUBLE) - 1) AS va,
             (CAST(sumsq_b AS DOUBLE)
              - CAST(sum_b AS DOUBLE) * CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / (CAST(n_b AS DOUBLE) - 1) AS vb
      FROM s
    ),
    e AS (
      SELECT *, va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2 FROM v
    )
    SELECT n_a, n_b, sum_a, sum_b, sumsq_a, sumsq_b,
           CAST(round(1000000.0 * ((CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                                    - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                                   / sqrt(se2))) AS BIGINT) AS t_micros,
           CAST(round(1000.0 * (se2 * se2 /
                 ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1)
                  + (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1))))
                AS BIGINT) AS df_milli,
           (abs((CAST(sum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(sum_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / sqrt(se2)) > 1.96) AS reject_95
    FROM e
    """,
    doc="Welch's unequal-variance t-test between the click and view "
    "event-value arms (operators/profiling.py:welch_ttest) — the "
    "experimentation-pipeline primitive beside the KS/PSI/chi2 drift "
    "suite. ONE conditional-aggregation scan produces all six moment "
    "sums as exact BIGINTs over integer cents (no join, map-side "
    "combine, single-row output); t and the Welch-Satterthwaite df are "
    "closed-form floats over those six integers, quantized at "
    "1e-6/1e-3, with the large-sample 5% decision as a boolean.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import welch_ttest

    ev = T(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    return welch_ttest(ev, "event_type", "cents", "click", "view")


@query(
    "survival_kaplan_meier",
    oracle="""
    WITH d AS (
      SELECT user_id,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000 AS dur
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CASE WHEN dur < 42000 THEN dur ELSE 42000 END AS t,
             (dur < 42000) AS ev
      FROM d
    ),
    per_t AS (
      SELECT t,
             CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS arrivals
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             CAST(sum(arrivals) OVER (ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
      FROM per_t
    ),
    curve AS (
      SELECT t, d, n_at_risk,
             sum(CASE WHEN d > 0 AND d < n_at_risk
                      THEN ln(CAST(n_at_risk - d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
                      ELSE 0.0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS log_s,
             max(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS extinct
      FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t, n_at_risk, d AS d_deaths,
           CAST(CASE WHEN extinct > 0 THEN 0
                     ELSE round(1000000.0 * exp(log_s)) END AS BIGINT) AS surv_micros
    FROM curve WHERE d > 0
    """,
    doc="Kaplan-Meier survival curve of user lifetimes with "
    "administrative right-censoring at 42,000 minutes "
    "(operators/profiling.py:kaplan_meier) — the churn estimator that "
    "handles still-active users correctly where a naive mean lifetime "
    "is biased low. Lifetimes collapse to per-user integer minutes "
    "(floor-div on epoch micros, exact in any engine), then to distinct "
    "death times; n_at_risk is the suffix running sum over that bounded "
    "axis (never a per-t rescan), and the product-limit estimate is "
    "exp(cumsum(ln((n-d)/n))) with ~1e-14 relative float error against "
    "a 1e-6 quantization. Windows run on time-axis cardinality, not "
    "data cardinality.",
    tags=("analytics", "stats", "window"),
)
def q_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import kaplan_meier

    ev = T(spark, sf_dir, "events")
    dur = ev.groupBy("user_id").agg(
        # integer floor-div, mirroring the oracle's `//` — a double division
        # could round up across an exact-minute boundary
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us")
    ).select(F.expr("dur_us div 60000000").cast("bigint").alias("dur"))
    obs = dur.select(
        F.when(F.col("dur") < 42000, F.col("dur")).otherwise(F.lit(42000)).alias("t"),
        (F.col("dur") < 42000).alias("ev"),
    )
    return kaplan_meier(obs, "t", "ev")


@query(
    "timeseries_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY date_trunc('hour', ts)
    ),
    m AS (
      SELECT bucket,
             CAST(round(1000.0 * CAST(sum_cents AS DOUBLE) / CAST(cnt AS DOUBLE)) AS BIGINT) AS mean_mc
      FROM hourly
    ),
    t AS (
      SELECT bucket, mean_mc,
             CAST(round(CAST(sum(mean_mc) OVER w AS DOUBLE)
                        / CAST(count(*) OVER w AS DOUBLE)) AS BIGINT) AS trend_mc
      FROM m
      WINDOW w AS (ORDER BY bucket ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    )
    SELECT CAST(extract(hour FROM bucket) AS BIGINT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(round(CAST(sum(mean_mc - trend_mc) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS seasonal_millicents
    FROM t GROUP BY extract(hour FROM bucket)
    """,
    doc="Classical additive seasonal decomposition of the hourly event-"
    "value series (operators/profiling.py:seasonal_decompose_hourly): "
    "trend = +-12h centered moving average, seasonal = mean detrended "
    "value per hour-of-day — the daily load shape with the multi-day "
    "trend removed, the standard pre-pass before anomaly thresholds and "
    "capacity forecasts. The raw scan collapses to integer "
    "(sum_cents, cnt) hourly pairs first (map-side combine); every "
    "division is immediately re-quantized to an integer so all window/"
    "group sums stay order-free, and both windows run on the collapsed "
    "hourly axis (time cardinality — 8,760 rows/year — not data "
    "cardinality), which is why the single unpartitioned ORDER BY "
    "bucket window is a deliberate, bounded choice.",
    tags=("analytics", "timeseries", "window"),
)
def q_timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import seasonal_decompose_hourly

    ev = T(spark, sf_dir, "events")
    return seasonal_decompose_hourly(ev, "ts", F.round(F.col("value") * 100).cast("bigint"))


@query(
    "robust_trimmed_mean",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS grp, CAST(round(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    r AS (
      SELECT grp, c,
             row_number() OVER (PARTITION BY grp ORDER BY c) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM v
    ),
    k AS (SELECT *, (n * 50000) // 1000000 AS kk FROM r)
    SELECT grp AS o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_rows,
           CAST(max(kk) AS BIGINT) AS n_trimmed_each_side,
           CAST(sum(c) AS BIGINT) AS kept_sum,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(round(1000.0 * CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT)
             AS trimmed_mean_milli
    FROM k WHERE rn > kk AND rn <= n - kk
    GROUP BY grp
    """,
    doc="5% two-sided trimmed mean of order value per priority "
    "(operators/profiling.py:trimmed_mean) — the robust location "
    "estimate between mean and median, completing the robust suite "
    "beside MAD and Theil-Sen. The trim boundary is an exact integer "
    "rank (boundary ties are interchangeable: equal values contribute "
    "equally, so the kept MULTISET is well-defined despite arbitrary "
    "row_number tie order); kept_sum/n_kept are order-free BIGINTs and "
    "the only float op is one final division. One shuffle on the group "
    "key; at 100 TB swap the exact rank for approx-quantile thresholds "
    "+ an exact residual filter.",
    tags=("analytics", "stats", "window"),
)
def q_robust_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import trimmed_mean

    o = T(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    return trimmed_mean(o, "o_orderpriority", "cents")


@query(
    "sampling_neyman_allocation",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS stratum, CAST(round(o_totalprice) AS BIGINT) AS d
      FROM orders
    ),
    per AS (
      SELECT stratum,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(d) AS BIGINT) AS sum_v,
             CAST(sum(d * d) AS BIGINT) AS sumsq_v
      FROM v GROUP BY stratum
    ),
    w AS (
      SELECT *,
             CAST(round(1000.0 * CAST(n_rows AS DOUBLE)
                   * sqrt((CAST(sumsq_v AS DOUBLE)
                           - CAST(sum_v AS DOUBLE) * CAST(sum_v AS DOUBLE) / CAST(n_rows AS DOUBLE))
                          / (CAST(n_rows AS DOUBLE) - 1))) AS BIGINT) AS w_milli
      FROM per
    ),
    t AS (SELECT CAST(sum(w_milli) AS BIGINT) AS w_total FROM w),
    b AS (
      SELECT w.*, (1000 * w_milli) // w_total AS base_n,
             (1000 * w_milli) % w_total AS rem
      FROM w, t
    ),
    u AS (SELECT CAST(sum(base_n) AS BIGINT) AS used FROM b),
    r AS (
      SELECT b.*, u.used,
             row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rnk
      FROM b, u
    )
    SELECT stratum, n_rows, sum_v, sumsq_v, w_milli,
           CAST(base_n + CASE WHEN rnk <= 1000 - used THEN 1 ELSE 0 END AS BIGINT) AS alloc_n
    FROM r
    """,
    doc="Neyman (optimal) allocation of a 1,000-row sampling budget "
    "across order priorities (operators/sampling.py:neyman_allocation): "
    "n_h proportional to N_h * S_h, the allocation that minimizes the "
    "stratified-mean variance — survey sampling / labeling-budget "
    "planning, the variance-aware upgrade over proportional splits. "
    "Moments are order-free BIGINTs over integer dollars from ONE "
    "grouped scan (dollars, not cents: sum(d*d) must stay inside int64 "
    "at rehearsal scale; shift the quantization with data volume); sd "
    "is one closed-form sqrt immediately re-quantized to milli (int64 headroom for n_total*w), so the "
    "largest-remainder apportionment (floor-div/mod/rank) is pure "
    "integer and sums to exactly the budget. Everything after the scan "
    "runs on |strata| rows; both totals are 1-row broadcast attaches.",
    tags=("analytics", "sampling", "scale"),
)
def q_sampling_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sampling import neyman_allocation

    o = T(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round(F.col("o_totalprice")).cast("bigint").alias("dollars")
    )
    return neyman_allocation(o, "o_orderpriority", "dollars", n_total=1000)


@query(
    "dq_benford_first_digit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
               AS digit
      FROM orders
    ),
    per AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit),
    x AS (
      SELECT digit, n_obs,
             CAST(sum(n_obs) OVER () AS BIGINT) AS n_total,
             CAST(round(1000000.0 * log10(1 + 1.0 / CAST(digit AS DOUBLE))) AS BIGINT)
               AS exp_micros
      FROM per
    ),
    t AS (
      SELECT digit, n_obs, n_total, exp_micros,
             CAST(round(1000.0 *
                   (CAST(n_obs AS DOUBLE)
                    - CAST(n_total AS DOUBLE) * CAST(exp_micros AS DOUBLE) / 1000000.0)
                   * (CAST(n_obs AS DOUBLE)
                      - CAST(n_total AS DOUBLE) * CAST(exp_micros AS DOUBLE) / 1000000.0)
                   / (CAST(n_total AS DOUBLE) * CAST(exp_micros AS DOUBLE) / 1000000.0))
                AS BIGINT) AS term_milli
      FROM x
    )
    SELECT digit, n_obs, n_total, exp_micros, term_milli,
           CAST(sum(term_milli) OVER () AS BIGINT) AS chi2_milli
    FROM t
    """,
    doc="Benford first-digit conformance test over order values — the "
    "data-quality / fraud screen that flags fabricated or truncated "
    "numeric columns (natural multi-scale amounts follow "
    "P(d)=log10(1+1/d); uniform or hand-entered ones don't). One scan "
    "collapses to 9 digit-count rows (the first digit is string "
    "arithmetic on exact integer dollars, no float log); the expected "
    "probability is quantized to micros per digit, each chi-square term "
    "re-quantized to milli, and the chi2 total is an INTEGER window sum "
    "of those terms over the 9-row frame — order-free, engine-exact.",
    tags=("analytics", "dq", "stats"),
)
def q_dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        F.substring(F.round(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1)
        .cast("bigint")
        .alias("digit")
    )
    per = o.groupBy("digit").agg(F.count("*").cast("bigint").alias("n_obs"))
    w_all = Window.partitionBy()
    x = per.select(
        "digit",
        "n_obs",
        F.sum("n_obs").over(w_all).cast("bigint").alias("n_total"),
        F.round(F.lit(1_000_000.0) * F.log10(1 + 1.0 / F.col("digit").cast("double")))
        .cast("bigint")
        .alias("exp_micros"),
    )
    expected = F.col("n_total").cast("double") * F.col("exp_micros").cast("double") / 1_000_000.0
    dev = F.col("n_obs").cast("double") - expected
    t = x.withColumn(
        "term_milli", F.round(F.lit(1000.0) * dev * dev / expected).cast("bigint")
    )
    return t.withColumn(
        "chi2_milli", F.sum("term_milli").over(w_all).cast("bigint")
    )


@query(
    "timeseries_cusum_changepoint",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             CAST(round(1000.0 * CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mean_mc
      FROM events GROUP BY date_trunc('hour', ts)
    ),
    centered AS (
      SELECT bucket, mean_mc AS x,
             mean_mc
               - CAST(round(avg(CAST(mean_mc AS DOUBLE)) OVER ()) AS BIGINT)
               - 500 AS y
      FROM hourly
    ),
    pfx AS (
      SELECT bucket, x,
             CAST(sum(y) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pfx
      FROM centered
    )
    SELECT bucket, x,
           CAST(pfx - least(CAST(0 AS BIGINT),
                 CAST(min(pfx) OVER (ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
                AS BIGINT) AS cusum,
           (pfx - least(CAST(0 AS BIGINT),
                 CAST(min(pfx) OVER (ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
            > 50000) AS alarm
    FROM pfx
    """,
    doc="One-sided CUSUM changepoint monitor over the hourly event-value "
    "series (operators/profiling.py:cusum_changepoint): the classic "
    "upward-shift detector, with the sequential recurrence "
    "S_t = max(0, S_{t-1} + (x_t - ref - k)) rewritten as pure window "
    "algebra — S_t = P_t - min(0, running-min of P) over the prefix sum "
    "P of centered values — so an 'inherently sequential' monitor runs "
    "as two cumulative windows in exact BIGINT arithmetic (the only "
    "float op is the quantized series mean). Windows run on the "
    "collapsed hourly axis; completes the anomaly family beside "
    "z-score/MAD (pointwise) and EWMA/Theil-Sen (trend): CUSUM "
    "accumulates evidence of a SUSTAINED small shift that pointwise "
    "thresholds never see.",
    tags=("analytics", "timeseries", "window"),
)
def q_timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import cusum_changepoint

    ev = T(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.round(
            F.lit(1000.0)
            * F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
            / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("mean_mc")
    )
    return cusum_changepoint(hourly, "bucket", "mean_mc", slack=500, threshold=50_000)


@query(
    "events_sliding_distinct_users",
    oracle="""
    WITH x AS (
      SELECT date_trunc('hour', ts) - to_hours(k) AS window_start, user_id
      FROM events
      CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k)
    )
    SELECT window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM x GROUP BY window_start
    """,
    doc="EXACT distinct users per 6-hour sliding window stepping 1 hour "
    "— the sliding-window COUNT DISTINCT the tumbling/sliding-sum "
    "queries beside it do not cover (distinct is not subtractable, so "
    "no frame trick applies; the sketch path is sketch_hll_rollup_merge "
    "over the same windows). Spark's window(slide) replicates each "
    "event into its 6 containing windows (bounded x6 flat-map, no "
    "shuffle) and the distinct aggregate expands to (window, user) "
    "partial dedup with map-side combine; the oracle derives the same "
    "epoch-aligned window starts arithmetically. Output cardinality is "
    "the window axis, not the event count.",
    tags=("analytics", "window", "temporal"),
)
def q_events_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    return (
        ev.select(F.window("ts", "6 hours", "1 hour").alias("w"), "user_id")
        .groupBy(F.col("w.start").alias("window_start"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@query(
    "ks_drift_by_source",
    oracle="""
    WITH pv AS (
      SELECT source AS g, n_chars AS v,
             sum(CASE WHEN (doc_id // 20) % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN (doc_id // 20) % 2 = 1 THEN 1 ELSE 0 END) AS cb
      FROM documents GROUP BY source, n_chars
    ),
    e AS (
      SELECT g, v,
             sum(ca) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             sum(cb) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      FROM pv
    ),
    t AS (SELECT g, max(cum_a) AS n_a, max(cum_b) AS n_b FROM e GROUP BY g),
    d AS (SELECT e.g, n_a, n_b, v, abs(n_b * cum_a - n_a * cum_b) AS dn
          FROM e JOIN t ON t.g = e.g),
    m AS (SELECT g, n_a, n_b, dn AS d_num, v AS ks_at_value,
                 row_number() OVER (PARTITION BY g ORDER BY dn DESC, v ASC) AS rn
          FROM d)
    SELECT g AS group_key,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS d_num,
           d_num / (CAST(n_a AS DOUBLE) * n_b) AS ks_stat,
           ks_at_value,
           (d_num / (CAST(n_a AS DOUBLE) * n_b) >
            1.358 * sqrt((n_a + n_b) / (CAST(n_a AS DOUBLE) * n_b))) AS reject_95
    FROM m WHERE rn = 1
    """,
    doc="Stratified KS drift (operators/profiling.py:ks_two_sample_by): "
    "the two-sample KS statistic computed PER SOURCE — document-length "
    "distributions of the even- vs odd-doc_id snapshot halves — so a "
    "drift gate localizes WHICH corpus source moved instead of one "
    "washed-out global number (a shift confined to one source dilutes "
    "below the global critical value; per-stratum tests catch it); the "
    "snapshot halves split on (doc_id div 20) % 2 because plain parity "
    "is degenerate per-source in this corpus. Same "
    "integer-exact contract as ks_drift_two_sample; the ECDF window "
    "partitions by source, so strata run in parallel rather than "
    "serializing through the global form's single-partition window — at "
    "100 TB this is the shape you want anyway.",
    tags=("analytics", "drift", "scale"),
)
def q_ks_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import ks_two_sample_by

    d = T(spark, sf_dir, "documents").select("source", "n_chars", "doc_id")
    # snapshot split on (doc_id div 20) % 2: plain parity is perfectly
    # correlated with source in the synthetic corpus (source cycles with
    # doc_id), which would leave one half empty in every stratum
    half = F.expr("(doc_id div 20) % 2")
    return ks_two_sample_by(
        d, F.col("source"), F.col("n_chars"), half == 0, half == 1
    )


@query(
    "psi_drift_by_lang",
    oracle="""
    WITH pb AS (
      SELECT lang AS g, CAST(trunc(n_chars / 100) AS INTEGER) AS bin,
             sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
      FROM documents GROUP BY lang, bin
    ),
    t AS (SELECT g, sum(ca) AS na, sum(cb) AS nb, count(*) AS nbins
          FROM pb GROUP BY g),
    j AS (SELECT pb.*, t.na, t.nb, t.nbins,
                 t.na + t.nbins AS na_s, t.nb + t.nbins AS nb_s
          FROM pb JOIN t ON t.g = pb.g),
    terms AS (
      SELECT g, na, nb, nbins, na_s, nb_s,
             ((ca + 1) * nb_s - (cb + 1) * na_s)
               * CAST(round(ln(CAST((ca + 1) * nb_s AS DOUBLE)
                                / ((cb + 1) * na_s)) * 1000) AS BIGINT) AS term
      FROM j
    )
    SELECT g AS group_key,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(nbins AS BIGINT) AS n_bins,
           sum(term) / (CAST(na_s AS DOUBLE) * nb_s) / 1000.0 AS psi,
           (sum(term) / (CAST(na_s AS DOUBLE) * nb_s) / 1000.0 > 0.2) AS major_shift
    FROM terms GROUP BY g, na, nb, nbins, na_s, nb_s
    """,
    doc="Stratified PSI (operators/profiling.py:psi_drift_by): the "
    "Population Stability Index computed PER LANGUAGE over 100-char "
    "length bins of the even- vs odd-doc_id snapshot halves — the "
    "per-stratum companion to ks_drift_by_source for binned scores, and "
    "the standard per-segment drift report an ML platform emits before "
    "retraining (PSI > 0.2 per segment = that segment shifted). Add-1 "
    "smoothing runs over each language's OWN observed bin set; per-bin "
    "terms are exact cross-multiplied BIGINTs; everything collapses "
    "map-side to |langs| x |bins| cells.",
    tags=("analytics", "drift", "scale"),
)
def q_psi_drift_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import psi_drift_by

    d = T(spark, sf_dir, "documents").select("lang", "n_chars", "doc_id")
    return psi_drift_by(
        d,
        F.col("lang"),
        F.floor(F.col("n_chars") / 100).cast("int"),
        F.col("doc_id") % 2 == 0,
        F.col("doc_id") % 2 == 1,
    )


@query(
    "stats_spearman_corr",
    oracle="""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    pvx AS (SELECT x AS v, count(*) AS c FROM base GROUP BY x),
    rx AS (SELECT v, 2 * coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
           FROM pvx),
    pvy AS (SELECT y AS v, count(*) AS c FROM base GROUP BY y),
    ry AS (SELECT v, 2 * coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2
           FROM pvy),
    ranked AS (
      SELECT rx.r2 AS a, ry.r2 AS b
      FROM base JOIN rx ON rx.v = base.x JOIN ry ON ry.v = base.y
    ),
    s AS (
      SELECT count(*) AS n,
             sum(a::HUGEINT) AS srx, sum(b::HUGEINT) AS sry,
             sum(a::HUGEINT * b) AS srxy,
             sum(a::HUGEINT * a) AS srx2, sum(b::HUGEINT * b) AS sry2
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(srx AS VARCHAR) AS sum_rx, CAST(sry AS VARCHAR) AS sum_ry,
           CAST(srxy AS VARCHAR) AS sum_rxy,
           CAST(srx2 AS VARCHAR) AS sum_rx2, CAST(sry2 AS VARCHAR) AS sum_ry2,
           CAST(round(1000000.0
                * (CAST(n AS DOUBLE) * CAST(srxy AS DOUBLE)
                   - CAST(srx AS DOUBLE) * CAST(sry AS DOUBLE))
                / (sqrt(CAST(n AS DOUBLE) * CAST(srx2 AS DOUBLE)
                        - CAST(srx AS DOUBLE) * CAST(srx AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(sry2 AS DOUBLE)
                          - CAST(sry AS DOUBLE) * CAST(sry AS DOUBLE))))
                AS BIGINT) AS spearman_micros
    FROM s
    """,
    doc="Spearman rank correlation between order quantity and extended "
    "price cents (operators/profiling.py:spearman_rank_corr) — Pearson "
    "over tie-safe DOUBLED midranks (exact integers; the 1-6*sum(d^2) "
    "shortcut is wrong under ties), the monotone-association screen a "
    "feature audit reports beside linear_trend/theil_sen. Moment sums "
    "are DECIMAL(38,0) in Spark / HUGEINT in DuckDB because "
    "sum(rank2^2) ~ 4n^3 exceeds int64 past n ~ 1.3e6 rows; they cross "
    "the compare boundary as exact digit STRINGS (both engines render "
    "38-digit integers as floats in pandas). Each column collapses to "
    "its distinct-value frame for the rank cumsum, then joins back — "
    "no global row sort.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import spearman_rank_corr

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    out = spearman_rank_corr(li, "x", "y")
    return out.select(
        "n",
        *[
            F.col(c).cast("string").alias(c)
            for c in ("sum_rx", "sum_ry", "sum_rxy", "sum_rx2", "sum_ry2")
        ],
        "spearman_micros",
    )


@query(
    "drift_js_divergence",
    oracle="""
    WITH pb AS (
      SELECT CAST(trunc(o_totalprice / 20000) AS INTEGER) AS bin,
             sum(CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN year(o_orderdate) >= 1998 THEN 1 ELSE 0 END) AS cb
      FROM orders GROUP BY bin
    ),
    t AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS nbins FROM pb),
    j AS (SELECT pb.*, t.na, t.nb, t.nbins FROM pb CROSS JOIN t),
    terms AS (
      SELECT na, nb, nbins,
             CASE WHEN ca > 0 THEN ca * CAST(round(ln(2.0 * ca * nb
                    / CAST(ca * nb + cb * na AS DOUBLE)) * 1000000) AS BIGINT)
                  ELSE 0 END AS ta,
             CASE WHEN cb > 0 THEN cb * CAST(round(ln(2.0 * cb * na
                    / CAST(ca * nb + cb * na AS DOUBLE)) * 1000000) AS BIGINT)
                  ELSE 0 END AS tb
      FROM j
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(nbins AS BIGINT) AS n_bins,
           CAST(sum(ta) AS BIGINT) AS sum_term_a,
           CAST(sum(tb) AS BIGINT) AS sum_term_b,
           (sum(ta) / CAST(na AS DOUBLE) + sum(tb) / CAST(nb AS DOUBLE))
             / 2.0 / 1000000.0 AS jsd_nats,
           ((sum(ta) / CAST(na AS DOUBLE) + sum(tb) / CAST(nb AS DOUBLE))
             / 2.0 / 1000000.0 > 0.1) AS major_shift
    FROM terms GROUP BY na, nb, nbins
    """,
    doc="Jensen-Shannon divergence between early (<=1997) and late "
    "(>=1998) order-price distributions in 20k bins "
    "(operators/profiling.py:js_divergence) — the bounded symmetric "
    "companion to psi_drift_binned that needs NO smoothing: a cell "
    "empty on one side contributes 0*ln0 = 0 while the mixture keeps "
    "the other side finite, so sparse long-tail bins don't need the "
    "add-1 distortion PSI accepts. Per-bin log ratios are ratios of "
    "exact integer cross-products quantized to micronats; count-"
    "weighted terms sum as exact BIGINTs; two identical final "
    "divisions.",
    tags=("analytics", "drift", "scale"),
)
def q_drift_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import js_divergence

    o = T(spark, sf_dir, "orders").select("o_totalprice", "o_orderdate")
    return js_divergence(
        o,
        F.floor(F.col("o_totalprice") / 20000).cast("int"),
        F.year("o_orderdate") <= 1997,
        F.year("o_orderdate") >= 1998,
    )


@query(
    "stats_cramers_v",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS a, o_orderstatus AS b, count(*) AS nij
      FROM orders GROUP BY a, b
    ),
    rows_m AS (SELECT a, sum(nij) AS ri FROM cells GROUP BY a),
    cols_m AS (SELECT b, sum(nij) AS cj FROM cells GROUP BY b),
    t AS (SELECT sum(nij) AS n, count(DISTINCT a) AS r, count(DISTINCT b) AS c
          FROM cells),
    s AS (
      SELECT t.n, t.r, t.c,
             sum(CAST(cells.nij * cells.nij AS DOUBLE)
                 / CAST(rows_m.ri * cols_m.cj AS DOUBLE)) AS sm
      FROM cells JOIN rows_m USING (a) JOIN cols_m USING (b) CROSS JOIN t
      GROUP BY t.n, t.r, t.c
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(r AS BIGINT) AS n_rows_cat,
           CAST(c AS BIGINT) AS n_cols_cat,
           CAST(round(CAST(n AS DOUBLE) * (sm - 1.0) * 1000) AS BIGINT) AS chi2_milli,
           CAST(round(sqrt(greatest(CAST(n AS DOUBLE) * (sm - 1.0)
                / (CAST(n AS DOUBLE) * (least(r, c) - 1)), 0.0)) * 1000000)
                AS BIGINT) AS cramers_v_micros
    FROM s
    """,
    doc="Cramér's V association between order priority and order status "
    "(operators/profiling.py:cramers_v) — normalized chi-squared on the "
    "contingency table, the categorical companion to "
    "stats_spearman_corr in a feature audit (comparable across tables "
    "of any shape, unlike raw chi2). Uses the sparse identity chi2 = "
    "n*(sum over PRESENT cells of nij^2/(ri*cj) - 1), so absent cells "
    "never enumerate; all counts are exact integers from one map-side "
    "collapse and each present cell contributes one correctly-rounded "
    "float division over the bounded |r|x|c| frame.",
    tags=("analytics", "stats"),
)
def q_stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import cramers_v

    o = T(spark, sf_dir, "orders").select("o_orderpriority", "o_orderstatus")
    return cramers_v(o, "o_orderpriority", "o_orderstatus")


@query(
    "timeseries_acf",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY bucket
    ),
    t AS (SELECT count(*) AS n, sum(x) AS sx FROM hourly),
    lags AS (SELECT unnest(generate_series(1, 6)) AS lag),
    pairs AS (
      SELECT l.lag, t.n, t.sx, a.x AS xa, b.x AS xb
      FROM hourly a CROSS JOIN lags l
      JOIN hourly b ON b.bucket = a.bucket + to_hours(l.lag)
      CROSS JOIN t
    ),
    num AS (
      SELECT lag, n, sx,
             sum((xa - CAST(sx AS DOUBLE) / n) * (xb - CAST(sx AS DOUBLE) / n)) AS num,
             count(*) AS n_pairs
      FROM pairs GROUP BY lag, n, sx
    ),
    den AS (
      SELECT t.n,
             sum((x - CAST(t.sx AS DOUBLE) / t.n)
                 * (x - CAST(t.sx AS DOUBLE) / t.n)) AS den
      FROM hourly CROSS JOIN t GROUP BY t.n
    )
    SELECT CAST(l.lag AS BIGINT) AS lag,
           CAST(coalesce(num.n, t.n) AS BIGINT) AS n_buckets,
           CAST(coalesce(num.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(round(1000000.0 * num.num / den.den) AS BIGINT) AS acf_micros
    FROM lags l
    LEFT JOIN num ON num.lag = l.lag
    LEFT JOIN den ON den.n = num.n
    CROSS JOIN t
    """,
    doc="Autocorrelation of the hourly event-value series at lags 1..6 "
    "(operators/profiling.py:acf_hourly) — the standard biased "
    "estimator with the GLOBAL mean (statsmodels/R convention; keeps "
    "r_k <= 1), the periodicity probe run before choosing seasonal "
    "windows or anomaly thresholds. The raw table collapses once to "
    "hourly integer sums (time cardinality); lag pairs come from a "
    "self-join on bucket+k over that bounded axis; centered products "
    "are few-thousand-term float sums (~1e-13 relative) quantized at "
    "1e-6.",
    tags=("analytics", "timeseries", "scale"),
)
def q_timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import acf_hourly

    ev = T(spark, sf_dir, "events")
    return acf_hourly(ev, "ts", F.round(F.col("value") * 100).cast("bigint"), max_lag=6)


@query(
    "text_hapax_ratio",
    oracle="""
    WITH cells AS (
      SELECT source AS g, tok, count(*) AS c FROM (
        SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents
      ) WHERE tok <> '' GROUP BY source, tok
    ),
    gf AS (SELECT tok, sum(c) AS cf FROM cells GROUP BY tok)
    SELECT g AS group_key,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax_types,
           CAST((sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS hapax_ppm
    FROM cells JOIN gf USING (tok)
    GROUP BY g
    """,
    doc="Per-source hapax share (operators/textstats.py:hapax_ratio_by): "
    "of each source's distinct token types, the fraction that are "
    "corpus-GLOBAL hapax legomena — the vocabulary-novelty probe that "
    "separates sources contributing fresh long-tail vocabulary from "
    "sources re-treading the common head, read beside corpus_zipf_fit "
    "and source_lang_diversity when weighing mixture shares. One "
    "corpus scan to (source, token) cells; the global-frequency "
    "dictionary derives from those cells (no second scan) and joins "
    "back on the token dictionary.",
    tags=("analytics", "text", "llm"),
)
def q_text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.textstats import hapax_ratio_by

    return hapax_ratio_by(T(spark, sf_dir, "documents"))


@query(
    "conformal_mondrian_coverage",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS y,
             ('0x' || substring(md5('conformal:' || CAST(o_orderkey AS VARCHAR)),
                                1, 8))::BIGINT % 2 AS b
      FROM orders
    ),
    mu AS (SELECT g, CAST(floor(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS m
           FROM o WHERE b = 0 GROUP BY g),
    cal AS (SELECT o.g, abs(y - m) AS s FROM o JOIN mu USING (g) WHERE b = 0),
    pv AS (SELECT g, s AS v, count(*) AS c FROM cal GROUP BY g, s),
    e AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM pv),
    t AS (SELECT g, max(cum) AS n_cal FROM e GROUP BY g),
    kq AS (SELECT g, n_cal, CAST(ceil((n_cal + 1) * 0.9) AS BIGINT) AS k FROM t),
    qh AS (SELECT kq.g, kq.n_cal, kq.k, min(v) AS q_hat
           FROM e JOIN kq ON kq.g = e.g
           WHERE cum >= least(kq.k, kq.n_cal)
           GROUP BY kq.g, kq.n_cal, kq.k),
    tst AS (SELECT o.g, abs(y - m) AS s FROM o JOIN mu USING (g) WHERE b = 1)
    SELECT qh.g AS group_key,
           CAST(qh.n_cal AS BIGINT) AS n_cal,
           CAST(qh.k AS BIGINT) AS k,
           CAST(qh.q_hat AS BIGINT) AS q_hat,
           CAST(count(*) AS BIGINT) AS n_test,
           sum(CASE WHEN s <= q_hat THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) AS coverage,
           0.9 AS target
    FROM tst JOIN qh ON qh.g = tst.g
    GROUP BY qh.g, qh.n_cal, qh.k, qh.q_hat
    """,
    doc="Mondrian (group-conditional) conformal coverage "
    "(operators/profiling.py:conformal_mondrian_calibrate): an "
    "independent q_hat per order-priority stratum, then held-out "
    "coverage PER GROUP — marginal conformal "
    "(conformal_interval_coverage) only guarantees coverage on average, "
    "and a segment whose score distribution is wider silently "
    "under-covers; the Mondrian form is what a per-tenant/per-class SLA "
    "needs, completing the stratified suite beside ks_drift_by_source / "
    "psi_drift_by_lang. Same deterministic md5 calibration/test split "
    "and exact integer order statistics as the global query; all "
    "windows partition by group.",
    tags=("analytics", "stats", "scale"),
)
def q_conformal_mondrian_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import conformal_mondrian_calibrate
    from cartography_spark.operators.sampling import hash_bucket

    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
        hash_bucket(F.col("o_orderkey"), 2, "conformal").alias("b"),
    )
    cal = o.filter(F.col("b") == 0)
    mu = cal.groupBy("g").agg(
        F.floor(F.sum("y").cast("double") / F.count("*")).cast("bigint").alias("m")
    )
    cal_scores = cal.join(F.broadcast(mu), "g").select(
        "g", F.abs(F.col("y") - F.col("m")).alias("s")
    )
    calib = conformal_mondrian_calibrate(cal_scores)
    test = o.filter(F.col("b") == 1).join(F.broadcast(mu), "g").select(
        "g", F.abs(F.col("y") - F.col("m")).alias("s")
    )
    return (
        test.join(
            F.broadcast(calib.withColumnRenamed("group_key", "g")), "g"
        )
        .groupBy("g", "n_cal", "k", "q_hat")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            (
                F.sum(F.when(F.col("s") <= F.col("q_hat"), 1).otherwise(0))
                / F.count("*").cast("double")
            ).alias("coverage"),
        )
        .select(
            F.col("g").alias("group_key"),
            "n_cal",
            "k",
            "q_hat",
            "n_test",
            "coverage",
            F.lit(0.9).alias("target"),
        )
    )


@query(
    "sketch_quantile_bottomk",
    oracle="""
    WITH base AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS v, event_type,
             md5(CAST(event_id AS VARCHAR) || ':qsk') AS h
      FROM events
    ),
    direct AS (SELECT h, v FROM base ORDER BY h LIMIT 256),
    per_src AS (
      SELECT h, v FROM (
        SELECT h, v,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM base
      ) WHERE rn <= 256
    ),
    merged AS (SELECT h, v FROM per_src ORDER BY h LIMIT 256),
    qs AS (SELECT unnest([25, 50, 75, 90, 99]) AS q_pct),
    rd AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
                  count(*) OVER () AS n_s FROM direct),
    rm AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rn,
                  count(*) OVER () AS n_s FROM merged),
    ed AS (SELECT q_pct, v AS est_direct_cents FROM qs JOIN rd
           ON rd.rn = CAST(ceil(q_pct * n_s / 100.0) AS BIGINT)),
    em AS (SELECT q_pct, v AS est_merged_cents FROM qs JOIN rm
           ON rm.rn = CAST(ceil(q_pct * n_s / 100.0) AS BIGINT)),
    pv AS (SELECT v, count(*) AS c FROM base GROUP BY v),
    e AS (SELECT v, sum(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM pv),
    t AS (SELECT max(cum) AS n FROM e),
    ex AS (
      SELECT q_pct, min(v) AS exact_cents
      FROM qs CROSS JOIN e CROSS JOIN t
      WHERE cum >= ceil(q_pct * n / 100.0)
      GROUP BY q_pct
    )
    SELECT CAST(em.q_pct AS BIGINT) AS q_pct,
           em.est_merged_cents,
           ed.est_direct_cents,
           (em.est_merged_cents = ed.est_direct_cents) AS merged_equals_direct,
           ex.exact_cents,
           abs(em.est_merged_cents - ex.exact_cents) AS abs_err_cents
    FROM em JOIN ed USING (q_pct) JOIN ex USING (q_pct)
    """,
    doc="Mergeable bottom-k quantile sketch with an in-query merge-equality "
    "and accuracy audit (operators/sketches.py:bottomk_sample) — the "
    "quantile summary that complements exact order statistics where a "
    "100 TB budget can't afford distinct-value frames (VERDICT r7 item "
    "6). The sketch is the k=256 rows with smallest md5(event_id:salt): "
    "a deterministic uniform sample whose bottom-k set is EXACTLY "
    "mergeable (bottomk(A u B) = bottomk(bottomk(A) u bottomk(B)) — the "
    "KMV associativity argument applied to rows). The query builds the "
    "sketch BOTH ways — direct global TakeOrdered(k), and per-source "
    "sketches unioned and re-taken — and proves merged == direct per "
    "quantile (the mergeability theorem, hash-verified), alongside the "
    "exact quantile from the distinct-value cumsum and the absolute "
    "error the k=256 sample pays for its O(1/sqrt(k)) rank guarantee. "
    "md5-portable: DuckDB reproduces the sample bit-exactly, so the "
    "sketch is value-verified end-to-end, not within-tolerance. Scale: "
    "one hash projection + TakeOrdered(k) per sketch (no full shuffle, "
    "no data sort); the per-source path windows WITHIN sources "
    "(parallel across them); every frame after sampling is <= k rows.",
    tags=("sketch", "scale"),
)
def q_sketch_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import (
        bottomk_sample,
        quantiles_from_sample,
        sample_hash,
    )

    K, SALT = 256, "qsk"
    QS = (25, 50, 75, 90, 99)
    ev = T(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        "event_type",
    )
    direct = bottomk_sample(base, F.col("event_id"), F.col("v"), K, SALT)
    # merged path: per-source bottom-k sketches (windowed WITHIN each
    # source, parallel across sources), union, re-take-k — the merge.
    # sample_hash is the operator's own key builder, so the per-source
    # sketches can never drift from the direct sketch's convention.
    w = Window.partitionBy("event_type").orderBy("h")
    per_src = (
        base.select("event_type", sample_hash(F.col("event_id"), SALT).alias("h"), "v")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .drop("rn", "event_type")
    )
    merged = per_src.orderBy("h").limit(K)
    est_m = quantiles_from_sample(merged, QS).withColumnRenamed("est", "est_merged_cents")
    est_d = quantiles_from_sample(direct, QS).withColumnRenamed("est", "est_direct_cents")
    # exact quantiles: distinct-value cumsum (sort-free order statistic)
    per_v = base.groupBy("v").agg(F.count("*").alias("c"))
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    e = per_v.select("v", F.sum("c").over(cum).alias("cum"))
    # n == max(cum) but derived as a plain count over the base scan: the
    # max-over-cumsum form re-executed the whole per_v + single-partition
    # window subtree a second time just to read its last row
    tot = base.agg(F.count("*").alias("n"))
    qf = spark.createDataFrame([(q,) for q in QS], "q_pct int")
    exact = (
        e.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(qf),
            F.col("cum") >= F.ceil(F.col("q_pct") * F.col("n") / F.lit(100.0)),
        )
        .groupBy(F.col("q_pct").cast("long").alias("q_pct"))
        .agg(F.min("v").alias("exact_cents"))
    )
    # 5-row frames: hint them broadcast or the final joins plan as
    # sort-merge (exchange + sort per side) on statless subqueries
    return (
        est_m.join(F.broadcast(est_d), "q_pct")
        .join(F.broadcast(exact), "q_pct")
        .select(
            "q_pct",
            "est_merged_cents",
            "est_direct_cents",
            (F.col("est_merged_cents") == F.col("est_direct_cents")).alias(
                "merged_equals_direct"
            ),
            "exact_cents",
            F.abs(F.col("est_merged_cents") - F.col("exact_cents")).alias(
                "abs_err_cents"
            ),
        )
    )


@query(
    "robust_median_of_means",
    oracle="""
    WITH v AS (
      SELECT event_type AS g,
             ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 32 AS b,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    pb AS (SELECT g, b, sum(c) AS s, count(*) AS c2 FROM v GROUP BY g, b),
    bm AS (SELECT g, b, s, c2, CAST(round(1000.0 * s / c2) AS BIGINT) AS m FROM pb),
    r AS (SELECT g, s, c2, m,
                 row_number() OVER (PARTITION BY g ORDER BY m, b) AS rn FROM bm),
    t AS (SELECT g, sum(c2) AS n_rows, sum(s) AS sum_cents, count(*) AS nb
          FROM r GROUP BY g)
    SELECT r.g AS event_type,
           CAST(t.n_rows AS BIGINT) AS n_rows,
           CAST(t.nb AS BIGINT) AS n_buckets_eff,
           CAST(round(1000000.0 * t.sum_cents / t.n_rows) AS BIGINT) AS mean_micros,
           CAST((min(CASE WHEN rn = (t.nb + 1) // 2 THEN m END)
               + min(CASE WHEN rn = CAST(ceil((t.nb + 1) / 2.0) AS BIGINT) THEN m END))
               * 500 AS BIGINT) AS mom_micros
    FROM r JOIN t USING (g)
    GROUP BY r.g, t.n_rows, t.nb, t.sum_cents
    """,
    doc="Median-of-means robust event-value location per event type "
    "(operators/profiling.py:median_of_means_by) — the MERGEABLE robust "
    "estimator for when even per-group rank windows over raw rows are "
    "too wide at 100 TB: rows deal into 32 fixed md5 hash buckets, each "
    "bucket keeps an exact BIGINT (sum, count) — map-side combinable, "
    "mergeable across partitions/days by field-wise addition, the same "
    "associativity contract as the sketch module — and the estimate is "
    "the exact median of the bounded bucket-mean frame (average of the "
    "two middle milli-means, published in micros so it stays integer). "
    "Completes the robust-location ladder: mean (fragile) -> trimmed "
    "mean (rank window over raw rows) -> median-of-means (constant "
    "state). The plain mean ships alongside for contrast.",
    tags=("analytics", "robust", "scale"),
)
def q_robust_median_of_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import median_of_means_by

    ev = T(spark, sf_dir, "events")
    return median_of_means_by(
        ev,
        F.col("event_type"),
        F.col("event_id"),
        F.round(F.col("value") * 100).cast("long"),
        n_buckets=32,
    ).withColumnRenamed("g", "event_type")


@query(
    "stats_mann_whitney",
    oracle="""
    WITH pv AS (
      SELECT l_quantity AS v,
             sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ca,
             sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS cb
      FROM lineitem GROUP BY l_quantity
    ),
    c AS (
      SELECT v, ca, cb,
             coalesce(sum(cb) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
      FROM pv
    ),
    t AS (
      SELECT CAST(sum(ca) AS BIGINT) AS n_a,
             CAST(sum(cb) AS BIGINT) AS n_b,
             CAST(sum(ca * (2 * cumb + cb)) AS BIGINT) AS u2,
             CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS BIGINT)
               AS tie_term
      FROM c
    ),
    z AS (
      SELECT n_a, n_b, u2, tie_term,
             CAST(u2 - n_a * n_b AS DOUBLE)
               / (2.0 * sqrt(CAST(n_a AS DOUBLE) * n_b / 12.0
                   * (CAST(n_a + n_b + 1 AS DOUBLE)
                      - CAST(tie_term AS DOUBLE)
                        / CAST((n_a + n_b) * (n_a + n_b - 1) AS DOUBLE)))) AS zz
      FROM t
    )
    SELECT n_a, n_b, u2, tie_term,
           CAST(round(zz * 1000000) AS BIGINT) AS z_micros,
           coalesce(abs(zz) > 1.96, false) AS reject_95
    FROM z
    """,
    doc="Tie-corrected Mann-Whitney U test between the returned ('R') and "
    "delivered ('N') quantity populations "
    "(operators/profiling.py:mann_whitney_u) — the rank-based LOCATION "
    "test completing the two-sample suite: Welch compares means "
    "(moment-based, outlier-fragile), KS compares whole distributions "
    "(same populations as ks_drift_two_sample, deliberately), MW asks "
    "'does one side stochastically dominate?' robustly. u2 = 2U is the "
    "exact BIGINT midrank statistic (ranking_auc's formula — AUC is "
    "U/(n_a*n_b) normalized); the tie correction sum(t^3 - t) stays an "
    "exact BIGINT; z is one fixed left-associative expression over those "
    "integers, quantized once to micros. One collapse to distinct "
    "values; everything after on the bounded frame.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import mann_whitney_u

    li = T(spark, sf_dir, "lineitem").select("l_quantity", "l_returnflag")
    return mann_whitney_u(
        li,
        F.col("l_quantity"),
        F.col("l_returnflag") == "R",
        F.col("l_returnflag") == "N",
    )


@query(
    "sampling_weighted_bottomk",
    oracle="""
    WITH base AS (
      SELECT CAST(event_id AS VARCHAR) AS id, event_type,
             CAST(round(value * 100) AS BIGINT) AS w
      FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0
    ),
    keyed AS (
      SELECT event_type, w, md5(id || ':wsk') AS h,
             CAST(round(1000000.0
                 * -ln((('0x' || substring(md5(id || ':wsk'), 1, 8))::BIGINT + 1)
                       / 4294967296.0)
                 / w) AS BIGINT) AS key_micros
      FROM base
    ),
    direct AS (SELECT * FROM keyed ORDER BY key_micros, h LIMIT 512),
    per_src AS (
      SELECT event_type, w, h, key_micros FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY key_micros, h) AS rn
        FROM keyed
      ) WHERE rn <= 512
    ),
    merged AS (SELECT * FROM per_src ORDER BY key_micros, h LIMIT 512),
    d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_direct,
                 CAST(sum(w) AS BIGINT) AS wsum_direct_cents
          FROM direct GROUP BY event_type),
    m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_merged
          FROM merged GROUP BY event_type)
    SELECT coalesce(d.event_type, m.event_type) AS event_type,
           coalesce(n_direct, 0) AS n_direct,
           coalesce(wsum_direct_cents, 0) AS wsum_direct_cents,
           coalesce(n_merged, 0) AS n_merged
    FROM d FULL JOIN m ON d.event_type = m.event_type
    """,
    doc="Efraimidis-Spirakis weighted sample without replacement as a "
    "mergeable bottom-k sketch "
    "(operators/sketches.py:weighted_sample_keys) — THE distributed "
    "weighted-sampling technique a training-mixture pipeline runs at "
    "100 TB: every row keys itself -ln(u)/w from a portable md5 draw, "
    "the k=512 smallest keys are a weight-proportional sample, and the "
    "sketch merges like KMV (union + re-take-k; a row's key never "
    "changes). The query builds the sample direct AND via per-source "
    "sketches re-merged, and emits per-type composition from BOTH paths "
    "— the hash compare proves merged == direct (the associativity "
    "theorem) and the weight sums audit the weighting. Keys are "
    "micro-quantized with one identical left-associative expression so "
    "the ORDER is reproducible cross-engine; ties break on the hash. "
    "Per-row arithmetic + one TakeOrdered(k): no full shuffle, no sort "
    "of the data.",
    tags=("sampling", "sketch", "scale"),
)
def q_sampling_weighted_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.sketches import weighted_sample_keys

    K, SALT = 512, "wsk"
    ev = T(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("w"),
    ).filter(F.col("w") > 0)
    keyed = weighted_sample_keys(
        base, F.col("event_id"), F.col("w"), SALT, extra_cols=("event_type",)
    )
    direct = keyed.orderBy("key_micros", "h").limit(K)
    per_src = (
        keyed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("key_micros", "h")
            ),
        )
        .filter(F.col("rn") <= K)
        .drop("rn")
    )
    merged = per_src.orderBy("key_micros", "h").limit(K)
    d = direct.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_direct"),
        F.sum("w").cast("long").alias("wsum_direct_cents"),
    )
    m = merged.groupBy("event_type").agg(F.count("*").cast("long").alias("n_merged"))
    return (
        d.join(m, "event_type", "full")
        .select(
            "event_type",
            F.coalesce("n_direct", F.lit(0)).cast("long").alias("n_direct"),
            F.coalesce("wsum_direct_cents", F.lit(0)).cast("long").alias("wsum_direct_cents"),
            F.coalesce("n_merged", F.lit(0)).cast("long").alias("n_merged"),
        )
    )


@query(
    "stats_kendall_tau_b",
    oracle="""
    WITH cells AS (
      SELECT l_quantity AS xv, l_linenumber AS yv, CAST(count(*) AS BIGINT) AS nij
      FROM lineitem GROUP BY 1, 2
    ),
    cd AS (
      SELECT
        CAST(coalesce(sum(CASE WHEN a.yv < b.yv THEN a.nij * b.nij END), 0)
             AS BIGINT) AS conc,
        CAST(coalesce(sum(CASE WHEN a.yv > b.yv THEN a.nij * b.nij END), 0)
             AS BIGINT) AS disc
      FROM cells a JOIN cells b ON a.xv < b.xv
    ),
    tr AS (SELECT CAST(sum(r * (r - 1)) AS BIGINT) AS tr2
           FROM (SELECT sum(nij) AS r FROM cells GROUP BY xv)),
    tc AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) AS tc2
           FROM (SELECT sum(nij) AS c FROM cells GROUP BY yv)),
    t AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_cells FROM cells)
    SELECT n, n_cells, conc, disc, tr2, tc2,
           CAST(round(2.0 * CAST(conc - disc AS DOUBLE)
               / sqrt((CAST(n * (n - 1) AS DOUBLE) - tr2)
                      * (CAST(n * (n - 1) AS DOUBLE) - tc2))
               * 1000000) AS BIGINT) AS tau_b_micros
    FROM cd, tr, tc, t
    """,
    doc="Tie-corrected Kendall tau-b between line quantity and line number "
    "(operators/profiling.py:kendall_tau_b) — the concordance-based rank "
    "association completing the correlation pair: Spearman (r7) "
    "correlates midranks linearly, tau-b counts agreeing vs disagreeing "
    "pairs, the statistic ordinal-association audits and rank-stability "
    "checks actually quote. Concordant/discordant masses are exact "
    "BIGINTs from the |X|x|Y| contingency collapse (cell-pair "
    "enumeration on the domain-bounded cell frame — a deliberate, "
    "justified broadcast non-equi self-join, <= (50*7)^2 pairs at ANY "
    "data size); tie terms stay doubled so tau_b = 2(C-D)/"
    "sqrt((n(n-1)-tr2)(n(n-1)-tc2)) is one fixed float expression over "
    "exact integers, quantized once to micros.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import kendall_tau_b

    li = T(spark, sf_dir, "lineitem").select("l_quantity", "l_linenumber")
    return kendall_tau_b(li, F.col("l_quantity"), F.col("l_linenumber"))


@query(
    "stats_brown_forsythe",
    oracle="""
    WITH base AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
                  FROM lineitem),
    pv AS (SELECT g, v, count(*) AS c FROM base GROUP BY g, v),
    e AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM pv),
    tt AS (SELECT g, max(cum) AS n_g FROM e GROUP BY g),
    med AS (
      SELECT e.g,
             CAST(min(CASE WHEN cum >= CAST(floor((n_g + 1) / 2) AS BIGINT)
                           THEN v END)
                + min(CASE WHEN cum >= CAST(ceil((n_g + 1) / 2) AS BIGINT)
                           THEN v END) AS BIGINT) AS med2
      FROM e JOIN tt USING (g) GROUP BY e.g
    ),
    m AS (
      SELECT b.g, count(*) AS n_g, sum(abs(2 * v - med2)) AS s_g,
             sum(abs(2 * v - med2) * abs(2 * v - med2)) AS q_g
      FROM base b JOIN med ON b.g = med.g GROUP BY b.g
    ),
    m2 AS (SELECT g, n_g, s_g, q_g,
                  CAST(round(1000.0 * CAST(s_g AS DOUBLE) * s_g / n_g)
                       AS BIGINT) AS t_g
           FROM m),
    a AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n_g) AS BIGINT) AS n_total,
                 CAST(sum(s_g) AS BIGINT) AS s_all,
                 CAST(sum(q_g) AS BIGINT) AS q_all,
                 CAST(sum(t_g) AS BIGINT) AS t_all
          FROM m2),
    b2 AS (SELECT k, n_total,
                  CAST(t_all - CAST(round(1000.0 * CAST(s_all AS DOUBLE)
                      * s_all / n_total) AS BIGINT) AS BIGINT) AS ssb_milli,
                  CAST(1000 * q_all - t_all AS BIGINT) AS ssw_milli
           FROM a)
    SELECT k, n_total, ssb_milli, ssw_milli,
           CAST(round((CAST(ssb_milli AS DOUBLE) / (k - 1))
               / (CAST(ssw_milli AS DOUBLE) / (n_total - k))
               * 1000000) AS BIGINT) AS f_micros
    FROM b2
    """,
    doc="Brown-Forsythe equality-of-spread test across the three return-flag "
    "populations of line quantity "
    "(operators/profiling.py:brown_forsythe) — the robust Levene variant "
    "(deviations from the group MEDIAN) a DQ gate runs before trusting "
    "any pooled-variance comparison. Medians come from the sort-free "
    "per-group exact-order-statistic collapse (the Mondrian machinery), "
    "kept DOUBLED so half-medians stay integer; deviations and their "
    "squares are exact BIGINTs; each group's S^2/n quantizes ONCE to a "
    "milli BIGINT so the across-group ANOVA sums are exact-integer and "
    "reduction-order-immune; F is one fixed float expression, quantized "
    "to micros. One cell collapse + one broadcast of the 3-row median "
    "table back for a single map-side moment pass.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import brown_forsythe

    li = T(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    return brown_forsythe(li, F.col("l_returnflag"), F.col("l_quantity"))


@query(
    "stats_two_proportion_z",
    oracle="""
    WITH t AS (
      SELECT CAST(coalesce(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END),
                  0) AS BIGINT) AS n_a,
             CAST(coalesce(sum(CASE WHEN l_returnflag = 'R'
                  AND l_quantity >= 25 THEN 1 ELSE 0 END), 0) AS BIGINT) AS x_a,
             CAST(coalesce(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END),
                  0) AS BIGINT) AS n_b,
             CAST(coalesce(sum(CASE WHEN l_returnflag = 'N'
                  AND l_quantity >= 25 THEN 1 ELSE 0 END), 0) AS BIGINT) AS x_b
      FROM lineitem
    ),
    d AS (SELECT n_a, x_a, n_b, x_b,
                 CAST(x_a * n_b - x_b * n_a AS BIGINT) AS diff_num,
                 CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p
          FROM t)
    SELECT n_a, x_a, n_b, x_b, diff_num,
           CAST(round(CAST(diff_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
               / sqrt(p * (1.0 - p)
                      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
               * 1000000) AS BIGINT) AS z_micros,
           coalesce(abs(CAST(diff_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)
               / sqrt(p * (1.0 - p)
                      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))))
               > 1.96, false) AS reject_95
    FROM d
    """,
    doc="Two-proportion pooled z-test: does the high-quantity rate differ "
    "between returned ('R') and delivered ('N') line items "
    "(operators/profiling.py:two_proportion_z)? Completes the two-sample "
    "suite along its fourth axis — means (Welch), distributions (KS), "
    "ranks (Mann-Whitney), and now binary RATES, the most common "
    "production comparison (error-rate / conversion-rate gates). All "
    "four counts from ONE map-side pass; the rate difference carried "
    "cross-multiplied as an exact BIGINT; z is one fixed float "
    "expression quantized once to micros, try_divide-guarded.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import two_proportion_z

    li = T(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    return two_proportion_z(
        li,
        F.col("l_returnflag") == "R",
        F.col("l_returnflag") == "N",
        F.col("l_quantity") >= 25,
    )


@query(
    "events_ohlc_bars",
    oracle="""
    WITH q AS (
      SELECT event_type, date_trunc('hour', ts) AS ws,
             CAST(round(value * 100) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events
    )
    SELECT event_type, ws AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(CASE WHEN rn_a = 1 THEN c END) AS BIGINT) AS open_cents,
           CAST(max(c) AS BIGINT) AS high_cents,
           CAST(min(c) AS BIGINT) AS low_cents,
           CAST(min(CASE WHEN rn_z = 1 THEN c END) AS BIGINT) AS close_cents,
           CAST(sum(c) AS BIGINT) AS total_cents
    FROM q
    GROUP BY 1, 2
    """,
    doc="OHLC candle bars per (event_type, hour) — the time-series "
    "downsampling shape every metrics/hypertable rollup ships "
    "(open/high/low/close + volume per bucket). The whole bar is ONE "
    "map-side-combinable aggregate: open/close are min_by/max_by over "
    "the (ts, event_id) struct — the composite key makes tie-broken "
    "endpoint selection deterministic AND keeps the plan a single "
    "hash-aggregate (partial min_by/max_by combine associatively), so "
    "there is no rank window, no second shuffle, and the hourly bar "
    "table is exactly one pass over the events at any scale. Values "
    "quantized to integer cents once, shared by both engines.",
    tags=("analytics", "timeseries", "scale"),
)
def q_events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("window_start"),
                  "ts", "event_id", cents.alias("c"))
        .groupBy("event_type", "window_start")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min_by("c", key).cast("long").alias("open_cents"),
            F.max("c").cast("long").alias("high_cents"),
            F.min("c").cast("long").alias("low_cents"),
            F.max_by("c", key).cast("long").alias("close_cents"),
            F.sum("c").cast("long").alias("total_cents"),
        )
    )


@query(
    "events_user_rfm_segments",
    oracle="""
    WITH per_user AS (
      SELECT user_id, max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mon
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT mon,
             ntile(4) OVER (ORDER BY last_ts DESC, user_id) AS r,
             ntile(4) OVER (ORDER BY freq DESC, user_id) AS f,
             ntile(4) OVER (ORDER BY mon DESC, user_id) AS m
      FROM per_user
    )
    SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(mon) AS BIGINT) AS sum_monetary_cents
    FROM scored GROUP BY 1
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation over the "
    "event stream — the classic marketing-warehouse rollup: per-user "
    "last-touch, event count, and integer-cents spend collapse in ONE "
    "map-side-combinable pass (linear, the only data-scale stage), then "
    "each axis is quartile-scored with ntile(4) over a TOTAL order "
    "(metric desc, user_id) so tie assignment is reproducible "
    "cross-engine, and segments roll up to (segment, n_users, spend). "
    "Scale note: the three rank windows run on the POST-COLLAPSE user "
    "frame, not the raw events; at extreme user cardinality swap ntile "
    "for exact quantile thresholds (the conformal/order-statistic "
    "machinery) to avoid the single-partition global sort — same "
    "escape hatch documented on gini_concentration.",
    tags=("analytics", "warehouse"),
)
def q_events_user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("freq"),
        F.sum(cents).cast("long").alias("mon"),
    )
    r = F.ntile(4).over(Window.orderBy(F.col("last_ts").desc(), F.col("user_id")))
    f = F.ntile(4).over(Window.orderBy(F.col("freq").desc(), F.col("user_id")))
    m = F.ntile(4).over(Window.orderBy(F.col("mon").desc(), F.col("user_id")))
    scored = per_user.select(
        "mon", r.alias("r"), f.alias("f"), m.alias("m")
    )
    return (
        scored.groupBy(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
            .cast("long")
            .alias("rfm_segment")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("mon").cast("long").alias("sum_monetary_cents"),
        )
    )


@query(
    "stats_kruskal_wallis",
    oracle="""
    WITH base AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v
                  FROM lineitem),
    cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY g, v),
    per_v AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY v),
    ranked AS (
      SELECT v, cv,
             sum(cv) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM per_v
    ),
    tot AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM ranked),
    rv AS (SELECT v, cv, n, 2 * cum - cv + 1 - (n + 1) AS d2
           FROM ranked, tot),
    sst AS (SELECT n, sum(CAST(cv AS DOUBLE) * d2 * d2) AS sst2
            FROM rv GROUP BY n),
    per_g AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
             CAST(sum(c * d2) AS BIGINT) AS d2_g
      FROM cells JOIN rv USING (v) GROUP BY g
    ),
    ssb AS (SELECT CAST(count(*) AS BIGINT) AS k,
                   sum(CAST(d2_g AS DOUBLE) * d2_g / CAST(n_g AS DOUBLE)) AS ssb2
            FROM per_g)
    SELECT k, n AS n_total,
           CAST(round(CAST(n - 1 AS DOUBLE) * ssb2 / sst2 * 1000000) AS BIGINT)
             AS h_micros,
           coalesce((CAST(n - 1 AS DOUBLE) * ssb2 / sst2) >
             (CASE k WHEN 2 THEN 3.841 WHEN 3 THEN 5.991 WHEN 4 THEN 7.815
                     WHEN 5 THEN 9.488 WHEN 6 THEN 11.070 WHEN 7 THEN 12.592
                     WHEN 8 THEN 14.067 END), false) AS reject_95
    FROM ssb, sst
    """,
    doc="Tie-corrected Kruskal-Wallis H across the three return-flag "
    "populations of line quantity "
    "(operators/profiling.py:kruskal_wallis) — the k-sample "
    "generalization of the Mann-Whitney pair test, computed via the "
    "ANOVA-on-midranks identity so the tie correction is structural, "
    "not bolted on. Doubled midranks keep every rank an exact integer "
    "(mean doubled rank = N+1 exactly), per-group centered rank masses "
    "are exact BIGINTs, and the two sums of squares are double sums of "
    "exact-integer terms (~1e-13 relative error against a 1e-6 "
    "quantization — the acf/KM precedent). One collapse to (group, "
    "value) cells; the rank window runs on the 50-value quantity "
    "domain, never on data cardinality.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import kruskal_wallis

    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return kruskal_wallis(li, F.col("l_returnflag"), F.col("qty"))


@query(
    "stats_oneway_anova",
    oracle="""
    WITH base AS (SELECT l_linenumber AS g, CAST(l_quantity AS BIGINT) AS v
                  FROM lineitem),
    m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                 CAST(sum(v) AS BIGINT) AS s_g,
                 CAST(sum(v * v) AS BIGINT) AS q_g
          FROM base GROUP BY g),
    m2 AS (SELECT g, n_g, s_g, q_g,
                  CAST(round(1000.0 * CAST(s_g AS DOUBLE) * s_g / n_g)
                       AS BIGINT) AS t_g
           FROM m),
    a AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n_g) AS BIGINT) AS n_total,
                 CAST(sum(s_g) AS BIGINT) AS s_all,
                 CAST(sum(q_g) AS BIGINT) AS q_all,
                 CAST(sum(t_g) AS BIGINT) AS t_all
          FROM m2),
    b2 AS (SELECT k, n_total,
                  CAST(t_all - CAST(round(1000.0 * CAST(s_all AS DOUBLE)
                      * s_all / n_total) AS BIGINT) AS BIGINT) AS ssb_milli,
                  CAST(1000 * q_all - t_all AS BIGINT) AS ssw_milli
           FROM a)
    SELECT k, n_total, ssb_milli, ssw_milli,
           CAST(round((CAST(ssb_milli AS DOUBLE) / (k - 1))
               / (CAST(ssw_milli AS DOUBLE) / (n_total - k))
               * 1000000) AS BIGINT) AS f_micros,
           CAST(round(CAST(ssb_milli AS DOUBLE)
               / CAST(ssb_milli + ssw_milli AS DOUBLE) * 1000000) AS BIGINT)
             AS eta2_micros
    FROM b2
    """,
    doc="One-way fixed-effects ANOVA of line quantity across the seven "
    "line-number positions (operators/profiling.py:oneway_anova) — the raw-value "
    "location screen pairing with Kruskal-Wallis (ranks) exactly the "
    "way Welch pairs with Mann-Whitney at k=2, plus eta^2 effect size "
    "so 'significant' is separated from 'matters'. Per-group integer "
    "moments from ONE map-side pass (quantity <= 50, so sum v^2 has "
    "int64 headroom to ~4e15 rows); each S_g^2/n_g quantized once to a "
    "milli BIGINT so the across-group ANOVA sums are exact-integer and "
    "reduction-order-immune; F and eta^2 are fixed float expressions "
    "over the SAME two exact integers, quantized to micros. No window, "
    "no second scan — the whole statistic is one aggregate over k=7 "
    "rows.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_oneway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import oneway_anova

    li = T(spark, sf_dir, "lineitem").select(
        "l_linenumber", F.col("l_quantity").cast("long").alias("qty")
    )
    return oneway_anova(li, F.col("l_linenumber"), F.col("qty"))


@query(
    "survival_nelson_aalen",
    oracle="""
    WITH d AS (
      SELECT user_id,
             (epoch_us(max(ts)) - epoch_us(min(ts))) // 60000000 AS dur
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CASE WHEN dur < 42000 THEN dur ELSE 42000 END AS t,
             (dur < 42000) AS ev
      FROM d
    ),
    per_t AS (
      SELECT t,
             CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS arrivals
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             CAST(sum(arrivals) OVER (ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_at_risk
      FROM per_t
    ),
    curve AS (
      SELECT t, d, n_at_risk,
             sum(CAST(d AS DOUBLE) / n_at_risk)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch,
             sum(CAST(d AS DOUBLE) / (CAST(n_at_risk AS DOUBLE) * n_at_risk))
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
      FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t, n_at_risk, d AS d_deaths,
           CAST(round(1000000.0 * ch) AS BIGINT) AS cumhaz_micros,
           CAST(round(1000000.0 * cv) AS BIGINT) AS var_micros
    FROM curve WHERE d > 0
    """,
    doc="Nelson-Aalen cumulative hazard of user lifetimes with the same "
    "42,000-minute administrative censoring as survival_kaplan_meier "
    "(operators/profiling.py:nelson_aalen) — the additive estimator a "
    "churn/reliability model regresses on (hazards add across causes "
    "and strata; survival multiplies), with the standard sum d/n^2 "
    "variance. Identical risk-set construction to KM (one collapse to "
    "distinct death times, suffix running sum for n_at_risk); the "
    "hazard increments are single IEEE divisions of exact integers "
    "accumulated in t order inside an ordered window, so both engines "
    "execute the identical float sequence. exp(-H) >= S_KM is pytest-"
    "checked as a cross-estimator invariant.",
    tags=("analytics", "stats", "window"),
)
def q_survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import nelson_aalen

    ev = T(spark, sf_dir, "events")
    dur = ev.groupBy("user_id").agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us")
    ).select(F.expr("dur_us div 60000000").cast("bigint").alias("dur"))
    obs = dur.select(
        F.when(F.col("dur") < 42000, F.col("dur")).otherwise(F.lit(42000)).alias("t"),
        (F.col("dur") < 42000).alias("ev"),
    )
    return nelson_aalen(obs, "t", "ev")


@query(
    "timeseries_ljung_box",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY bucket
    ),
    t AS (SELECT count(*) AS n, sum(x) AS sx FROM hourly),
    lags AS (SELECT unnest(generate_series(1, 6)) AS lag),
    pairs AS (
      SELECT l.lag, t.n, t.sx, a.x AS xa, b.x AS xb
      FROM hourly a CROSS JOIN lags l
      JOIN hourly b ON b.bucket = a.bucket + to_hours(l.lag)
      CROSS JOIN t
    ),
    num AS (
      SELECT lag, n, sx,
             sum((xa - CAST(sx AS DOUBLE) / n) * (xb - CAST(sx AS DOUBLE) / n)) AS num
      FROM pairs GROUP BY lag, n, sx
    ),
    den AS (
      SELECT t.n,
             sum((x - CAST(t.sx AS DOUBLE) / t.n)
                 * (x - CAST(t.sx AS DOUBLE) / t.n)) AS den
      FROM hourly CROSS JOIN t GROUP BY t.n
    ),
    acf AS (
      SELECT CAST(l.lag AS BIGINT) AS lag,
             CAST(t.n AS BIGINT) AS n_buckets,
             CAST(round(1000000.0 * num.num / den.den) AS BIGINT) AS acf_micros
      FROM lags l
      LEFT JOIN num ON num.lag = l.lag
      LEFT JOIN den ON den.n = num.n
      CROSS JOIN t
    ),
    folded AS (
      SELECT CAST(max(n_buckets) AS BIGINT) AS n_buckets,
             CAST(count(*) AS BIGINT) AS h_lags,
             CAST(sum(coalesce(CAST(round(
                 CAST(acf_micros AS DOUBLE) * acf_micros / (n_buckets - lag)
             ) AS BIGINT), 0)) AS BIGINT) AS sum_pico
      FROM acf
    )
    SELECT n_buckets, h_lags, sum_pico,
           CAST(round(CAST(n_buckets AS DOUBLE) * (n_buckets + 2)
               * CAST(sum_pico AS DOUBLE) / 1e12 * 1000000) AS BIGINT) AS q_micros,
           coalesce(CAST(n_buckets AS DOUBLE) * (n_buckets + 2)
               * CAST(sum_pico AS DOUBLE) / 1e12 >
             (CASE h_lags WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
                          WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
                          WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 END), false)
             AS reject_95
    FROM folded
    """,
    doc="Ljung-Box portmanteau test at h=6 on the hourly event-value "
    "series (operators/profiling.py:ljung_box_hourly) — the one-number "
    "'any serial structure left?' gate composed ON timeseries_acf's "
    "already-quantized integers, so both engines fold the SAME numbers: "
    "per-lag terms round(acf_micros^2/(n-k)) are exact-integer-derived "
    "picos, their sum is an exact BIGINT, and Q = n(n+2)*sum/1e12 is "
    "one fixed float expression quantized to micros with the "
    "chi-square(6) critical gate. Pairless lags contribute 0 by "
    "contract. Inherits acf's scale shape: one collapse to the hourly "
    "axis, then all work on time cardinality.",
    tags=("analytics", "timeseries", "scale"),
)
def q_timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import ljung_box_hourly

    ev = T(spark, sf_dir, "events")
    return ljung_box_hourly(
        ev, "ts", F.round(F.col("value") * 100).cast("bigint"), max_lag=6
    )


@query(
    "stats_bh_fdr_rates",
    oracle="""
    WITH base AS (SELECT event_type AS g, (value >= 50) AS s FROM events),
    m0 AS (SELECT g, CAST(count(*) AS BIGINT) AS n_g,
                  CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS x_g
           FROM base GROUP BY g),
    tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot,
                   CAST(sum(x_g) AS BIGINT) AS x_tot,
                   CAST(count(*) AS BIGINT) AS m FROM m0),
    z AS (
      SELECT g, n_g, x_g, m,
        (CAST(x_g*(n_tot-n_g) - (x_tot-x_g)*n_g AS DOUBLE)
           / CAST(n_g*(n_tot-n_g) AS DOUBLE))
          / sqrt((CAST(x_tot AS DOUBLE)/n_tot)
                 * (1.0 - CAST(x_tot AS DOUBLE)/n_tot)
                 * (1.0/CAST(n_g AS DOUBLE) + 1.0/CAST(n_tot-n_g AS DOUBLE)))
          AS zval
      FROM m0, tot),
    h AS (SELECT *, 1.0/(1.0 + 0.2316419*abs(zval)) AS t FROM z),
    p2 AS (
      SELECT g, n_g, x_g, m, zval,
        exp(-(abs(zval)*abs(zval))/2.0) * 0.3989422804014327
          * (t*(0.319381530 + t*(-0.356563782 + t*(1.781477937
               + t*(-1.821255978 + t*1.330274429))))) AS tail
      FROM h),
    scored AS (
      SELECT g, n_g, x_g, m,
        CAST(round(zval*1000000) AS BIGINT) AS z_micros,
        coalesce(CAST(least(round(2000000.0*tail), 1000000.0) AS BIGINT),
                 1000000) AS p_micros
      FROM p2),
    ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY p_micros, g)
                              AS BIGINT) AS bh_rank FROM scored),
    imax AS (SELECT max(CASE WHEN p_micros*m <= 50000*bh_rank
                             THEN bh_rank ELSE 0 END) AS i_max FROM ranked)
    SELECT g AS group_key, n_g, x_g, z_micros, p_micros, bh_rank,
           coalesce(bh_rank <= i_max, false) AS bh_reject
    FROM ranked, imax
    """,
    doc="Benjamini-Hochberg FDR-corrected per-stratum rate screen: each "
    "event type's high-value rate z-tested against its complement, "
    "p-values from the Abramowitz-Stegun normal tail, BH step-up at "
    "alpha=.05 (operators/profiling.py:benjamini_hochberg_rates) — the "
    "multiple-testing correction a fleet-wide drift monitor MUST apply "
    "before paging when it runs the same test across hundreds of "
    "strata. Determinism: the A-S polynomial is the SAME Horner "
    "expression on both engines, p quantizes to micros BEFORE ranking, "
    "and the step-up compare p_micros*m <= alpha_micros*i is pure "
    "integer — no float in the reject path. One collapse to per-stratum "
    "(n, x); rank window over the m-row stratum frame only.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_bh_fdr_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import benjamini_hochberg_rates

    ev = T(spark, sf_dir, "events")
    return benjamini_hochberg_rates(ev, F.col("event_type"), F.col("value") >= 50)


@query(
    "privacy_dp_laplace_counts",
    oracle="""
    WITH per_g AS (
      SELECT o_orderpriority AS g, CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY o_orderpriority
    ),
    noise AS (
      SELECT g, c,
        (CAST(CAST(('0x' || substr(md5('dp:' || g), 1, 13)) AS BIGINT)
              AS DOUBLE) + 0.5) / 4503599627370496.0 AS u
      FROM per_g
    )
    SELECT g AS group_key,
           CAST(round((CAST(c AS DOUBLE)
               + (-(1000000.0/1000000.0) * sign(u - 0.5)
                  * ln(1.0 - 2.0*abs(u - 0.5)))) * 1000000) AS BIGINT)
             AS noisy_count_micros,
           CAST(1000000 AS BIGINT) AS epsilon_micros
    FROM noise
    """,
    doc="Epsilon-DP release of order counts per priority class via the "
    "Laplace mechanism at epsilon=1 "
    "(operators/privacy.py:dp_laplace_counts) — the privacy family's "
    "missing RELEASE primitive: privacy_k_anonymity / l_diversity / "
    "t_closeness audit the table, this protects the published COUNTS "
    "themselves (sensitivity 1 under add/remove-one adjacency). Noise "
    "is derived from md5(salt:group) — 52 uniform bits, +0.5 dodging "
    "the ln(0) edge exactly — through the inverse-CDF transform, one "
    "fixed float expression identical in both engines, quantized once "
    "to micros. ONE map-side count per group; the mechanism is a "
    "per-row Column on the |groups|-row frame.",
    tags=("analytics", "privacy", "scale"),
)
def q_privacy_dp_laplace_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.privacy import dp_laplace_counts

    od = T(spark, sf_dir, "orders")
    return dp_laplace_counts(
        od, F.col("o_orderpriority"), epsilon_micros=1_000_000, salt="dp"
    )


@query(
    "classifier_brier_decomposition",
    oracle="""
    WITH base AS (
      SELECT CAST(2 * CAST(l_quantity AS BIGINT) AS BIGINT) AS f,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    bins AS (
      SELECT f, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(y) AS BIGINT) AS x_b,
             CAST(sum((f - 100*y) * (f - 100*y)) AS BIGINT) AS sq_b
      FROM base GROUP BY f
    ),
    tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n, CAST(sum(x_b) AS BIGINT) AS x,
                   CAST(sum(sq_b) AS BIGINT) AS sq,
                   CAST(count(*) AS BIGINT) AS n_bins FROM bins),
    terms AS (
      SELECT n, x, sq, n_bins,
        CAST(round(1000.0 * CAST(n_b*f - 100*x_b AS DOUBLE)
                          * CAST(n_b*f - 100*x_b AS DOUBLE)
             / (10000.0 * n_b)) AS BIGINT) AS t_rel,
        CAST(round(1000.0 * CAST(x_b*n - x*n_b AS DOUBLE)
                          * CAST(x_b*n - x*n_b AS DOUBLE)
             / (CAST(n_b AS DOUBLE) * n * n)) AS BIGINT) AS t_res
      FROM bins, tot
    ),
    s AS (SELECT n, x, sq, n_bins,
                 CAST(sum(t_rel) AS BIGINT) AS rel_milli,
                 CAST(sum(t_res) AS BIGINT) AS res_milli
          FROM terms GROUP BY n, x, sq, n_bins)
    SELECT n AS n_total, n_bins,
           CAST(round(1000.0 * rel_milli / CAST(n AS DOUBLE)) AS BIGINT)
             AS reliability_micros,
           CAST(round(1000.0 * res_milli / CAST(n AS DOUBLE)) AS BIGINT)
             AS resolution_micros,
           CAST(round(1000000.0 * x * (n - x)
                / (CAST(n AS DOUBLE) * n)) AS BIGINT) AS uncertainty_micros,
           CAST(round(100.0 * sq / CAST(n AS DOUBLE)) AS BIGINT) AS brier_micros
    FROM s
    """,
    doc="Murphy decomposition of the Brier score, with 2*l_quantity as an "
    "integer-percent forecast of the return outcome "
    "(operators/profiling.py:brier_decomposition) — the diagnostic that "
    "turns one loss number into WHICH-part-is-broken: reliability "
    "(recalibrate — a monotone map fixes it), resolution (the model "
    "doesn't separate), uncertainty (irreducible base rate). Bins are "
    "the distinct forecast values (the classical exact setting, no "
    "binning error term). Per-bin terms are single float expressions "
    "over exact integers milli-quantized ONCE so cross-bin sums are "
    "order-immune; the direct Brier rides the same first pass as an "
    "exact BIGINT sum, and |brier - (rel - res + unc)| <= slack is "
    "pytest-checked end-to-end. One collapse to <=101 bins; 1-row "
    "totals broadcast.",
    tags=("analytics", "stats", "scale"),
)
def q_classifier_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import brier_decomposition

    li = T(spark, sf_dir, "lineitem")
    return brier_decomposition(
        li, 2 * F.col("l_quantity").cast("long"), F.col("l_returnflag") == "R"
    )


@query(
    "stats_effect_sizes",
    oracle="""
    WITH t AS (
      SELECT
        CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS s_a,
        CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q_a,
        CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS s_b,
        CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q_b
      FROM lineitem
    ),
    v AS (
      SELECT *,
        1000*q_a - CAST(round(1000.0 * CAST(s_a AS DOUBLE) * s_a / n_a)
                        AS BIGINT) AS v_a_milli,
        1000*q_b - CAST(round(1000.0 * CAST(s_b AS DOUBLE) * s_b / n_b)
                        AS BIGINT) AS v_b_milli
      FROM t
    ),
    e AS (
      SELECT n_a, n_b,
        CAST(s_a*n_b - s_b*n_a AS DOUBLE) / CAST(n_a*n_b AS DOUBLE) AS diff,
        sqrt(CAST(v_a_milli + v_b_milli AS DOUBLE)
             / (1000.0 * (n_a + n_b - 2))) AS s_pool,
        sqrt(CAST(v_b_milli AS DOUBLE) / (1000.0 * (n_b - 1))) AS s_ctrl,
        1.0 - 3.0 / CAST(4*(n_a + n_b) - 9 AS DOUBLE) AS jcorr
      FROM v
    )
    SELECT n_a, n_b,
           CAST(round(diff * 1000000) AS BIGINT) AS mean_diff_micros,
           CAST(round(diff / s_pool * 1000000) AS BIGINT) AS cohens_d_micros,
           CAST(round(diff / s_pool * jcorr * 1000000) AS BIGINT) AS hedges_g_micros,
           CAST(round(diff / s_ctrl * 1000000) AS BIGINT) AS glass_delta_micros
    FROM e
    """,
    doc="Standardized effect sizes (Cohen's d, Hedges' g, Glass's delta) "
    "for the returned-vs-delivered quantity comparison "
    "(operators/profiling.py:effect_sizes) — the magnitude companion "
    "the significance suite (Welch/MW/z on the same slicing) "
    "deliberately doesn't answer: at fleet scale everything is "
    "significant, and gates need 'how big' in re-run-stable units. One "
    "map-side moment pass; corrected sums of squares milli-quantized "
    "once (1000*(n-1)*s^2 exact); mean difference cross-multiplied as "
    "an exact BIGINT; three fixed float ratios quantized to micros.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import effect_sizes

    li = T(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return effect_sizes(
        li, F.col("qty"), F.col("l_returnflag") == "R", F.col("l_returnflag") == "N"
    )


@query(
    "stats_tost_equivalence",
    oracle="""
    WITH t AS (
      SELECT
        CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS s_a,
        CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q_a,
        CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS s_b,
        CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT)
                 * CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS q_b
      FROM lineitem
    ),
    v AS (
      SELECT *,
        1000*q_a - CAST(round(1000.0 * CAST(s_a AS DOUBLE) * s_a / n_a)
                        AS BIGINT) AS v_a_milli,
        1000*q_b - CAST(round(1000.0 * CAST(s_b AS DOUBLE) * s_b / n_b)
                        AS BIGINT) AS v_b_milli
      FROM t
    ),
    e AS (
      SELECT n_a, n_b,
        CAST(s_a*n_b - s_b*n_a AS DOUBLE) / CAST(n_a*n_b AS DOUBLE) AS diff,
        sqrt(CAST(v_a_milli AS DOUBLE) / (1000.0 * (n_a - 1)) / CAST(n_a AS DOUBLE)
           + CAST(v_b_milli AS DOUBLE) / (1000.0 * (n_b - 1)) / CAST(n_b AS DOUBLE))
          AS se
      FROM v
    )
    SELECT n_a, n_b,
           CAST(round(diff * 1000000) AS BIGINT) AS mean_diff_micros,
           CAST(round((diff + 0.5) / se * 1000000) AS BIGINT) AS t_lower_micros,
           CAST(round((0.5 - diff) / se * 1000000) AS BIGINT) AS t_upper_micros,
           coalesce((diff + 0.5) / se > 1.645 AND (0.5 - diff) / se > 1.645,
                    false) AS equivalent_95
    FROM e
    """,
    doc="TOST equivalence gate: are mean quantities of finished ('F') and "
    "open ('O') line items within +-0.5 units at 95% "
    "(operators/profiling.py:tost_equivalence)? The inversion a "
    "safe-to-ship check needs — a non-significant Welch test is absence "
    "of evidence; TOST is evidence of absence, demonstrated only when "
    "BOTH one-sided large-sample z's clear 1.645. Same one-pass "
    "integer-moment substrate as stats_effect_sizes (shared "
    "_two_sample_moments helper); Welch SE and both z's are fixed float "
    "expressions over milli-quantized exact integers.",
    tags=("analytics", "stats", "scale"),
)
def q_stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import tost_equivalence

    li = T(spark, sf_dir, "lineitem").select(
        "l_linestatus", F.col("l_quantity").cast("long").alias("qty")
    )
    return tost_equivalence(
        li,
        F.col("qty"),
        F.col("l_linestatus") == "F",
        F.col("l_linestatus") == "O",
        margin_milli=500,
    )
