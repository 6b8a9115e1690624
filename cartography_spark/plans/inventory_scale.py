"""Scale-path inventory: operators whose whole point is the 100 TB shape.

- ``incremental_agg_maintenance``: maintain a group-by summary from a delta
  batch without rescanning the base (mergeable partials; cost ∝ |delta| +
  |summary|). The reference recomputes everything per sync
  (/root/reference/cartography/sync.py:494-496) — this is the incremental
  alternative a large deployment needs.
- ``table_checksum_blocks``: block-level md5 fingerprints for cross-engine /
  cross-snapshot table reconciliation — compare 64 block rows instead of
  re-diffing the full table (the set-based twin of the reference's drift
  detect, /root/reference/cartography/driftdetect/detect_deviations.py:92-117).
- ``event_transition_matrix``: per-user Markov transition counts over the
  event stream (lag window + two aggregates sharing one shuffle).
- ``argmax_mergeable_top1``: top-1-per-group via the ``max_by`` aggregate —
  a mergeable partial aggregate instead of a window sort, so it map-side
  combines and never materializes per-group orderings (the scale path for
  the top1_per_group shape).
- ``interval_overlap_pairs``: interval self-overlap join, bucketed by
  fixed-width time bins so the plan is an equi-join on bucket + exact
  residual filter — never the quadratic theta join the naive form implies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cartography_spark.operators.dedup import portable_hash32
from cartography_spark.operators.incremental import cents, merge_partials, partial_aggregate
from cartography_spark.plans.registry import query
from cartography_spark.sources.parquet import load_table as T

_KEYS = ["l_returnflag", "l_linestatus"]
_METRICS = ["l_quantity", "l_extendedprice"]


@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS l_quantity_sum_cents,
           min(CAST(round(l_quantity * 100) AS BIGINT)) AS l_quantity_min_cents,
           max(CAST(round(l_quantity * 100) AS BIGINT)) AS l_quantity_max_cents,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS l_extendedprice_sum_cents,
           min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS l_extendedprice_min_cents,
           max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS l_extendedprice_max_cents
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Incremental summary maintenance: partial-aggregate a 90% base and a "
    "10% delta batch separately, then merge the partials (operators/"
    "incremental.py). The oracle is the full recompute — the merged summary "
    "must be bit-identical (bigint cents, no float reorder error). At scale "
    "only the delta is scanned; merge cost is independent of base size.",
    tags=("scale", "lifecycle"),
)
def q_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    base = li.filter(F.col("l_orderkey") % 10 != 0)
    delta = li.filter(F.col("l_orderkey") % 10 == 0)
    summary = partial_aggregate(base, _KEYS, _METRICS)
    delta_partial = partial_aggregate(delta, _KEYS, _METRICS)
    return merge_partials([summary, delta_partial], _KEYS, _METRICS)


@query(
    "table_checksum_blocks",
    oracle="""
    WITH fp AS (
      SELECT (l_orderkey * 10 + l_linenumber) % 64 AS block_id,
             ('0x' || substring(md5(concat_ws('|',
                CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
                CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR),
                CAST(CAST(round(l_quantity * 100) AS BIGINT) AS VARCHAR),
                CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR),
                l_returnflag, l_linestatus,
                CAST(CAST(l_shipdate AS DATE) AS VARCHAR))), 1, 8))::BIGINT AS fp
      FROM lineitem
    )
    SELECT block_id, count(*) AS n_rows,
           CAST(sum(fp) % 2147483647 AS BIGINT) AS checksum
    FROM fp GROUP BY block_id
    """,
    doc="Block-level reconciliation fingerprints: 64 rows of (count, md5-sum "
    "checksum) keyed on a portable id-derived block, so two snapshots or two "
    "engines compare 64 rows to localize divergence instead of re-diffing "
    "the table (drift detect at 100 TB). Sum-of-hashes is order-independent "
    "and map-side combines; the mod keeps the partial sums bigint-safe.",
    tags=("scale", "drift"),
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    payload = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_partkey").cast("string"),
        F.col("l_suppkey").cast("string"),
        cents("l_quantity").cast("string"),
        cents("l_extendedprice").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.col("l_shipdate").cast("date").cast("string"),
    )
    fp = portable_hash32(payload)
    return (
        li.select(((F.col("l_orderkey") * 10 + F.col("l_linenumber")) % 64).alias("block_id"), fp.alias("fp"))
        .groupBy("block_id")
        .agg(F.count(F.lit(1)).alias("n_rows"), (F.sum("fp") % 2147483647).alias("checksum"))
    )


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type, event_type, count(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n_transitions,
           CAST(sum(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from_prev
    FROM pairs
    """,
    doc="Per-user Markov transition counts: one lag window (partitioned on "
    "user_id — the natural even key), then a 25-row pair aggregate; the "
    "denominator reuses the tiny aggregate with a second window instead of "
    "a self-join. Integer counts only, so exact across engines.",
    tags=("scale", "events"),
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.lag("event_type").over(w).alias("prev_type"))
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return pairs.withColumn(
        "n_from_prev", F.sum("n_transitions").over(Window.partitionBy("prev_type"))
    )


@query(
    "argmax_mergeable_top1",
    oracle="""
    WITH j AS (
      SELECT n_name, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name, o_orderkey AS top_orderkey, ROUND(o_totalprice, 2) AS top_price
    FROM j WHERE rn = 1
    """,
    doc="Top-1 per group WITHOUT a window sort: max_by over a (price, key) "
    "struct is a mergeable aggregate — map-side combine keeps one candidate "
    "per group per partition, so no per-group ordering is ever "
    "materialized. The window form (top1_per_group) shuffles every row; "
    "this shuffles one row per group per partition. Tie-break is total "
    "(struct order), so it is deterministic and oracle-exact.",
    tags=("scale", "window"),
)
def q_argmax_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    j = o.join(c, o.o_custkey == c.c_custkey).join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return j.groupBy("n_name").agg(
        F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


_BUCKET_US = 300_000_000  # 5-minute interval width and bucket size, microseconds


@query(
    "interval_overlap_pairs",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, epoch_us(ts) AS st, epoch_us(ts) + 300000000 AS en
      FROM events WHERE event_type = 'error'
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_overlaps
    FROM s a JOIN s b
      ON a.user_id < b.user_id AND a.st <= b.en AND b.st <= a.en
    GROUP BY a.user_id, b.user_id
    """,
    doc="Interval self-overlap join (5-minute error windows overlapping "
    "across users). The oracle states the naive quadratic theta join; the "
    "Spark plan buckets each interval into the <=2 fixed 5-minute bins it "
    "touches and equi-joins on bin + residual overlap filter — candidate "
    "pairs are bin-local, so cost scales with events-per-bin, not "
    "events^2. A pair that shares both bins is counted exactly once by a "
    "ROW-LOCAL owner-bucket predicate (the bin containing max(st_a, "
    "st_b), which both intervals provably touch) instead of a distinct — "
    "the pair set is quadratic in per-bin density by contract, and this "
    "keeps that set out of any shuffle: it flows straight from the join "
    "into the partial aggregate. Same blocking discipline as the LSH "
    "dedup family.",
    tags=("scale", "events", "join"),
)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    s = e.select(
        "user_id",
        F.unix_micros("ts").alias("st"),
        (F.unix_micros("ts") + F.lit(_BUCKET_US)).alias("en"),
    )
    bucketed = s.withColumn(
        "bucket",
        F.explode(F.sequence(F.floor(F.col("st") / _BUCKET_US), F.floor(F.col("en") / _BUCKET_US))),
    )
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    # owner-bucket rule: an overlapping pair is counted only in the bin
    # holding max(st_a, st_b) — inside both intervals (overlap means
    # max(st) <= min(en)), so exactly one of the <=2 shared bins owns the
    # pair; a row-local predicate replaces a distinct over the quadratic
    # pair set (the only shuffle left after the join is the final
    # partial-aggregated pair count).
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.user_id") < F.col("b.user_id"))
        & (F.col("a.st") <= F.col("b.en"))
        & (F.col("b.st") <= F.col("a.en"))
        & (
            F.floor(F.greatest(F.col("a.st"), F.col("b.st")) / _BUCKET_US)
            == F.col("a.bucket")
        ),
    ).select(
        F.col("a.user_id").alias("user_a"),
        F.col("b.user_id").alias("user_b"),
    )
    return pairs.groupBy("user_a", "user_b").agg(F.count(F.lit(1)).alias("n_overlaps"))


@query(
    "cdc_apply_changelog",
    oracle="""
    WITH log AS (
      SELECT c_custkey, c_name AS name, 1 AS seq, 'I' AS op FROM customer
      UNION ALL
      SELECT c_custkey, upper(c_name), 2, 'U' FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, NULL, 3, 'D' FROM customer WHERE c_custkey % 5 = 0
    ),
    latest AS (
      SELECT c_custkey, name, op FROM (
        SELECT c_custkey, name, op,
               row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT c_custkey, name FROM latest WHERE op <> 'D'
    """,
    doc="CDC changelog apply (operators/incremental.py:cdc_apply): "
    "replay an I/U/D log into the current snapshot — latest seq per key "
    "wins, 'D' tombstones drop the key. Spark picks the winner with one "
    "mergeable max_by(payload, seq) aggregate (map-side combine, no "
    "window sort, cost ∝ |changelog|); the oracle uses the naive "
    "row_number-desc form. The incremental-sync scale path next to "
    "incremental_agg_maintenance.",
    tags=("scale", "lifecycle"),
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.incremental import cdc_apply

    c = T(spark, sf_dir, "customer")
    ins = c.select(
        "c_custkey", F.col("c_name").alias("name"), F.lit(1).alias("seq"), F.lit("I").alias("op")
    )
    upd = c.filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", F.upper("c_name").alias("name"), F.lit(2).alias("seq"), F.lit("U").alias("op")
    )
    dele = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit(None).cast("string").alias("name"),
        F.lit(3).alias("seq"),
        F.lit("D").alias("op"),
    )
    return cdc_apply(ins.unionByName(upd).unionByName(dele), ["c_custkey"])


@query(
    "incremental_join_maintenance",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Incremental join maintenance (operators/incremental.py:"
    "delta_join): orders/lineitem are each split base + delta (10%/14% "
    "synthetic insert batches); Spark computes M = baseA JOIN baseB "
    "plus the three delta joins (dA JOIN B, A JOIN dB, dA JOIN dB — "
    "every delta join has one tiny side, so maintenance cost tracks "
    "the delta, not the base) and aggregates their union; the oracle "
    "joins the full relations directly. Agreement proves the IVM "
    "decomposition exact — integer-cents totals, order-free.",
    tags=("scale", "lifecycle"),
)
def q_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.incremental import delta_join

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice").withColumnRenamed("l_orderkey", "o_orderkey")
    base_a, delta_a = o.filter(o.o_orderkey % 10 != 0), o.filter(o.o_orderkey % 10 == 0)
    base_b, delta_b = li.filter(li.o_orderkey % 7 != 0), li.filter(li.o_orderkey % 7 == 0)
    m = base_a.join(base_b, ["o_orderkey"])
    dm = delta_join(base_a, delta_a, base_b, delta_b, ["o_orderkey"])
    return (
        m.unionByName(dm)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).cast("bigint").alias("price_cents"),
        )
    )


@query(
    "topk_per_group_salted",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey ASC
             ) AS rnk
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, price_cents, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    doc="Top-3 orders per priority via SALTED two-phase top-k — the hot-key "
    "defense for the top-k-per-group shape (5 groups x ~N/5 rows each is "
    "the worst case for a single per-group window sort). Phase 1 ranks "
    "inside (group, salt=hash(id)%16) buckets and keeps each bucket's "
    "top-3 — 16 parallel small sorts per hot group instead of one giant "
    "one. Phase 2 re-ranks the <= 48 survivors per group. The (price "
    "desc, orderkey asc) total order makes the per-bucket top-3 superset "
    "property exact, so the result is bit-identical to the oracle's "
    "single-window form. argmax_mergeable_top1 is the k=1 degenerate of "
    "this plan; this is the general-k rung of the same ladder.",
    tags=("scale", "window", "skew"),
)
def q_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    salted = o.withColumn("__salt", F.pmod(F.hash("o_orderkey"), F.lit(16)))
    w1 = Window.partitionBy("o_orderpriority", "__salt").orderBy(
        F.col("price_cents").desc(), F.col("o_orderkey").asc()
    )
    survivors = (
        salted.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= 3)
        .drop("__salt", "__r")
    )
    w2 = Window.partitionBy("o_orderpriority").orderBy(
        F.col("price_cents").desc(), F.col("o_orderkey").asc()
    )
    return (
        survivors.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "price_cents", "rnk")
    )


@query(
    "markov_next_event_accuracy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    tr AS (SELECT cur, nxt FROM seq WHERE nxt IS NOT NULL),
    cnt AS (SELECT cur, nxt, count(*) AS n FROM tr GROUP BY cur, nxt),
    model AS (
      SELECT cur, nxt AS pred FROM (
        SELECT cur, nxt,
               row_number() OVER (PARTITION BY cur ORDER BY n DESC, nxt ASC) AS rk
        FROM cnt) WHERE rk = 1
    )
    SELECT t.cur AS event_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(CASE WHEN t.nxt = m.pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(round(1000000.0 * CAST(sum(CASE WHEN t.nxt = m.pred THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS acc_micros
    FROM tr t JOIN model m ON t.cur = m.cur
    GROUP BY t.cur
    """,
    doc="Top-1 next-event prediction accuracy of the first-order Markov "
    "model beside event_transition_matrix: train = argmax next-type per "
    "current type (most transitions, smallest type on ties), eval = "
    "in-sample accuracy per current type. Spark computes the argmax as "
    "a mergeable min_by(nxt, (-n, nxt)) aggregate — map-side combine, "
    "no per-group sort — while the oracle uses the naive row_number "
    "window; agreement proves the sort-free plan, the same discipline "
    "as graph_label_propagation. The model is |event types|^2 rows "
    "however big the stream is; scoring is one equi-join of transitions "
    "against that broadcast-size model.",
    tags=("scale", "analytics", "eval"),
)
def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"), F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    cnt = seq.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    model = cnt.groupBy("cur").agg(
        F.min_by("nxt", F.struct((-F.col("n")).alias("nn"), F.col("nxt").alias("t"))).alias("pred")
    )
    correct = F.sum((F.col("nxt") == F.col("pred")).cast("long"))
    return (
        seq.join(F.broadcast(model), "cur")
        .groupBy(F.col("cur").alias("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_transitions"),
            correct.cast("bigint").alias("n_correct"),
            F.round(
                F.lit(1_000_000.0) * correct.cast("double") / F.count("*").cast("double")
            )
            .cast("bigint")
            .alias("acc_micros"),
        )
    )


_MARKOV_ITER = "\n".join(
    f"""    v{n} AS (
      SELECT p.j AS state,
             CAST(round(CAST(sum(v.v * p.p) AS DOUBLE) / 1000000.0) AS BIGINT) AS v
      FROM v{n - 1} v JOIN p ON v.state = p.i GROUP BY p.j
    ),"""
    for n in range(1, 11)
)


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type AS i, event_type AS j, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    states AS (SELECT DISTINCT i AS s FROM pairs
               UNION SELECT DISTINCT j AS s FROM pairs),
    outt AS (SELECT i, CAST(sum(c) AS BIGINT) AS ci FROM pairs GROUP BY i),
    p AS (
      SELECT i, j, CAST(round(1000000.0 * c / ci) AS BIGINT) AS p
      FROM pairs JOIN outt USING (i)
      UNION ALL
      SELECT s, s, CAST(1000000 AS BIGINT)
      FROM states WHERE s NOT IN (SELECT i FROM outt)
    ),
    kk AS (SELECT count(*) AS k FROM states),
    v0 AS (SELECT s AS state, CAST(round(1000000.0 / k) AS BIGINT) AS v
           FROM states, kk),
{_MARKOV_ITER}
    final AS (SELECT * FROM v10)
    SELECT s AS state, CAST(coalesce(v, 0) AS BIGINT) AS pi_micros
    FROM states LEFT JOIN final ON s = state
    """,
    doc="Stationary distribution of the per-user event-type Markov chain "
    "(operators/graph.py:markov_stationary) — the long-run occupancy "
    "that event_transition_matrix implies and capacity/engagement "
    "models consume; closes the Markov family next to one-step "
    "prediction accuracy. Ten power iterations from uniform, every "
    "step integer-deterministic: P quantizes once to micros from exact "
    "counts, each update's inner sum v.p is an exact BIGINT, and the "
    "oracle unrolls the identical ten CTEs so both engines reproduce "
    "every step bit-for-bit. Dangling states get the standard "
    "self-loop. After the one data-sized count collapse, every frame "
    "is k or k^2 rows on the event-type domain, iterated via broadcast "
    "joins.",
    tags=("scale", "events", "graph"),
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import markov_stationary

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return markov_stationary(pairs)


@query(
    "events_markov_entropy_rate",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type AS i, event_type AS j, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ),
    states AS (SELECT DISTINCT i AS s FROM pairs
               UNION SELECT DISTINCT j AS s FROM pairs),
    outt AS (SELECT i, CAST(sum(c) AS BIGINT) AS ci FROM pairs GROUP BY i),
    p AS (
      SELECT i, j, CAST(round(1000000.0 * c / ci) AS BIGINT) AS p
      FROM pairs JOIN outt USING (i)
      UNION ALL
      SELECT s, s, CAST(1000000 AS BIGINT)
      FROM states WHERE s NOT IN (SELECT i FROM outt)
    ),
    kk AS (SELECT count(*) AS k FROM states),
    v0 AS (SELECT s AS state, CAST(round(1000000.0 / k) AS BIGINT) AS v
           FROM states, kk),
{_MARKOV_ITER}
    pi AS (SELECT s AS state, CAST(coalesce(v, 0) AS BIGINT) AS pi_micros
           FROM states LEFT JOIN v10 ON s = v10.state),
    cells AS (
      SELECT i, j, p,
             CAST(round(1000.0 * ln(p / 1000000.0)) AS BIGINT) AS lq
      FROM p
    ),
    per_state AS (SELECT i, CAST(sum(p * lq) AS BIGINT) AS s_pl FROM cells GROUP BY i),
    joined AS (
      SELECT pi.state, pi.pi_micros,
             CAST(round(-CAST(s_pl AS DOUBLE) / 1000.0) AS BIGINT) AS h_cond_micronats,
             pi.pi_micros * s_pl AS wterm
      FROM pi JOIN per_state ON pi.state = per_state.i
    ),
    total AS (
      SELECT CAST(round(-CAST(coalesce(sum(wterm), 0) AS DOUBLE) / 1000000000.0) AS BIGINT)
             AS entropy_rate_micronats
      FROM joined
    )
    SELECT state, pi_micros, h_cond_micronats,
           CAST(round(-CAST(wterm AS DOUBLE) / 1000000000.0) AS BIGINT) AS contrib_micronats,
           entropy_rate_micronats
    FROM joined, total
    """,
    doc="Entropy rate of the per-user event-type Markov chain "
    "(operators/graph.py:markov_entropy_rate) — the capstone over the "
    "Markov family: H = sum_i pi_i H_i, H_i = -sum_j p_ij ln p_ij, the "
    "per-visit information content of the stream (near 0 = ritual "
    "sessions, near ln k = uniform churn). pi is the SAME integer "
    "power-iterate as events_markov_stationary (shared "
    "_transition_micros body); ln p quantizes once per observed cell "
    "to millinats (PSI convention), after which every pi*p*lnq product "
    "is an exact BIGINT and sums are order-immune; dangling self-loops "
    "contribute ln(1) = 0 exactly. Everything after the one data-scale "
    "count collapse runs on k / k^2 domain-bounded broadcast frames.",
    tags=("scale", "events", "graph"),
)
def q_events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.graph import markov_entropy_rate

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return markov_entropy_rate(pairs)


@query(
    "events_fano_burstiness",
    oracle="""
    WITH pb AS (
      SELECT event_type AS g, date_trunc('minute', ts) AS b,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    pg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(sum(c * c) AS BIGINT) AS ss
      FROM pb GROUP BY g
    )
    SELECT g AS group_key, n_buckets, n_events,
           CAST(round(1000000.0 * (CAST(n_buckets * ss - n_events * n_events AS DOUBLE)
                                   / CAST(n_buckets * n_events AS DOUBLE))) AS BIGINT) AS fano_micros,
           coalesce(round(1000000.0 * (CAST(n_buckets * ss - n_events * n_events AS DOUBLE)
                                       / CAST(n_buckets * n_events AS DOUBLE))) > 1000000,
                    false) AS overdispersed
    FROM pg
    """,
    doc="Fano-factor burstiness per event type over observed minutes "
    "(operators/profiling.py:fano_burstiness_by): Var/Mean of "
    "per-minute arrival counts — 1 = Poisson, >> 1 = bursts (retry "
    "storms, batch jobs) that capacity planning and rate limits must "
    "see, < 1 = paced traffic. Gap minutes intentionally not "
    "zero-filled (timeseries_gap_fill composes upstream when "
    "calendar-complete dispersion is wanted). Cross-multiplied integer "
    "moments, one double division + micro-round; two map-side-combined "
    "groupBys, no windows.",
    tags=("scale", "events", "stats"),
)
def q_events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cartography_spark.operators.profiling import fano_burstiness_by

    e = T(spark, sf_dir, "events")
    return fano_burstiness_by(e, F.col("event_type"), F.date_trunc("minute", F.col("ts")))
