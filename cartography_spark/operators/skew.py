"""Skew mitigation: salting helpers for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime for sort-merge joins, but an aggregation where one key dominates (a
single reducer receives the hot key's entire partition) still needs explicit
salting at 100 TB: two-phase salted aggregation spreads the partial work
over ``salt_buckets`` reducers, then combines the partials — valid for any
algebraic aggregate (sum/count/min/max). It is a plan-level rewrite: no
RDDs, no custom partitioners, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 32


def with_salt(df: DataFrame, salt_buckets: int) -> DataFrame:
    """Attach a uniform random-ish salt derived from a row hash — stable
    per-row (crc32 of all columns), not an RNG, so retries/replays are
    deterministic."""
    h = F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns]))
    return df.withColumn("__salt", (h % salt_buckets).cast("int"))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) computes partials, then
    groupBy(keys) combines. ``aggs`` maps output name -> phase-1 aggregate
    expression; phase 2 re-combines with the matching combiner (count->sum,
    sum->sum, min->min, max->max) inferred from the expression name.
    """
    salted = with_salt(df, salt_buckets)
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[expr.alias(f"__p_{name}") for name, expr in aggs.items()]
    )

    def combiner(name: str, expr: Column) -> Column:
        s = expr._jc.toString().lower()
        col = F.col(f"__p_{name}")
        if s.startswith("count"):
            return F.sum(col).alias(name)
        if s.startswith("min"):
            return F.min(col).alias(name)
        if s.startswith("max"):
            return F.max(col).alias(name)
        return F.sum(col).alias(name)

    return phase1.groupBy(*keys).agg(*[combiner(n, e) for n, e in aggs.items()])


def skew_audit(df: DataFrame, key: Column) -> DataFrame:
    """Pre-shuffle skew audit for a prospective join/groupBy key — the
    measurement you run BEFORE committing a 100 TB plan to a shuffle on
    ``key``, to decide between a plain exchange, AQE skew splitting, and
    explicit salting (:func:`with_salt`). Hash-partitions the key space
    into ``N_BUCKETS`` buckets with the repo-portable md5 hash
    (dedup.portable_hash32 — NOT Spark's Murmur3, so the oracle and any
    other engine compute identical buckets) and reports ONE summary row:

    - n_rows / n_keys / n_buckets_used — volume, key cardinality, and
      occupancy at the audited reducer count;
    - max_bucket_rows / max_key_rows — the heaviest reducer and the
      heaviest single key (a hot KEY needs salting; a hot BUCKET with
      cold keys only needs more partitions);
    - bucket_skew_millis = 1000 * max_bucket_rows * N_BUCKETS / n_rows
      (1000 = perfectly uniform) and key_skew_millis = 1000 *
      max_key_rows * n_keys / n_rows;
    - salt_recommended — bucket skew > 2x uniform AND driven by a hot
      key (key rows > half its bucket), the case AQE's size-based
      splitting cannot fix for hash aggregations.

    Scale shape: ONE map-side-combinable groupBy collapses the data to
    the distinct-key frame; every later stage (bucket rollup, the two
    1-row reductions, the final broadcast combine) runs on |keys| rows
    or less. The ratio divisions are integer-product-then-one-double-
    division, identical on both engines; try_divide keeps an empty
    input NULL-safe under ANSI.
    """
    from cartography_spark.operators.dedup import portable_hash32

    keys = df.groupBy(key.alias("k")).agg(F.count(F.lit(1)).cast("long").alias("c"))
    keyed = keys.select("k", "c", (portable_hash32(F.col("k")) % N_BUCKETS).alias("b"))
    buckets = keyed.groupBy("b").agg(F.sum("c").alias("rows"), F.count(F.lit(1)).alias("nk"))
    kstats = keyed.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_key_rows"),
    )
    bstats = buckets.agg(
        F.count(F.lit(1)).alias("n_buckets_used"),
        F.max("rows").alias("max_bucket_rows"),
        F.expr("max_by(struct(rows, nk), rows)").alias("hot"),
    )
    out = kstats.crossJoin(F.broadcast(bstats))
    bskew = F.round(
        F.lit(1000.0)
        * F.try_divide(
            (F.col("max_bucket_rows") * F.lit(N_BUCKETS)).cast("double"),
            F.col("n_rows").cast("double"),
        )
    ).cast("long")
    kskew = F.round(
        F.lit(1000.0)
        * F.try_divide(
            (F.col("max_key_rows") * F.col("n_keys")).cast("double"),
            F.col("n_rows").cast("double"),
        )
    ).cast("long")
    return out.select(
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_buckets_used").cast("long").alias("n_buckets_used"),
        F.col("max_bucket_rows").cast("long").alias("max_bucket_rows"),
        F.col("max_key_rows").cast("long").alias("max_key_rows"),
        bskew.alias("bucket_skew_millis"),
        kskew.alias("key_skew_millis"),
        F.coalesce(
            (bskew > F.lit(2000))
            & (F.lit(2) * F.col("max_key_rows") > F.col("max_bucket_rows")),
            F.lit(False),
        ).alias("salt_recommended"),
    )
