"""Sketch invariants: Count-Min never underestimates; KMV is exact below
k and within theoretical error above it; both sketches merge associatively."""

from __future__ import annotations

from pyspark.sql import functions as F

from cartography_spark.operators.sketches import (
    countmin_build,
    countmin_estimate,
    histogram_build,
    histogram_quantile_estimates,
    hll_distinct_estimate,
    hll_estimate_from_registers,
    hll_merge,
    hll_registers,
    kmv_distinct_estimate,
)


def test_countmin_never_underestimates(spark):
    df = spark.createDataFrame([(f"v{i % 7}",) for i in range(200)], "x string")
    true_c = df.groupBy("x").agg(F.count("*").alias("true_n"))
    sketch = countmin_build(df, "x", width=4, depth=3)  # tiny width -> heavy collisions
    est = countmin_estimate(sketch, true_c.select("x"), "x", width=4, depth=3)
    rows = true_c.join(est, "x").collect()
    assert len(rows) == 7
    assert all(r.est_n >= r.true_n for r in rows)
    # total mass in every sketch row equals the input size
    per_row = sketch.groupBy("r").agg(F.sum("n").alias("m")).collect()
    assert all(r.m == 200 for r in per_row)


def test_kmv_exact_below_k_and_bounded_above(spark):
    small = spark.createDataFrame([(i % 10,) for i in range(100)], "x long")
    est = kmv_distinct_estimate(small, "x").collect()[0]
    assert est.estimate == 10.0  # fewer distincts than k -> exact
    big = spark.createDataFrame([(i,) for i in range(5000)], "x long")
    e = kmv_distinct_estimate(big, "x").collect()[0].estimate
    assert abs(e - 5000) / 5000 < 0.5  # ~1/sqrt(k-1) expected error


def test_hll_accuracy_and_duplicate_insensitivity(spark):
    big = spark.createDataFrame([(i,) for i in range(5000)], "x long")
    est = hll_distinct_estimate(big, "x").collect()[0]
    assert abs(est.estimate - 5000) / 5000 < 0.2  # ~1.04/sqrt(256) = 6.5% typical
    # duplicating every row must not move the estimate at all (max is idempotent)
    doubled = hll_distinct_estimate(big.unionByName(big), "x").collect()[0]
    assert doubled.estimate == est.estimate


def test_hll_linear_counting_small_range(spark):
    small = spark.createDataFrame([(i,) for i in range(50)], "x long")
    est = hll_distinct_estimate(small, "x").collect()[0]
    assert est.used_buckets <= 50
    assert abs(est.estimate - 50) / 50 < 0.15  # linear-counting regime


def test_hll_merge_equals_direct(spark):
    a = spark.createDataFrame([(i,) for i in range(0, 3000)], "x long")
    b = spark.createDataFrame([(i,) for i in range(2000, 6000)], "x long")  # overlap
    merged = hll_estimate_from_registers(
        hll_merge(hll_registers(a, "x"), hll_registers(b, "x"))
    ).collect()[0]
    direct = hll_distinct_estimate(a.unionByName(b), "x").collect()[0]
    assert merged == direct


def test_histogram_quantiles_within_one_bin(spark):
    df = spark.createDataFrame([(float(i),) for i in range(10000)], "x double")
    hist = histogram_build(df, "x", lo=0.0, hi=10000.0, bins=100)  # bin width 100
    est = {
        r.q: r.estimate
        for r in histogram_quantile_estimates(hist, 0.0, 10000.0, 100, (0.5, 0.9)).collect()
    }
    assert abs(est[0.5] - 5000) <= 100 and abs(est[0.9] - 9000) <= 100


def test_histogram_clamps_out_of_range_and_merges(spark):
    a = spark.createDataFrame([(-5.0,), (50.0,)], "x double")
    b = spark.createDataFrame([(99999.0,), (60.0,)], "x double")
    ha, hb = histogram_build(a, "x", 0.0, 100.0, 10), histogram_build(b, "x", 0.0, 100.0, 10)
    merged = ha.unionByName(hb).groupBy("bin").agg(F.sum("n").cast("bigint").alias("n"))
    direct = histogram_build(a.unionByName(b), "x", 0.0, 100.0, 10)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    bins = dict(map(tuple, direct.collect()))
    assert bins[0] == 1 and bins[9] == 1  # clamped low / high


def test_countmin_merge_associative(spark):
    a = spark.createDataFrame([(f"v{i % 5}",) for i in range(60)], "x string")
    b = spark.createDataFrame([(f"v{i % 9}",) for i in range(40)], "x string")
    merged = (
        countmin_build(a, "x").unionByName(countmin_build(b, "x"))
        .groupBy("r", "b")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    direct = countmin_build(a.unionByName(b), "x")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_bottomk_sample_exactly_mergeable(spark):
    """bottomk(A u B) == bottomk(bottomk(A) u bottomk(B)) — the theorem the
    r08 quantile sketch rides on, pinned on a concrete frame."""
    from cartography_spark.operators.sketches import bottomk_sample

    a = spark.createDataFrame([(i, i * 10) for i in range(0, 40)], "id long, v long")
    b = spark.createDataFrame([(i, i * 10) for i in range(40, 90)], "id long, v long")
    k, salt = 8, "t"
    direct = bottomk_sample(a.unionByName(b), F.col("id"), F.col("v"), k, salt)
    # merge = union of sketches + re-take-k on the stored hash (no re-hash)
    merged = (
        bottomk_sample(a, F.col("id"), F.col("v"), k, salt)
        .unionByName(bottomk_sample(b, F.col("id"), F.col("v"), k, salt))
        .orderBy("h")
        .limit(k)
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    assert direct.count() == k


def test_quantiles_from_sample_hand_computed(spark):
    from cartography_spark.operators.sketches import quantiles_from_sample

    # 4-row sample, values 10..40: rank(50%) = ceil(0.5*4) = 2 -> 20;
    # rank(99%) = ceil(3.96) = 4 -> 40; rank(25%) = 1 -> 10
    sample = spark.createDataFrame(
        [("a", 30), ("b", 10), ("c", 40), ("d", 20)], "h string, v long"
    )
    est = {r.q_pct: r.est for r in quantiles_from_sample(sample, (25, 50, 99)).collect()}
    assert est == {25: 10, 50: 20, 99: 40}
