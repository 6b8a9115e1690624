"""Mergeable sketch operators with ENGINE-PORTABLE determinism: every
hash is md5-derived (same convention as operators/dedup.py), so the
DuckDB oracle reproduces sketch contents bit-exactly — the sketches are
verified end-to-end, not within-tolerance.

- KMV (k-minimum-values) distinct-count: keep the k smallest 32-bit
  hashes of the value domain; estimate N ~ (k-1) * 2^32 / h_(k).
  Distributed cost: one hash projection + a global TakeOrdered(k) —
  no full shuffle; merging sketches = union + re-take-k (associative).
- Count-Min frequency sketch: depth x width counter matrix,
  bucket(r, x) = md5(r:x) % width; point estimate = min over rows.
  The sketch build is one groupBy of (row, bucket) — map-side
  combinable, k*width cells regardless of input size; merging = cell-
  wise sum. Estimates are biased UP (collisions only add).
- HyperLogLog distinct-count (p=8, 256 registers): bucket = first two
  md5 hex digits; rho = 1 + leading-zero bits of the remaining 120
  bits (computed from hex nibbles, capped at 32 so register terms are
  exact BIGINTs). One pass, map-side-combinable max per register —
  no distinct shuffle at all; merging sketches = register-wise max.

Both are the associative/mergeable building blocks a 100 TB profiler
needs: per-partition sketches merge without rescanning data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cartography_spark.operators.dedup import portable_hash32

KMV_K = 64


def kmv_distinct_estimate(df: DataFrame, col: str) -> DataFrame:
    """KMV cardinality estimate of ``col``: one row with the exact count
    (for the oracle comparison), the sketch estimate, and KMV_K."""
    hashes = df.select(portable_hash32(F.col(col)).alias("h")).distinct()
    kth = hashes.orderBy("h").limit(KMV_K).agg(F.max("h").alias("kth"), F.count("*").alias("got"))
    return kth.select(
        F.lit(KMV_K).alias("k"),
        # fewer than k distinct values -> the sketch is exact (got)
        F.when(
            F.col("got") < KMV_K, F.col("got").cast("double")
        ).otherwise(F.round((F.lit(float(KMV_K - 1)) * F.lit(float(2**32))) / F.col("kth"), 2)).alias(
            "estimate"
        ),
    )


def histogram_build(df: DataFrame, col: str, lo: float, hi: float, bins: int) -> DataFrame:
    """Fixed-boundary histogram of ``col``: ``(bin, n)`` rows, at most
    ``bins`` cells. One map-side-combinable groupBy regardless of input
    size; out-of-range values clamp to the edge bins. Histograms over
    disjoint partitions merge by cell-wise sum — the mergeable-sketch
    contract (same as Count-Min)."""
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(F.floor((F.col(col) - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(bins - 1),
    ).cast("int")
    return df.select(b.alias("bin")).groupBy("bin").agg(F.count("*").cast("bigint").alias("n"))


def histogram_quantile_estimates(
    hist: DataFrame, lo: float, hi: float, bins: int, qs: tuple[float, ...]
) -> DataFrame:
    """Quantile estimates from a histogram: locate the bin holding each
    target rank, linearly interpolate inside it. Everything after the
    histogram build runs on <= ``bins`` rows (the single-partition
    cumulative window is deliberate — the input is sketch-sized). Error
    is bounded by one bin width. The interpolation arithmetic is written
    in the exact operation order the DuckDB oracle uses, so estimates
    are bit-identical across engines."""
    from pyspark.sql import Window

    width = (hi - lo) / bins
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("bin", "n", F.sum("n").over(w).alias("cum"))
    tot = hist.agg(F.sum("n").alias("total"))
    qdf = hist.sparkSession.createDataFrame([(q,) for q in qs], "q double")
    j = cum.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(qdf))
    target = F.col("q") * F.col("total")
    hit = j.filter((F.col("cum") >= target) & ((F.col("cum") - F.col("n")) < target))
    est = F.lit(lo) + (
        F.col("bin") + (target - (F.col("cum") - F.col("n"))) / F.col("n")
    ) * F.lit(width)
    return hit.select("q", F.round(est, 6).alias("estimate"))


_HLL_M = 256  # p=8: bucket is the first two md5 hex digits


def hll_bucket_rho(col: str) -> tuple[F.Column, F.Column]:
    """The (bucket, rho) projection pair for one value of ``col`` —
    the per-row part of the HLL sketch, shared by the batch builder and
    the streaming register maintenance (streaming/events.py)."""
    h = F.md5(F.col(col).cast("string"))
    rest = F.substring(h, 3, 30)
    stripped = F.regexp_replace(rest, "^0+", "")
    nz = F.lit(30) - F.length(stripped)
    v = F.conv(F.substring(stripped, 1, 1), 16, 10).cast("int")
    extra = F.when(v >= 8, 0).when(v >= 4, 1).when(v >= 2, 2).otherwise(3)
    rho = F.when(F.length(stripped) == 0, F.lit(32)).otherwise(
        F.least(nz * 4 + extra + 1, F.lit(32))
    )
    return F.conv(F.substring(h, 1, 2), 16, 10).cast("int"), rho


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """Build the 256 HLL registers for ``col``: ``(b, mx)`` rows where
    ``mx`` is the max rank (1 + leading-zero bits of the post-bucket
    hash, capped at 32). One narrow projection + a 256-group map-side-
    combinable max — duplicates are free (max is idempotent) so there
    is NO distinct shuffle; registers from disjoint partitions merge
    with ``hll_merge``."""
    b, rho = hll_bucket_rho(col)
    return (
        df.select(b.alias("b"), rho.alias("rho"))
        .groupBy("b")
        .agg(F.max("rho").alias("mx"))
    )


def hll_merge(*register_sets: DataFrame) -> DataFrame:
    """Merge HLL register sets: union + register-wise max (associative,
    commutative, idempotent — the mergeable-sketch contract)."""
    out = register_sets[0]
    for other in register_sets[1:]:
        out = out.unionByName(other)
    return out.groupBy("b").agg(F.max("mx").alias("mx"))


def hll_estimate_from_registers(regs: DataFrame) -> DataFrame:
    """Collapse registers to the cardinality estimate: harmonic-mean
    raw estimate with linear-counting fallback for the small range.
    Register terms 2^(32-mx) are exact integers, so the harmonic sum is
    engine-portable (no float-summation order sensitivity)."""
    m = _HLL_M
    agg = regs.agg(
        F.sum(F.expr("shiftleft(1L, 32 - mx)")).alias("s"),
        F.count("*").alias("used"),
    )
    # literal chain mirrors the oracle SQL text exactly (same IEEE op order)
    coef = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 4294967296.0
    total = F.col("s") + (F.lit(m) - F.col("used")) * F.lit(4294967296)
    raw = F.lit(coef) / total
    linear = F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("used"))), 2)
    return agg.select(
        F.lit(m).alias("m"),
        F.col("used").cast("bigint").alias("used_buckets"),
        F.when((raw <= F.lit(2.5 * m)) & (F.col("used") < m), linear)
        .otherwise(F.round(raw, 2))
        .alias("estimate"),
    )


def hll_distinct_estimate(df: DataFrame, col: str) -> DataFrame:
    """HyperLogLog cardinality estimate of ``col``: one row
    ``(m, used_buckets, estimate)``."""
    return hll_estimate_from_registers(hll_registers(df, col))


def countmin_build(
    df: DataFrame, col: str, width: int = 16, depth: int = 4
) -> DataFrame:
    """Build the depth x width Count-Min counter table: one map-side-
    combinable groupBy; at most depth*width output cells."""
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
    cells = df.select(F.col(col).alias("__x"), rows).select(
        "r",
        (portable_hash32(F.concat(F.col("r").cast("string"), F.lit(":"), F.col("__x"))) % width).alias("b"),
    )
    return cells.groupBy("r", "b").agg(F.count("*").cast("bigint").alias("n"))


def countmin_estimate(
    sketch: DataFrame, candidates: DataFrame, col: str, width: int = 16, depth: int = 4
) -> DataFrame:
    """Point-estimate each candidate's frequency: min over the depth rows
    of its bucket counters. Candidates x depth is broadcast-joined to the
    tiny sketch table."""
    probes = candidates.select(F.col(col)).crossJoin(
        F.broadcast(
            candidates.sparkSession.range(depth).select(F.col("id").cast("int").alias("r"))
        )
    )
    probes = probes.withColumn(
        "b", portable_hash32(F.concat(F.col("r").cast("string"), F.lit(":"), F.col(col))) % width
    )
    joined = probes.join(F.broadcast(sketch), ["r", "b"], "left").withColumn(
        "n", F.coalesce(F.col("n"), F.lit(0))
    )
    return joined.groupBy(col).agg(F.min("n").cast("bigint").alias("est_n"))


def kmv_intersection_estimate(a: DataFrame, b: DataFrame, col: str) -> DataFrame:
    """KMV set-operation estimates (the theta-sketch idiom): Jaccard and
    intersection cardinality of two keyed sets from their k-minimum-value
    sketches alone.

    The union's k smallest hashes are a uniform sample of A∪B, so the
    fraction m/k of them present in BOTH per-set sketches estimates
    J(A,B); |A∩B| ≈ J * |A∪B|-estimate. Everything derives from the same
    md5-32 hash space as kmv_distinct_estimate, so sketches of disjoint
    partitions merge by union+re-take-k and any engine reproduces m and
    the estimates bit-exactly. Exact counts ride along to expose the
    sketch error.
    """
    ha = a.select(portable_hash32(F.col(col)).alias("h")).distinct()
    hb = b.select(portable_hash32(F.col(col)).alias("h")).distinct()
    ka = ha.orderBy("h").limit(KMV_K)
    kb = hb.orderBy("h").limit(KMV_K)
    union_k = ka.unionByName(kb).distinct().orderBy("h").limit(KMV_K)
    kth = union_k.agg(F.max("h").alias("kth"))
    m = (
        union_k.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count("*").cast("long").alias("m"))
    )
    exact = a.select(col).intersect(b.select(col)).agg(
        F.count("*").cast("long").alias("n_inter_exact")
    )
    return (
        m.crossJoin(F.broadcast(kth))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(KMV_K).alias("k"),
            "m",
            F.round(F.col("m") / F.lit(float(KMV_K)), 6).alias("jaccard_est"),
            F.round(
                (F.col("m") / F.lit(float(KMV_K)))
                * (F.lit(float(KMV_K - 1)) * F.lit(float(2**32)) / F.col("kth")),
                2,
            ).alias("inter_est"),
            "n_inter_exact",
        )
    )


def kmv_difference_estimate(a: DataFrame, b: DataFrame, col: str) -> DataFrame:
    """KMV A-not-B estimate (completing the theta-sketch set algebra next
    to :func:`kmv_intersection_estimate`): of the union's k-min sample,
    the fraction found in A's sketch but NOT B's estimates
    |A \\ B| / |A∪B|. Same md5 hash space, same merge rules, exact
    integer m — bit-reproducible anywhere."""
    ha = a.select(portable_hash32(F.col(col)).alias("h")).distinct()
    hb = b.select(portable_hash32(F.col(col)).alias("h")).distinct()
    ka = ha.orderBy("h").limit(KMV_K)
    kb = hb.orderBy("h").limit(KMV_K)
    union_k = ka.unionByName(kb).distinct().orderBy("h").limit(KMV_K)
    kth = union_k.agg(F.max("h").alias("kth"))
    m = (
        union_k.join(ka, "h", "left_semi")
        .join(kb, "h", "left_anti")
        .agg(F.count("*").cast("long").alias("m"))
    )
    # set semantics (EXCEPT DISTINCT): a multiset exceptAll would count
    # per-occurrence leftovers, not distinct members of A \ B
    exact = a.select(col).distinct().subtract(b.select(col)).agg(
        F.count("*").cast("long").alias("n_diff_exact")
    )
    return (
        m.crossJoin(F.broadcast(kth))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(KMV_K).alias("k"),
            "m",
            F.round(
                (F.col("m") / F.lit(float(KMV_K)))
                * (F.lit(float(KMV_K - 1)) * F.lit(float(2**32)) / F.col("kth")),
                2,
            ).alias("diff_est"),
            "n_diff_exact",
        )
    )


def hll_registers_by(df: DataFrame, col: str, group_cols: list[str]) -> DataFrame:
    """Per-group HLL registers: ``(*group_cols, b, mx)``. Each group's
    register set is a complete mergeable sketch — re-aggregating along
    any rollup dimension is a register-wise max (``hll_merge``), which
    stays EXACT under overlap (the same value in two groups maxes to the
    same register state), unlike per-group exact distinct counts, which
    cannot be summed upward. This is the property that makes distinct
    counts re-aggregable in a 100 TB cube."""
    b, rho = hll_bucket_rho(col)
    return (
        df.select(*group_cols, b.alias("b"), rho.alias("rho"))
        .groupBy(*group_cols, "b")
        .agg(F.max("rho").alias("mx"))
    )


# ---------------------------------------------------------------------------
# Bottom-k quantile sketch (r08): the mergeable quantile summary that
# complements exact order statistics where a 100 TB budget can't afford
# distinct-value frames (VERDICT r7 item 6).
# ---------------------------------------------------------------------------


def bottomk_sample(df: DataFrame, id_col, value_col, k: int, salt: str) -> DataFrame:
    """Deterministic uniform k-sample: the k rows with the SMALLEST
    md5(id:salt) — the quantile-sketch analogue of KMV. Because the hash
    order is a fixed uniform permutation of the rows, the bottom-k set is a
    simple random sample without replacement, and it is EXACTLY mergeable:
    bottomk(A u B) = bottomk(bottomk(A) u bottomk(B)) — per-partition (or
    per-source, per-day) sketches union and re-take-k with no rescan, the
    same associativity contract as KMV/HLL/Count-Min in this module.

    Distributed cost: one hash projection + a global TakeOrdered(k) — no
    full shuffle, no sort of the data (Spark's orderBy().limit(k) compiles
    to per-partition top-k + a k-row merge on the driver side of the
    exchange). Sample quantiles from k rows carry the standard
    O(1/sqrt(k)) error; k=256 gives ~6% rank error at 95% confidence —
    the trade a 100 TB scan makes when the exact distinct-value cumsum
    (conformal_interval_calibrate's pattern) is too wide.

    md5-portable: DuckDB reproduces the sample bit-exactly, so the sketch
    is oracle-verified end-to-end (module docstring convention).
    """
    return (
        df.select(sample_hash(id_col, salt).alias("h"), value_col.alias("v"))
        .orderBy("h")
        .limit(k)
    )


def sample_hash(id_col, salt: str) -> F.Column:
    """The bottom-k sample's hash key, md5(id:salt) — exposed so callers
    building PER-GROUP sketches (window row_number <= k within a group)
    use the identical convention as :func:`bottomk_sample`; two inline
    copies of this expression would have to change in lockstep for the
    merge-equality theorem to keep holding."""
    return F.md5(F.concat(id_col.cast("string"), F.lit(":" + salt)))


def quantiles_from_sample(sample: DataFrame, q_pcts: tuple[int, ...]) -> DataFrame:
    """Discrete sample quantiles from a bottom-k sample: for each q, the
    value at rank ceil(q * n_sample / 100) in value order (ties broken by
    hash for a total order; the VALUE at a rank is tie-order-invariant).
    The sample is k rows, so the window sorts are bounded frames; n_s
    comes from a count window over the SAME frame (a separate .agg would
    re-execute the sample's TakeOrdered scan of the base table)."""
    from pyspark.sql import Window

    whole = Window.partitionBy()
    ranked = sample.select(
        "v",
        F.row_number().over(Window.orderBy("v", "h")).alias("rn"),
        F.count("*").over(whole).alias("n_s"),
    )
    qf = sample.sparkSession.createDataFrame(
        [(q,) for q in q_pcts], "q_pct int"
    )
    return (
        ranked.join(
            F.broadcast(qf),
            ranked.rn == F.ceil(F.col("q_pct") * F.col("n_s") / F.lit(100.0)),
        )
        .select(F.col("q_pct").cast("long").alias("q_pct"), F.col("v").alias("est"))
    )


def weighted_sample_keys(
    df: DataFrame, id_col, weight_col, salt: str, extra_cols: tuple[str, ...]
) -> DataFrame:
    """Efraimidis-Spirakis keys for a weighted sample without replacement as
    a mergeable bottom-k sketch: each row draws u = (h32(id:salt)+1)/2^32
    in (0,1] and keys itself with -ln(u)/w; the k SMALLEST keys,
    ``.orderBy("key_micros", "h").limit(k)``, are a weight-proportional
    sample (P(row among first picks) ~ w_i / sum w). Keys are per-row
    arithmetic, the sample is one TakeOrdered(k), and the sketch merges
    exactly like bottomk_sample — union + re-take-k, because a row's key
    never changes (same associativity as KMV). Per-group sketches take
    their k smallest the same way and re-merge to the direct sample; the
    merge-equality theorem only holds if every path computes these keys.

    Portability: u is a dyadic rational (exact in both engines); the key
    is quantized ONCE to micros with the identical left-associative
    expression round(1e6 * -ln(u) / w), so ordering is reproducible
    cross-engine (ln is correctly-rounded IEEE on both; the PSI/KN
    operators already rely on the same convention); ties within a micro
    break on the hash, a total order. Rows with w <= 0 are excluded by
    contract (a zero-weight row can never be sampled).

    Returns (key_micros, h, w, *extra_cols): enough to merge, to audit the
    weighting, and to group or join back to the source rows.
    """
    h_hex = F.md5(F.concat(id_col.cast("string"), F.lit(":" + salt)))
    h32 = F.conv(F.substring(h_hex, 1, 8), 16, 10).cast("long")
    u = (h32 + 1).cast("double") / F.lit(4294967296.0)
    key = F.round(F.lit(1_000_000.0) * -F.log(u) / weight_col.cast("double")).cast(
        "bigint"
    )
    return df.filter(weight_col > 0).select(
        key.alias("key_micros"), h_hex.alias("h"), weight_col.cast("long").alias("w"), *extra_cols
    )
