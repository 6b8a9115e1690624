"""Data profiling + multi-dimensional layout — catalog-engine utilities.

The reference IS an asset inventory: its value is knowing what exists and
what changed (SURVEY §1; cartography/sync.py stages). ``profile_table``
is that idea applied to tabular assets — per-column null/distinct/range
stats in ONE scan. ``zorder_key`` is the layout side: interleave the bits
of two clustering dimensions so a sort by the key co-locates rows close
in BOTH dimensions, making parquet min/max file skipping effective for
either predicate (the Delta/Iceberg OPTIMIZE ZORDER technique, built
from plain integer arithmetic so any engine reproduces it exactly).

Scale notes: profile_table computes every aggregate in one pass; the
multiple count-distincts compile to a single Expand (row multiplier =
#columns) — at petabyte scale swap in approx_count_distinct per column
to drop the Expand. zorder_key is pure per-row arithmetic (no shuffle);
the sort it feeds is Spark's range-partitioned global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cartography_spark.operators.dedup import portable_hash32

CONFORMAL_ALPHA = 0.1
M_PROB = 0.95
HALF_WINDOW = 12

ZBITS = 16


def zorder_key(x: str | Column, y: str | Column) -> Column:
    """Morton (z-order) interleave of the low 16 bits of two non-negative
    integer columns: bit i of x lands at position 2i, bit i of y at
    2i+1. Plain floor-div/mod arithmetic — bit-identical in any engine."""
    x, y = F.col(x) if isinstance(x, str) else x, F.col(y) if isinstance(y, str) else y
    z = F.lit(0).cast("long")
    for i in range(ZBITS):
        z = (
            z
            + F.shiftright(x, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
            + F.shiftright(y, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
    return z


def zorder_sql(x: str, y: str) -> str:
    """The identical Morton key as ANSI SQL (for oracles / other engines)."""
    terms = [
        f"(({x} // {1 << i}) % 2) * {1 << (2 * i)} + (({y} // {1 << i}) % 2) * {1 << (2 * i + 1)}"
        for i in range(ZBITS)
    ]
    return " + ".join(terms)


def profile_table(
    df: DataFrame, numeric_cols: list[str], string_cols: list[str]
) -> DataFrame:
    """One-scan column profile: (col_name, n_nulls, n_distinct, min_num,
    max_num, min_str, max_str) per profiled column. Numeric ranges as
    DOUBLE, string ranges as-is; the other pair is NULL."""
    aggs: list[Column] = []
    for c in numeric_cols + string_cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__distinct"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c)).cast("double").alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).cast("double").alias(f"{c}__max"))
    for c in string_cols:
        aggs.append(F.min(F.col(c)).alias(f"{c}__min"))
        aggs.append(F.max(F.col(c)).alias(f"{c}__max"))
    one = df.agg(*aggs)

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_num"),
            F.col(f"{c}__max").alias("max_num"),
            null_s.alias("min_str"),
            null_s.alias("max_str"),
        )
        for c in numeric_cols
    ] + [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            null_d.alias("min_num"),
            null_d.alias("max_num"),
            F.col(f"{c}__min").alias("min_str"),
            F.col(f"{c}__max").alias("max_str"),
        )
        for c in string_cols
    ]
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def lower_median(df: DataFrame, group_col: str, val_col: str) -> DataFrame:
    """Exact lower median (percentile_disc(0.5)) per group: the value at
    sorted row floor((n+1)/2). Integer inputs give integer medians — no
    interpolation, so downstream arithmetic stays engine-exact."""
    w = Window.partitionBy(group_col).orderBy(val_col)
    wc = Window.partitionBy(group_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wc))
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(F.col(group_col), F.col(val_col).alias("med"))
    )


def mad_outlier_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Robust outlier statistics per group: median + MAD (median absolute
    deviation) over integer cents, flagging rows with |x - med| > 3*MAD.
    Unlike the mean/stddev z-score (outlier_zscore_exact), a few extreme
    rows cannot drag the threshold — the robust-statistics standard.

    All order statistics are lower medians on BIGINT cents, so every
    intermediate is an exact integer. Cost: two per-group sorts (the
    exact path); the sketch path at 100 TB is histogram_quantile_estimates
    over the same cents with merge-by-sum bins.
    """
    cents = df.select(
        F.col(group_col), F.round(F.col(value_col) * 100).cast("long").alias("__c")
    )
    med = lower_median(cents, group_col, "__c")
    with_dev = cents.join(F.broadcast(med), group_col).withColumn(
        "__dev", F.abs(F.col("__c") - F.col("med"))
    )
    mad = lower_median(with_dev, group_col, "__dev").withColumnRenamed("med", "mad")
    return (
        with_dev.join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("med").cast("long").alias("med_cents"),
            F.max("mad").cast("long").alias("mad_cents"),
            F.sum((F.col("__dev") > 3 * F.col("mad")).cast("long")).alias("n_outliers"),
        )
    )


def ks_two_sample(
    df: DataFrame, value: Column, in_a: Column, in_b: Column
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic — the distribution-drift
    monitor between two populations of one integer-valued column:
    D = max_v |ECDF_a(v) - ECDF_b(v)|, kept INTEGER-exact by
    cross-multiplying (d_num = max |n_b*cum_a - n_a*cum_b|, so the only
    float ops are the final identical divisions). Scale shape: one
    map-side-combined groupBy collapses the data to one row per DISTINCT
    value; the ECDF cumsum and the max run over that bounded frame only.
    Continuous columns must be quantized to integer buckets upstream
    (same contract as ranking_auc).

    Output: (n_a, n_b, d_num, ks_stat, ks_at_value, reject_95) where
    ks_at_value is the smallest value attaining the max divergence and
    reject_95 applies the large-sample critical value
    c(0.05)=1.358*sqrt((n_a+n_b)/(n_a*n_b)).

    Implemented as :func:`ks_two_sample_by` over a constant stratum so
    the integer-exact math and the ANSI division guards live in ONE body
    (ADVICE r7: the two copies had to be patched in lockstep).
    """
    return ks_two_sample_by(df, F.lit(0), value, in_a, in_b).drop("group_key")


def psi_drift(
    df: DataFrame, bin_col: Column, in_a: Column, in_b: Column
) -> DataFrame:
    """Population Stability Index between two populations of a binned
    column — the standard score-drift monitor (PSI > 0.2 = major shift):
    PSI = sum_bins (p_a - p_b) * ln(p_a / p_b), with add-1 smoothing over
    the observed bin set so zero cells stay defined. Exactness contract:
    the log-ratio is quantized to millinat BIGINTs (one identical
    round(ln(x)*1000) per bin on both engines) and (p_a - p_b) is
    cross-multiplied, so the per-bin products sum as exact integers —
    reduction-order-immune — and the final PSI is two identical
    divisions. One map-side-combined groupBy to bin counts; everything
    after runs on the bounded bin frame.

    Implemented as :func:`psi_drift_by` over a constant stratum so the
    smoothing/quantization contract lives in ONE body (ADVICE r7)."""
    return psi_drift_by(df, F.lit(0), bin_col, in_a, in_b).drop("group_key")


def ks_two_sample_by(
    df: DataFrame, group: Column, value: Column, in_a: Column, in_b: Column
) -> DataFrame:
    """Stratified two-sample KS: ks_two_sample computed independently per
    group — ONE row per group — so a fleet-wide drift gate can localize
    which stratum (source, tenant, language) moved instead of reporting
    one washed-out global statistic. Same integer-exact contract as the
    global form (d_num = max |n_b*cum_a - n_a*cum_b| per group).

    Scale shape: one map-side-combined groupBy collapses the data to one
    row per (group, DISTINCT value); the ECDF cumsum window PARTITIONS by
    group, so strata never serialize through a single task the way the
    global form's single-partition window does — stratification makes
    this MORE parallel, not less. The per-group totals frame is
    |groups| rows and broadcast back.
    """
    per_v = df.groupBy(group.alias("g"), value.alias("v")).agg(
        F.sum(in_a.cast("long")).alias("ca"),
        F.sum(in_b.cast("long")).alias("cb"),
    )
    cum = Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_v.select(
        "g",
        "v",
        F.sum("ca").over(cum).alias("cum_a"),
        F.sum("cb").over(cum).alias("cum_b"),
    )
    # totals from per_v, not max(cum) over ecdf: same values, but the
    # max-over-cumsum form re-executed the whole window subtree (single-
    # partition for the global stratum) a second time in the broadcast build
    tot = per_v.groupBy("g").agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    d = (
        ecdf.join(F.broadcast(tot), "g")
        .select(
            "g",
            "n_a",
            "n_b",
            "v",
            F.abs(F.col("n_b") * F.col("cum_a") - F.col("n_a") * F.col("cum_b")).alias(
                "dn"
            ),
        )
        .groupBy("g", "n_a", "n_b")
        .agg(
            F.max("dn").alias("d_num"),
            F.expr("min_by(v, struct(-dn, v))").alias("ks_at_value"),
        )
    )
    # try_divide: a stratum with an empty side gets NULL, not an ANSI error
    nab = F.col("n_a").cast("double") * F.col("n_b")
    ks = F.try_divide(F.col("d_num").cast("double"), nab)
    crit = F.lit(1.358) * F.sqrt(
        F.try_divide((F.col("n_a") + F.col("n_b")).cast("double"), nab)
    )
    return d.select(
        F.col("g").alias("group_key"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_num").cast("long").alias("d_num"),
        ks.alias("ks_stat"),
        "ks_at_value",
        (ks > crit).alias("reject_95"),
    )


def psi_drift_by(
    df: DataFrame, group: Column, bin_col: Column, in_a: Column, in_b: Column
) -> DataFrame:
    """Stratified PSI: psi_drift computed independently per group — one
    row per group — the per-stratum companion to ks_two_sample_by for
    binned scores. Same exactness contract as the global form (add-1
    smoothing over each group's OWN observed bin set, millinat-quantized
    log-ratios, cross-multiplied gaps summing as exact BIGINTs).

    Scale shape: one map-side-combined groupBy to (group, bin) counts;
    the per-group totals frame is |groups| rows, broadcast back; every
    aggregate is partial-combinable, nothing serializes globally.
    """
    per_bin = df.groupBy(group.alias("g"), bin_col.alias("bin")).agg(
        F.sum(in_a.cast("long")).alias("ca"),
        F.sum(in_b.cast("long")).alias("cb"),
    )
    tot = per_bin.groupBy("g").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"), F.count("*").alias("nbins")
    )
    j = per_bin.join(F.broadcast(tot), "g")
    na_s = F.col("na") + F.col("nbins")
    nb_s = F.col("nb") + F.col("nbins")
    num_a = (F.col("ca") + 1) * nb_s
    num_b = (F.col("cb") + 1) * na_s
    q = F.round(F.log(num_a.cast("double") / num_b) * 1000).cast("bigint")
    terms = j.select(
        "g",
        "na",
        "nb",
        "nbins",
        na_s.alias("na_s"),
        nb_s.alias("nb_s"),
        ((num_a - num_b) * q).alias("term"),
    )
    out = terms.groupBy("g", "na", "nb", "nbins", "na_s", "nb_s").agg(
        F.sum("term").alias("s")
    )
    psi = F.col("s") / (F.col("na_s").cast("double") * F.col("nb_s")) / 1000.0
    return out.select(
        F.col("g").alias("group_key"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("nbins").cast("long").alias("n_bins"),
        psi.alias("psi"),
        (psi > 0.2).alias("major_shift"),
    )


def conformal_interval_calibrate(scores: DataFrame) -> DataFrame:
    """Split-conformal calibration: the q_hat = ceil((n+1)(1-CONFORMAL_ALPHA))-th
    smallest nonconformity score, computed WITHOUT a global sort — scores
    collapse to one row per DISTINCT value (map-side combinable), the
    rank cumsum runs over that bounded frame, and q_hat is the first
    value whose cumulative count reaches k (exact order statistic, the
    same pattern as ranking_auc / ks_two_sample). Returns one row
    (n_cal, k, q_hat)."""
    per_v = scores.groupBy(F.col("s").alias("v")).agg(F.count("*").alias("c"))
    cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_v.select("v", F.sum("c").over(cum).alias("cum"))
    # n_cal == max(cum), but summed from per_v so the broadcast build
    # does not re-execute the single-partition cumsum window
    tot = per_v.agg(F.sum("c").alias("n_cal"))
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - CONFORMAL_ALPHA)).cast("long")
    return (
        ecdf.crossJoin(F.broadcast(tot))
        .withColumn("k", k)
        .filter(F.col("cum") >= F.least(F.col("k"), F.col("n_cal")))
        .groupBy("n_cal", "k")
        .agg(F.min("v").alias("q_hat"))
        .select(
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("k").cast("long").alias("k"),
            F.col("q_hat").cast("long").alias("q_hat"),
        )
    )


def cohens_kappa(df: DataFrame, rater_a: str, rater_b: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two labelers,
    the standard QA gate on LLM-judge or double-annotated training
    labels (raw percent-agreement overstates quality whenever the label
    distribution is skewed; kappa subtracts what agreement chance alone
    would buy).

    kappa = (p_o - p_e) / (1 - p_e) with p_o = diag/N and
    p_e = sum_i(row_i * col_i) / N^2 is reported as its EXACT integer
    numerator and denominator:

        kappa_num = N * diag - sum_i(row_i * col_i)
        kappa_den = N^2     - sum_i(row_i * col_i)

    so the distributed aggregation is bit-reproducible and the float
    division is one driver-side op (linear_trend_exact pattern).
    BIGINT-safe to N ~ 3e9 rows per call.

    Plan at 100 TB: one groupBy over the label-pair cells (map-side
    combinable, bounded by |classes|^2), marginals derived FROM the
    cell counts (no second scan), one 1-row aggregate.
    """
    cells = df.groupBy(
        F.col(rater_a).alias("__a"), F.col(rater_b).alias("__b")
    ).agg(F.count("*").cast("long").alias("c"))
    ra = cells.groupBy("__a").agg(F.sum("c").alias("row_n"))
    rb = cells.groupBy("__b").agg(F.sum("c").alias("col_n"))
    chance = (
        ra.join(rb, ra["__a"] == rb["__b"])
        .agg(F.sum(F.col("row_n") * F.col("col_n")).cast("long").alias("pe_num"))
    )
    totals = cells.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("c")).otherwise(F.lit(0)))
        .cast("long")
        .alias("diag"),
    )
    return (
        totals.crossJoin(F.broadcast(chance))
        .select(
            "n",
            "diag",
            "pe_num",
            (F.col("n") * F.col("diag") - F.col("pe_num")).cast("long").alias("kappa_num"),
            (F.col("n") * F.col("n") - F.col("pe_num")).cast("long").alias("kappa_den"),
        )
    )


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil–Sen robust trend per group: the MEDIAN of all pairwise
    slopes (y_j - y_i) / (x_j - x_i) over x_i < x_j — the estimator that
    shrugs off up to ~29% contaminated points where the OLS slope
    (linear_trend_exact) chases every outlier.

    Exactness contract: inputs must be integer (x, y); every pairwise
    slope is kept as its exact integer numerator/denominator (den > 0 by
    construction). The median is selected POSITIONALLY: pairs are ranked
    by the IEEE double num/den (one correctly-rounded division on exact
    integers — identical in any engine) with (num, den) as a total-order
    tiebreak, and the lower median (rank floor((n+1)/2)) is returned as
    the exact rational med_num/med_den.

    Scale contract: the pair space is O(points_per_group^2), so callers
    MUST pre-aggregate to a bounded grid first (e.g. hourly rollups:
    tens-to-hundreds of points per group) — then the self-join runs on
    the ROLLUP, never the raw fact table, and each group's pair set is
    thousands of rows however big the raw data was. The join is a
    single co-partitioned self-join on the group key with an x_i < x_j
    residual; the median window sorts only the bounded pair sets.
    """
    a = df.select(
        F.col(group_col).alias("__g"),
        F.col(x_col).cast("long").alias("xi"),
        F.col(y_col).cast("long").alias("yi"),
    )
    b = df.select(
        F.col(group_col).alias("__g"),
        F.col(x_col).cast("long").alias("xj"),
        F.col(y_col).cast("long").alias("yj"),
    )
    pairs = a.join(b, "__g").filter(F.col("xi") < F.col("xj")).select(
        "__g",
        (F.col("yj") - F.col("yi")).alias("num"),
        (F.col("xj") - F.col("xi")).alias("den"),
    )
    wr = Window.partitionBy("__g").orderBy(
        F.col("num").cast("double") / F.col("den").cast("double"), "num", "den"
    )
    wc = Window.partitionBy("__g")
    return (
        pairs.withColumn("__rn", F.row_number().over(wr))
        .withColumn("__n", F.count("*").over(wc))
        .filter(F.col("__rn") == F.expr("(__n + 1) div 2"))
        .select(
            F.col("__g").alias(group_col),
            F.col("__n").cast("long").alias("n_pairs"),
            F.col("num").cast("long").alias("med_num"),
            F.col("den").cast("long").alias("med_den"),
        )
    )


def fellegi_sunter_scores(pairs: DataFrame, agree_cols: list[str]) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over blocked candidate
    pairs: each comparison field contributes ln(m/u) millinats when it
    agrees and ln((1-m)/(1-u)) when it doesn't; the pair's match score
    is the sum. u_f — the chance-agreement rate of field f — is
    estimated from the candidate pairs themselves (the standard
    unsupervised shortcut; m is a prior). Callers must block first so
    the candidate space is linear, and every u_f must land strictly
    inside (0, 1) — a field that always or never agrees carries no
    signal and would blow up the log.

    Exactness: the six ln() calls are GLOBAL (one per field per side),
    quantized once to integer millinats (floor) and broadcast — after
    that every pair's score is exact integer addition, reproducible
    under any partition order (blockmax idf pattern).

    Plan: one aggregate over the pairs for all u_f rates (map-side
    combinable), one 1-row broadcast attach, one per-row projection.
    """
    # checkpoint: the blocked pair join is the dominant cost and feeds
    # BOTH the u-rate aggregate and the scoring projection — without this
    # it executes twice (the blockmax single-materialization discipline)
    pairs = pairs.localCheckpoint(eager=False)
    n = F.count(F.lit(1))
    u_aggs = [
        (F.sum(F.col(c).cast("long")) / n).alias(f"__u_{c}") for c in agree_cols
    ]
    u = pairs.agg(*u_aggs)
    scored = pairs.crossJoin(F.broadcast(u))
    w_terms = []
    for c in agree_cols:
        uf = F.col(f"__u_{c}")
        wa = F.floor(F.log(F.lit(M_PROB) / uf) * 1000).cast("long")
        wd = F.floor(F.log(F.lit(1.0 - M_PROB) / (F.lit(1.0) - uf)) * 1000).cast("long")
        w_terms.append(F.when(F.col(c), wa).otherwise(wd))
    score = w_terms[0]
    for t in w_terms[1:]:
        score = score + t
    n_agree = None
    for c in agree_cols:
        term = F.col(c).cast("long")
        n_agree = term if n_agree is None else n_agree + term
    return scored.select(
        *[x for x in pairs.columns if x not in agree_cols],
        n_agree.cast("long").alias("n_agree"),
        score.cast("long").alias("score_milli"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two groups of an integer-
    quantized metric column. Returns ONE row with the exact per-group
    moment sums (n/sum/sumsq as BIGINTs) plus the t statistic
    (t_micros), Welch–Satterthwaite degrees of freedom (df_milli), and
    the large-sample 5% two-sided decision (reject_95, |t| > 1.96).

    The A/B-test primitive every experimentation pipeline runs; Welch's
    form (per-group variances, no pooling) is the safe default when the
    arms differ in size or spread.

    Exactness: value_col must already be integer (e.g. cents), so all
    six moments are order-free BIGINT sums collected in ONE conditional-
    aggregation pass (no join, map-side combine, single-row output).
    The t/df floats are closed-form expressions over those six integers
    — a fixed handful of IEEE ops, identical in any engine, quantized
    at 1e-6/1e-3 with ~1e9 headroom. Degenerate inputs yield NULL t/df
    rather than an error: two constant arms via try_divide, and an arm
    with n < 2 (no sample variance exists) via an explicit n>=2 gate on
    both statistics.
    """
    a, b = (F.col(group_col) == group_a), (F.col(group_col) == group_b)
    # widen BEFORE squaring: an IntegerType cents column overflows v*v at
    # |v| > 46340 (ANSI crash; silent wrap otherwise)
    v = F.col(value_col).cast("long")
    s = df.filter(a | b).agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(b, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(a, v).otherwise(0)).cast("bigint").alias("sum_a"),
        F.sum(F.when(b, v).otherwise(0)).cast("bigint").alias("sum_b"),
        F.sum(F.when(a, v * v).otherwise(0)).cast("bigint").alias("sumsq_a"),
        F.sum(F.when(b, v * v).otherwise(0)).cast("bigint").alias("sumsq_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sa, sb = F.col("sum_a").cast("double"), F.col("sum_b").cast("double")
    va = (F.col("sumsq_a").cast("double") - sa * sa / na) / (na - 1)
    vb = (F.col("sumsq_b").cast("double") - sb * sb / nb) / (nb - 1)
    se2 = va / na + vb / nb
    # Degenerate guards: two constant arms (zero variance) make t/df
    # undefined -> NULL via try_divide; an arm with n < 2 has no sample
    # variance at all (the (n-1) divisor is 0, making va/vb Inf or NaN,
    # which round().cast('bigint') would turn into an ANSI error), so the
    # whole statistic is gated NULL unless both arms have n >= 2.
    both_arms = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    t = F.when(both_arms, F.try_divide(sa / na - sb / nb, F.sqrt(se2)))
    dfree = F.when(
        both_arms,
        F.try_divide(
            se2 * se2,
            (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1),
        ),
    )
    return s.select(
        "n_a", "n_b", "sum_a", "sum_b", "sumsq_a", "sumsq_b",
        F.round(F.lit(1_000_000.0) * t).cast("bigint").alias("t_micros"),
        F.round(F.lit(1_000.0) * dfree).cast("bigint").alias("df_milli"),
        (F.abs(t) > 1.96).alias("reject_95"),
    )


def kaplan_meier(
    durations: DataFrame,
    duration_col: str,
    observed_col: str,
) -> DataFrame:
    """Kaplan–Meier survival curve over right-censored integer durations:
    one row per distinct OBSERVED death time t with n_at_risk, d_deaths,
    and the product-limit estimate S(t) = prod_{t'<=t} (1 - d/n) as
    surv_micros. The churn/retention estimator that handles users still
    alive at the observation horizon correctly (censoring), where a
    naive mean lifetime is biased low.

    Exactness: n_at_risk and d_deaths are exact integers from ONE
    grouped collapse to distinct times (map-side combinable) followed by
    a cumulative window over that bounded time axis — n_at_risk(t) =
    N_total - #{t_i < t} via running sums, never a per-t rescan. The
    product is evaluated as exp(cumsum(ln((n-d)/n))) on the collapsed
    axis; each log term is a correctly-rounded IEEE op on exact
    integers, and the running float sum carries ~1e-14 relative error
    across thousands of terms — nine orders inside the 1e-6
    quantization. The d == n_at_risk row (everyone at risk dies — only
    possible when the largest duration is uncensored) is log-guarded:
    engines disagree on ln(0) (NULL vs error), so S collapses to an
    exact 0 via a windowed extinction flag instead.

    Scale: the raw table collapses to |distinct durations| rows before
    any window; the single unpartitioned cumulative window runs on that
    bounded axis (time cardinality, not data cardinality).
    """
    per_t = durations.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.when(F.col(observed_col), 1).otherwise(0)).cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("arrivals"),
    )
    w_rest = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        # at-risk(t) = everyone whose duration is >= t = the suffix sum of
        # arrivals from t to the end — no separate count() action needed
        per_t.withColumn("n_at_risk", F.sum("arrivals").over(w_rest))
        .withColumn(
            "log_s",
            F.sum(
                F.when(
                    (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")),
                    F.log((F.col("n_at_risk") - F.col("d")).cast("double") / F.col("n_at_risk").cast("double")),
                ).otherwise(0.0)
            ).over(w_cum),
        )
        .withColumn(
            "extinct",
            F.max((F.col("d") >= F.col("n_at_risk")).cast("int")).over(w_cum),
        )
        .filter(F.col("d") > 0)
    )
    return curve.select(
        F.col("t").cast("bigint").alias("t"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("d_deaths"),
        F.when(F.col("extinct") > 0, F.lit(0))
        .otherwise(F.round(F.lit(1_000_000.0) * F.exp("log_s")))
        .cast("bigint")
        .alias("surv_micros"),
    )


def seasonal_decompose_hourly(events: DataFrame, ts_col: str, value_cents_col: Column) -> DataFrame:
    """Classical additive seasonal decomposition of an hourly series:
    trend = centered moving average (±12 buckets), seasonal =
    mean detrended value per hour-of-day. Returns 24 rows (hour_of_day,
    n_buckets, seasonal_millicents) — the daily load shape with the
    multi-day trend removed, the standard pre-pass before anomaly
    thresholds or capacity forecasts.

    Exactness: the raw table collapses to hourly (sum_cents, cnt)
    integer pairs first; every division is immediately re-quantized to
    an integer (bucket mean -> millicents, trend -> millicents, seasonal
    -> millicents), so all window/group sums are order-free BIGINT sums
    and each engine performs the SAME three correctly-rounded divisions.

    Scale: both windows run on the collapsed hourly axis (8,760 rows per
    year per series — time cardinality, not data cardinality), so the
    single unpartitioned ORDER BY bucket window is a deliberate,
    bounded choice; the raw scan is one map-side-combinable aggregate.
    """
    hourly = events.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bucket")).agg(
        F.sum(value_cents_col).cast("bigint").alias("sum_cents"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    mean_mc = F.round(F.lit(1000.0) * F.col("sum_cents").cast("double") / F.col("cnt").cast("double")).cast("bigint")
    w = Window.orderBy("bucket").rowsBetween(-HALF_WINDOW, HALF_WINDOW)
    trend_mc = F.round(F.sum("mean_mc").over(w).cast("double") / F.count("*").over(w).cast("double")).cast("bigint")
    detrended = (
        hourly.withColumn("mean_mc", mean_mc)
        .withColumn("trend_mc", trend_mc)
        .withColumn("resid_mc", F.col("mean_mc") - F.col("trend_mc"))
    )
    return (
        detrended.groupBy(F.hour("bucket").cast("bigint").alias("hour_of_day"))
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.round(F.sum("resid_mc").cast("double") / F.count("*").cast("double")).cast("bigint").alias("seasonal_millicents"),
        )
    )


def trimmed_mean(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Two-sided trimmed mean per group: drop the lowest and highest
    floor(n * 50000 / 1e6) values exactly (by rank, not by
    percentile interpolation) and average the rest — the robust
    location estimate between the mean (trim 0) and the median (trim
    50%), completing the robust suite beside MAD and Theil-Sen.

    Returns per group: n_rows, n_trimmed_each_side, kept_sum, n_kept,
    trimmed_mean_milli (= round(1000 * kept_sum / n_kept)).

    Exactness: value_col must be integer; the trim boundary is an exact
    integer rank (ties at the boundary are interchangeable — equal
    values contribute equally to the kept sum, so the kept MULTISET is
    well-defined even though row_number breaks ties arbitrarily), and
    kept_sum/n_kept are order-free BIGINTs. One shuffle on the group
    key; the rank window sorts within groups only. At 100 TB swap the
    exact rank for approx-quantile thresholds + an exact residual
    filter — same contract, no full per-group sort.
    """
    w = Window.partitionBy("__g").orderBy(F.col("__v").asc())
    wc = Window.partitionBy("__g")
    ranked = (
        df.select(F.col(group_col).alias("__g"), F.col(value_col).cast("long").alias("__v"))
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wc))
    )
    k = F.expr("(__n * 50000) div 1000000")
    kept = ranked.filter((F.col("__rn") > k) & (F.col("__rn") <= F.col("__n") - k))
    return kept.groupBy(F.col("__g").alias(group_col)).agg(
        F.max("__n").cast("bigint").alias("n_rows"),
        F.max(k).cast("bigint").alias("n_trimmed_each_side"),
        F.sum("__v").cast("bigint").alias("kept_sum"),
        F.count("*").cast("bigint").alias("n_kept"),
        F.round(
            F.lit(1000.0) * F.sum("__v").cast("double") / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("trimmed_mean_milli"),
    )


def gini_concentration(df: DataFrame, id_col: str, value_col: str) -> DataFrame:
    """Gini coefficient of an integer-valued distribution:
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over ascending rank i
    — the Lorenz-curve concentration summary (0 = perfectly equal,
    ->1 = one holder has everything). Returns ONE row with the exact
    BIGINT pieces (n, total, weighted_sum, gini_num, gini_den) and
    gini_micros.

    Exactness: everything except the final quantized ratio is BIGINT
    arithmetic; rank ties carry equal values, so the weighted sum is
    tie-order invariant. Scale: callers pre-aggregate to the entity
    grain first so the global rank window runs on entity cardinality;
    at 100 TB replace the exact rank with a binned Lorenz approximation
    under the same num/den contract.
    """
    w = Window.orderBy(F.col(value_col).asc(), F.col(id_col).asc())
    # widen BEFORE the rank product: int rank x int value overflows 2^31
    r = df.select(
        F.col(value_col).cast("long").alias("__x"),
        F.row_number().over(w).cast("long").alias("__i"),
    )
    s = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("__x").cast("bigint").alias("total"),
        F.sum(F.col("__i") * F.col("__x")).cast("bigint").alias("weighted_sum"),
    )
    num = (2 * F.col("weighted_sum") - (F.col("n") + 1) * F.col("total")).cast("bigint")
    den = (F.col("n") * F.col("total")).cast("bigint")
    return s.select(
        "n",
        "total",
        "weighted_sum",
        num.alias("gini_num"),
        den.alias("gini_den"),
        # try_divide: an all-zero value column gives num=den=0; 0/0 must
        # yield NULL gini_micros (not NaN -> ANSI cast error), matching the
        # guards on mcc_binary / welch_ttest / degree_assortativity
        F.round(
            F.try_divide(F.lit(1_000_000.0) * num.cast("double"), den.cast("double"))
        )
        .cast("bigint")
        .alias("gini_micros"),
    )


def composition_entropy(df: DataFrame, group_col: str, class_col: str) -> DataFrame:
    """Shannon entropy of the class composition within each group, via
    H = ln(N) - sum(c * ln c)/N over exact class counts, plus exp(H) as
    the 'effective number of classes' (Hill number of order 1). Each
    c*ln(c) term is ONE correctly-rounded op on an exact integer count,
    quantized to integer micros BEFORE summing, so per-group sums are
    order-free BIGINTs and both engines derive H from identical
    integers. Composition cells collapse map-side; everything after
    runs on |groups| x |classes| rows."""
    cells = df.groupBy(
        F.col(group_col).alias("__g"), F.col(class_col).alias("__c")
    ).agg(F.count("*").cast("bigint").alias("c"))
    cd = F.col("c").cast("double")
    per = cells.groupBy("__g").agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum(F.round(F.lit(1_000_000.0) * cd * F.log(cd)).cast("bigint"))
        .cast("bigint")
        .alias("s_micros"),
    )
    nd = F.col("n_rows").cast("double")
    sm = F.col("s_micros").cast("double")
    return per.select(
        F.col("__g").alias(group_col),
        "n_rows",
        "n_classes",
        F.round(F.lit(1_000_000.0) * F.log(nd) - sm / nd)
        .cast("bigint")
        .alias("entropy_micronats"),
        F.round(F.lit(1000.0) * F.exp(F.log(nd) - (sm / F.lit(1_000_000.0)) / nd))
        .cast("bigint")
        .alias("effective_classes_milli"),
    )


def mcc_binary(
    df: DataFrame,
    actual_col: str,
    pred_col: str,
) -> DataFrame:
    """Matthews correlation coefficient for a binary classifier: ONE row
    with the exact confusion counts (tp/tn/fp/fn as BIGINTs) and
    mcc_micros = (tp*tn - fp*fn) / sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)).
    The balanced single-number classifier summary that stays honest
    under class imbalance, completing the eval suite beside kappa, AUC,
    and calibration bins. One conditional-aggregation scan (map-side
    combine, no join); the numerator is exact BIGINT arithmetic and the
    denominator is one sqrt over products computed in doubles (counts
    cast exactly below 2^53); try_divide returns NULL when any marginal
    is zero (MCC undefined), not an error."""
    a, p = F.col(actual_col), F.col(pred_col)
    s = df.agg(
        F.sum((a & p).cast("long")).cast("bigint").alias("tp"),
        F.sum((~a & ~p).cast("long")).cast("bigint").alias("tn"),
        F.sum((~a & p).cast("long")).cast("bigint").alias("fp"),
        F.sum((a & ~p).cast("long")).cast("bigint").alias("fn"),
    )
    tp, tn = F.col("tp").cast("double"), F.col("tn").cast("double")
    fp, fn = F.col("fp").cast("double"), F.col("fn").cast("double")
    num = tp * tn - fp * fn
    den = F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    return s.select(
        "tp",
        "tn",
        "fp",
        "fn",
        F.round(F.try_divide(F.lit(1_000_000.0) * num, den)).cast("bigint").alias("mcc_micros"),
    )


def cusum_changepoint(
    series: DataFrame,
    bucket_col: str,
    value_col: str,
    slack: int,
    threshold: int,
) -> DataFrame:
    """One-sided CUSUM changepoint detector over an integer-valued,
    bucketed series: S_t = max(0, S_{t-1} + (x_t - ref - slack)) with
    ref = the series' own quantized mean, alarming where S_t exceeds
    threshold — the classic upward-shift monitor for load/error-rate
    series.

    The sequential recurrence is rewritten as pure window algebra:
    S_t = P_t - min(0, min_{j<=t} P_j) where P is the running prefix sum
    of the centered values — two cumulative windows instead of an
    unparallelizable loop, all in exact BIGINT arithmetic (the only
    float op is the one quantized mean). Windows run on the collapsed
    bucket axis (time cardinality, not data cardinality). Returns every
    bucket with (value, cusum, alarm).
    """
    w_all = Window.partitionBy()
    # order by the RENAMED bucket column — the windows run over `centered`
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    ref = F.round(F.avg(F.col(value_col).cast("double")).over(w_all)).cast("bigint")
    centered = series.select(
        F.col(bucket_col).alias("bucket"),
        F.col(value_col).cast("bigint").alias("x"),
        (F.col(value_col).cast("bigint") - ref - F.lit(slack)).alias("y"),
    )
    p = centered.withColumn("pfx", F.sum("y").over(w_cum))
    s = p.withColumn(
        "cusum", F.col("pfx") - F.least(F.lit(0).cast("bigint"), F.min("pfx").over(w_cum))
    )
    return s.select(
        "bucket",
        "x",
        F.col("cusum").cast("bigint").alias("cusum"),
        (F.col("cusum") > threshold).alias("alarm"),
    )


def spearman_rank_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Spearman rank correlation between two integer-valued columns —
    Pearson over midranks, the tie-safe general form (the popular
    1 - 6*sum(d^2)/... shortcut is only valid with no ties). Returns ONE
    row: (n, sum_rx, sum_ry, sum_rxy, sum_rx2, sum_ry2 over DOUBLED
    midranks as exact integers, plus spearman_micros).

    The monotone-association screen of every feature-audit pass: unlike
    Pearson on raw values it is invariant to monotone transforms and
    insensitive to outliers, which is why profiling suites report it
    next to linear_trend/theil_sen.

    Exactness: midranks with ties are half-integers, so everything runs
    on DOUBLED midranks (rank2 = 2*cum_before + cnt + 1, an exact
    BIGINT per distinct value; correlation is scale-invariant so the
    doubling cancels). The five moment sums use DECIMAL(38,0): doubled
    ranks reach 2n, so sum(rank2^2) ~ 4n^3 exceeds int64 past n ~ 1.3e6
    — decimal keeps the sums exact to n ~ 1e11 rows (DuckDB's HUGEINT
    sums match). The final Pearson ratio is one closed-form float over
    those exact integers, quantized to micros.

    Scale shape: each column collapses to its DISTINCT-value frame for
    the rank2 cumsum (bounded window), then joins back by value — two
    shuffles on value domains, one six-sum aggregate; no global row
    sort ever happens.
    """
    base = df.select(
        F.col(x_col).cast("long").alias("__x"), F.col(y_col).cast("long").alias("__y")
    )

    def rank2_map(col: str) -> DataFrame:
        per_v = base.groupBy(F.col(col).alias("v")).agg(F.count("*").alias("c"))
        cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return per_v.select(
            "v",
            (2 * F.coalesce(F.sum("c").over(cum), F.lit(0)) + F.col("c") + 1).alias(
                "r2"
            ),
        )

    rx = rank2_map("__x").withColumnsRenamed({"v": "__x", "r2": "__rx"})
    ry = rank2_map("__y").withColumnsRenamed({"v": "__y", "r2": "__ry"})
    ranked = base.join(rx, "__x").join(ry, "__y")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dec(F.col("__rx"))).alias("sum_rx"),
        F.sum(dec(F.col("__ry"))).alias("sum_ry"),
        F.sum(dec(F.col("__rx") * F.col("__ry"))).alias("sum_rxy"),
        F.sum(dec(F.col("__rx") * F.col("__rx"))).alias("sum_rx2"),
        F.sum(dec(F.col("__ry") * F.col("__ry"))).alias("sum_ry2"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sum_rx").cast("double"), F.col("sum_ry").cast("double")
    num = n * F.col("sum_rxy").cast("double") - sx * sy
    den = F.sqrt(n * F.col("sum_rx2").cast("double") - sx * sx) * F.sqrt(
        n * F.col("sum_ry2").cast("double") - sy * sy
    )
    return s.select(
        "n",
        "sum_rx",
        "sum_ry",
        "sum_rxy",
        "sum_rx2",
        "sum_ry2",
        # try_divide: a constant column has zero rank variance -> NULL
        F.round(F.try_divide(F.lit(1_000_000.0) * num, den))
        .cast("bigint")
        .alias("spearman_micros"),
    )


def js_divergence(
    df: DataFrame, bin_col: Column, in_a: Column, in_b: Column
) -> DataFrame:
    """Jensen-Shannon divergence between two populations of a binned
    column — the bounded, symmetric drift measure (0 <= JSD <= ln 2)
    that stays defined at zero cells WITHOUT smoothing, unlike PSI/KL:
    JSD = (KL(p||m) + KL(q||m))/2 with m = (p+q)/2, and a cell empty on
    one side contributes 0*ln0 = 0 on that side while m > 0 keeps the
    other side's log finite. The cross-corpus-mixture divergence a data
    pipeline reports when comparing source compositions.

    Exactness: each per-bin log ratio p/m = 2*ca*nb / (ca*nb + cb*na)
    is a ratio of exact BIGINTs, quantized once to micronat BIGINTs;
    per-bin contributions sum as exact integers weighted by the integer
    counts (reduction-order-immune), and the final JSD is two identical
    divisions. Same shape as psi_drift: one map-side-combined collapse
    to bin counts, then the bounded bin frame.
    """
    per_bin = df.groupBy(bin_col.alias("bin")).agg(
        F.sum(in_a.cast("long")).alias("ca"),
        F.sum(in_b.cast("long")).alias("cb"),
    )
    tot = per_bin.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"), F.count("*").alias("nbins")
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    # integer cross-products: p/m = 2*ca*nb / (ca*nb + cb*na), q/m likewise.
    # Guard on mix > 0, not just ca > 0: with one population entirely EMPTY
    # (nb = 0), a ca-only bin has mix = 0 and the unguarded log is
    # ln(0/0) = NaN, which the bigint cast turns into an ANSI error —
    # an empty side means JSD degenerates to 0*anything, so the term is 0.
    mix = F.col("ca") * F.col("nb") + F.col("cb") * F.col("na")
    qa = F.round(F.log(2 * F.col("ca") * F.col("nb") / mix.cast("double")) * 1e6).cast(
        "bigint"
    )
    qb = F.round(F.log(2 * F.col("cb") * F.col("na") / mix.cast("double")) * 1e6).cast(
        "bigint"
    )
    terms = j.select(
        "na",
        "nb",
        "nbins",
        F.when((F.col("ca") > 0) & (mix > 0), F.col("ca") * qa)
        .otherwise(F.lit(0))
        .alias("ta"),
        F.when((F.col("cb") > 0) & (mix > 0), F.col("cb") * qb)
        .otherwise(F.lit(0))
        .alias("tb"),
    )
    out = terms.groupBy("na", "nb", "nbins").agg(
        F.sum("ta").alias("sa"), F.sum("tb").alias("sb")
    )
    # try_divide: with one population entirely empty the divergence is
    # undefined (there is no second distribution) -> NULL, not an ANSI
    # divide-by-zero error (Spark 4 ANSI errors even on double division)
    jsd = (
        F.try_divide(F.col("sa").cast("double"), F.col("na").cast("double"))
        + F.try_divide(F.col("sb").cast("double"), F.col("nb").cast("double"))
    ) / 2.0 / 1e6
    return out.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("nbins").cast("long").alias("n_bins"),
        F.col("sa").cast("long").alias("sum_term_a"),
        F.col("sb").cast("long").alias("sum_term_b"),
        jsd.alias("jsd_nats"),
        (jsd > F.lit(0.1)).alias("major_shift"),
    )


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V association between two categorical columns — the
    normalized chi-squared (0 = independent, 1 = perfectly associated)
    that, unlike raw chi2, is comparable across tables of different
    size and shape: V = sqrt(chi2 / (n * (min(r,c) - 1))). The
    categorical companion to spearman_rank_corr in a feature audit.

    Exactness: cell/row/column counts are exact integers from ONE
    map-side-combinable collapse to the contingency cells; chi2 is
    evaluated in cross-multiplied form, chi2 = sum_cells
    (n*n_ij - r_i*c_j)^2 / (n * r_i * c_j), where every numerator is an
    exact BIGINT and each cell contributes ONE correctly-rounded float
    division — summed over the bounded |r|x|c| frame, then quantized.
    Absent cells (n_ij = 0) are handled by the sparse identity
    chi2 = n * (sum over PRESENT cells of n_ij^2/(r_i*c_j) - 1), which
    needs no dense cell enumeration.

    Scale: |categories_a| x |categories_b| bounded frames end-to-end
    after the first collapse; the row/col marginals broadcast back.
    """
    cells = df.groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b")).agg(
        F.count("*").cast("long").alias("nij")
    )
    rows = cells.groupBy("a").agg(F.sum("nij").alias("ri"))
    cols = cells.groupBy("b").agg(F.sum("nij").alias("cj"))
    tot = cells.agg(
        F.sum("nij").alias("n"),
        F.countDistinct("a").alias("r"),
        F.countDistinct("b").alias("c"),
    )
    j = (
        cells.join(F.broadcast(rows), "a")
        .join(F.broadcast(cols), "b")
        .crossJoin(F.broadcast(tot))
    )
    # chi2 = n * (sum over present cells of nij^2/(ri*cj) - 1): the absent
    # cells' expected mass is folded into the -1, so no dense enumeration
    term = (F.col("nij") * F.col("nij")).cast("double") / (
        F.col("ri") * F.col("cj")
    ).cast("double")
    out = j.groupBy("n", "r", "c").agg(F.sum(term).alias("s"))
    chi2 = F.col("n").cast("double") * (F.col("s") - 1.0)
    denom = (F.col("n") * (F.least(F.col("r"), F.col("c")) - 1)).cast("double")
    # explicit min(r,c)>1 gate: greatest() would swallow try_divide's NULL
    # on a 1xK table (greatest ignores NULLs), turning "undefined" into 0
    v = F.when(
        F.least(F.col("r"), F.col("c")) > 1,
        F.sqrt(F.greatest(chi2 / denom, F.lit(0.0))),
    )
    return out.select(
        F.col("n").cast("long").alias("n"),
        F.col("r").cast("long").alias("n_rows_cat"),
        F.col("c").cast("long").alias("n_cols_cat"),
        F.round(chi2 * 1000).cast("bigint").alias("chi2_milli"),
        # try_divide + clamp: a 1xK table has min(r,c)-1 = 0 -> NULL V
        F.round(v * 1_000_000).cast("bigint").alias("cramers_v_micros"),
    )


def acf_hourly(
    events: DataFrame,
    ts_col: str,
    value_cents_col: Column,
    max_lag: int = 6,
) -> DataFrame:
    """Autocorrelation function of an hourly-aggregated series at lags
    1..max_lag — one row per lag with the standard biased estimator
    r_k = sum_{t}((x_t - xbar)(x_{t+k} - xbar)) / sum((x_t - xbar)^2),
    xbar the GLOBAL mean (the definition statsmodels/R use, which keeps
    r_k <= 1 and the sequence positive-semidefinite). The
    periodicity/burstiness probe run before picking seasonal windows or
    anomaly thresholds.

    Exactness: the raw table collapses to hourly integer sums first
    (same contract as seasonal_decompose_hourly); lag pairs come from a
    self-join on bucket+k over that bounded axis. The centered products
    are computed in doubles from exact integer hourly sums and the
    global integer (n, sum): a few-thousand-term float sum carries
    ~1e-13 relative error, quantized at 1e-6. Gaps in the hour axis are
    treated as missing buckets (pairs spanning a gap are absent from
    the numerator). The contract is ONE ROW PER LAG unconditionally:
    lags with zero pairs (series shorter than lag+1 hours, or a fully
    gapped axis) still emit (lag, n_buckets, n_pairs=0,
    acf_micros=NULL), so consumers indexing 1..max_lag never misalign.

    Scale: everything after the first map-side-combinable collapse runs
    on the hourly axis (time cardinality); the lag self-join is a
    broadcast of a bounded frame against itself.
    """
    hourly = events.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("bucket")
    ).agg(F.sum(value_cents_col).cast("bigint").alias("x"))
    tot = hourly.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("sx")
    )
    lags = hourly.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = hourly.select(F.col("bucket").alias("t"), F.col("x").alias("xa"))
    b = hourly.select(F.col("bucket").alias("t2"), F.col("x").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("t2")
            == F.col("t") + F.make_dt_interval(hours=F.col("lag").cast("double")),
        )
        .crossJoin(F.broadcast(tot))
    )
    xbar = F.col("sx").cast("double") / F.col("n").cast("double")
    num = pairs.groupBy("lag", "n", "sx").agg(
        F.sum((F.col("xa") - xbar) * (F.col("xb") - xbar)).alias("num"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    den = (
        hourly.crossJoin(F.broadcast(tot))
        .groupBy("n", "sx")
        .agg(F.sum((F.col("x") - xbar) * (F.col("x") - xbar)).alias("den"))
        .select("n", "den")
    )
    acf = num.join(F.broadcast(den), "n").select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").alias("n_buckets"),
        "n_pairs",
        F.round(F.try_divide(F.lit(1_000_000.0) * F.col("num"), F.col("den")))
        .cast("bigint")
        .alias("acf_micros"),
    )
    # one row per lag unconditionally: pairless lags (short/gapped series)
    # emit n_pairs=0, acf_micros=NULL rather than silently vanishing
    return (
        lags.select(F.col("lag").cast("long").alias("lag"))
        .join(acf, "lag", "left")
        .crossJoin(F.broadcast(tot.select(F.col("n").alias("n_total"))))
        .select(
            "lag",
            F.coalesce("n_buckets", F.col("n_total")).cast("long").alias("n_buckets"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            "acf_micros",
        )
        .orderBy("lag")
    )


def conformal_mondrian_calibrate(scores: DataFrame) -> DataFrame:
    """Mondrian (group-conditional) split-conformal calibration: an
    independent q_hat = ceil((n_g+1)(1-CONFORMAL_ALPHA))-th smallest nonconformity
    score PER GROUP — one row (group_key, n_cal, k, q_hat) per group.
    Marginal conformal (conformal_interval_calibrate) guarantees coverage
    on average over the whole population; Mondrian conformal guarantees
    it within every declared stratum, which is what a per-segment SLA
    (per tenant, per priority class) actually requires — the conformal
    counterpart of ks_two_sample_by/psi_drift_by.

    Same sort-free exact-order-statistic shape as the global form, with
    every window PARTITIONED by group: scores collapse to one row per
    (group, DISTINCT value), the rank cumsum runs per group on that
    bounded frame, and q_hat is each group's first value whose cumulative
    count reaches k. Strata parallelize instead of serializing.
    """
    per_v = scores.groupBy(
        F.col("g").alias("g"), F.col("s").alias("v")
    ).agg(F.count("*").alias("c"))
    cum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ecdf = per_v.select("g", "v", F.sum("c").over(cum).alias("cum"))
    # per-group totals summed from per_v, not max over the cumsum frame:
    # same values without re-executing the window in the broadcast build
    tot = per_v.groupBy("g").agg(F.sum("c").alias("n_cal"))
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - CONFORMAL_ALPHA)).cast("long")
    return (
        ecdf.join(F.broadcast(tot), "g")
        .withColumn("k", k)
        .filter(F.col("cum") >= F.least(F.col("k"), F.col("n_cal")))
        .groupBy("g", "n_cal", "k")
        .agg(F.min("v").alias("q_hat"))
        .select(
            F.col("g").alias("group_key"),
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("k").cast("long").alias("k"),
            F.col("q_hat").cast("long").alias("q_hat"),
        )
    )


def median_of_means_by(
    df: DataFrame,
    group_col,
    id_col,
    value_cents_col,
    n_buckets: int = 32,
) -> DataFrame:
    """Median-of-means robust location estimate per group — the mergeable
    alternative to the trimmed mean when a 100 TB scan can't afford even
    per-group rank windows over raw rows: rows are dealt into
    ``n_buckets`` fixed hash buckets (md5-portable, same '0x'||hex
    convention as the sketch module), each bucket keeps an exact
    BIGINT (sum, count) pair — map-side combinable, mergeable across
    partitions/days by field-wise addition — and the estimate is the
    median of the <= n_buckets bucket means. Heavy-tailed contamination
    moves only the buckets it lands in, giving the classical
    exp(-buckets/8)-tail guarantee where the plain mean has none.

    Exactness: bucket means are quantized to milli BIGINTs with one
    identical rounding; the median of the bounded bucket frame is the
    exact average of the two middle ranks, published in micros
    ((m_lo + m_hi) * 500 stays integer). The plain mean ships alongside
    for contrast. The only per-row work is one hash + one sum/count.
    """
    from pyspark.sql import Window

    b = (portable_hash32(id_col) % n_buckets).alias("b")
    per_bucket = df.groupBy(group_col.alias("g"), b).agg(
        F.sum(value_cents_col).cast("long").alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    bm = per_bucket.select(
        "g", "b", "s", "c", F.round(F.lit(1000.0) * F.col("s") / F.col("c")).cast("long").alias("m")
    )
    w = Window.partitionBy("g").orderBy("m", "b")
    ranked = bm.select("g", "s", "c", "m", F.row_number().over(w).alias("rn"))
    tot = ranked.groupBy("g").agg(
        F.sum("c").alias("n_rows"),
        F.sum("s").alias("sum_cents"),
        F.count("*").alias("nb"),
    )
    lo = F.floor((F.col("nb") + 1) / 2)
    hi = F.ceil((F.col("nb") + 1) / 2)
    return (
        ranked.join(tot, "g")
        .groupBy(
            F.col("g"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("nb").cast("long").alias("n_buckets_eff"),
            F.round(F.lit(1_000_000.0) * F.col("sum_cents") / F.col("n_rows"))
            .cast("long")
            .alias("mean_micros"),
        )
        .agg(
            (
                (F.min(F.when(F.col("rn") == lo, F.col("m")))
                 + F.min(F.when(F.col("rn") == hi, F.col("m"))))
                * 500
            )
            .cast("long")
            .alias("mom_micros")
        )
    )


def mann_whitney_u(
    df: DataFrame, value: Column, in_a: Column, in_b: Column
) -> DataFrame:
    """Tie-corrected Mann-Whitney U (Wilcoxon rank-sum) test between two
    populations of one integer-valued column — the rank-based LOCATION
    test completing the two-sample suite: Welch compares means (moment-
    based, outlier-fragile), KS compares whole distributions, MW asks
    "does one population stochastically dominate?" robustly to outliers
    and without normality.

    Exactness: the doubled statistic u2 = 2U = sum_v ca_v*(2*cumb_<v +
    cb_v) is an exact BIGINT over the distinct-value frame (identical
    midrank construction as ranking_auc — AUC = U/(n_a*n_b) is the same
    statistic normalized). The normal approximation applies the exact
    tie correction: var_U = (n_a*n_b/12) * ((n+1) - T/(n*(n-1))) with
    T = sum_v (t_v^3 - t_v), t_v the tied count at value v — T stays an
    exact BIGINT (int64 headroom: t_v <= ~2.09e6 per distinct value; at
    corpus scale beyond that, pre-bucket values or shard T like the
    assortativity sums). z = (u2 - n_a*n_b) / (2*sqrt(var_U)) is a fixed
    left-associative expression over exact integers, quantized once to
    z_micros; reject_95 is |z| > 1.96.

    Scale shape: ONE map-side-combinable collapse to distinct values;
    cumsum + both reductions on that bounded frame. ANSI-safe: empty
    side or n < 2 -> NULL z via try_divide, never a division error.
    """
    per_v = df.groupBy(value.alias("v")).agg(
        F.sum(in_a.cast("long")).alias("ca"),
        F.sum(in_b.cast("long")).alias("cb"),
    )
    below = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_v.select(
        "v",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(below), F.lit(0)).alias("cumb"),
    )
    t = F.col("ca") + F.col("cb")
    tot = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * (2 * F.col("cumb") + F.col("cb"))).cast("long").alias("u2"),
        F.sum(t * t * t - t).cast("long").alias("tie_term"),
    )
    n = F.col("n_a") + F.col("n_b")
    nab = F.col("n_a").cast("double") * F.col("n_b")
    var_u = (
        nab
        / 12.0
        * (
            (n + 1).cast("double")
            - F.try_divide(F.col("tie_term").cast("double"), (n * (n - 1)).cast("double"))
        )
    )
    z = F.try_divide(
        (F.col("u2") - F.col("n_a") * F.col("n_b")).cast("double"),
        2.0 * F.sqrt(var_u),
    )
    return tot.select(
        "n_a",
        "n_b",
        "u2",
        "tie_term",
        F.round(z * 1_000_000).cast("bigint").alias("z_micros"),
        # coalesce: undefined z (empty side / zero variance) -> no rejection,
        # and the output column stays non-null (nullable-boolean hash gotcha)
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("reject_95"),
    )


def kendall_tau_b(df: DataFrame, x: Column, y: Column) -> DataFrame:
    """Tie-corrected Kendall rank correlation (tau-b) between two
    integer-valued columns — the concordance companion to
    spearman_rank_corr: Spearman correlates the RANKS linearly (sensitive
    to the size of rank gaps), tau-b asks only "of all pairs, how many
    agree in direction?", which is the statistic behind ordinal
    association audits and rank-stability checks between two scoring
    runs. Continuous columns must be quantized upstream (same contract
    as ks_two_sample / ranking_auc).

    Exactness: ONE map-side-combinable collapse to the |X| x |Y|
    contingency cells; concordant/discordant pair MASSES are exact
    BIGINTs summed over cell pairs (n1*n2 per ordered cell pair), and
    the tie terms stay doubled so everything is integer: with
    n02 = n(n-1), tr2 = sum_x r_x(r_x - 1), tc2 = sum_y c_y(c_y - 1),
    tau_b = 2*(C - D) / sqrt((n02 - tr2) * (n02 - tc2)) — one fixed
    left-associative float expression over exact integers, quantized
    once to micros (int64 headroom: n02 exact while n <= ~3e9; beyond
    that, pre-aggregate to coarser value buckets).

    Scale shape: after the first collapse every stage runs on the
    domain-bounded cell frame. The cell-pair enumeration is a
    broadcast non-equi self-join of that frame with itself
    (|cells|^2 <= (|X|*|Y|)^2 pairs, data-size independent) — the ONE
    deliberate BroadcastNestedLoop in this operator, justified exactly
    like cramers_v's marginal broadcasts: the frame is bounded by the
    value DOMAINS, never by the row count. ANSI-safe: a constant column
    (zero tie-free pairs) yields NULL tau via try_divide.
    """
    cells = df.groupBy(x.alias("xv"), y.alias("yv")).agg(
        F.count("*").cast("long").alias("nij")
    )
    left = cells.select(
        F.col("xv").alias("x1"), F.col("yv").alias("y1"), F.col("nij").alias("n1")
    )
    right = cells.select(
        F.col("xv").alias("x2"), F.col("yv").alias("y2"), F.col("nij").alias("n2")
    )
    # non-equi join on x1 < x2: every unordered cell pair exactly once
    pairs = left.join(F.broadcast(right), F.col("x1") < F.col("x2"))
    cd = pairs.agg(
        F.coalesce(
            F.sum(F.when(F.col("y1") < F.col("y2"), F.col("n1") * F.col("n2"))),
            F.lit(0),
        )
        .cast("long")
        .alias("conc"),
        F.coalesce(
            F.sum(F.when(F.col("y1") > F.col("y2"), F.col("n1") * F.col("n2"))),
            F.lit(0),
        )
        .cast("long")
        .alias("disc"),
    )
    tr2 = (
        cells.groupBy("xv")
        .agg(F.sum("nij").alias("r"))
        .agg(F.sum(F.col("r") * (F.col("r") - 1)).cast("long").alias("tr2"))
    )
    tc2 = (
        cells.groupBy("yv")
        .agg(F.sum("nij").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("tc2"))
    )
    tot = cells.agg(
        F.sum("nij").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_cells"),
    )
    j = (
        cd.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tr2))
        .crossJoin(F.broadcast(tc2))
    )
    n02 = (F.col("n") * (F.col("n") - 1)).cast("double")
    tau = F.try_divide(
        2.0 * (F.col("conc") - F.col("disc")).cast("double"),
        F.sqrt((n02 - F.col("tr2")) * (n02 - F.col("tc2"))),
    )
    return j.select(
        "n",
        "n_cells",
        "conc",
        "disc",
        "tr2",
        "tc2",
        F.round(tau * 1_000_000).cast("bigint").alias("tau_b_micros"),
    )


def brown_forsythe(df: DataFrame, group: Column, value: Column) -> DataFrame:
    """Brown-Forsythe test for equality of spread across groups — the
    robust Levene variant (deviations from the group MEDIAN, not the
    mean) that a data-quality gate runs before trusting a pooled-variance
    test: Welch/MW/KS compare locations and shapes; this asks "do the
    groups even have comparable dispersion?" without being wrecked by
    the heavy tails that motivate the question. Integer-valued column
    contract (quantize continuous values upstream).

    Construction, all integer until the final F: group medians come from
    the same sort-free exact-order-statistic collapse as
    conformal_mondrian_calibrate (one row per (group, DISTINCT value),
    rank cumsum per group on that bounded frame), kept DOUBLED
    (med2 = m_lo + m_hi) so half-medians stay integer; each row's
    deviation z = |2v - med2_g| is an exact BIGINT; the one-way ANOVA on
    z needs only per-group (n_g, S_g = sum z, Q_g = sum z^2). Each
    group's S_g^2/n_g is quantized ONCE to a milli BIGINT so the
    across-group sums are exact-integer and reduction-order-immune:
    ssb_milli = sum_g t_g - round(1000*S^2/N),
    ssw_milli = 1000*sum_g Q_g - sum_g t_g,
    F = (ssb/(k-1)) / (ssw/(N-k)) — one fixed expression, quantized to
    micros. ANSI-safe: k < 2 or zero within-group spread -> NULL F via
    try_divide.

    Scale shape: one collapse to (group, value) cells; medians on the
    bounded cell frame; one broadcast of the k-row median table back
    onto the raw rows for a single map-side-combinable moment pass.
    """
    base = df.select(group.alias("g"), value.cast("long").alias("v"))
    per_v = base.groupBy("g", "v").agg(F.count("*").alias("c"))
    cum = Window.partitionBy("g").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = per_v.select("g", "v", F.sum("c").over(cum).alias("cum"))
    # group sizes summed from per_v, not max over the cumsum frame (same
    # values, no second execution of the window subtree)
    tot = per_v.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    lo = F.floor((F.col("n_g") + 1) / 2).cast("long")
    hi = F.ceil((F.col("n_g") + 1) / 2).cast("long")
    ranked = ecdf.join(F.broadcast(tot), "g").withColumn("lo", lo).withColumn("hi", hi)
    med = (
        ranked.groupBy("g")
        .agg(
            F.min(F.when(F.col("cum") >= F.col("lo"), F.col("v"))).alias("m_lo"),
            F.min(F.when(F.col("cum") >= F.col("hi"), F.col("v"))).alias("m_hi"),
        )
        .select("g", (F.col("m_lo") + F.col("m_hi")).cast("long").alias("med2"))
    )
    z = F.abs(2 * F.col("v") - F.col("med2"))
    moments = (
        base.join(F.broadcast(med), "g")
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            F.sum(z).cast("long").alias("s_g"),
            F.sum(z * z).cast("long").alias("q_g"),
        )
        .withColumn(
            "t_g",
            F.round(
                F.lit(1000.0) * F.col("s_g").cast("double") * F.col("s_g")
                / F.col("n_g")
            ).cast("long"),
        )
    )
    agg = moments.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum("s_g").cast("long").alias("s_all"),
        F.sum("q_g").cast("long").alias("q_all"),
        F.sum("t_g").cast("long").alias("t_all"),
    )
    ssb_milli = (
        F.col("t_all")
        - F.round(
            F.lit(1000.0) * F.col("s_all").cast("double") * F.col("s_all")
            / F.col("n_total")
        ).cast("long")
    )
    ssw_milli = F.lit(1000) * F.col("q_all") - F.col("t_all")
    f = F.try_divide(
        F.try_divide(ssb_milli.cast("double"), (F.col("k") - 1).cast("double")),
        F.try_divide(
            ssw_milli.cast("double"), (F.col("n_total") - F.col("k")).cast("double")
        ),
    )
    return agg.select(
        "k",
        "n_total",
        ssb_milli.alias("ssb_milli"),
        ssw_milli.alias("ssw_milli"),
        F.round(f * 1_000_000).cast("bigint").alias("f_micros"),
    )


def two_proportion_z(
    df: DataFrame, in_a: Column, in_b: Column, success: Column
) -> DataFrame:
    """Two-proportion pooled z-test — the conversion-rate / pass-rate A/B
    gate completing the two-sample suite: Welch compares means, KS whole
    distributions, Mann-Whitney ranks, and this compares BINARY outcome
    rates, the single most common production comparison (did the error
    rate move between populations?).

    Exactness: the four counts (n_a, x_a, n_b, x_b) come from ONE
    map-side-combinable pass; the rate difference is carried
    cross-multiplied as diff_num = x_a*n_b - x_b*n_a (exact BIGINT;
    int64 headroom while n_a*n_b <= ~9e18 — beyond that pre-aggregate
    per shard and sum the counts, they are plain additive integers).
    z = (diff_num / (n_a*n_b)) / sqrt(p*(1-p)*(1/n_a + 1/n_b)) with the
    pooled p = (x_a+x_b)/(n_a+n_b) is one fixed left-associative float
    expression over the exact integers, quantized once to micros.
    ANSI-safe: an empty side or a degenerate pooled rate (p in {0,1})
    yields NULL z via try_divide, reject_95 coalesces to false.
    """
    t = df.agg(
        F.coalesce(F.sum(in_a.cast("long")), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum((in_a & success).cast("long")), F.lit(0))
        .cast("long")
        .alias("x_a"),
        F.coalesce(F.sum(in_b.cast("long")), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum((in_b & success).cast("long")), F.lit(0))
        .cast("long")
        .alias("x_b"),
    )
    diff_num = (F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")).cast("long")
    p = F.try_divide(
        (F.col("x_a") + F.col("x_b")).cast("double"),
        (F.col("n_a") + F.col("n_b")).cast("double"),
    )
    se = F.sqrt(
        p
        * (1.0 - p)
        * (
            F.try_divide(F.lit(1.0), F.col("n_a").cast("double"))
            + F.try_divide(F.lit(1.0), F.col("n_b").cast("double"))
        )
    )
    z = F.try_divide(
        F.try_divide(
            diff_num.cast("double"), (F.col("n_a") * F.col("n_b")).cast("double")
        ),
        se,
    )
    return t.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        diff_num.alias("diff_num"),
        F.round(z * 1_000_000).cast("bigint").alias("z_micros"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("reject_95"),
    )


def kruskal_wallis(df: DataFrame, group: Column, value: Column) -> DataFrame:
    """Tie-corrected Kruskal-Wallis H test — the k-sample generalization
    of mann_whitney_u: "do any of the k groups differ in location?"
    asked on RANKS, so it survives the heavy tails and outliers that
    wreck a raw-value ANOVA. The one-way screen a DQ gate runs across
    sources/tenants/shards before trusting pairwise drill-downs.
    Integer-valued column contract (quantize continuous values
    upstream, same as mann_whitney_u / ks_two_sample).

    Construction uses the ANOVA-on-midranks identity, which IS the
    tie-corrected H: H = (N-1) * SSB_ranks / SST_ranks on midranks.
    Ranks stay DOUBLED so they are exact integers (doubled midrank of
    value v = 2*cum(v) - c_v + 1, mean doubled rank = N+1 exactly), and
    everything data-sized is collapsed first: one map-side-combinable
    groupBy to (group, value) cells, value marginals + the rank cumsum
    on the |V|-bounded value frame, then per-group D2_g =
    sum c_gv * (r2(v) - (N+1)) — an exact BIGINT because the centered
    doubled ranks are exact integers summing to zero. SSB2 =
    sum_g D2_g^2/n_g and SST2 = sum_v c_v * d2(v)^2 are double sums of
    exact-integer terms (they overflow int64 around N ~ 2e6, so the
    float sum is deliberate; the ~1e-13 relative error sits nine orders
    inside the 1e-6 quantization — the acf_hourly / kaplan_meier
    precedent). H is quantized once to micros. ANSI-safe: a constant
    value column (SST2 = 0) yields NULL via try_divide.

    Scale shape: one collapse to (group, value) cells; the rank window
    runs on the distinct-value axis (domain cardinality); the group
    frame is k rows. Nothing after the first aggregate is data-sized.
    reject_95 uses the chi-square(k-1) 95% critical value for k <= 8
    (the bounded-group contract), NULL beyond.
    """
    cells = df.groupBy(group.alias("g"), value.alias("v")).agg(
        F.count("*").cast("long").alias("c")
    )
    per_v = cells.groupBy("v").agg(F.sum("c").cast("long").alias("cv"))
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ranked = per_v.withColumn("cum", F.sum("cv").over(w_cum)).withColumn(
        "r2", 2 * F.col("cum") - F.col("cv") + 1
    )
    # N == max(cum) summed from per_v so the broadcast build skips the
    # single-partition rank window re-execution
    tot = per_v.agg(F.sum("cv").cast("long").alias("n"))
    # centered doubled rank: d2 = r2 - (N+1), exact integer, sums to 0
    rv = ranked.crossJoin(F.broadcast(tot)).select(
        "v", "cv", "n", (F.col("r2") - (F.col("n") + 1)).alias("d2")
    )
    sst2 = rv.groupBy("n").agg(
        F.sum(F.col("cv").cast("double") * F.col("d2") * F.col("d2")).alias("sst2")
    )
    per_g = (
        cells.join(F.broadcast(rv.select("v", "d2")), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("d2")).cast("long").alias("d2_g"),
        )
    )
    ssb2 = per_g.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(
            F.col("d2_g").cast("double")
            * F.col("d2_g")
            / F.col("n_g").cast("double")
        ).alias("ssb2"),
    )
    j = ssb2.crossJoin(F.broadcast(sst2))
    h = F.try_divide((F.col("n") - 1).cast("double") * F.col("ssb2"), F.col("sst2"))
    # chi2 95% critical values for df = k-1, k in 2..8 (bounded-group contract)
    crit = (
        F.when(F.col("k") == 2, 3.841)
        .when(F.col("k") == 3, 5.991)
        .when(F.col("k") == 4, 7.815)
        .when(F.col("k") == 5, 9.488)
        .when(F.col("k") == 6, 11.070)
        .when(F.col("k") == 7, 12.592)
        .when(F.col("k") == 8, 14.067)
    )
    return j.select(
        "k",
        F.col("n").alias("n_total"),
        F.round(h * 1_000_000).cast("bigint").alias("h_micros"),
        # coalesce: NULL H (constant column) or k > 8 must not emit a
        # nullable boolean (hash-mismatch gotcha), and "can't reject" is
        # the honest answer in both cases
        F.coalesce(h > crit, F.lit(False)).alias("reject_95"),
    )


def oneway_anova(df: DataFrame, group: Column, value: Column) -> DataFrame:
    """One-way fixed-effects ANOVA F test across k groups of one
    integer-valued column — the raw-value location screen completing
    the k-sample pair with kruskal_wallis (ranks) the same way
    Welch/MW pair up at k=2 — plus eta^2, the effect size
    (between-group share of total variance) that turns "significant"
    into "matters". Small-integer-domain contract: the sum of squares
    Q_g = sum v^2 must fit int64, i.e. max|v| <= ~3e6 at a billion rows
    (quantize to a coarser unit upstream if not — same headroom
    discipline as kendall_tau_b).

    All integer until the final ratios, mirroring brown_forsythe (which
    IS this ANOVA applied to median deviations): per-group moments
    (n_g, S_g, Q_g) from ONE map-side pass; each group's S_g^2/n_g is
    quantized ONCE to a milli BIGINT so the across-group sums are
    exact-integer and reduction-order-immune; ssb_milli =
    sum_g t_g - round(1000*S^2/N), ssw_milli = 1000*sum Q_g - sum t_g;
    F = (ssb/(k-1)) / (ssw/(N-k)) is one fixed float expression
    quantized to micros, and eta2 = ssb/(ssb+ssw) is a ratio of the
    SAME two exact integers. ANSI-safe: k < 2 or zero within-group
    variance -> NULL F via try_divide.

    Scale shape: one map-side-combinable aggregate to k rows; the rest
    is arithmetic on the k-row frame. No window, no second scan.
    """
    m = df.groupBy(group.alias("g")).agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(value).cast("long").alias("s_g"),
        F.sum(value * value).cast("long").alias("q_g"),
    )
    m2 = m.withColumn(
        "t_g",
        F.round(
            F.lit(1000.0) * F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
        ).cast("long"),
    )
    a = m2.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n_total"),
        F.sum("s_g").cast("long").alias("s_all"),
        F.sum("q_g").cast("long").alias("q_all"),
        F.sum("t_g").cast("long").alias("t_all"),
    )
    b = a.select(
        "k",
        "n_total",
        (
            F.col("t_all")
            - F.round(
                F.lit(1000.0)
                * F.col("s_all").cast("double")
                * F.col("s_all")
                / F.col("n_total")
            ).cast("long")
        ).alias("ssb_milli"),
        (1000 * F.col("q_all") - F.col("t_all")).alias("ssw_milli"),
    )
    f = F.try_divide(
        F.try_divide(F.col("ssb_milli").cast("double"), (F.col("k") - 1).cast("double")),
        F.try_divide(
            F.col("ssw_milli").cast("double"), (F.col("n_total") - F.col("k")).cast("double")
        ),
    )
    eta2 = F.try_divide(
        F.col("ssb_milli").cast("double"),
        (F.col("ssb_milli") + F.col("ssw_milli")).cast("double"),
    )
    return b.select(
        "k",
        "n_total",
        "ssb_milli",
        "ssw_milli",
        F.round(f * 1_000_000).cast("bigint").alias("f_micros"),
        F.round(eta2 * 1_000_000).cast("bigint").alias("eta2_micros"),
    )


def nelson_aalen(
    durations: DataFrame,
    duration_col: str,
    observed_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over right-censored
    integer durations — the additive sibling of kaplan_meier: one row
    per distinct OBSERVED death time t with n_at_risk, d_deaths,
    H(t) = sum_{t'<=t} d/n as cumhaz_micros, and the standard variance
    estimate sum d/n^2 as var_micros. Hazard is the quantity a
    churn-model or reliability analysis actually regresses on (it adds
    across causes and strata; survival multiplies), and exp(-H) is the
    textbook upper bound on the KM curve — a cheap cross-estimator
    consistency probe (tested).

    Exactness: identical risk-set construction to kaplan_meier (ONE
    grouped collapse to distinct times, n_at_risk as the suffix running
    sum — never a per-t rescan); each hazard increment d/n is one
    correctly-rounded IEEE division of exact integers, and the running
    sums accumulate in t order inside an ordered window on both engines,
    so the float op sequence is identical (the KM exp(cumsum(ln))
    precedent, without even the transcendental). No division guards
    needed: every emitted row has n_at_risk >= d >= 1 by construction.

    Scale: the raw table collapses to |distinct durations| rows before
    any window; the single unpartitioned cumulative window runs on that
    bounded time axis (time cardinality, not data cardinality).
    """
    per_t = durations.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.when(F.col(observed_col), 1).otherwise(0)).cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("arrivals"),
    )
    w_rest = Window.orderBy("t").rowsBetween(0, Window.unboundedFollowing)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    dn = F.col("d").cast("double") / F.col("n_at_risk").cast("double")
    dn2 = F.col("d").cast("double") / (
        F.col("n_at_risk").cast("double") * F.col("n_at_risk").cast("double")
    )
    curve = (
        per_t.withColumn("n_at_risk", F.sum("arrivals").over(w_rest))
        .withColumn("cumhaz", F.sum(dn).over(w_cum))
        .withColumn("cumvar", F.sum(dn2).over(w_cum))
        .filter(F.col("d") > 0)
    )
    return curve.select(
        F.col("t").cast("bigint").alias("t"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("d_deaths"),
        F.round(F.lit(1_000_000.0) * F.col("cumhaz")).cast("bigint").alias("cumhaz_micros"),
        F.round(F.lit(1_000_000.0) * F.col("cumvar")).cast("bigint").alias("var_micros"),
    )


def ljung_box_hourly(
    events: DataFrame,
    ts_col: str,
    value_cents_col: Column,
    max_lag: int = 6,
) -> DataFrame:
    """Ljung-Box portmanteau test on the hourly-aggregated series:
    Q = n(n+2) * sum_{k=1..h} r_k^2/(n-k) over the acf_hourly
    autocorrelations — the one-number "is there ANY serial structure
    left?" gate run on residuals after detrending/deseasonalizing, or on
    a raw series before treating samples as exchangeable. One row:
    (n_buckets, h_lags, sum_pico, q_micros, reject_95).

    Exactness: built ON the already-quantized acf_micros integers, so
    both engines fold the SAME numbers — each lag's term is
    round(acf_micros^2 / (n-k)) (an exact-integer-derived double, one
    identical division+round per lag, at pico scale since
    acf_micros^2/1e12 = r^2), the cross-lag sum is an exact BIGINT sum,
    and Q = n(n+2) * sum_pico / 1e12 is one fixed float expression
    quantized to micros. Pairless lags (NULL acf from a short or gapped
    axis) contribute 0 by contract, with h staying the DECLARED lag
    count — the conservative reading (absent evidence is not evidence of
    autocorrelation). reject_95 uses the chi-square(h) 95% critical
    value for h <= 8, coalesced to false beyond (bounded-lag contract).

    Scale: inherits acf_hourly's shape — everything after the first
    map-side-combinable collapse runs on the hourly axis; the fold here
    is over h <= 8 rows.
    """
    acf = acf_hourly(events, ts_col, value_cents_col, max_lag=max_lag)
    term = F.coalesce(
        F.round(
            F.try_divide(
                F.col("acf_micros").cast("double") * F.col("acf_micros"),
                (F.col("n_buckets") - F.col("lag")).cast("double"),
            )
        ).cast("long"),
        F.lit(0),
    )
    agg = acf.agg(
        F.max("n_buckets").cast("long").alias("n_buckets"),
        F.count("*").cast("long").alias("h_lags"),
        F.sum(term).cast("long").alias("sum_pico"),
    )
    q = (
        F.col("n_buckets").cast("double")
        * (F.col("n_buckets") + 2).cast("double")
        * F.col("sum_pico").cast("double")
        / F.lit(1e12)
    )
    crit = (
        F.when(F.col("h_lags") == 1, 3.841)
        .when(F.col("h_lags") == 2, 5.991)
        .when(F.col("h_lags") == 3, 7.815)
        .when(F.col("h_lags") == 4, 9.488)
        .when(F.col("h_lags") == 5, 11.070)
        .when(F.col("h_lags") == 6, 12.592)
        .when(F.col("h_lags") == 7, 14.067)
        .when(F.col("h_lags") == 8, 15.507)
    )
    return agg.select(
        "n_buckets",
        "h_lags",
        "sum_pico",
        F.round(q * 1_000_000).cast("bigint").alias("q_micros"),
        F.coalesce(q > crit, F.lit(False)).alias("reject_95"),
    )


def benjamini_hochberg_rates(df: DataFrame, group: Column, success: Column) -> DataFrame:
    """Benjamini-Hochberg FDR-controlled multiple testing over per-stratum
    rate tests: each stratum's success rate is z-tested against its
    COMPLEMENT (the pooled two-proportion z of two_proportion_z, one per
    group), p-values come from the normal tail, and the BH step-up rule
    marks the largest prefix of the p-ordered strata with
    p_(i) <= alpha*i/m as rejected — the correction a fleet-wide drift
    screen MUST apply before paging on "source X moved" when it runs the
    same test across hundreds of sources (at alpha=.05, ~5% of null
    strata fire spuriously without it).

    Determinism contract: the normal tail uses the Abramowitz-Stegun
    7.1.26 polynomial (max abs error 7.5e-8, far above the decision
    granularity that matters here) written as the SAME Horner expression
    on both engines; p is quantized to micros BEFORE ranking, so the BH
    ordering (p_micros, group) and the step-up comparison
    p_micros * m <= 50000 * i are pure integer decisions — no
    float enters the reject/rank path. Degenerate strata (complement
    empty, zero pooled variance) get p = 1 (never rejected), not NULL.

    Scale shape: ONE map-side collapse to (group: n_g, x_g); totals are
    a 1-row broadcast; the rank window runs over the m-row stratum frame
    (stratum cardinality, not data cardinality). Int64 headroom:
    x_g * N exact while N <= ~3e9 (pre-aggregate coarser strata beyond).
    """
    m0 = df.groupBy(group.alias("g")).agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(success.cast("long")).cast("long").alias("x_g"),
    )
    tot = m0.agg(
        F.sum("n_g").cast("long").alias("n_tot"),
        F.sum("x_g").cast("long").alias("x_tot"),
        F.count("*").cast("long").alias("m"),
    )
    j = m0.crossJoin(F.broadcast(tot))
    n2 = F.col("n_tot") - F.col("n_g")
    x2 = F.col("x_tot") - F.col("x_g")
    diff_num = F.col("x_g") * n2 - x2 * F.col("n_g")
    p_pool = F.col("x_tot").cast("double") / F.col("n_tot").cast("double")
    se = F.sqrt(
        p_pool
        * (1.0 - p_pool)
        * (
            F.try_divide(F.lit(1.0), F.col("n_g").cast("double"))
            + F.try_divide(F.lit(1.0), n2.cast("double"))
        )
    )
    z = F.try_divide(
        F.try_divide(diff_num.cast("double"), (F.col("n_g") * n2).cast("double")), se
    )
    az = F.abs(z)
    # Abramowitz-Stegun 7.1.26 in Horner form — byte-identical in the oracle
    t = 1.0 / (F.lit(1.0) + F.lit(0.2316419) * az)
    tail = (
        F.exp(-(az * az) / F.lit(2.0))
        * F.lit(0.3989422804014327)
        * (
            t
            * (
                F.lit(0.319381530)
                + t
                * (
                    F.lit(-0.356563782)
                    + t
                    * (
                        F.lit(1.781477937)
                        + t * (F.lit(-1.821255978) + t * F.lit(1.330274429))
                    )
                )
            )
        )
    )
    p_micros = F.coalesce(
        F.least(F.round(F.lit(2_000_000.0) * tail), F.lit(1_000_000.0)).cast("long"),
        F.lit(1_000_000),
    )
    scored = j.select(
        "g",
        "n_g",
        "x_g",
        "m",
        F.round(z * 1_000_000).cast("bigint").alias("z_micros"),
        p_micros.alias("p_micros"),
    )
    w_rank = Window.orderBy("p_micros", "g")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = scored.withColumn("bh_rank", F.row_number().over(w_rank).cast("long"))
    passes = F.col("p_micros") * F.col("m") <= F.lit(50_000) * F.col("bh_rank")
    ranked = ranked.withColumn(
        "i_max", F.max(F.when(passes, F.col("bh_rank")).otherwise(0)).over(w_all)
    )
    return ranked.select(
        F.col("g").alias("group_key"),
        "n_g",
        "x_g",
        "z_micros",
        "p_micros",
        "bh_rank",
        F.coalesce(F.col("bh_rank") <= F.col("i_max"), F.lit(False)).alias("bh_reject"),
    )


def brier_decomposition(df: DataFrame, forecast_pct: Column, outcome: Column) -> DataFrame:
    """Murphy decomposition of the Brier score for a probabilistic
    classifier with integer-percent forecasts:
    brier = reliability - resolution + uncertainty, where reliability
    ("when it says 80%, is it right 80% of the time?") is what
    classifier_calibration_bins eyeballs, resolution is how much the
    forecast actually separates outcomes, and uncertainty is the
    irreducible base-rate variance. The decomposition turns one loss
    number into the which-part-is-broken diagnostic a model gate needs:
    a high Brier from low resolution wants a better model; from high
    reliability it wants recalibration (a monotone map fixes it for
    free). Bins are the DISTINCT forecast values — the classical
    decomposition's exact setting, no binning error term.

    Exactness: per-bin (n_b, X_b) are exact integers from ONE map-side
    collapse; reliability terms (n_b*f_b - 100*X_b)^2/(1e4*n_b) and
    resolution terms (X_b*N - X*n_b)^2/(n_b*N^2) are each ONE fixed
    float expression over exact integers quantized ONCE to milli
    BIGINTs (they overflow int64 past ~3e9 rows if kept integer), so
    the cross-bin sums are reduction-order-immune; uncertainty
    X(N-X)/N^2 is a single expression; and the DIRECT Brier
    sum(f_i - 100*y_i)^2 / (1e4*N) is kept as an exact BIGINT sum —
    the identity |brier - (rel - res + unc)| <= quantization slack is
    pytest-checked, a free end-to-end self-audit.

    Scale shape: one collapse to the <=101-row forecast-value frame,
    a 1-row totals broadcast, arithmetic on the bin frame. The direct
    Brier rides the same first pass.
    """
    base = df.select(forecast_pct.cast("long").alias("f"), outcome.cast("long").alias("y"))
    bins = base.groupBy("f").agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("x_b"),
        F.sum((F.col("f") - 100 * F.col("y")) * (F.col("f") - 100 * F.col("y")))
        .cast("long")
        .alias("sq_b"),
    )
    tot = bins.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("x_b").cast("long").alias("x"),
        F.sum("sq_b").cast("long").alias("sq"),
        F.count("*").cast("long").alias("n_bins"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    rel_num = (F.col("n_b") * F.col("f") - 100 * F.col("x_b")).cast("double")
    t_rel = F.round(
        F.lit(1000.0) * rel_num * rel_num / (F.lit(10_000.0) * F.col("n_b"))
    ).cast("long")
    res_num = (F.col("x_b") * F.col("n") - F.col("x") * F.col("n_b")).cast("double")
    t_res = F.round(
        F.lit(1000.0)
        * res_num
        * res_num
        / (F.col("n_b").cast("double") * F.col("n") * F.col("n"))
    ).cast("long")
    s = j.groupBy("n", "x", "sq", "n_bins").agg(
        F.sum(t_rel).cast("long").alias("rel_milli"),
        F.sum(t_res).cast("long").alias("res_milli"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_total"),
        "n_bins",
        F.round(F.lit(1000.0) * F.col("rel_milli") / n_d).cast("bigint").alias("reliability_micros"),
        F.round(F.lit(1000.0) * F.col("res_milli") / n_d).cast("bigint").alias("resolution_micros"),
        F.round(
            F.lit(1_000_000.0) * F.col("x") * (F.col("n") - F.col("x")) / (n_d * n_d)
        ).cast("bigint").alias("uncertainty_micros"),
        F.round(F.lit(100.0) * F.col("sq") / n_d).cast("bigint").alias("brier_micros"),
    )


def _two_sample_moments(df: DataFrame, value: Column, in_a: Column, in_b: Column):
    """ONE map-side pass to exact per-side integer moments (n, S, Q) plus
    the milli-quantized corrected sums of squares v = 1000*Q -
    round(1000*S^2/n) = 1000*(n-1)*s^2 — the shared substrate of
    effect_sizes / tost_equivalence (and the same quantization discipline
    as oneway_anova/brown_forsythe)."""
    t = df.agg(
        F.sum(in_a.cast("long")).cast("long").alias("n_a"),
        F.sum(F.when(in_a, value).otherwise(0)).cast("long").alias("s_a"),
        F.sum(F.when(in_a, value * value).otherwise(0)).cast("long").alias("q_a"),
        F.sum(in_b.cast("long")).cast("long").alias("n_b"),
        F.sum(F.when(in_b, value).otherwise(0)).cast("long").alias("s_b"),
        F.sum(F.when(in_b, value * value).otherwise(0)).cast("long").alias("q_b"),
    )
    v_of = lambda s, q, n: (  # noqa: E731
        1000 * F.col(q)
        - F.round(
            F.lit(1000.0) * F.col(s).cast("double") * F.col(s) / F.col(n)
        ).cast("long")
    )
    return t.withColumn("v_a_milli", v_of("s_a", "q_a", "n_a")).withColumn(
        "v_b_milli", v_of("s_b", "q_b", "n_b")
    )


def effect_sizes(df: DataFrame, value: Column, in_a: Column, in_b: Column) -> DataFrame:
    """Standardized effect sizes for the two-sample location comparison:
    Cohen's d (pooled SD), Hedges' g (d times the small-sample bias
    correction J = 1 - 3/(4N-9)), and Glass's delta (control-side SD,
    the right scale when the treatment also changes spread) — the
    magnitude companion the significance tests (Welch/MW/z) deliberately
    don't answer: at fleet scale EVERYTHING is significant, and gating
    decisions need "how big", in units a threshold can hold across
    re-runs. Integer-valued column contract.

    All integer until the final ratios: per-side moments from ONE
    map-side pass; corrected sums of squares milli-quantized once
    (v = 1000*(n-1)*s^2 exactly, same discipline as oneway_anova); the
    mean difference rides cross-multiplied as an exact BIGINT
    (S_a*n_b - S_b*n_a). d, g, delta are fixed float expressions over
    those integers, quantized to micros. ANSI-safe: any side with n < 2
    (or zero variance for delta) yields NULLs via try_divide, never an
    error. Scale: one aggregate, then arithmetic on one row.
    """
    m = _two_sample_moments(df, value, in_a, in_b)
    diff = F.try_divide(
        (F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a")).cast("double"),
        (F.col("n_a") * F.col("n_b")).cast("double"),
    )
    s_pool = F.sqrt(
        F.try_divide(
            (F.col("v_a_milli") + F.col("v_b_milli")).cast("double"),
            F.lit(1000.0) * (F.col("n_a") + F.col("n_b") - 2),
        )
    )
    s_ctrl = F.sqrt(
        F.try_divide(
            F.col("v_b_milli").cast("double"), F.lit(1000.0) * (F.col("n_b") - 1)
        )
    )
    d = F.try_divide(diff, s_pool)
    jcorr = F.lit(1.0) - F.try_divide(
        F.lit(3.0), (4 * (F.col("n_a") + F.col("n_b")) - 9).cast("double")
    )
    gate = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return m.select(
        "n_a",
        "n_b",
        F.round(diff * 1_000_000).cast("bigint").alias("mean_diff_micros"),
        F.when(gate, F.round(d * 1_000_000)).cast("bigint").alias("cohens_d_micros"),
        F.when(gate, F.round(d * jcorr * 1_000_000)).cast("bigint").alias("hedges_g_micros"),
        F.when(gate, F.round(F.try_divide(diff, s_ctrl) * 1_000_000))
        .cast("bigint")
        .alias("glass_delta_micros"),
    )


def tost_equivalence(
    df: DataFrame, value: Column, in_a: Column, in_b: Column, margin_milli: int
) -> DataFrame:
    """Two one-sided tests (TOST) for EQUIVALENCE within +-margin — the
    inversion a "safe to ship" gate actually needs: a non-significant
    Welch test is absence of evidence, TOST is evidence of absence
    (|mean_a - mean_b| < margin at 95% confidence when BOTH one-sided
    large-sample z statistics clear 1.645). The standard A/B guardrail
    for "the cheap variant is no worse than delta".

    Same one-pass integer-moment substrate as effect_sizes; the Welch
    standard error sqrt(s_a^2/n_a + s_b^2/n_b) and both z's are fixed
    float expressions over milli-quantized exact integers, quantized to
    micros. margin is taken in MILLI value units so callers pass exact
    integers. ANSI-safe: n < 2 on either side -> NULL z's and
    equivalent = false (can't demonstrate equivalence without spread).
    """
    m = _two_sample_moments(df, value, in_a, in_b)
    diff = F.try_divide(
        (F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a")).cast("double"),
        (F.col("n_a") * F.col("n_b")).cast("double"),
    )
    var_a = F.try_divide(
        F.col("v_a_milli").cast("double"), F.lit(1000.0) * (F.col("n_a") - 1)
    )
    var_b = F.try_divide(
        F.col("v_b_milli").cast("double"), F.lit(1000.0) * (F.col("n_b") - 1)
    )
    se = F.sqrt(
        F.try_divide(var_a, F.col("n_a").cast("double"))
        + F.try_divide(var_b, F.col("n_b").cast("double"))
    )
    delta = F.lit(margin_milli / 1000.0)
    t_lower = F.try_divide(diff + delta, se)
    t_upper = F.try_divide(delta - diff, se)
    gate = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    eq = gate & (t_lower > 1.645) & (t_upper > 1.645)
    return m.select(
        "n_a",
        "n_b",
        F.round(diff * 1_000_000).cast("bigint").alias("mean_diff_micros"),
        F.when(gate, F.round(t_lower * 1_000_000)).cast("bigint").alias("t_lower_micros"),
        F.when(gate, F.round(t_upper * 1_000_000)).cast("bigint").alias("t_upper_micros"),
        F.coalesce(eq, F.lit(False)).alias("equivalent_95"),
    )


def weighted_quantiles_by(
    df: DataFrame,
    group: Column,
    value: Column,
    weight: Column,
    qs: tuple[tuple[int, int], ...] = ((1, 4), (2, 4), (3, 4), (9, 10)),
) -> DataFrame:
    """Weight-exact type-1 quantiles of an integer column per group —
    the curation cut a token-budgeted pipeline actually needs: "the
    p90 document length BY TOKEN MASS per source" (where to truncate so
    at most 10% of TOKENS are affected) is a weighted quantile, and the
    unweighted percentile over documents mis-states it whenever length
    and token density correlate (they always do). Quantiles are given
    as exact rationals (q_num, q_den); the answer for q is the SMALLEST
    value v with cum_weight(v) * q_den >= q_num * total_weight — pure
    BIGINT comparisons, zero float anywhere, so any engine reproduces
    the rows bit-exactly (ties and duplicate values included).

    Output: one row per (group, quantile): (group_key, q_num, q_den,
    q_value, total_weight).

    Scale shape: ONE map-side-combinable groupBy collapses the data to
    the (group, DISTINCT value) frame; the cumulative-weight window
    partitions BY GROUP over that collapsed frame (strata parallelize;
    no global sort); the |groups|-row totals broadcast back, the
    |qs|-row quantile frame is a literal broadcast, and the final
    min-per-(group, q) reduction is map-side combinable. At 100 TB the
    only data-scale stage is the first collapse.
    """
    spark = df.sparkSession
    pv = df.groupBy(group.alias("g"), value.alias("v")).agg(
        F.sum(weight.cast("long")).alias("w")
    )
    cum = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = pv.select("g", "v", F.sum("w").over(cum).alias("cw"))
    tot = pv.groupBy("g").agg(F.sum("w").alias("tw"))
    qf = spark.createDataFrame(list(qs), "q_num long, q_den long")
    return (
        c.join(F.broadcast(tot), "g")
        .crossJoin(F.broadcast(qf))
        .filter(F.col("cw") * F.col("q_den") >= F.col("q_num") * F.col("tw"))
        .groupBy(
            F.col("g").alias("group_key"), "q_num", "q_den", F.col("tw").alias("total_weight")
        )
        .agg(F.min("v").alias("q_value"))
        .select("group_key", "q_num", "q_den", "q_value", "total_weight")
    )


def hill_tail_index(df: DataFrame, value: Column, k: int = 64) -> DataFrame:
    """Hill estimator of the power-law tail exponent from the top-(k+1)
    order statistics — the extreme-value companion to corpus_zipf_fit's
    frequency-domain fit: alpha_hat = k / sum_{i<=k} ln(x_(i)/x_(k+1)),
    for P(X > x) ~ x^-alpha. The number a curation pipeline consumes
    when sizing truncation/outlier budgets for doc length, degree, or
    per-user volume: alpha <= 2 means infinite variance — means and
    uniform-sample reservoirs stop being representative and the
    pipeline must switch to weighted/top-k accounting.

    Exactness: the top-(k+1) VALUE multiset is a deterministic order
    statistic (ties included — which physical rows carry tied values
    never changes the multiset); each log-ratio quantizes once to
    millinats — round(1000*ln(x/x_(k+1))), the PSI convention — so the
    sum is an exact BIGINT (the x_(k+1) copy contributes ln(1) = 0
    exactly, which is why summing all k+1 rows needs no exclusion),
    and alpha_milli = round(1e6*k_eff/S) is one identical double
    division. k_eff = (tail rows present) - 1: an input smaller than
    k+1 rows reports ITS OWN tail size instead of inflating alpha with
    phantom order statistics. try_divide: a degenerate tail (all
    values equal -> S = 0) yields NULL, not an ANSI error.

    Scale shape: ONE TakeOrdered(k+1) scan (per-partition top-k+1
    partials, no global sort); everything after runs on a (k+1)-row
    frame with a 1-row broadcast of the threshold.
    """
    top = (
        df.select(value.cast("long").alias("x"))
        .filter(F.col("x") > 0)
        .orderBy(F.col("x").desc())
        .limit(k + 1)
    )
    xk1 = top.agg(F.min("x").alias("xk1"))
    lnq = F.round(
        F.lit(1000.0)
        * F.log(F.col("x").cast("double") / F.col("xk1").cast("double"))
    ).cast("long")
    s = (
        top.crossJoin(F.broadcast(xk1))
        .agg(
            F.sum(lnq).alias("s_ln"),
            F.min("xk1").alias("x_tail"),
            F.count(F.lit(1)).alias("m"),
        )
    )
    # Effective k = (tail frame size) - 1, NOT the requested k: an input
    # smaller than k+1 rows must not inflate alpha with phantom order
    # statistics (self-review r8; the sf0.001 smoke corpus has 50 docs
    # against the default k=64).
    k_eff = F.col("m") - F.lit(1)
    return s.select(
        k_eff.cast("bigint").alias("k"),
        F.col("x_tail").cast("bigint").alias("x_tail"),
        F.col("s_ln").cast("bigint").alias("sum_ln_millinats"),
        F.round(
            F.try_divide(
                F.lit(1_000_000.0) * k_eff.cast("double"),
                F.col("s_ln").cast("double"),
            )
        )
        .cast("bigint")
        .alias("alpha_milli"),
    )


def fano_burstiness_by(
    df: DataFrame, group: Column, bucket: Column
) -> DataFrame:
    """Fano factor (index of dispersion) of per-bucket arrival counts,
    one row per group — the burstiness audit over an event stream:
    F = Var(c)/Mean(c) over the group's OBSERVED time buckets. F = 1 is
    Poisson arrivals; F >> 1 means bursts (retry storms, batch jobs,
    thundering herds) that capacity planning and rate-limit tuning must
    see; F < 1 means regular/paced traffic. Empty buckets inside gaps
    are intentionally NOT zero-filled (the timeseries_gap_fill contract
    applies upstream when calendar-complete dispersion is wanted) —
    documented, matching the acf/seasonal treatment of gapped axes.

    Exactness: with integer counts, population variance over mean
    cross-multiplies to (n*sum(c^2) - S^2) / (n*S) — numerator and
    denominator are exact BIGINTs (counts << int64 headroom), ONE
    double division + micro-round lands fano_micros identically on
    both engines. try_divide keeps an empty group NULL-safe.

    Scale shape: one map-side-combinable groupBy to (group, bucket)
    counts — the only data-scale stage — then a second combine to the
    |groups| frame. No windows, no sorts.
    """
    per_bucket = df.groupBy(group.alias("g"), bucket.alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_group = per_bucket.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("c").alias("n_events"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    num = (F.col("n_buckets") * F.col("ss") - F.col("n_events") * F.col("n_events")).cast(
        "double"
    )
    den = (F.col("n_buckets") * F.col("n_events")).cast("double")
    fano = F.round(F.lit(1_000_000.0) * F.try_divide(num, den)).cast("long")
    return per_group.select(
        F.col("g").alias("group_key"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("n_events").cast("long").alias("n_events"),
        fano.alias("fano_micros"),
        F.coalesce(fano > F.lit(1_000_000), F.lit(False)).alias("overdispersed"),
    )
