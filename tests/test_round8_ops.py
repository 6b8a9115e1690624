"""Hand-computed unit tests for the round-8 additions."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_average_precision_hand_computed(spark):
    from cartography_spark.operators.textstats import average_precision

    # thresholds desc: s=3 -> term 1e6*1*1/1; s=2 -> 1e6*1*2/3 = 666667;
    # s=1 -> n1=0 term 0. P=2 -> AP = 1.666667/2 = 0.8333335
    df = spark.createDataFrame(
        [(3, True), (2, False), (2, True), (1, False)], "s int, y boolean"
    )
    out = average_precision(df, score_col="s", label_col="y").head()
    assert out.n_pos == 2 and out.n_neg == 2
    assert out.ap_micros_sum == 1_000_000 + 666_667
    assert abs(out.average_precision - 0.8333335) < 1e-9


def test_average_precision_perfect_and_empty(spark):
    from cartography_spark.operators.textstats import average_precision

    # perfectly separated: AP = 1.0 exactly
    df = spark.createDataFrame(
        [(10, True), (9, True), (1, False), (0, False)], "s int, y boolean"
    )
    out = average_precision(df, score_col="s", label_col="y").head()
    assert out.ap_micros_sum == 2_000_000 and out.average_precision == 1.0

    # no positives: AP undefined -> NULL, not a division error (ANSI)
    neg = spark.createDataFrame([(5, False), (4, False)], "s int, y boolean")
    assert average_precision(neg, score_col="s", label_col="y").head().average_precision is None


def test_median_of_means_resists_contamination(spark):
    from cartography_spark.operators.profiling import median_of_means_by

    # 63 clean rows at 100 cents + one 1e9-cent outlier: the mean explodes,
    # MoM stays near 100 (the outlier corrupts only its own bucket)
    rows = [(i, "g", 100) for i in range(63)] + [(63, "g", 1_000_000_000)]
    df = spark.createDataFrame(rows, "id long, g string, c long")
    out = median_of_means_by(
        df, F.col("g"), F.col("id"), F.col("c"), n_buckets=8
    ).head()
    assert out.n_rows == 64
    assert out.mean_micros > 10_000_000_000  # mean dragged past 10k cents
    assert out.mom_micros == 100_000_000  # median bucket mean stays exactly 100 cents


def test_median_of_means_even_bucket_count_averages_middles(spark):
    from cartography_spark.operators.profiling import median_of_means_by

    # force 2 buckets with known means: ids chosen so md5 splits them;
    # rather than pin hashes, use n_buckets=1: MoM == plain mean exactly
    df = spark.createDataFrame(
        [(1, "g", 10), (2, "g", 20), (3, "g", 40)], "id long, g string, c long"
    )
    out = median_of_means_by(df, F.col("g"), F.col("id"), F.col("c"), n_buckets=1).head()
    # single bucket: mean = 70/3 -> milli 23333, mom = 23333*1000 micros
    assert out.n_buckets_eff == 1
    assert out.mom_micros == 23_333_000
    assert out.mean_micros == 23_333_333


def test_mann_whitney_hand_computed(spark):
    from cartography_spark.operators.profiling import mann_whitney_u

    # a = {1, 2}, b = {2, 3, 3}: ranks of a vs b — pairs (a,b): (1<2),(1<3),(1<3),
    # (2=2),(2<3),(2<3) -> U_a = 0*6 wins + 0.5 tie = 0.5 -> u2 = 1
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b"), (3, "b"), (3, "b")], "v int, g string"
    )
    out = mann_whitney_u(
        df, F.col("v"), F.col("g") == "a", F.col("g") == "b"
    ).head()
    assert (out.n_a, out.n_b, out.u2) == (2, 3, 1)
    # tie counts: t(1)=1, t(2)=2, t(3)=2 -> T = (1-1)+(8-2)+(8-2) = 12
    assert out.tie_term == 12
    assert out.reject_95 is False  # tiny n, nowhere near significance


def test_mann_whitney_no_overlap_extreme_z(spark):
    from cartography_spark.operators.profiling import mann_whitney_u

    # a entirely below b, 30 rows each, no ties: u2 = 0, z strongly negative
    rows = [(i, "a") for i in range(30)] + [(100 + i, "b") for i in range(30)]
    df = spark.createDataFrame(rows, "v int, g string")
    out = mann_whitney_u(df, F.col("v"), F.col("g") == "a", F.col("g") == "b").head()
    assert out.u2 == 0 and out.tie_term == 0
    assert out.reject_95 is True and out.z_micros < -6_000_000


def test_mann_whitney_degenerate_single_value_null_z(spark):
    from cartography_spark.operators.profiling import mann_whitney_u

    # every row tied at one value: variance 0 -> z NULL, reject False (ANSI-safe)
    df = spark.createDataFrame([(5, "a"), (5, "a"), (5, "b")], "v int, g string")
    out = mann_whitney_u(df, F.col("v"), F.col("g") == "a", F.col("g") == "b").head()
    assert out.z_micros is None and out.reject_95 is False


def test_weighted_bottomk_merge_and_weight_bias(spark):
    from pyspark.sql import Window

    from cartography_spark.operators.sketches import weighted_sample_keys

    # 200 light rows (w=1) + 200 heavy rows (w=100): the heavy class must
    # dominate a k=40 ES-sample; merged-by-class == direct exactly (the
    # two paths of sampling_weighted_bottomk)
    rows = [(i, "light", 1) for i in range(200)] + [
        (1000 + i, "heavy", 100) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, cls string, w long")
    keyed = weighted_sample_keys(df, F.col("id"), F.col("w"), "t8", extra_cols=("cls",))
    direct = keyed.orderBy("key_micros", "h").limit(40)

    per = (
        keyed.withColumn(
            "rn", F.row_number().over(Window.partitionBy("cls").orderBy("key_micros", "h"))
        )
        .filter(F.col("rn") <= 40)
        .drop("rn", "cls")
    )
    merged = per.orderBy("key_micros", "h").limit(40)
    assert sorted((r.key_micros, r.h) for r in merged.collect()) == sorted(
        (r.key_micros, r.h) for r in direct.collect()
    )
    n_heavy = sum(1 for r in direct.collect() if r.w == 100)
    # E[heavy share] ~ 100/101; even with sampling noise it must dominate
    assert n_heavy >= 35


def test_weighted_bottomk_zero_weight_never_sampled(spark):
    from cartography_spark.operators.sketches import weighted_sample_keys

    df = spark.createDataFrame(
        [(1, 0), (2, -5), (3, 7)], "id long, w long"
    )
    keyed = weighted_sample_keys(df, F.col("id"), F.col("w"), "t8", extra_cols=("id",))
    got = keyed.orderBy("key_micros", "h").limit(10).collect()
    assert [r.id for r in got] == [3]


def test_kendall_tau_b_hand_computed(spark):
    from cartography_spark.operators.profiling import kendall_tau_b

    # cells: (1,1):1 (1,2):1 (2,1):1 (2,2):2 (3,3):1 -> C=7 D=1
    # marginals r=(2,3,1) c=(2,3,1) -> tr2=tc2=8, n02=30
    # tau = 2*6/sqrt(22*22) = 12/22 = 0.5454545...
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2), (2, 2), (3, 3)], "x int, y int"
    )
    out = kendall_tau_b(df, F.col("x"), F.col("y")).head()
    assert out.n == 6 and out.n_cells == 5
    assert out.conc == 7 and out.disc == 1
    assert out.tr2 == 8 and out.tc2 == 8
    assert out.tau_b_micros == round(12.0 / 22.0 * 1_000_000)


def test_kendall_tau_b_degenerate(spark):
    from cartography_spark.operators.profiling import kendall_tau_b

    # constant x: every pair tied on x -> zero tie-free pairs -> NULL tau
    df = spark.createDataFrame([(7, 1), (7, 2), (7, 3)], "x int, y int")
    out = kendall_tau_b(df, F.col("x"), F.col("y")).head()
    assert out.conc == 0 and out.disc == 0
    assert out.tau_b_micros is None

    # perfect agreement, no ties: tau = 1 exactly
    mono = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "x int, y int")
    assert kendall_tau_b(mono, F.col("x"), F.col("y")).head().tau_b_micros == 1_000_000


def test_brown_forsythe_hand_computed(spark):
    from cartography_spark.operators.profiling import brown_forsythe

    # A=[1,3,5]: med2=6, z=(4,0,4), S=8, Q=32, t=round(64000/3)=21333
    # B=[2,2,8]: med2=4, z=(0,0,12), S=12, Q=144, t=48000
    # ssb = 69333 - round(1000*400/6) = 69333-66667 = 2666
    # ssw = 176000 - 69333 = 106667; F = (2666/1)/(106667/4)
    rows = [("A", 1), ("A", 3), ("A", 5), ("B", 2), ("B", 2), ("B", 8)]
    df = spark.createDataFrame(rows, "g string, v int")
    out = brown_forsythe(df, F.col("g"), F.col("v")).head()
    assert out.k == 2 and out.n_total == 6
    assert out.ssb_milli == 2666 and out.ssw_milli == 106667
    assert out.f_micros == round((2666.0 / 1) / (106667.0 / 4) * 1_000_000)


def test_brown_forsythe_even_group_and_degenerate(spark):
    from cartography_spark.operators.profiling import brown_forsythe

    # even-count group: med2 = m_lo + m_hi = 4 + 6 = 10 -> z=(6,2,2,6)
    df = spark.createDataFrame(
        [("A", 2), ("A", 4), ("A", 6), ("A", 8), ("B", 5)], "g string, v int"
    )
    out = brown_forsythe(df, F.col("g"), F.col("v")).head()
    # A: S=16, Q=80, t=round(256000/4)=64000; B: z=0, t=0
    assert out.ssw_milli == 1000 * 80 - 64000
    # single group: k-1 = 0 -> NULL F (ANSI-safe), never a division error
    one = spark.createDataFrame([("A", 1), ("A", 9)], "g string, v int")
    assert brown_forsythe(one, F.col("g"), F.col("v")).head().f_micros is None


def test_two_proportion_z_hand_computed(spark):
    import math

    from cartography_spark.operators.profiling import two_proportion_z

    rows = [("a", 1), ("a", 1), ("a", 0), ("b", 1), ("b", 0), ("b", 0), ("b", 0)]
    df = spark.createDataFrame(rows, "pop string, ok int")
    out = two_proportion_z(
        df, F.col("pop") == "a", F.col("pop") == "b", F.col("ok") == 1
    ).head()
    assert (out.n_a, out.x_a, out.n_b, out.x_b) == (3, 2, 4, 1)
    assert out.diff_num == 2 * 4 - 1 * 3
    p = 3.0 / 7.0
    z = (5.0 / 12.0) / math.sqrt(p * (1.0 - p) * (1.0 / 3.0 + 1.0 / 4.0))
    assert out.z_micros == round(z * 1_000_000)
    assert out.reject_95 is False


def test_two_proportion_z_degenerate(spark):
    from cartography_spark.operators.profiling import two_proportion_z

    # empty B side: NULL z via try_divide, reject coalesces to false
    df = spark.createDataFrame([("a", 1), ("a", 0)], "pop string, ok int")
    out = two_proportion_z(
        df, F.col("pop") == "a", F.col("pop") == "b", F.col("ok") == 1
    ).head()
    assert out.n_b == 0 and out.z_micros is None and out.reject_95 is False

    # degenerate pooled rate p=1 (all successes): se=0 -> NULL z, no error
    allok = spark.createDataFrame([("a", 1), ("b", 1)], "pop string, ok int")
    out2 = two_proportion_z(
        allok, F.col("pop") == "a", F.col("pop") == "b", F.col("ok") == 1
    ).head()
    assert out2.z_micros is None and out2.reject_95 is False


def test_ohlc_bars_endpoints_match_window_recompute(spark, sf_dir):
    """The single-aggregate min_by/max_by endpoints must equal the
    rank-window formulation (the oracle's shape) on real data."""
    from cartography_spark.plans.inventory_analytics import q_events_ohlc_bars
    from cartography_spark.sources.parquet import load_table
    from pyspark.sql import Window

    got = {
        (r.event_type, r.window_start): (r.open_cents, r.close_cents, r.n_events)
        for r in q_events_ohlc_bars(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("ws"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    part = Window.partitionBy("event_type", "ws")
    ranked = ev.withColumn(
        "rn_a", F.row_number().over(part.orderBy("ts", "event_id"))
    ).withColumn(
        "rn_z",
        F.row_number().over(part.orderBy(F.col("ts").desc(), F.col("event_id").desc())),
    )
    want = {
        (r.event_type, r.ws): (r.o, r.cl, r.n)
        for r in ranked.groupBy("event_type", "ws")
        .agg(
            F.min(F.when(F.col("rn_a") == 1, F.col("c"))).alias("o"),
            F.min(F.when(F.col("rn_z") == 1, F.col("c"))).alias("cl"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_ohlc_bars_hand_computed(spark):
    """Tie on ts inside a bar: the event_id tiebreak picks open/close."""
    from pyspark.sql import Row
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        Row(event_id=2, ts=t0, event_type="x", value=5.0),
        Row(event_id=1, ts=t0, event_type="x", value=9.0),  # open: same ts, lower id
        Row(event_id=3, ts=t0.replace(minute=30), event_type="x", value=1.0),
    ]
    df = spark.createDataFrame(rows)
    key = F.struct(F.col("ts"), F.col("event_id"))
    c = F.round(F.col("value") * 100).cast("long")
    out = (
        df.select("ts", "event_id", c.alias("c"))
        .agg(
            F.min_by("c", key).alias("open_cents"),
            F.max_by("c", key).alias("close_cents"),
            F.max("c").alias("high_cents"),
            F.min("c").alias("low_cents"),
        )
        .head()
    )
    assert out.open_cents == 900 and out.close_cents == 100
    assert out.high_cents == 900 and out.low_cents == 100


def test_rfm_segments_mass_conservation(spark, sf_dir):
    from cartography_spark.plans.inventory_analytics import q_events_user_rfm_segments
    from cartography_spark.sources.parquet import load_table

    out = q_events_user_rfm_segments(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    total_cents = ev.agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("s")
    ).head().s
    assert sum(r.n_users for r in out) == n_users
    assert sum(r.sum_monetary_cents for r in out) == total_cents
    for r in out:
        s = r.rfm_segment
        assert 111 <= s <= 444
        assert 1 <= s // 100 <= 4 and 1 <= (s // 10) % 10 <= 4 and 1 <= s % 10 <= 4


def test_kruskal_wallis_hand_computed(spark):
    from cartography_spark.operators.profiling import kruskal_wallis

    # pooled 1,2,2,3,3,3: midranks 1, 2.5, 5 -> doubled 2, 5, 10; N+1=7
    # D2: a=(1,2)->-7, b=(2,3)->1, c=(3,3)->6; SSB2=43, SST2=60
    # H = 5*43/60 = 3.5833...  (cross-checked against the classic
    # tie-corrected form: H0=3.0714, C=6/7, H0/C=3.5833)
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 2), ("b", 3), ("c", 3), ("c", 3)],
        "g string, v long",
    )
    out = kruskal_wallis(df, F.col("g"), F.col("v")).head()
    assert out.k == 3 and out.n_total == 6
    assert out.h_micros == 3583333
    assert out.reject_95 is False


def test_kruskal_wallis_constant_column_null(spark):
    from cartography_spark.operators.profiling import kruskal_wallis

    # constant value: SST2 = 0 -> H NULL via try_divide, not an ANSI error
    df = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 5)], "g string, v long"
    )
    out = kruskal_wallis(df, F.col("g"), F.col("v")).head()
    assert out.h_micros is None


def test_oneway_anova_hand_computed(spark):
    from cartography_spark.operators.profiling import oneway_anova

    # a=(1,2), b=(4,6): SSB=12.25, SSW=2.5, F=(12.25/1)/(2.5/2)=9.8,
    # eta2 = 12250/14750 = 0.8305084...
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 4), ("b", 6)], "g string, v long"
    )
    out = oneway_anova(df, F.col("g"), F.col("v")).head()
    assert out.k == 2 and out.n_total == 4
    assert out.ssb_milli == 12250 and out.ssw_milli == 2500
    assert out.f_micros == 9_800_000
    assert out.eta2_micros == 830508


def test_oneway_anova_degenerate_null(spark):
    from cartography_spark.operators.profiling import oneway_anova

    # single group: k-1 = 0 -> F NULL (eta2 = 0/total = 0)
    one = spark.createDataFrame([("a", 1), ("a", 3)], "g string, v long")
    assert oneway_anova(one, F.col("g"), F.col("v")).head().f_micros is None

    # zero within-group variance: SSW = 0 -> F NULL via try_divide
    const = spark.createDataFrame(
        [("a", 2), ("a", 2), ("b", 7), ("b", 7)], "g string, v long"
    )
    out = oneway_anova(const, F.col("g"), F.col("v")).head()
    assert out.ssw_milli == 0 and out.f_micros is None
    assert out.eta2_micros == 1_000_000


def test_nelson_aalen_hand_computed(spark):
    from cartography_spark.operators.profiling import nelson_aalen

    # t=1: n=4,d=1 -> H=.25, V=1/16; t=2: n=3,d=1 (one censored arrival)
    # -> H=.25+1/3, V+=1/9; t=4: n=1,d=1 -> H+=1, V+=1
    df = spark.createDataFrame(
        [(1, True), (2, True), (2, False), (4, True)], "t long, ev boolean"
    )
    rows = {r.t: r for r in nelson_aalen(df, "t", "ev").collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1].n_at_risk == 4 and rows[1].cumhaz_micros == 250_000
    assert rows[1].var_micros == 62_500
    assert rows[2].n_at_risk == 3 and rows[2].cumhaz_micros == 583_333
    assert rows[2].var_micros == 173_611
    assert rows[4].n_at_risk == 1 and rows[4].cumhaz_micros == 1_583_333
    assert rows[4].var_micros == 1_173_611


def test_nelson_aalen_exp_bounds_km(spark, sf_dir):
    """Cross-estimator invariant: exp(-H_NA(t)) >= S_KM(t) at every death
    time (exp(-d/n) >= 1 - d/n termwise), with equality only as d/n -> 0."""
    import math

    from cartography_spark.plans.inventory_analytics import (
        q_survival_kaplan_meier,
        q_survival_nelson_aalen,
    )

    km = {r.t: r.surv_micros for r in q_survival_kaplan_meier(spark, sf_dir).collect()}
    na = {r.t: r.cumhaz_micros for r in q_survival_nelson_aalen(spark, sf_dir).collect()}
    assert set(km) == set(na) and len(km) > 0
    for t, h in na.items():
        # 2-micro slack: both sides are independently rounded to micros
        assert math.exp(-h / 1e6) * 1e6 >= km[t] - 2


def test_ljung_box_hand_computed(spark):
    from cartography_spark.operators.profiling import ljung_box_hourly
    from datetime import datetime

    # hourly series 1,2,1,2 cents: r1=-0.75, r2=0.5; n=4
    # Q = 24*(0.5625/3 + 0.25/2) = 7.5 -> reject at chi2(2)=5.991
    rows = [
        (datetime(2026, 1, 1, h), v)
        for h, v in [(0, 0.01), (1, 0.02), (2, 0.01), (3, 0.02)]
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = ljung_box_hourly(
        df, "ts", F.round(F.col("value") * 100).cast("bigint"), max_lag=2
    ).head()
    assert out.n_buckets == 4 and out.h_lags == 2
    assert out.sum_pico == 187_500_000_000 + 125_000_000_000
    assert out.q_micros == 7_500_000
    assert out.reject_95 is True


def test_ljung_box_short_series_pairless_lags(spark):
    from cartography_spark.operators.profiling import ljung_box_hourly
    from datetime import datetime

    # 2 buckets, max_lag=4: lags 2..4 have no pairs (and lag 1's r is
    # degenerate but defined); pairless lags contribute 0, h stays 4
    rows = [(datetime(2026, 1, 1, 0), 0.01), (datetime(2026, 1, 1, 1), 0.03)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = ljung_box_hourly(
        df, "ts", F.round(F.col("value") * 100).cast("bigint"), max_lag=4
    ).head()
    assert out.h_lags == 4 and out.n_buckets == 2
    assert out.q_micros is not None  # no ANSI error from the n-k=... guards


def test_bh_fdr_hand_computed(spark):
    from cartography_spark.operators.profiling import benjamini_hochberg_rates

    # a: 80/100 vs pooled .5 -> |z|=6.93, p~0; b: 20/100 symmetric;
    # c,d: 50/100 -> z=0, p=1. BH at alpha=.05, m=4: i_max=2 -> reject {a,b}
    rows = (
        [("a", True)] * 80 + [("a", False)] * 20
        + [("b", True)] * 20 + [("b", False)] * 80
        + [("c", True)] * 50 + [("c", False)] * 50
        + [("d", True)] * 50 + [("d", False)] * 50
    )
    df = spark.createDataFrame(rows, "g string, s boolean")
    out = {r.group_key: r for r in
           benjamini_hochberg_rates(df, F.col("g"), F.col("s")).collect()}
    assert out["a"].p_micros == 0 and out["b"].p_micros == 0
    assert out["c"].p_micros == 1_000_000 and out["d"].p_micros == 1_000_000
    assert out["a"].bh_reject and out["b"].bh_reject
    assert not out["c"].bh_reject and not out["d"].bh_reject
    assert {out["a"].bh_rank, out["b"].bh_rank} == {1, 2}
    # symmetric strata: z_b = -z_a = 0.4/sqrt(.25*(1/100+1/300)) = 6.9282
    assert out["a"].z_micros == -out["b"].z_micros == 6_928_203


def test_bh_fdr_degenerate_single_stratum(spark):
    from cartography_spark.operators.profiling import benjamini_hochberg_rates

    # one stratum: complement empty -> z NULL -> p=1, never rejected,
    # and no ANSI division error
    df = spark.createDataFrame([("a", True), ("a", False)], "g string, s boolean")
    out = benjamini_hochberg_rates(df, F.col("g"), F.col("s")).head()
    assert out.p_micros == 1_000_000 and out.bh_reject is False
    assert out.z_micros is None


def test_dp_laplace_deterministic_and_scales(spark):
    import math

    from cartography_spark.operators.privacy import dp_laplace_counts

    df = spark.createDataFrame([("a",), ("a",), ("a",), ("b",)], "g string")
    # reproduce the mechanism exactly: k = first 13 hex of md5('dp:'||g)
    import hashlib

    def lap(g, b):
        k = int(hashlib.md5(f"dp:{g}".encode()).hexdigest()[:13], 16)
        u = (k + 0.5) / 2**52
        w = u - 0.5
        return -b * math.copysign(1.0, w) * math.log(1.0 - 2.0 * abs(w))

    out1 = {r.group_key: r.noisy_count_micros
            for r in dp_laplace_counts(df, F.col("g"), 1_000_000).collect()}
    assert out1["a"] == round((3 + lap("a", 1.0)) * 1e6)
    assert out1["b"] == round((1 + lap("b", 1.0)) * 1e6)

    # doubling epsilon exactly halves the noise scale
    out2 = {r.group_key: r.noisy_count_micros
            for r in dp_laplace_counts(df, F.col("g"), 2_000_000).collect()}
    assert out2["a"] == round((3 + lap("a", 0.5)) * 1e6)

    # different salt -> different (but still deterministic) noise
    out3 = {r.group_key: r.noisy_count_micros
            for r in dp_laplace_counts(df, F.col("g"), 1_000_000, salt="dp2").collect()}
    k2 = int(hashlib.md5(b"dp2:a").hexdigest()[:13], 16)
    u2 = (k2 + 0.5) / 2**52
    w2 = u2 - 0.5
    lap_a2 = -1.0 * math.copysign(1.0, w2) * math.log(1.0 - 2.0 * abs(w2))
    assert out3["a"] == round((3 + lap_a2) * 1e6)
    assert out3["a"] != out1["a"]


def test_rendezvous_shards_matches_model_and_invariant(spark):
    """Operator totals must match a pure-Python HRW model, and the HRW
    invariant must hold: every doc that moves on 8->9 expansion moves
    INTO the new shard — survivors never trade rows."""
    import hashlib

    from cartography_spark.operators.sampling import rendezvous_shards

    ids = list(range(100))

    def score(i, s):
        return hashlib.md5(f"hrw:{i}:{s}".encode()).hexdigest()

    base = {i: max(range(8), key=lambda s: score(i, s)) for i in ids}
    new = {i: max(range(9), key=lambda s: score(i, s)) for i in ids}
    for i in ids:  # the invariant the docstring promises
        assert new[i] == base[i] or new[i] == 8
    want = {}
    for i in ids:
        d = want.setdefault(base[i], [0, 0])
        d[0] += 1
        d[1] += int(new[i] != base[i])

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.shard: [r.n_docs, r.n_moved]
           for r in rendezvous_shards(df).collect()}
    assert got == {k: v for k, v in want.items()}
    assert sum(v[0] for v in got.values()) == 100


def test_stupid_backoff_hand_computed(spark):
    from cartography_spark.operators.textstats import stupid_backoff_trigram

    # train (id 0): "a b c a b d" -> c_tri{abc,bca,cab,abd}=1, cctx{ab:2,...},
    # c_big{bc,ca,ab,bd}=1, c_uni{a,b,c,d}=1, N=4
    # held (id 1) "a b c d q": (a,b,c) tri-hit bits=floor(log2(2/1))=1;
    # (b,c,d) uni-hit bits=floor(log2(100/4))=4; (c,d,q) OOV bits=4
    # held (id 3) "z a b": (z,a,b) bi-hit bits=floor(log2(5/2))=1
    df = spark.createDataFrame(
        [(0, "a b c a b d"), (1, "a b c d q"), (3, "z a b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in stupid_backoff_trigram(df).collect()}
    assert set(out) == {1, 3}
    r1 = out[1]
    assert r1.n_trigrams == 3 and r1.total_bits == 9 and r1.mean_millibits == 3000
    assert (r1.n_tri_hit, r1.n_bi_hit, r1.n_uni_hit, r1.n_oov) == (1, 0, 1, 1)
    r3 = out[3]
    assert r3.n_trigrams == 1 and r3.total_bits == 1
    assert (r3.n_tri_hit, r3.n_bi_hit, r3.n_uni_hit, r3.n_oov) == (0, 1, 0, 0)


def test_brier_decomposition_hand_computed(spark):
    from cartography_spark.operators.profiling import brier_decomposition

    # bin 80%: 4 rows 3 pos; bin 20%: 4 rows 1 pos. N=8, X=4, obar=.5
    # rel=.0025, res=.0625, unc=.25, brier=.19 (Murphy identity exact here)
    rows = (
        [(80, True)] * 3 + [(80, False)]
        + [(20, True)] + [(20, False)] * 3
    )
    df = spark.createDataFrame(rows, "f long, y boolean")
    out = brier_decomposition(df, F.col("f"), F.col("y")).head()
    assert out.n_total == 8 and out.n_bins == 2
    assert out.reliability_micros == 2_500
    assert out.resolution_micros == 62_500
    assert out.uncertainty_micros == 250_000
    assert out.brier_micros == 190_000
    assert out.brier_micros == (
        out.reliability_micros - out.resolution_micros + out.uncertainty_micros
    )


def test_brier_decomposition_identity_on_fixture(spark, sf_dir):
    """Murphy identity end-to-end on real data: the direct Brier (exact
    integer path) must equal rel - res + unc within per-bin milli slack."""
    from cartography_spark.plans.inventory_analytics import (
        q_classifier_brier_decomposition,
    )

    out = q_classifier_brier_decomposition(spark, sf_dir).head()
    recomposed = out.reliability_micros - out.resolution_micros + out.uncertainty_micros
    assert abs(out.brier_micros - recomposed) <= 5
    assert 0 <= out.brier_micros <= 1_000_000


def test_brier_decomposition_perfect_forecaster(spark):
    from cartography_spark.operators.profiling import brier_decomposition

    # oracle forecaster: 100% on positives, 0% on negatives ->
    # brier=0, rel=0, res == unc
    rows = [(100, True)] * 3 + [(0, False)] * 5
    df = spark.createDataFrame(rows, "f long, y boolean")
    out = brier_decomposition(df, F.col("f"), F.col("y")).head()
    assert out.brier_micros == 0 and out.reliability_micros == 0
    assert out.resolution_micros == out.uncertainty_micros


def test_markov_stationary_hand_computed(spark):
    from cartography_spark.operators.graph import markov_stationary

    # chain a->b (1), b->a (1), b->b (1): true pi = (1/3, 2/3); ten
    # micro-quantized iterations land at (333497, 666506) exactly
    # (hand-traced through the integer update, HALF_UP at .5)
    df = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1), ("b", "b", 1)],
        "prev_type string, event_type string, n_transitions long",
    )
    out = {r.state: r.pi_micros for r in markov_stationary(df).collect()}
    assert out == {"a": 333_497, "b": 666_506}
    # mass conserved up to +-k/2 micros per step
    assert abs(sum(out.values()) - 1_000_000) <= 10


def test_markov_stationary_dangling_absorbs(spark):
    from cartography_spark.operators.graph import markov_stationary

    # a -> b only; b is dangling -> self-loop absorbs all mass, and the
    # zero-mass state still emits a row (stable schema contract)
    df = spark.createDataFrame(
        [("a", "b", 3)], "prev_type string, event_type string, n_transitions long"
    )
    out = {r.state: r.pi_micros for r in markov_stationary(df).collect()}
    assert out == {"a": 0, "b": 1_000_000}


def test_effect_sizes_hand_computed(spark):
    from cartography_spark.operators.profiling import effect_sizes

    # a=[2,4] (s2=2), b=[1,2,3] (s2=1): diff=1, s_pool=sqrt(4/3),
    # d=0.8660254, J=8/11 -> g=0.6298366, glass=1/1
    df = spark.createDataFrame(
        [("a", 2), ("a", 4), ("b", 1), ("b", 2), ("b", 3)], "g string, v long"
    )
    out = effect_sizes(
        df, F.col("v"), F.col("g") == "a", F.col("g") == "b"
    ).head()
    assert (out.n_a, out.n_b) == (2, 3)
    assert out.mean_diff_micros == 1_000_000
    assert out.cohens_d_micros == 866_025
    assert out.hedges_g_micros == 629_837
    assert out.glass_delta_micros == 1_000_000


def test_effect_sizes_degenerate_small_side(spark):
    from cartography_spark.operators.profiling import effect_sizes

    # n_a = 1: no spread estimate on that side -> NULL effect sizes,
    # mean diff still defined
    df = spark.createDataFrame(
        [("a", 5), ("b", 1), ("b", 3)], "g string, v long"
    )
    out = effect_sizes(df, F.col("v"), F.col("g") == "a", F.col("g") == "b").head()
    assert out.mean_diff_micros == 3_000_000
    assert out.cohens_d_micros is None and out.hedges_g_micros is None


def test_tost_equivalence_symmetric_and_shifted(spark):
    from cartography_spark.operators.profiling import tost_equivalence

    # identical distributions (mean 11, spread 1): diff=0, both t's equal
    # and large -> equivalent at margin 0.5
    rows = ([("a", 10)] * 50 + [("a", 12)] * 50
            + [("b", 10)] * 50 + [("b", 12)] * 50)
    df = spark.createDataFrame(rows, "g string, v long")
    out = tost_equivalence(
        df, F.col("v"), F.col("g") == "a", F.col("g") == "b", margin_milli=500
    ).head()
    assert out.mean_diff_micros == 0
    assert out.t_lower_micros == out.t_upper_micros > 1_645_000
    assert out.equivalent_95 is True

    # b shifted +2: |diff| = 2 >> margin -> t_upper deeply negative, not
    # equivalent (and the one-sided asymmetry shows in the two t's)
    rows2 = ([("a", 10)] * 50 + [("a", 12)] * 50
             + [("b", 12)] * 50 + [("b", 14)] * 50)
    df2 = spark.createDataFrame(rows2, "g string, v long")
    out2 = tost_equivalence(
        df2, F.col("v"), F.col("g") == "a", F.col("g") == "b", margin_milli=500
    ).head()
    assert out2.mean_diff_micros == -2_000_000
    assert out2.t_upper_micros > 0 > out2.t_lower_micros
    assert out2.equivalent_95 is False


def test_tost_equivalence_degenerate_false(spark):
    from cartography_spark.operators.profiling import tost_equivalence

    # n_b = 1: cannot demonstrate equivalence without spread -> false, no error
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 1)], "g string, v long")
    out = tost_equivalence(
        df, F.col("v"), F.col("g") == "a", F.col("g") == "b", margin_milli=500
    ).head()
    assert out.equivalent_95 is False and out.t_lower_micros is None


def test_top_pc_power_hand_computed(spark):
    """Rank-1 data along (3,1): Gram = n*[[9,3],[3,1]], max-normalized
    [[1,1/3],[1/3,1/9]] -> micros [[1000000,333333],[333333,111111]].
    Power iteration from (1e6,1e6) converges in two steps to the
    L-infinity-normalized dominant direction (1000000, 333333) with a
    positive canonical sign (largest |component| is dim 1)."""
    from cartography_spark.operators.clustering import top_pc_power

    df = spark.createDataFrame(
        [([3.0, 1.0],)] * 7, "embedding array<float>"
    )
    out = {r.dim: r.v_micros for r in top_pc_power(df, dims=2, n_iter=8).collect()}
    assert out == {1: 1_000_000, 2: 333_333}


def test_top_pc_power_sign_canonicalization(spark):
    """Data along (-1, 3): the raw iterate lands on the negative of the
    direction half the time depending on v0's projection; the canonical
    sign makes the largest-|component| entry (dim 2) positive."""
    from cartography_spark.operators.clustering import top_pc_power

    df = spark.createDataFrame(
        [([-1.0, 3.0],)] * 5, "embedding array<float>"
    )
    out = {r.dim: r.v_micros for r in top_pc_power(df, dims=2, n_iter=8).collect()}
    assert out[2] == 1_000_000 and out[1] < 0
    assert abs(out[1] + 333_333) <= 1


def test_top_pc_power_zero_gram_ansi_safe(spark):
    """All-zero embeddings: max|C| = 0 -> try_divide NULLs coalesce to the
    zero vector instead of raising under ANSI mode."""
    from cartography_spark.operators.clustering import top_pc_power

    df = spark.createDataFrame([([0.0, 0.0],)] * 3, "embedding array<float>")
    out = {r.dim: r.v_micros for r in top_pc_power(df, dims=2, n_iter=3).collect()}
    assert out == {1: 0, 2: 0}


def test_effective_rank_rank1_and_isotropic(spark):
    """Rank-1 corpus (every vector (3,1)): C = n*[[9,3],[3,1]], tr = 10n,
    tr(C^2) = 100n^2 -> eff_rank exactly 1. Two orthogonal directions in
    equal measure: C = diag(n, n) -> eff_rank exactly 2, top-share 1/2."""
    from cartography_spark.operators.clustering import effective_rank

    r1 = spark.createDataFrame([([3.0, 1.0],)] * 6, "embedding array<float>")
    out = effective_rank(r1, dims=2).head()
    assert out.n_dims == 2
    assert out.eff_rank_micros == 1_000_000
    assert out.top_share_ub_micros == 1_000_000

    iso = spark.createDataFrame(
        [([1.0, 0.0],)] * 4 + [([0.0, 1.0],)] * 4, "embedding array<float>"
    )
    out2 = effective_rank(iso, dims=2).head()
    assert out2.eff_rank_micros == 2_000_000
    assert out2.top_share_ub_micros == 500_000


def test_skew_audit_hand_computed(spark):
    """Keys a*6, b*2, c*1 with 32 md5-portable buckets: a->25, b->30,
    c->16 (first 8 md5 hex digits mod 32), so max_bucket = max_key = 6;
    bucket skew = round(1000*6*32/9) = 21333 (>2x uniform) and the hot
    bucket IS a hot key -> salt recommended."""
    from cartography_spark.operators.skew import skew_audit

    df = spark.createDataFrame([("a",)] * 6 + [("b",)] * 2 + [("c",)], "k string")
    out = skew_audit(df, F.col("k")).head()
    assert out.n_rows == 9 and out.n_keys == 3 and out.n_buckets_used == 3
    assert out.max_bucket_rows == 6 and out.max_key_rows == 6
    assert out.bucket_skew_millis == 21333
    assert out.key_skew_millis == 2000
    assert out.salt_recommended is True


def test_skew_audit_uniform_no_salt(spark):
    """Distinct keys, one row each: every bucket holds <= a few rows and
    no single key dominates -> salt not recommended."""
    from cartography_spark.operators.skew import skew_audit

    df = spark.createDataFrame([(str(i),) for i in range(64)], "k string")
    out = skew_audit(df, F.col("k")).head()
    assert out.n_rows == 64 and out.n_keys == 64 and out.max_key_rows == 1
    assert out.salt_recommended is False


def test_weighted_quantiles_hand_computed(spark):
    """Weights 3/3/4 at values 1/2/10 (total 10): cum = 3,6,10 so the
    weighted q25 is 1 (cum 3 >= 2.5), q50 is 2 (6 >= 5), q75 and q90
    are 10 — while the UNWEIGHTED q75 over rows would be 2 if weights
    were ignored. Exact rational comparisons, no floats."""
    from cartography_spark.operators.profiling import weighted_quantiles_by

    df = spark.createDataFrame(
        [("s", 1, 3), ("s", 2, 3), ("s", 10, 4)], "g string, v int, w int"
    )
    out = {
        (r.q_num, r.q_den): (r.q_value, r.total_weight)
        for r in weighted_quantiles_by(
            df, F.col("g"), F.col("v"), F.col("w")
        ).collect()
    }
    assert out[(1, 4)] == (1, 10)
    assert out[(2, 4)] == (2, 10)
    assert out[(3, 4)] == (10, 10)
    assert out[(9, 10)] == (10, 10)


def test_weighted_quantiles_boundary_exact(spark):
    """cum*den == num*tot boundary counts as reached (>=): two values
    weight 1 each -> the weighted median of {1,2} is 1 (cum 1*2 >= 1*2)."""
    from cartography_spark.operators.profiling import weighted_quantiles_by

    df = spark.createDataFrame([("s", 1, 1), ("s", 2, 1)], "g string, v int, w int")
    out = {
        (r.q_num, r.q_den): r.q_value
        for r in weighted_quantiles_by(
            df, F.col("g"), F.col("v"), F.col("w"), qs=((1, 2),)
        ).collect()
    }
    assert out[(1, 2)] == 1


def test_markov_entropy_rate_hand_computed(spark):
    """Chain a->{a,b} equally, b->a always. P(micros): a row = 500000/
    500000, b row = 1000000. lq = round(1000*ln(.5)) = -693, ln(1) = 0.
    H_a = round(2*500000*693/1000) = 693000 micronats, H_b = 0. Ten
    integer iterations from uniform give pi = (666506, 333497) micros
    (hand-traced: 750000/250000, 625000, 687500, 656250, 671875,
    664063, 667970, 666017, 666994, 666506 — HALF_UP at every x.5).
    Rate = round(666506 * 693000000 / 1e9) = 461889 micronats."""
    from cartography_spark.operators.graph import markov_entropy_rate

    trans = spark.createDataFrame(
        [("a", "a", 1), ("a", "b", 1), ("b", "a", 1)],
        "prev_type string, event_type string, n_transitions long",
    )
    rows = {r.state: r for r in markov_entropy_rate(trans).collect()}
    assert rows["a"].pi_micros == 666_506 and rows["b"].pi_micros == 333_497
    assert rows["a"].h_cond_micronats == 693_000
    assert rows["b"].h_cond_micronats == 0
    assert rows["a"].contrib_micronats == 461_889
    assert rows["b"].contrib_micronats == 0
    assert rows["a"].entropy_rate_micronats == 461_889
    assert rows["b"].entropy_rate_micronats == 461_889


def test_markov_entropy_rate_deterministic_chain_zero(spark):
    """A deterministic cycle a->b->a has p = 1 everywhere: every lq is
    ln(1) = 0, so conditional entropies and the rate are exactly 0."""
    from cartography_spark.operators.graph import markov_entropy_rate

    trans = spark.createDataFrame(
        [("a", "b", 5), ("b", "a", 5)],
        "prev_type string, event_type string, n_transitions long",
    )
    rows = markov_entropy_rate(trans).collect()
    assert len(rows) == 2
    assert all(r.h_cond_micronats == 0 for r in rows)
    assert all(r.entropy_rate_micronats == 0 for r in rows)


def test_ivf_recall_audit_invariants(spark, sf_dir):
    """recall = n_overlap/k exactly (micro-quantized), bounded by [0, 1e6],
    and the exact arm always contains the query vector itself (cos 1.0),
    which the 4/16-probe IVF arm also retrieves -> overlap >= 1."""
    from cartography_spark.plans.inventory_llm import q_similarity_ivf_recall_audit

    out = q_similarity_ivf_recall_audit(spark, sf_dir).head()
    assert out.k == 10
    assert 1 <= out.n_overlap <= 10
    assert out.recall_micros == out.n_overlap * 100_000


def test_hill_tail_index_hand_computed(spark):
    """Values 8,4,2,1 with k=2: top-3 = {8,4,2}, x_(3) = 2. Log-ratios in
    millinats: round(1000*ln(4)) = 1386, round(1000*ln(2)) = 693,
    threshold contributes 0 -> S = 2079. alpha_milli =
    round(1e6 * 2 / 2079) = 962."""
    from cartography_spark.operators.profiling import hill_tail_index

    df = spark.createDataFrame([(8,), (4,), (2,), (1,)], "x long")
    out = hill_tail_index(df, F.col("x"), k=2).head()
    assert out.k == 2 and out.x_tail == 2
    assert out.sum_ln_millinats == 1386 + 693
    assert out.alpha_milli == 962


def test_hill_tail_degenerate_null(spark):
    """All values equal: every log-ratio is ln(1) = 0 -> S = 0 and alpha
    is NULL (try_divide), not an ANSI division error."""
    from cartography_spark.operators.profiling import hill_tail_index

    df = spark.createDataFrame([(5,)] * 6, "x long")
    out = hill_tail_index(df, F.col("x"), k=3).head()
    assert out.sum_ln_millinats == 0 and out.alpha_milli is None


def test_fano_burstiness_hand_computed(spark):
    """Type 'a': counts 4 and 2 over two OBSERVED buckets -> n=2, S=6,
    ss=20: fano = 1e6*(2*20 - 36)/(2*6) = 1e6/3 = 333333 (paced traffic,
    under-dispersed). Type 'b': counts 1,1 -> variance 0 -> fano 0.
    Type 'c': one bucket of 5 -> (25-25)/5 = 0."""
    from cartography_spark.operators.profiling import fano_burstiness_by

    rows = (
        [("a", 0)] * 4 + [("a", 2)] * 2
        + [("b", 0), ("b", 1)]
        + [("c", 3)] * 5
    )
    df = spark.createDataFrame(rows, "g string, b int")
    out = {
        r.group_key: r
        for r in fano_burstiness_by(df, F.col("g"), F.col("b")).collect()
    }
    assert out["a"].n_buckets == 2 and out["a"].n_events == 6
    assert out["a"].fano_micros == 333_333
    assert out["a"].overdispersed is False
    assert out["b"].fano_micros == 0
    assert out["c"].fano_micros == 0


def test_fano_overdispersed_bursty(spark):
    """Counts 9 and 1 over two buckets: mean 5, pop-var 16 -> fano =
    3.2e6, overdispersed."""
    from cartography_spark.operators.profiling import fano_burstiness_by

    rows = [("a", 0)] * 9 + [("a", 1)]
    df = spark.createDataFrame(rows, "g string, b int")
    out = fano_burstiness_by(df, F.col("g"), F.col("b")).head()
    assert out.fano_micros == 3_200_000 and out.overdispersed is True


def test_hill_tail_small_corpus_effective_k(spark):
    """Input smaller than k+1: effective k = (rows present) - 1, so alpha
    is computed against the REAL tail, not phantom order statistics
    (values 8,4,2 with k=64 behave exactly like k=2)."""
    from cartography_spark.operators.profiling import hill_tail_index

    df = spark.createDataFrame([(8,), (4,), (2,)], "x long")
    out = hill_tail_index(df, F.col("x"), k=64).head()
    assert out.k == 2 and out.x_tail == 2
    assert out.sum_ln_millinats == 1386 + 693
    assert out.alpha_milli == 962


def test_markov_plan_collapses_behind_domain_barrier(spark):
    """r8 opt §27: _transition_micros checkpoints the domain-collapsed
    transition frame, so the data-scale upstream appears in the markov
    queries' plans exactly zero times (it runs once, behind the barrier)
    instead of once per states/P/power-iteration reference (288 scan
    copies pre-fix for entropy_rate at n_iter=10)."""
    from cartography_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    for q in ("events_markov_stationary", "events_markov_entropy_rate"):
        df = REGISTRY[q].spark(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Relation" not in plan or "parquet" not in plan, (
            f"{q}: data-scale scan leaked above the transition barrier"
        )


def test_job_statement_barrier_gated_on_plan_growth(spark, sf_dir, monkeypatch):
    """r8 opt §30: a write statement's frame gets a lazy localCheckpoint
    barrier only when its analyzed plan has accumulated >= the
    leaf-relation threshold — deep chains truncate (the barriered frame is
    a single leaf downstream), shallow statements skip the barrier's
    per-statement RDD + stage overhead. Results are identical either way."""
    from cartography_spark.plans import job as job_module
    from cartography_spark.plans.inventory_lifecycle import base_catalog
    from cartography_spark.plans.job import GraphJob, GraphStatement

    job = GraphJob(
        name="self-join growth",
        statements=(
            GraphStatement(
                query="SELECT a.* FROM n_Supplier a "
                "JOIN n_Supplier b ON a.id = b.id",
                writes="Supplier",
            ),
        ) * 3,
    )

    def leaves(df):
        return df._jdf.queryExecution().analyzed().collectLeaves().size()

    # threshold high: no barrier — the 3rd statement's plan holds the
    # doubled-per-statement self-join chain (the base catalog frame is
    # 2 leaves, so 4 -> 8 -> 16)
    monkeypatch.setattr(job_module, "CHECKPOINT_LEAF_THRESHOLD", 10**9)
    cat_hi = base_catalog(spark, sf_dir)
    job.run(cat_hi, {})
    assert leaves(cat_hi.node("Supplier")) == 16
    # threshold 3: any statement reaching 4 leaves barriers, so every
    # written frame downstream is a checkpoint leaf and growth is capped
    monkeypatch.setattr(job_module, "CHECKPOINT_LEAF_THRESHOLD", 3)
    cat_lo = base_catalog(spark, sf_dir)
    job.run(cat_lo, {})
    assert leaves(cat_lo.node("Supplier")) == 1
    a = sorted(cat_hi.node("Supplier").select("id").toPandas()["id"])
    b = sorted(cat_lo.node("Supplier").select("id").toPandas()["id"])
    assert a == b


def test_harmonic_2hop_bitset_hand_computed(spark):
    """r8 opt §32: the bitset 2-hop counter (chunked 64-bit masks OR'd per
    source) on a hand-computed star graph whose 71-node domain crosses the
    64-bit chunk boundary. Star center 0 with leaves 1..70: every leaf's
    2-hop set is the other 69 leaves, the center's is empty, so
    harmonic_2x = 2*70+0 = 140 (center) and 2*1+69 = 71 (leaf)."""
    from pyspark.sql import functions as F

    from cartography_spark.plans.inventory_graph import _harmonic_2hop_bitset

    half = spark.createDataFrame([(0, i) for i in range(1, 71)], "a long, b long")
    e = half.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        half.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    got = {r.node: r.harmonic_2x for r in _harmonic_2hop_bitset(e).collect()}
    assert got[0] == 140
    assert all(got[i] == 71 for i in range(1, 71))

    # path 1-2-3-4-5: exact-distance-2 sets {3},{4},{1,5},{2},{3}
    p = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    pe = p.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        p.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    got = {r.node: r.harmonic_2x for r in _harmonic_2hop_bitset(pe).collect()}
    assert got == {1: 3, 2: 5, 3: 6, 4: 5, 5: 3}
