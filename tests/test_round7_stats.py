"""Round-7 stats/eval operators verified against hand-computed expected
values on small frames, independent of the DuckDB oracle gate: stratified
KS/PSI, Spearman (tie-safe midranks), Jensen-Shannon divergence, Cramér's V,
hourly ACF, and the per-source hapax share.
"""

from __future__ import annotations

import datetime
import math

from pyspark.sql import functions as F


def test_ks_by_group_localizes_shift(spark):
    from cartography_spark.operators.profiling import ks_two_sample_by

    # g1: identical halves -> D = 0; g2: disjoint supports -> D = 1
    rows = (
        [("g1", v, s) for s in ("a", "b") for v in (1, 2, 3, 4)]
        + [("g2", v, "a") for v in (1, 2)]
        + [("g2", v, "b") for v in (10, 20)]
    )
    df = spark.createDataFrame(rows, "g string, v long, side string")
    out = {
        r.group_key: r
        for r in ks_two_sample_by(
            df, F.col("g"), F.col("v"), F.col("side") == "a", F.col("side") == "b"
        ).collect()
    }
    assert out["g1"].d_num == 0 and out["g1"].ks_stat == 0.0
    assert out["g2"].ks_stat == 1.0 and out["g2"].ks_at_value == 2


def test_psi_by_group_matches_global_on_single_group(spark):
    from cartography_spark.operators.profiling import psi_drift, psi_drift_by

    rows = [("only", v % 3, v % 2) for v in range(40)]
    df = spark.createDataFrame(rows, "g string, bin int, half int")
    glob = psi_drift(
        df, F.col("bin"), F.col("half") == 0, F.col("half") == 1
    ).head()
    strat = psi_drift_by(
        df, F.col("g"), F.col("bin"), F.col("half") == 0, F.col("half") == 1
    ).head()
    assert strat.group_key == "only"
    assert (strat.n_a, strat.n_b, strat.n_bins) == (glob.n_a, glob.n_b, glob.n_bins)
    assert strat.psi == glob.psi


def test_spearman_hand_computed(spark):
    from cartography_spark.operators.profiling import spearman_rank_corr

    # ranks x = (1,2,3), y = (3,1,2) -> Pearson = -0.5
    df = spark.createDataFrame([(1, 3), (2, 1), (3, 2)], "x long, y long")
    out = spearman_rank_corr(df, "x", "y").head()
    assert out.spearman_micros == -500_000
    # perfect monotone with ties on both sides -> exactly 1
    df2 = spark.createDataFrame(
        [(1, 10), (2, 20), (2, 20), (3, 40)], "x long, y long"
    )
    assert spearman_rank_corr(df2, "x", "y").head().spearman_micros == 1_000_000
    # doubled midranks: value 2 has cum_before=1, cnt=2 -> rank2 = 2*1+2+1 = 5
    assert out.n == 3


def test_spearman_constant_column_yields_null(spark):
    from cartography_spark.operators.profiling import spearman_rank_corr

    df = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], "x long, y long")
    assert spearman_rank_corr(df, "x", "y").head().spearman_micros is None


def test_jsd_identical_and_disjoint(spark):
    from cartography_spark.operators.profiling import js_divergence

    same = spark.createDataFrame(
        [(b, s) for b in (0, 1) for s in ("a", "b") for _ in range(5)],
        "bin int, side string",
    )
    out = js_divergence(
        same, F.col("bin"), F.col("side") == "a", F.col("side") == "b"
    ).head()
    assert out.jsd_nats == 0.0 and bool(out.major_shift) is False
    disjoint = spark.createDataFrame(
        [(0, "a")] * 4 + [(1, "b")] * 4, "bin int, side string"
    )
    out2 = js_divergence(
        disjoint, F.col("bin"), F.col("side") == "a", F.col("side") == "b"
    ).head()
    assert abs(out2.jsd_nats - math.log(2)) < 1e-6


def test_cramers_v_perfect_and_independent(spark):
    from cartography_spark.operators.profiling import cramers_v

    perfect = spark.createDataFrame(
        [("a1", "b1")] * 10 + [("a2", "b2")] * 10, "a string, b string"
    )
    out = cramers_v(perfect, "a", "b").head()
    assert out.cramers_v_micros == 1_000_000
    indep = spark.createDataFrame(
        [(a, b) for a in ("a1", "a2") for b in ("b1", "b2") for _ in range(5)],
        "a string, b string",
    )
    out2 = cramers_v(indep, "a", "b").head()
    assert out2.chi2_milli == 0 and out2.cramers_v_micros == 0


def test_cramers_v_degenerate_single_row_category(spark):
    from cartography_spark.operators.profiling import cramers_v

    # 1xK table: min(r,c)-1 = 0 -> NULL V, not a divide-by-zero error
    df = spark.createDataFrame(
        [("only", b) for b in ("b1", "b2", "b3")], "a string, b string"
    )
    assert cramers_v(df, "a", "b").head().cramers_v_micros is None


def test_acf_alternating_series(spark):
    from cartography_spark.operators.profiling import acf_hourly

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(hours=h), 1.0 if h % 2 == 0 else -1.0)
        for h in range(8)
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {
        r.lag: r
        for r in acf_hourly(
            ev, "ts", F.round(F.col("value") * 100).cast("bigint"), max_lag=2
        ).collect()
    }
    # x = (+100,-100)*4, mean 0: r1 = -7/8, r2 = +6/8; pair counts 7 and 6
    assert out[1].n_pairs == 7 and out[1].acf_micros == -875_000
    assert out[2].n_pairs == 6 and out[2].acf_micros == 750_000


def test_acf_constant_series_yields_null(spark):
    from cartography_spark.operators.profiling import acf_hourly

    t0 = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(t0 + datetime.timedelta(hours=h), 5.0) for h in range(4)],
        "ts timestamp, value double",
    )
    out = acf_hourly(
        ev, "ts", F.round(F.col("value") * 100).cast("bigint"), max_lag=1
    ).head()
    assert out.acf_micros is None  # zero variance -> undefined, not an error


def test_acf_pairless_lags_still_emit_rows(spark):
    from cartography_spark.operators.profiling import acf_hourly

    # 3-hour series, max_lag=6: lags 3..6 have ZERO pairs but must still
    # appear — one row per lag unconditionally (ADVICE r7: silent omission
    # misaligns consumers indexing 1..max_lag)
    t0 = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(t0 + datetime.timedelta(hours=h), float(h)) for h in range(3)],
        "ts timestamp, value double",
    )
    out = {
        r.lag: r
        for r in acf_hourly(
            ev, "ts", F.round(F.col("value") * 100).cast("bigint"), max_lag=6
        ).collect()
    }
    assert sorted(out) == [1, 2, 3, 4, 5, 6]
    assert out[1].n_pairs == 2 and out[2].n_pairs == 1
    for lag in (3, 4, 5, 6):
        assert out[lag].n_pairs == 0
        assert out[lag].acf_micros is None
        assert out[lag].n_buckets == 3


def test_ks_psi_global_equals_stratified_constant_key(spark):
    # the global forms ARE the stratified forms over a constant stratum
    # (ADVICE r7 dedup) — pin the equivalence on a concrete frame
    from cartography_spark.operators.profiling import (
        ks_two_sample,
        ks_two_sample_by,
        psi_drift,
        psi_drift_by,
    )

    df = spark.createDataFrame(
        [(v % 7, v % 2 == 0, v % 3 == 0) for v in range(50)],
        "v int, a boolean, b boolean",
    )
    g = ks_two_sample(df, F.col("v"), F.col("a"), F.col("b")).head().asDict()
    s = (
        ks_two_sample_by(df, F.lit(0), F.col("v"), F.col("a"), F.col("b"))
        .drop("group_key")
        .head()
        .asDict()
    )
    assert g == s
    gp = psi_drift(df, F.col("v"), F.col("a"), F.col("b")).head().asDict()
    sp = (
        psi_drift_by(df, F.lit(0), F.col("v"), F.col("a"), F.col("b"))
        .drop("group_key")
        .head()
        .asDict()
    )
    assert gp == sp


def test_hapax_ratio_hand_computed(spark):
    from cartography_spark.operators.textstats import hapax_ratio_by

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple", "s1"),
            (1, "banana cherry", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.group_key: r for r in hapax_ratio_by(docs).collect()}
    # global freqs: apple 2, banana 2, cherry 1
    assert (out["s1"].n_tokens, out["s1"].n_types, out["s1"].n_hapax_types) == (3, 2, 0)
    assert out["s1"].hapax_ppm == 0
    assert (out["s2"].n_tokens, out["s2"].n_types, out["s2"].n_hapax_types) == (2, 2, 1)
    assert out["s2"].hapax_ppm == 500_000
    # cross-check: global hapax count distributes exactly across groups
    assert sum(r.n_hapax_types for r in out.values()) == 1


def test_query_likelihood_ranks_matching_doc_first(spark):
    from cartography_spark.plans.inventory_llm import q_text_query_likelihood_topk

    # rank-equivalence sanity on the real fixture: every returned score is
    # monotone non-increasing and the top doc contains at least one query term
    from tests.conftest import SF_CORRECT

    rows = q_text_query_likelihood_topk(spark, SF_CORRECT).collect()
    scores = [r.ql_micro for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert len(rows) == 20


def test_tenant_materialization_idempotent_read(spark):
    from cartography_spark.plans.inventory_meta import q_job_tenant_node_materialization
    from tests.conftest import SF_CORRECT

    out = {r.tenant_id: r for r in q_job_tenant_node_materialization(spark, SF_CORRECT).collect()}
    # pre-existing tenants keep their original firstseen (ON CREATE must not reset)
    assert out["BUILDING"].firstseen == 50 and out["AUTOMOBILE"].firstseen == 50
    # property-derived tenants are created at the migration tag
    created = [t for t, r in out.items() if r.firstseen == 200]
    assert created, "migration created no tenants"
    # every tenant with hosts has a positive tag sum (edges carry real tags)
    for r in out.values():
        assert (r.n_hosts == 0) == (r.host_tag_sum == 0)
        assert (r.n_vulns == 0) == (r.vuln_tag_sum == 0)


def test_kn_bigram_hand_computed(spark):
    from cartography_spark.operators.textstats import kn_bigram_surprisal

    # corpus: "a b a b" and "a c" -> pairs: (a,b)x2, (b,a)x1, (a,c)x1
    # uni: a->3, b->1; bi: (a,b)=2,(b,a)=1,(a,c)=1; Nt=3
    # T(a)=2, T(b)=1; N1(.b)=1, N1(.a)=1, N1(.c)=1
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in kn_bigram_surprisal(docs).collect()}
    # (a,b): num=(4*2-3)*3+3*2*1=21, den=4*3*3=36 -> 36//21=1 -> 0 bits
    # (b,a): num=(4*1-3)*3+3*1*1=6,  den=4*3*1=12 -> 12//6=2 -> 1 bit
    assert out[0].n_bigrams == 3 and out[0].total_bits == 0 + 1 + 0
    # (a,c): num=(4*1-3)*3+3*2*1=9,  den=4*3*3=36 -> 36//9=4 -> 2 bits
    assert out[1].n_bigrams == 1 and out[1].total_bits == 2


def test_mondrian_conformal_per_group_order_statistic(spark):
    from cartography_spark.operators.profiling import (
        conformal_interval_calibrate,
        conformal_mondrian_calibrate,
    )

    rows = [("g1", s) for s in range(1, 21)] + [("g2", s) for s in (5, 5, 5, 100)]
    df = spark.createDataFrame(rows, "g string, s long")
    out = {r.group_key: r for r in conformal_mondrian_calibrate(df).collect()}
    # g1: n=20, k=ceil(21*0.9)=19 -> 19th smallest of 1..20 = 19
    assert out["g1"].n_cal == 20 and out["g1"].k == 19 and out["g1"].q_hat == 19
    # g2: n=4, k=ceil(5*0.9)=5 > n -> clamp to max score
    assert out["g2"].q_hat == 100
    # single-group Mondrian == global calibrate
    single = df.filter(F.col("g") == "g1").select("s")
    glob = conformal_interval_calibrate(single).head()
    assert (glob.n_cal, glob.k, glob.q_hat) == (20, 19, 19)


def test_jsd_one_empty_population_yields_zero_not_error(spark):
    from cartography_spark.operators.profiling import js_divergence

    # population b entirely empty: every bin has mix = 0 on the a-side term
    # and n_b = 0 in the final ratio; the unguarded form crashed under ANSI
    # (Spark 4 errors even on double division by zero). The divergence
    # against a nonexistent distribution is undefined -> NULL, not a crash.
    df = spark.createDataFrame([(0, "a")] * 3 + [(1, "a")] * 2, "bin int, side string")
    out = js_divergence(
        df, F.col("bin"), F.col("side") == "a", F.col("side") == "b"
    ).head()
    assert out.n_b == 0 and out.sum_term_a == 0 and out.jsd_nats is None


def test_ks_one_empty_population_yields_null_not_error(spark):
    from cartography_spark.operators.profiling import ks_two_sample, ks_two_sample_by

    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "a")], "v long, side string")
    out = ks_two_sample(
        df, F.col("v"), F.col("side") == "a", F.col("side") == "b"
    ).head()
    assert out.n_b == 0 and out.ks_stat is None and out.reject_95 is None
    df2 = spark.createDataFrame(
        [("g", 1, "a"), ("g", 2, "a")], "g string, v long, side string"
    )
    out2 = ks_two_sample_by(
        df2, F.col("g"), F.col("v"), F.col("side") == "a", F.col("side") == "b"
    ).head()
    assert out2.ks_stat is None
