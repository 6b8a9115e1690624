"""Round-6 statistics / eval operators: Welch's t-test, Kaplan-Meier,
seasonal decomposition, BLEU-2, embedding dimension stats, and degree
assortativity — each verified against a hand-computed (or numpy-computed)
expected value on a small frame, independent of the DuckDB oracle gate.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_welch_ttest_hand_computed(spark):
    from cartography_spark.operators.profiling import welch_ttest

    a = [10, 12, 14, 16, 18]  # mean 14, var 10
    b = [20, 21, 22, 23]      # mean 21.5, var 5/3
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "grp string, x long")
    out = welch_ttest(df, "grp", "x", "a", "b").head()
    assert out.n_a == 5 and out.n_b == 4
    assert out.sum_a == 70 and out.sum_b == 86
    va, vb = 10.0, 5.0 / 3.0
    se2 = va / 5 + vb / 4
    t = (14.0 - 21.5) / math.sqrt(se2)
    dfree = se2 * se2 / ((va / 5) ** 2 / 4 + (vb / 4) ** 2 / 3)
    assert out.t_micros == round(1e6 * t)
    assert out.df_milli == round(1e3 * dfree)
    assert bool(out.reject_95) is (abs(t) > 1.96)


def test_kaplan_meier_classic_example(spark):
    from cartography_spark.operators.profiling import kaplan_meier

    # durations: deaths at 6 (x3), 10, 13; censored at 6, 9, 12
    rows = [
        (6, True), (6, True), (6, True), (6, False),
        (9, False), (10, True), (12, False), (13, True),
    ]
    df = spark.createDataFrame(rows, "t long, ev boolean")
    out = {r.t: r for r in kaplan_meier(df, "t", "ev").collect()}
    assert set(out) == {6, 10, 13}
    # t=6: n=8, d=3 -> S = 5/8
    assert out[6].n_at_risk == 8 and out[6].d_deaths == 3
    assert out[6].surv_micros == round(1e6 * 5 / 8)
    # t=10: n=3 (censored@6,9 gone), d=1 -> S = 5/8 * 2/3
    assert out[10].n_at_risk == 3 and out[10].d_deaths == 1
    assert out[10].surv_micros == round(1e6 * math.exp(math.log(5 / 8) + math.log(2 / 3)))
    # t=13: n=1, d=1 -> S -> 0
    assert out[13].n_at_risk == 1 and out[13].surv_micros == 0


def test_kaplan_meier_no_censoring_matches_ecdf(spark):
    from cartography_spark.operators.profiling import kaplan_meier

    # without censoring, S(t) = fraction of durations > t (survival ECDF)
    durs = [3, 3, 5, 7, 7, 7, 9, 11]
    df = spark.createDataFrame([(d, True) for d in durs], "t long, ev boolean")
    for r in kaplan_meier(df, "t", "ev").collect():
        frac = sum(1 for d in durs if d > r.t) / len(durs)
        assert abs(r.surv_micros - 1e6 * frac) <= 1, r


def test_seasonal_decompose_recovers_pure_signal(spark):
    from cartography_spark.operators.profiling import seasonal_decompose_hourly

    # value = 100 + 10*(hour in 0..23 pattern), no trend, 4 full days:
    # centered MA over +-12h of a pure 24h-periodic signal is the flat
    # daily mean, so the seasonal component recovers the pattern exactly
    # (interior buckets; edge buckets see a truncated window, so assert
    # on the dominant component ordering rather than exact equality)
    rows = []
    for day in range(1, 5):
        for h in range(24):
            rows.append((f"2024-01-0{day} {h:02d}:30:00", (100 + (10 if h == 12 else 0)) * 100))
    df = spark.createDataFrame(rows, "ts_s string, cents long").select(
        F.to_timestamp("ts_s").alias("ts"), "cents"
    )
    out = {r.hour_of_day: r.seasonal_millicents for r in
           seasonal_decompose_hourly(df, "ts", F.col("cents")).collect()}
    assert len(out) == 24
    # hour 12 carries the spike: strictly the largest seasonal component
    assert out[12] == max(out.values())
    assert out[12] > 0
    # spike magnitude ~ +10 units minus its share of the MA mean
    assert out[12] > 5 * 100 * 1000 / 2


def test_bleu_hand_computed_pair(spark):
    from cartography_spark.operators.textstats import bleu_ngram_precision

    pairs = spark.createDataFrame(
        [(0, "the cat sat on the mat", "the cat is on the mat")],
        "pair_id long, cand_text string, ref_text string",
    )
    out = bleu_ngram_precision(pairs).head()
    # cand unigrams: the x2, cat, sat, on, mat (6 tot); ref has the x2,
    # cat, is, on, mat -> clipped: the 2, cat 1, sat 0, on 1, mat 1 = 5
    assert out.tot1 == 6 and out.clip1 == 5
    # cand bigrams: "the cat","cat sat","sat on","on the","the mat" (5);
    # ref bigrams: "the cat","cat is","is on","on the","the mat"
    # -> clipped: the cat, on the, the mat = 3
    assert out.tot2 == 5 and out.clip2 == 3
    assert out.cand_len == 6 and out.ref_len == 6
    assert out.bp_micros == 1_000_000
    p1, p2 = 5 / 6, 3 / 5
    assert out.p1_micros == round(1e6 * p1)
    assert out.bleu2_micros == round(1e6 * math.exp((math.log(p1) + math.log(p2)) / 2))


def test_bleu_zero_bigram_overlap_is_log_guarded(spark):
    from cartography_spark.operators.textstats import bleu_ngram_precision

    pairs = spark.createDataFrame(
        [(0, "alpha beta gamma", "delta epsilon zeta")],
        "pair_id long, cand_text string, ref_text string",
    )
    out = bleu_ngram_precision(pairs).head()
    assert out.clip1 == 0 and out.clip2 == 0
    assert out.p1_micros == 0 and out.bleu2_micros == 0


def test_dimension_stats_matches_numpy(spark):
    np = pytest.importorskip("numpy")
    from cartography_spark.operators.similarity import dimension_stats

    rng = np.random.default_rng(7)
    mat = rng.normal(size=(50, 4)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    out = {r.dim: r for r in dimension_stats(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    q = np.round(1e6 * mat.astype("float64"))
    for d in range(4):
        col = q[:, d]
        assert out[d + 1].n == 50
        assert out[d + 1].sum_micros == int(col.sum())
        assert out[d + 1].mean_micros == round(col.sum() / 50)
        var = (np.sum(col * col) - col.sum() * col.sum() / 50) / 49
        assert abs(out[d + 1].var_micros2 - var) <= 1
    ranks = sorted(out.values(), key=lambda r: (-r.var_micros2, r.dim))
    assert [r.var_rank for r in ranks] == [1, 2, 3, 4]


def test_degree_assortativity_star_is_minus_one(spark):
    from cartography_spark.operators.graph import degree_assortativity

    # star K_{1,5}: every edge joins the hub (deg 5) to a leaf (deg 1) —
    # degree correlation is exactly -1
    edges = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    out = degree_assortativity(edges).head()
    assert out.n_edges == 10  # symmetrized
    assert out.assortativity_micros == -1_000_000


def test_degree_assortativity_regular_graph_is_degenerate(spark):
    from cartography_spark.operators.graph import degree_assortativity

    # a cycle is 2-regular: zero degree variance -> denominator 0 -> NULL
    # (no correlation is defined), not a crash
    n = 6
    edges = spark.createDataFrame([(i, (i + 1) % n) for i in range(n)], "src long, dst long")
    out = degree_assortativity(edges).head()
    assert out.n_edges == 2 * n
    assert out.assortativity_micros is None


def test_trimmed_mean_drops_exact_rank_count(spark):
    from cartography_spark.operators.profiling import trimmed_mean

    # n=20, 5% trim -> k=1: drop the single min (0) and max (1000)
    vals = [0] + list(range(1, 19)) + [1000]
    df = spark.createDataFrame([("g", v) for v in vals], "grp string, x long")
    out = trimmed_mean(df, "grp", "x").head()
    assert out.n_rows == 20 and out.n_trimmed_each_side == 1
    kept = sorted(vals)[1:-1]
    assert out.kept_sum == sum(kept) and out.n_kept == 18
    assert out.trimmed_mean_milli == round(1000 * sum(kept) / 18)


def test_trimmed_mean_small_group_trims_nothing(spark):
    from cartography_spark.operators.profiling import trimmed_mean

    # n=10 at 5% -> k=0: plain mean
    df = spark.createDataFrame([("g", v) for v in range(10)], "grp string, x long")
    out = trimmed_mean(df, "grp", "x").head()
    assert out.n_trimmed_each_side == 0 and out.n_kept == 10
    assert out.kept_sum == 45


def test_neyman_allocation_favors_high_variance_stratum(spark):
    from cartography_spark.operators.sampling import neyman_allocation

    # equal sizes; stratum b has ~10x the sd -> ~10x the allocation
    rows = [("a", 100 + (i % 2)) for i in range(40)] + [
        ("b", 100 + 10 * (i % 2)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "s string, x long")
    out = {r.stratum: r for r in neyman_allocation(df, "s", "x", n_total=100).collect()}
    assert out["a"].alloc_n + out["b"].alloc_n == 100
    assert out["b"].alloc_n > 85  # sd ratio 10:1
    assert out["a"].n_rows == 40 and out["b"].n_rows == 40


def test_neyman_allocation_sums_to_budget_with_remainders(spark):
    from cartography_spark.operators.sampling import neyman_allocation

    rows = [(f"s{k}", 10 * k + (i % 3)) for k in range(1, 6) for i in range(30)]
    df = spark.createDataFrame(rows, "s string, x long")
    out = neyman_allocation(df, "s", "x", n_total=97).collect()
    assert sum(r.alloc_n for r in out) == 97


def test_rake_scores_multiword_phrase_above_its_words(spark):
    from cartography_spark.operators.textstats import rake_keywords

    # "deep learning" always co-occurs; "data" appears alone and in a pair.
    docs = spark.createDataFrame(
        [
            (0, "deep learning is the future of data"),
            (1, "deep learning and big data"),
            (2, "data matters"),
        ],
        "doc_id long, text string",
    )
    out = {r.phrase: r for r in rake_keywords(docs, k=50).collect()}
    # deg/freq: deep=2/1... deep appears twice, both in 2-word phrase ->
    # deg 4, freq 2 -> ratio 2; learning same -> phrase score 4e6
    assert out["deep learning"].score_micros == 4_000_000
    assert out["deep learning"].n_occurrences == 2
    # single word "data": occurrences in phrases of len 1 ("data"), len 2
    # ("big data"), len 2 ("data matters")? "data matters" is one phrase
    # (no stopword between) -> data: deg=1+2+2=5, freq=3
    assert out["data"].score_micros == round(1e6 * 5 / 3)
    # top phrase must be a multi-word candidate, the RAKE signature
    top = max(out.values(), key=lambda r: (r.score_micros, r.phrase))
    assert top.n_words >= 2


def test_markov_accuracy_bounds_and_model_argmax(spark):
    from cartography_spark.plans.inventory_scale import q_markov_next_event_accuracy
    from tests.conftest import SF_CORRECT

    out = {r.event_type: r for r in q_markov_next_event_accuracy(spark, SF_CORRECT).collect()}
    assert set(out) == {"click", "error", "purchase", "signup", "view"}
    for r in out.values():
        assert 0 <= r.n_correct <= r.n_transitions
        assert r.acc_micros == round(1e6 * r.n_correct / r.n_transitions)


def test_gini_extremes(spark):
    from cartography_spark.operators.profiling import gini_concentration

    # perfectly equal -> 0
    eq = spark.createDataFrame([(i, 10) for i in range(5)], "id long, x long")
    assert gini_concentration(eq, "id", "x").head().gini_micros == 0
    # one holder has everything: G = (n-1)/n = 0.75 for n=4
    conc = spark.createDataFrame([(0, 0), (1, 0), (2, 0), (3, 10)], "id long, x long")
    out = gini_concentration(conc, "id", "x").head()
    assert out.gini_num == 30 and out.gini_den == 40
    assert out.gini_micros == 750_000


def test_composition_entropy_known_cases(spark):
    from cartography_spark.operators.profiling import composition_entropy

    rows = (
        [("mono", "en")] * 8
        + [("duo", "en")] * 4
        + [("duo", "fr")] * 4
    )
    df = spark.createDataFrame(rows, "src string, lang string")
    out = {r.src: r for r in composition_entropy(df, "src", "lang").collect()}
    # single class: H = 0, effective classes = 1
    assert out["mono"].entropy_micronats == 0
    assert out["mono"].effective_classes_milli == 1000
    # uniform over 2: H = ln 2, effective = 2
    assert abs(out["duo"].entropy_micronats - round(1e6 * math.log(2))) <= 1
    assert abs(out["duo"].effective_classes_milli - 2000) <= 1


def test_rbo_weights_and_bounds(spark):
    from cartography_spark.plans.inventory_llm import _RBO_W_MICROS, q_retrieval_rbo_rankings
    from tests.conftest import SF_CORRECT

    # the weight table IS the math: W[m] = sum_{d=m..10} 0.1*0.9^(d-1)/d
    for m in range(1, 11):
        expect = round(1e6 * sum(0.1 * 0.9 ** (d - 1) / d for d in range(m, 11)))
        assert _RBO_W_MICROS[m - 1] == expect
    assert list(_RBO_W_MICROS) == sorted(_RBO_W_MICROS, reverse=True)
    perfect = sum(_RBO_W_MICROS)  # identical top-10 rankings
    out = q_retrieval_rbo_rankings(spark, SF_CORRECT).collect()
    assert len(out) == 8
    for r in out:
        assert 0 <= r.rbo_trunc_micros <= perfect
        assert (r.rbo_trunc_micros > 0) == (r.n_joint > 0)
        # each joint item contributes at most W[1] and at least W[10]
        assert r.rbo_trunc_micros <= r.n_joint * _RBO_W_MICROS[0]
        assert r.rbo_trunc_micros >= r.n_joint * _RBO_W_MICROS[-1]


def test_benford_terms_sum_to_chi2(spark):
    from cartography_spark.plans.inventory_analytics import q_dq_benford_first_digit
    from tests.conftest import SF_CORRECT

    rows = q_dq_benford_first_digit(spark, SF_CORRECT).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    total = rows[0].n_total
    assert sum(r.n_obs for r in rows) == total
    chi2 = rows[0].chi2_milli
    assert all(r.chi2_milli == chi2 for r in rows)
    assert chi2 == sum(r.term_milli for r in rows)
    for r in rows:
        assert r.exp_micros == round(1e6 * math.log10(1 + 1 / r.digit))


def test_cusum_matches_sequential_simulation(spark):
    from cartography_spark.operators.profiling import cusum_changepoint

    # flat at 100 for 12 buckets, then a sustained +30 shift
    xs = [100] * 12 + [130] * 8
    df = spark.createDataFrame(list(enumerate(xs)), "b long, x long")
    slack, h = 5, 40
    out = {r.bucket: r for r in cusum_changepoint(df, "b", "x", slack, h).collect()}
    ref = round(sum(xs) / len(xs))
    s, expect = 0, {}
    for i, x in enumerate(xs):
        s = max(0, s + (x - ref - slack))
        expect[i] = s
    for i in range(len(xs)):
        assert out[i].cusum == expect[i], (i, out[i].cusum, expect[i])
        assert bool(out[i].alarm) is (expect[i] > h)
    # the sustained shift must eventually alarm; the flat prefix must not
    assert not out[0].alarm and out[len(xs) - 1].alarm


def test_mcc_extremes(spark):
    from cartography_spark.operators.profiling import mcc_binary

    rows = [(i % 2 == 0, i % 2 == 0) for i in range(10)]
    perfect = spark.createDataFrame(rows, "actual boolean, pred boolean")
    assert mcc_binary(perfect, "actual", "pred").head().mcc_micros == 1_000_000
    inverted = spark.createDataFrame(
        [(a, not p) for a, p in rows], "actual boolean, pred boolean"
    )
    assert mcc_binary(inverted, "actual", "pred").head().mcc_micros == -1_000_000
    degenerate = spark.createDataFrame(
        [(True, i % 2 == 0) for i in range(10)], "actual boolean, pred boolean"
    )
    assert mcc_binary(degenerate, "actual", "pred").head().mcc_micros is None


def test_chrf_identical_after_whitespace_strip(spark):
    from cartography_spark.operators.textstats import chrf_score

    pairs = spark.createDataFrame(
        [(0, "a b c d e f", "abcdef")],
        "pair_id long, cand_text string, ref_text string",
    )
    out = chrf_score(pairs).head()
    # whitespace stripped -> identical strings -> perfect F at every order
    assert out.clip_1 == 6 and out.cand_total_1 == 6 and out.ref_total_1 == 6
    assert out.f_micros_1 == 1_000_000
    assert out.f_micros_2 == 1_000_000 and out.f_micros_3 == 1_000_000
    assert out.chrf_micros == 1_000_000


def test_chrf_hand_computed_partial_overlap(spark):
    from cartography_spark.operators.textstats import chrf_score

    # cand "abcd", ref "abzd": unigrams both {a,b,d,+1 distinct} ->
    # clip1 = 3 (a,b,d); bigrams cand {ab,bc,cd}, ref {ab,bz,zd} -> clip2=1
    # trigrams cand {abc,bcd}, ref {abz,bzd} -> clip3=0
    pairs = spark.createDataFrame(
        [(0, "abcd", "abzd")], "pair_id long, cand_text string, ref_text string"
    )
    out = chrf_score(pairs).head()
    assert (out.clip_1, out.clip_2, out.clip_3) == (3, 1, 0)
    p1 = r1 = 3 / 4
    f1 = 5 * p1 * r1 / (4 * p1 + r1)
    p2 = r2 = 1 / 3
    f2 = 5 * p2 * r2 / (4 * p2 + r2)
    assert out.f_micros_1 == round(1e6 * f1)
    assert out.f_micros_2 == round(1e6 * f2)
    assert out.f_micros_3 == 0
    assert out.chrf_micros == round((round(1e6 * f1) + round(1e6 * f2) + 0) / 3)


def test_sliding_distinct_users_window_membership(spark):
    from cartography_spark.plans.inventory_analytics import q_events_sliding_distinct_users
    from tests.conftest import SF_CORRECT

    rows = q_events_sliding_distinct_users(spark, SF_CORRECT).collect()
    # every event lands in exactly 6 windows
    ev_total = spark.read.parquet(f"{SF_CORRECT}/events.parquet").count()
    assert sum(r.n_events for r in rows) == 6 * ev_total
    for r in rows:
        assert 1 <= r.n_users <= r.n_events


def test_int8_distortion_hand_computed(spark):
    from cartography_spark.operators.similarity import int8_distortion

    # two vectors per dim at the range endpoints: q=0 and q=254, both
    # reconstruct half a cell away -> e = 0.5/254 per component
    df = spark.createDataFrame(
        [(0, [0.0, 0.0], 1), (1, [1.0, 1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    out = int8_distortion(df).head()
    e = 0.5 / 254.0
    per_comp = round(1e12 * e * e)
    assert out.label == 1 and out.n_vectors == 2
    assert out.total_err_pico == 4 * per_comp
    assert out.mean_err_pico == round(4 * per_comp / 2)
    # constant dims reconstruct exactly
    const = spark.createDataFrame(
        [(0, [3.0, 3.0], 7), (1, [3.0, 3.0], 7)],
        "vec_id long, embedding array<float>, label int",
    )
    assert int8_distortion(const).head().total_err_pico == 0


def test_token_f1_hand_computed(spark):
    from cartography_spark.operators.textstats import token_f1_pairs

    pairs = spark.createDataFrame(
        [(0, "the cat sat", "the cat is on the mat"), (1, "alpha beta", "gamma delta")],
        "pair_id long, cand_text string, ref_text string",
    )
    out = {r.pair_id: r for r in token_f1_pairs(pairs).collect()}
    # pair 0: overlap {the:1, cat:1} = 2; p = 2/3, r = 2/6
    assert out[0].n_overlap == 2 and out[0].cand_len == 3 and out[0].ref_len == 6
    p, r = 2 / 3, 2 / 6
    assert out[0].f1_micros == round(1e6 * 2 * p * r / (p + r))
    # pair 1: zero overlap -> exact 0, no 0/0
    assert out[1].n_overlap == 0 and out[1].f1_micros == 0


def test_cluster_provenance_invariants(spark):
    from cartography_spark.plans.inventory_llm import q_dedup_cluster_provenance
    from tests.conftest import SF_CORRECT

    out = q_dedup_cluster_provenance(spark, SF_CORRECT).head()
    assert out.n_multi_clusters <= out.n_clusters
    assert out.n_cross_source_clusters <= out.n_multi_clusters
    # majority-source docs: at least one per cluster, at most all of them
    assert out.n_multi_clusters <= out.n_majority_source_docs <= out.n_multi_docs
    assert out.source_purity_ppm == (out.n_majority_source_docs * 1_000_000) // out.n_multi_docs
    # a single-source multi-doc cluster is by definition majority-pure
    if out.n_cross_source_clusters == 0:
        assert out.source_purity_ppm == 1_000_000


def test_chrf_short_text_has_no_phantom_ngrams(spark):
    from cartography_spark.operators.textstats import chrf_score

    # 2-char strings have NO trigrams: Spark's sequence(1, 0) is
    # descending ([1, 0]) and once emitted two phantom grams here
    pairs = spark.createDataFrame(
        [(0, "ab", "ab")], "pair_id long, cand_text string, ref_text string"
    )
    out = chrf_score(pairs).head()
    assert out.cand_total_3 == 0 and out.ref_total_3 == 0 and out.clip_3 == 0
    assert out.f_micros_3 == 0
    assert out.cand_total_2 == 1 and out.f_micros_2 == 1_000_000


def test_welch_and_neyman_accept_int_columns(spark):
    from cartography_spark.operators.profiling import welch_ttest
    from cartography_spark.operators.sampling import neyman_allocation

    # IntegerType values > 46340 used to overflow v*v under ANSI
    rows = [("a", 100_000 + i) for i in range(5)] + [("b", 90_000 + 2 * i) for i in range(5)]
    df = spark.createDataFrame(rows, "grp string, x int")
    out = welch_ttest(df, "grp", "x", "a", "b").head()
    assert out.sumsq_a > 0 and out.t_micros is not None
    alloc = neyman_allocation(df, "grp", "x", n_total=10).collect()
    assert sum(r.alloc_n for r in alloc) == 10


def test_gini_accepts_int_rank_product(spark):
    from cartography_spark.operators.profiling import gini_concentration

    df = spark.createDataFrame(
        [(i, 2_000_000_000) for i in range(4)], "id long, x int"
    )
    out = gini_concentration(df, "id", "x").head()
    assert out.gini_micros == 0  # equal values


def test_bleu_empty_candidate_is_guarded(spark):
    from cartography_spark.operators.textstats import bleu_ngram_precision

    pairs = spark.createDataFrame(
        [(0, "...", "the reference text")],
        "pair_id long, cand_text string, ref_text string",
    )
    out = bleu_ngram_precision(pairs).head()
    assert out.cand_len == 0 and out.tot1 == 0
    assert out.p1_micros == 0 and out.bleu2_micros == 0 and out.bp_micros == 0
