"""Round-3 fixes: the IVF index-build/probe split, fractional as-of
tolerance axes, hits_exact argument validation, shuffle-partition conf
fallback, the host-sized driver heap, and the layout and statistics
operators of that round. Its multimodal codec tests live in
test_multimodal.py, its analysis-DSL tests in test_analysis_dsl.py, its
iteration-cache release test in test_session_state.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cartography_spark.session import driver_memory, shuffle_partition_count


def test_shuffle_partition_count_numeric(spark):
    # another test in the session may legitimately retune the conf; the
    # contract under test is only the numeric-parse path
    assert shuffle_partition_count(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_shuffle_partition_count_non_numeric_falls_back():
    # Spark 4 validates the conf at set-time, so simulate an environment
    # (e.g. Databricks "auto") where the getter returns a non-numeric value
    class _Conf:
        def get(self, key, default=None):
            return "auto"

    class _SC:
        defaultParallelism = 12

    class _Spark:
        conf = _Conf()
        sparkContext = _SC()

    assert shuffle_partition_count(_Spark()) == 12


def test_driver_memory_sized_to_host(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    # a 15.7 GB host: 60% of MemTotal, in MiB
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:         1024 kB\n")
    assert driver_memory(str(meminfo)) == "9655m"
    # a 128 GB host is capped at 24g
    meminfo.write_text("MemTotal:      134217728 kB\n")
    assert driver_memory(str(meminfo)) == "24576m"
    # unreadable or unparsable meminfo falls back to the 24g ceiling
    assert driver_memory(str(tmp_path / "missing")) == "24576m"
    meminfo.write_text("MemFree: 1024 kB\n")
    assert driver_memory(str(meminfo)) == "24576m"


def test_driver_memory_override(tmp_path, monkeypatch):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\n")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert driver_memory(str(meminfo)) == "2g"


def test_hits_exact_rejects_non_positive_iterations(spark):
    from cartography_spark.operators.graph import hits_exact

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        hits_exact(edges, iterations=0)


def test_asof_tolerance_fractional_numeric_axis(spark):
    """A numeric-axis match at distance 1.1 with tolerance 1 must be nulled
    (long-cast truncation used to keep it: 1-0 <= 1)."""
    from cartography_spark.operators.asof import asof_join_backward_tolerance

    left = spark.createDataFrame([(1, 7, 1.5)], "lid long, k long, ts double")
    right = spark.createDataFrame([(10, 7, 0.4, 9.0)], "rid long, k long, ts double, rv double")
    out = asof_join_backward_tolerance(
        left, right, by="k", ts="ts", value_cols=("rv",), tolerance=1
    ).collect()[0]
    assert out["asof_ts"] is None and out["asof_rv"] is None


def test_ivf_assign_matches_inline_assignment(spark):
    """Prebuilt inverted lists (index build) must give the same top-k as the
    inline assignment path."""
    from cartography_spark.operators.similarity import ivf_ann_topk, ivf_assign

    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    q = rows[3][1]
    inline = ivf_ann_topk(emb, q, k=5, n_centroids=4, n_probe=2, centroids=cents).collect()
    prebuilt = ivf_ann_topk(
        emb,
        q,
        k=5,
        n_centroids=4,
        n_probe=2,
        centroids=cents,
        assigned=ivf_assign(emb, cents).localCheckpoint(eager=True),
    ).collect()
    assert [(r.vec_id, r.cosine) for r in inline] == [(r.vec_id, r.cosine) for r in prebuilt]


def test_client_read_sinks_roundtrip(spark):
    from cartography_spark.plans.inventory_meta import q_client_read_sinks

    rows = q_client_read_sinks(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 5  # region 0 has 5 nations
    first = min(rows, key=lambda r: r.n_nationkey)
    assert all(r.first_key == first.n_nationkey for r in rows)
    assert all(r.name_dict == r.name_tuple == r.name_iter for r in rows)


def test_url_canonicalization_edges(spark):
    from cartography_spark.functions.urls import canonicalize_url, registrable_domain, split_url

    cases = [
        # (raw, canonical, domain)
        ("HTTP://WWW.Example.COM:80//a/b/?utm_source=x&q=1#frag",
         "http://www.example.com/a/b?q=1", "example.com"),
        ("https://Sub.Shop.co.uk:443/", "https://sub.shop.co.uk/", "shop.co.uk"),
        ("https://example.org", "https://example.org/", "example.org"),
        # href= must NOT be treated as the tracking param ref=
        ("http://a.com/p?href=keep&ref=drop", "http://a.com/p?href=keep", "a.com"),
        ("http://10.1.2.3:8080/x/", "http://10.1.2.3:8080/x", "10.1.2.3"),
        ("https://b.net/?utm_campaign=only", "https://b.net/", "b.net"),
    ]
    df = spark.createDataFrame([(r,) for r, _, _ in cases], "url string")
    got = df.select(
        canonicalize_url("url").alias("c"),
        registrable_domain(split_url("url")["hostport"]).alias("d"),
    ).collect()
    for (_, want_c, want_d), row in zip(cases, got):
        assert row.c == want_c, (row.c, want_c)
        assert row.d == want_d, (row.d, want_d)


def test_logreg_hard_sigmoid_learns_separable(spark):
    """On a linearly separable set the integer GD must reach perfect
    training accuracy, and floor-division updates must be exact for
    negative gradients."""
    from cartography_spark.operators.linear import logreg_score, logreg_train

    rows = [(float(x - 10), 1 if x > 10 else 0) for x in range(1, 21)]
    df = spark.createDataFrame(rows, "x1 double, y long")
    w = logreg_train(df, ("x1",), "y", iterations=10, lr_inv=50)
    rep = logreg_score(df, w, ("x1",), "y").collect()[0]
    assert rep.n == 20
    assert rep.n_correct == 20, (w, rep)


def test_fld_exact_for_negatives(spark):
    from cartography_spark.operators.linear import _fld

    df = spark.createDataFrame([(-7,), (-8,), (7,), (0,)], "a long")
    got = [int(r.f) for r in df.select(_fld(F.col("a")).alias("f")).collect()]
    assert got == [-2, -2, 1, 0]  # true floor, not truncation


def test_paged_api_source_partitions(spark):
    """The Python DataSource's pagination is the partitioning: 8 pages at 2
    pages/partition -> 4 input partitions, rows exactly the deterministic
    sequence."""
    from cartography_spark.sources.api_source import register

    register(spark)
    df = (
        spark.read.format("paged_api")
        .option("n_pages", 8)
        .option("page_size", 10)
        .option("pages_per_partition", 2)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = sorted((r.asset_id, r.region, r.value) for r in df.collect())
    assert len(rows) == 80
    assert rows[0] == (0, 0, 0)
    assert rows[7] == (7, 2, (7 * 2654435761) % 1000)


def test_variant_missing_path_is_null(spark):
    df = spark.createDataFrame([('{"k": 3}',)], "props string")
    out = df.select(
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
        F.try_variant_get(F.parse_json("props"), "$.absent", "bigint").alias("m"),
    ).collect()[0]
    assert out.k == 3 and out.m is None


def test_shard_assignment_balance_property(spark, sf_dir):
    """LPT round-robin invariant: per-shard char totals differ by at most
    8x the largest single document (round-robin over a size-sorted order
    bounds the spread by one document per dealing round, and the last
    incomplete round can skip shards)."""
    from cartography_spark.plans.registry import REGISTRY, all_queries

    all_queries()
    out = REGISTRY["shard_assignment_balanced"].spark(spark, sf_dir).collect()
    assert len(out) == 8
    totals = [r.total_chars for r in out]
    max_doc = max(r.max_chars for r in out)
    assert max(totals) - min(totals) <= 8 * max_doc
    assert max(r.n_docs for r in out) - min(r.n_docs for r in out) <= 1


def test_l_diversity_flags_homogeneous_groups(spark):
    rows = [
        # nation 0, band 0: 3 distinct segments -> diverse
        (0, "A", 100.0), (1, "B", 200.0), (2, "C", 300.0),
        # nation 1, band 0: one segment repeated -> suppress
        (3, "A", 100.0), (4, "A", 200.0), (5, "A", 300.0),
    ]
    df = spark.createDataFrame(
        [(i, seg, bal, n) for (i, seg, bal), n in zip(rows, [0, 0, 0, 1, 1, 1])],
        "c_custkey int, c_mktsegment string, c_acctbal double, c_nationkey int",
    )
    cells = (
        df.groupBy(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000).cast("int").alias("bal_band"),
        )
        .agg(F.countDistinct("c_mktsegment").alias("l_distinct"))
        .collect()
    )
    by_nation = {r.c_nationkey: r.l_distinct for r in cells}
    assert by_nation[0] == 3 and by_nation[1] == 1


def test_layout_compaction_preserves_clustering(spark):
    """Sorted bin-packing: output bins are date-ordered and roughly
    target-sized, so data skipping still works after compaction."""
    from cartography_spark.plans.inventory_catalog import q_layout_compaction_plan

    rows = sorted(
        q_layout_compaction_plan(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r.bin,
    )
    assert rows
    # every bin except the last holds the 2000-row target within one
    # file's slack (floor assignment can push a boundary file either way)
    assert all(abs(r.n_rows - 2000) < 200 for r in rows[:-1])
    # clustering preserved: consecutive bins' date ranges are ordered
    for a, b in zip(rows, rows[1:]):
        assert a.mn_date <= b.mn_date and a.mx_date <= b.mx_date


def test_layout_overlap_depth_separates_layouts(spark):
    """Range files overlap only at month boundaries; hash files all span
    the full domain — avg depth must separate the two layouts sharply."""
    from cartography_spark.plans.inventory_catalog import q_layout_overlap_depth

    d = {r.layout: r for r in q_layout_overlap_depth(spark, "/root/testdata/sf0.01").collect()}
    assert d["hash"].avg_depth == d["hash"].max_depth  # fully interleaved
    assert d["range"].avg_depth < d["hash"].avg_depth / 10


def test_viterbi_segmentation_matches_bruteforce(spark):
    """The pure-Column Viterbi fold finds the true minimum piece count:
    cross-check every distinct word against an exhaustive enumeration of
    segmentations over the same mined vocab."""
    from itertools import count as _count

    from cartography_spark.operators.bpe import subword_viterbi_segment

    texts = [
        "abab abab cdcd ababcd",
        "abab cdcd cdcd xyz",
        "ababab cdabab q",
        "abcd abcd abab cd",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_pieces"])
        for r in subword_viterbi_segment(docs, min_count=3).collect()
    }

    # mine the same vocab in plain Python
    words = sorted({w for t in texts for w in t.split()})
    from collections import Counter

    cnt = Counter(
        w[s:e]
        for w in words
        for s in range(len(w))
        for e in range(s + 2, min(s + 4, len(w)) + 1)
    )
    vocab = {p for p, c in cnt.items() if c >= 3}

    def min_pieces(w):
        best = [0] + [len(w) + 1] * len(w)
        for i in range(1, len(w) + 1):
            best[i] = best[i - 1] + 1  # char fallback
            for s in range(max(0, i - 4), i - 1):
                if w[s:i] in vocab:
                    best[i] = min(best[i], best[s] + 1)
        return best[len(w)]

    for i, t in enumerate(texts):
        ws = t.split()
        expect = (len(ws), sum(len(w) for w in ws), sum(min_pieces(w) for w in ws))
        assert out[i] == expect, (i, out[i], expect)


def test_ranking_auc_matches_pair_counting(spark):
    """AUC from the midrank U statistic equals brute-force pair counting
    P(s_pos > s_neg) + 0.5 P(=), including ties and duplicated scores."""
    from cartography_spark.operators.textstats import ranking_auc

    rows = [(3, True), (3, False), (2, True), (1, False), (1, False),
            (5, True), (5, True), (2, False), (4, False), (0, True)]
    df = spark.createDataFrame(rows, "score_millinats int, correct boolean")
    got = ranking_auc(df).collect()[0]

    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert got["u2"] == int(2 * wins)
    assert abs(got["auc"] - wins / (len(pos) * len(neg))) < 1e-12
    assert abs(got["gini"] - (2 * wins / (len(pos) * len(neg)) - 1)) < 1e-12


def test_t_closeness_tvd_matches_float_reference(spark):
    """The cross-multiplied integer tvd_num equals the textbook float
    total-variation distance over ALL sensitive values (including values
    absent from a cell), on a skewed hand-built table."""
    from collections import Counter

    from cartography_spark.plans.inventory_prep import q_privacy_t_closeness

    rows = []
    # nation 0 band 0: single-valued (max leak); nation 1 band 0: dominates
    # the table so its mix IS close to the global mix
    for seg, k in [("A", 9)]:
        rows += [(0, seg, 100.0)] * k
    for seg, k in [("A", 10), ("B", 10), ("C", 10)]:
        rows += [(1, seg, 100.0)] * k
    df = spark.createDataFrame(
        rows, "c_nationkey int, c_mktsegment string, c_acctbal double"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "customer.parquet"))
        out = {
            (r["c_nationkey"], r["bal_band"]): r
            for r in q_privacy_t_closeness(spark, d).collect()
        }

    glob = Counter(seg for _, seg, _ in rows)
    n = len(rows)
    for nat in (0, 1):
        cell = Counter(seg for nk, seg, _ in rows if nk == nat)
        g = sum(cell.values())
        tvd = 0.5 * sum(abs(cell.get(v, 0) / g - glob[v] / n) for v in glob)
        r = out[(nat, 0)]
        assert r["group_size"] == g
        assert abs(r["tvd"] - tvd) < 1e-12
        assert r["suppress"] == (tvd > 0.25)
    assert out[(0, 0)]["suppress"] and not out[(1, 0)]["suppress"]


def test_pareto_skyline_matches_dominance_bruteforce(spark):
    """The per-date-collapse skyline equals the O(n^2) dominance
    definition, including same-date ties and duplicate points."""
    import tempfile, os

    from cartography_spark.plans.inventory_analytics import q_pareto_skyline

    pts = [  # (key, date_ordinal, price)
        (1, 1, 50.0), (2, 1, 50.0), (3, 1, 40.0), (4, 2, 60.0),
        (5, 2, 55.0), (6, 3, 60.0), (7, 3, 70.0), (8, 4, 70.0),
        (9, 5, 65.0),
    ]
    import datetime

    rows = [
        (k, datetime.datetime(2020, 1, d), p) for k, d, p in pts
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "orders.parquet"))
        got = sorted(r["o_orderkey"] for r in q_pareto_skyline(spark, tmp).collect())

    def dominated(a, b):  # b dominates a
        return (
            b[1] <= a[1] and b[2] >= a[2] and (b[1] < a[1] or b[2] > a[2])
        )

    expect = sorted(
        k for (k, d, p) in pts
        if not any(dominated((k, d, p), o) for o in pts if o[0] != k)
    )
    assert got == expect, (got, expect)


def test_hll_rollup_merge_exact_under_overlap(spark):
    """Merging per-group HLL registers equals the directly-built sketch
    even when values overlap across groups (where summing per-group
    exact distincts would overcount)."""
    from cartography_spark.operators.sketches import (
        hll_estimate_from_registers,
        hll_registers,
        hll_registers_by,
    )

    rows = [("a", i) for i in range(200)] + [("b", i) for i in range(100, 300)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    per = hll_registers_by(df, "user_id", ["event_type"])
    merged = per.groupBy("b").agg(F.max("mx").alias("mx"))
    direct = hll_registers(df, "user_id")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    em = hll_estimate_from_registers(merged).collect()[0]["estimate"]
    ed = hll_estimate_from_registers(direct).collect()[0]["estimate"]
    assert em == ed
    # the estimate tracks the true 300 (not the summed 400)
    assert abs(em - 300) / 300 < 0.25


def test_poisson_bootstrap_ci_statistical_sanity(spark):
    """The one-pass bootstrap CI brackets the true mean on a synthetic
    population, the point mean is exact, and replicate weights follow
    the truncated-Poisson(1) distribution within tolerance."""
    from cartography_spark.operators.sampling import _poisson_from_hex_slice, poisson_bootstrap_ci

    n = 4000
    df = spark.createDataFrame(
        [(str(i), (i * 37) % 1000) for i in range(n)], "rid string, x long"
    )
    out = poisson_bootstrap_ci(df, F.col("x"), F.col("rid")).collect()[0]
    true_mean = sum((i * 37) % 1000 for i in range(n)) / n
    assert out["n_rows"] == n
    assert abs(out["point_mean"] - true_mean) < 1e-9
    assert out["ci_lo"] < true_mean < out["ci_hi"]
    # CI width ~ 2*1.96*sigma/sqrt(n): sigma ~ 288 for uniform(0,1000)
    assert 0 < out["ci_hi"] - out["ci_lo"] < 60
    # replicate 0's weights, drawn as the bootstrap draws them (first hex
    # slice of md5("boot0:" + id)): mean weight ~ 1, P(w=0) ~ e^-1
    h = F.md5(F.concat(F.lit("boot0:"), F.col("rid")))
    wdf = df.select(_poisson_from_hex_slice(F.substring(h, 1, 8)).alias("w"))
    stats = wdf.agg(
        F.avg("w").alias("mw"), F.avg((F.col("w") == 0).cast("int")).alias("p0")
    ).collect()[0]
    assert abs(stats["mw"] - 1.0) < 0.05
    assert abs(stats["p0"] - 0.3679) < 0.03


def test_ks_two_sample_matches_scipy_free_reference(spark):
    """The cross-multiplied KS statistic equals a plain-Python ECDF
    computation on shifted populations, and detects the shift."""
    from cartography_spark.operators.profiling import ks_two_sample

    a = [(i % 10, "a") for i in range(300)]
    b = [((i % 10) + 2, "b") for i in range(200)]  # shifted by 2
    df = spark.createDataFrame(a + b, "v long, g string")
    out = ks_two_sample(
        df, F.col("v"), F.col("g") == "a", F.col("g") == "b"
    ).collect()[0]

    vals = sorted({v for v, _ in a + b})
    na, nb = len(a), len(b)
    best = max(
        (
            abs(nb * sum(1 for v, g in a if v <= x) - na * sum(1 for v, g in b if v <= x)),
            -x,
        )
        for x in vals
    )
    assert out["n_a"] == na and out["n_b"] == nb
    assert out["d_num"] == best[0]
    assert out["ks_at_value"] == -best[1]
    assert abs(out["ks_stat"] - best[0] / (na * nb)) < 1e-12
    assert out["reject_95"]  # a shift of 2 on support 0..9 is decisive


def test_psi_drift_reference_and_sensitivity(spark):
    """PSI matches a plain-Python computation (same millinat quantization)
    and flags a deliberately shifted distribution while passing a
    stationary one."""
    import math

    from cartography_spark.operators.profiling import psi_drift

    def run(rows):
        df = spark.createDataFrame(rows, "bin int, g string")
        return psi_drift(
            df, F.col("bin"), F.col("g") == "a", F.col("g") == "b"
        ).collect()[0]

    # stationary: same distribution both sides
    same = [(i % 5, "a") for i in range(500)] + [(i % 5, "b") for i in range(400)]
    r = run(same)
    assert not r["major_shift"] and abs(r["psi"]) < 0.01

    # shifted: b concentrates in high bins
    shifted = [(i % 5, "a") for i in range(500)] + [(3 + (i % 2), "b") for i in range(400)]
    r2 = run(shifted)
    assert r2["major_shift"] and r2["psi"] > 0.2

    # reference recomputation with identical quantization
    from collections import Counter

    ca = Counter(b for b, g in shifted if g == "a")
    cb = Counter(b for b, g in shifted if g == "b")
    bins = sorted(set(ca) | set(cb))
    na_s, nb_s = sum(ca.values()) + len(bins), sum(cb.values()) + len(bins)
    s = 0
    for b in bins:
        num_a = (ca.get(b, 0) + 1) * nb_s
        num_b = (cb.get(b, 0) + 1) * na_s
        q = round(math.log(num_a / num_b) * 1000)
        s += (num_a - num_b) * q
    assert abs(r2["psi"] - s / (na_s * nb_s) / 1000.0) < 1e-12


def test_conformal_calibration_exact_order_statistic(spark):
    """q_hat equals the ceil((n+1)(1-alpha))-th smallest score computed by
    plain sorting, across duplicate-heavy and unique score sets, and the
    guarantee holds: at least k calibration scores are <= q_hat."""
    import math

    from cartography_spark.operators.profiling import conformal_interval_calibrate

    for scores in (
        [5] * 40 + [7] * 30 + [9] * 30,          # heavy ties
        list(range(100)),                          # all unique
        [3, 3, 3, 8],                              # tiny n (k > n clamp)
    ):
        df = spark.createDataFrame([(s,) for s in scores], "s long")
        out = conformal_interval_calibrate(df).collect()[0]
        n = len(scores)
        k = math.ceil((n + 1) * 0.9)
        expect = sorted(scores)[min(k, n) - 1]
        assert out["n_cal"] == n and out["k"] == k
        assert out["q_hat"] == expect, (scores[:5], out["q_hat"], expect)
        assert sum(1 for s in scores if s <= out["q_hat"]) >= min(k, n)


def test_conformal_coverage_meets_target(spark):
    """End-to-end: empirical test coverage lands at or near the 90% target
    on real fixture data (conformal guarantees >= target in expectation)."""
    from cartography_spark.plans.inventory_analytics import q_conformal_interval

    out = q_conformal_interval(spark, "/root/testdata/sf0.001").collect()[0]
    assert out["n_cal"] > 100 and out["n_test"] > 100
    assert out["coverage"] > 0.85  # finite-sample wiggle below the guarantee


def test_chi2_matches_contingency_reference(spark):
    """Spark chi2 equals a plain-Python 2x2 contingency computation on a
    small labeled corpus, including the top-k ordering."""
    from collections import Counter

    from cartography_spark.operators.dedup import portable_hash32  # noqa: F401
    from cartography_spark.operators.textstats import chi2_feature_selection

    texts = [
        (0, "aa bb aa cc", "en"), (1, "aa aa bb", "en"), (2, "dd ee dd", "fr"),
        (3, "ee dd ff", "fr"), (4, "bb cc aa", "en"), (5, "ff ee dd dd", "fr"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string, lang string")
    got = chi2_feature_selection(docs, n_buckets=8, top_k=5).collect()

    import hashlib

    def bucket(tok):
        return int(hashlib.md5(f"nb:{tok}".encode()).hexdigest()[:8], 16) % 8

    cells = Counter()
    for _, t, g in texts:
        for tok in t.split():
            cells[(g, bucket(tok))] += 1
    n = sum(cells.values())
    rows = []
    for (g, b), c in cells.items():
        rb = sum(v for (gg, bb), v in cells.items() if bb == b)
        cl = sum(v for (gg, bb), v in cells.items() if gg == g)
        delta = c * (n - rb - cl + c) - (rb - c) * (cl - c)
        chi2 = n * float(delta) * float(delta) / rb / (n - rb) / cl / (n - cl)
        rows.append((chi2, g, b, c))
    rows.sort(key=lambda r: (-r[0], r[1], r[2]))
    for i, r in enumerate(got):
        chi2, g, b, c = rows[i]
        assert (r["rank"], r["label"], r["bucket"], r["c"]) == (i + 1, g, b, c)
        assert abs(r["chi2"] - chi2) < 1e-9
