"""Property-based tests (hypothesis) for the engine's load-bearing
invariants — beyond the reference's test strategy (SURVEY §5 notes it has
no randomized testing), these pin the MERGE/cleanup/closure semantics on
arbitrary inputs, not just the fixture tables."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from cartography_spark.catalog import GraphCatalog
from cartography_spark.operators.cleanup import cleanup_nodes
from cartography_spark.operators.closure import transitive_closure
from cartography_spark.operators.upsert import load
from cartography_spark.plans.analysis import AddRelationship
from cartography_spark.schema import NodeSchema, PropertyRef

SCHEMA = NodeSchema(
    label="T",
    properties={"id": PropertyRef("k"), "v": PropertyRef("v")},
    scoped_cleanup=False,
)

batch_strategy = st.lists(
    st.tuples(st.integers(0, 20), st.integers(-5, 5)), min_size=0, max_size=25
)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(None, None)], "k int, v int").filter(
        F.col("k").isNotNull()
    )


def _first_per_key(rows):
    out = {}
    for k, v in rows:
        out.setdefault(str(k), v)
    return out


@settings(max_examples=10, deadline=None)
@given(b1=batch_strategy, b2=batch_strategy)
def test_upsert_merge_semantics(spark, b1, b2):
    """After load(b1,T1); load(b2,T2): every key exactly once; keys in b2
    carry b2's value (first occurrence per key — the batch dedup contract),
    firstseen=T1 iff the key was in b1, lastupdated = last touching batch."""
    cat = GraphCatalog(spark)
    load(cat, SCHEMA, _df(spark, b1), 1)
    load(cat, SCHEMA, _df(spark, b2), 2)
    got = {r.id: (r.v, r.firstseen, r.lastupdated) for r in cat.node("T").collect()}

    first1, first2 = _first_per_key(b1), _first_per_key(b2)
    expect = {k: (v, 1, 1) for k, v in first1.items()}
    for k, v in first2.items():
        expect[k] = (v, 1 if k in first1 else 2, 2)
    assert got == expect


pairs_strategy = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 5)), min_size=0, max_size=20
)


@settings(max_examples=10, deadline=None)
@given(b1=pairs_strategy, b2=pairs_strategy)
def test_edge_merge_semantics(spark, b1, b2):
    """The edge half of the MERGE contract across two tags: after derived-
    edge batches at T1 then T2 over arbitrary (src, dst) pairs, duplicates
    included, every pair is stored exactly once, firstseen=T1 iff the pair
    was in batch 1, and lastupdated is the tag of the last touching batch."""
    cat = GraphCatalog(spark)
    rel = AddRelationship("A", "R", "B", "s", "d")
    for tag, rows in ((1, b1), (2, b2)):
        batch = spark.createDataFrame(rows or [(None, None)], "s int, d int")
        rel.apply(cat, batch.filter(F.col("s").isNotNull()), tag)
    stored = cat.edges[rel.key()].collect()
    got = {(r.src_id, r.dst_id): (r.firstseen, r.lastupdated) for r in stored}
    assert len(got) == len(stored)

    expect = {p: (1, 1) for p in b1}
    expect.update({p: (1 if p in expect else 2, 2) for p in b2})
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(b1=batch_strategy, b2=batch_strategy)
def test_cleanup_keeps_exactly_last_sync(spark, b1, b2):
    cat = GraphCatalog(spark)
    load(cat, SCHEMA, _df(spark, b1), 1)
    load(cat, SCHEMA, _df(spark, b2), 2)
    cleanup_nodes(cat, SCHEMA, 2)
    got = {r.id for r in cat.node("T").collect()}
    assert got == {str(k) for k, _ in b2}


edges_strategy = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=16
)


@settings(max_examples=8, deadline=None)
@given(edges=edges_strategy)
def test_closure_matches_bfs(spark, edges):
    """transitive_closure == min-hop BFS on arbitrary digraphs (cycles and
    self-loops included), bounded at 4 hops."""
    eset = {(str(a), str(b)) for a, b in edges}
    df = spark.createDataFrame(sorted(eset), "src_id string, dst_id string")
    got = {(r.src_id, r.dst_id): r.hops for r in transitive_closure(df, max_hops=4).collect()}

    adj: dict[str, set[str]] = {}
    for a, b in eset:
        adj.setdefault(a, set()).add(b)
    expect: dict[tuple[str, str], int] = {}
    for start in adj:
        dist: dict[str, int] = {}
        frontier = {start}
        for hop in range(1, 5):
            frontier = {n for f in frontier for n in adj.get(f, ())}
            frontier = {n for n in frontier if n not in dist}
            for n in frontier:
                dist[n] = hop
            if not frontier:
                break
        for n, h in dist.items():
            expect[(start, n)] = h
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(
    log=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 30), st.sampled_from("IUD")),
        min_size=0,
        max_size=30,
        unique_by=lambda t: (t[0], t[1]),  # (key, seq) unique — the CDC contract
    )
)
def test_cdc_apply_matches_naive_replay(spark, log):
    """cdc_apply == replaying the log in seq order per key in Python."""
    from cartography_spark.operators.incremental import cdc_apply

    rows = [(k, f"v{k}_{seq}", seq, op) for k, seq, op in log]
    df = spark.createDataFrame(
        rows or [(None, None, None, None)], "k int, name string, seq int, op string"
    ).filter(F.col("k").isNotNull())
    got = {r.k: r.name for r in cdc_apply(df, ["k"]).collect()}

    expect = {}
    for k, seq, op in sorted(log, key=lambda t: t[1]):
        if op == "D":
            expect[k] = None
        else:
            expect[k] = f"v{k}_{seq}"
    expect = {k: v for k, v in expect.items() if v is not None}
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_substring_spans_match_bruteforce(spark, docs):
    """dup_windows / dup_tokens agree with a brute-force position-set
    computation over arbitrary tiny corpora."""
    from cartography_spark.operators.dedup import substring_span_stats

    W = 3
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_tokens, r.dup_windows, r.dup_tokens)
        for r in substring_span_stats(df, window=W).collect()
    }

    from collections import Counter

    spans = Counter()
    toks = {i: d.split(" ") for i, d in enumerate(docs)}
    for i, ts in toks.items():
        for s in range(len(ts) - W + 1):
            spans[" ".join(ts[s : s + W])] += 1
    for i, ts in toks.items():
        covered, nwin = set(), 0
        for s in range(len(ts) - W + 1):
            if spans[" ".join(ts[s : s + W])] > 1:
                nwin += 1
                covered.update(range(s, s + W))
        assert got[i] == (len(ts), nwin, len(covered))


@settings(max_examples=8, deadline=None)
@given(
    lefts=st.lists(st.integers(0, 100), min_size=1, max_size=8, unique=True),
    rights=st.lists(st.integers(0, 100), min_size=0, max_size=8, unique=True),
)
def test_asof_nearest_matches_bruteforce(spark, lefts, rights):
    """Nearest as-of == per-left argmin |delta| with past-preferred ties,
    on arbitrary single-key timelines."""
    from datetime import datetime

    from cartography_spark.operators.asof import asof_join_nearest

    t = lambda s: datetime(2026, 1, 1, 0, 0, 0, s * 1000)
    ldf = spark.createDataFrame(
        [(i, 1, t(s)) for i, s in enumerate(lefts)], "lid bigint, u bigint, ts timestamp"
    )
    rdf = spark.createDataFrame(
        [(100 + i, 1, t(s), float(s)) for i, s in enumerate(rights)] or [(None,) * 4],
        "event_id bigint, u bigint, ts timestamp, v double",
    ).filter(F.col("event_id").isNotNull())
    got = {
        r.lid: (None if r.asof_v is None else int(r.asof_v))
        for r in asof_join_nearest(
            ldf, rdf, by="u", ts="ts", value_cols=("v",), left_id="lid"
        ).collect()
    }
    for i, ls in enumerate(lefts):
        if not rights:
            assert got[i] is None
            continue
        best = min(rights, key=lambda rs: (abs(rs - ls), rs > ls))
        assert got[i] == best


@settings(max_examples=8, deadline=None)
@given(
    vecs=st.lists(
        st.tuples(st.floats(-5, 5, allow_nan=False), st.floats(-5, 5, allow_nan=False)),
        min_size=2,
        max_size=10,
    )
)
def test_int8_quantize_preserves_per_dim_order(spark, vecs):
    """Scalar quantization is monotone per dimension: a[i] <= b[i] implies
    code_a[i] <= code_b[i], and all codes stay in [0, 254]."""
    from cartography_spark.operators.similarity import int8_quantize

    emb = spark.createDataFrame(
        [(i, [float(x), float(y)]) for i, (x, y) in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    codes = {r.vec_id: list(r.qvec) for r in int8_quantize(emb).collect()}
    assert all(0 <= c <= 254 for q in codes.values() for c in q)
    import struct

    f32 = lambda x: struct.unpack("f", struct.pack("f", x))[0]
    for i, (xi, yi) in enumerate(vecs):
        for j, (xj, yj) in enumerate(vecs):
            if f32(xi) <= f32(xj):
                assert codes[i][0] <= codes[j][0]
            if f32(yi) <= f32(yj):
                assert codes[i][1] <= codes[j][1]


memberships_strategy = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 6)),  # (doc, bucket)
    min_size=0,
    max_size=40,
)


@settings(max_examples=10, deadline=None)
@given(mem=memberships_strategy)
def test_bipartite_cluster_equals_pair_cluster(spark, mem):
    """cluster_min_label_bipartite over (doc, bucket) memberships must
    equal cluster_min_label over the expanded shared-bucket pair graph —
    the star-contraction equivalence the collapsed dedup path relies on."""
    from itertools import combinations

    from cartography_spark.operators.dedup import (
        cluster_min_label,
        cluster_min_label_bipartite,
    )

    docs = sorted({d for d, _ in mem}) or [0]
    verts = spark.createDataFrame([(d,) for d in docs], "doc_id BIGINT")
    mdf = spark.createDataFrame(
        [(d, f"b{b}") for d, b in mem] or [(0, "b0")], "doc_id BIGINT, bucket STRING"
    )
    got = {
        (r.doc_id, r.cluster, r.keep)
        for r in cluster_min_label_bipartite(mdf, verts, max_iter=16).collect()
    }
    by_bucket: dict = {}
    for d, b in mem:
        by_bucket.setdefault(b, set()).add(d)
    pairs = sorted(
        {tuple(sorted(p)) for ds in by_bucket.values() for p in combinations(ds, 2)}
    )
    pdf = spark.createDataFrame(
        [(a, b) for a, b in pairs] or [(-1, -2)], "a BIGINT, b BIGINT"
    )
    want = {
        (r.doc_id, r.cluster, r.keep)
        for r in cluster_min_label(pdf, verts, max_iter=16, id_col="doc_id").collect()
        if r.doc_id in set(docs)
    }
    assert got == want


@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.integers(0, 2**32 - 1),
    st.sampled_from(["random", "runs", "tiled"]),
)
@settings(max_examples=40, deadline=None)
def test_gif_lzw_roundtrip_property(h, w, seed, style):
    """gif_decode(gif_encode(px)) == px for arbitrary shapes and pixel
    regimes (pure random, run-heavy, small-alphabet tiled — the three LZW
    dictionary behaviors). Pure-Python property: no Spark session needed."""
    import numpy as np

    from cartography_spark.operators.multimodal import gif_decode, gif_encode

    rng = np.random.RandomState(seed % 2**31)
    if style == "random":
        px = rng.randint(0, 256, (h, w)).astype(np.uint8)
    elif style == "runs":
        px = np.repeat(rng.randint(0, 256, (h * w + 6) // 7), 7)[: h * w].reshape(h, w).astype(np.uint8)
    else:
        px = (np.arange(h * w, dtype=np.int64) % max(1, int(seed % 7) + 2)).reshape(h, w).astype(np.uint8)
    dec = gif_decode(gif_encode(px))
    assert dec is not None and dec.shape == (h, w) and (dec == px).all()


@given(
    st.integers(1, 6),
    st.integers(1, 6),
    st.integers(0, 2**32 - 1),
    st.integers(1, 5),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_mjpeg_roundtrip_property(bh, bw, seed, n_frames):
    """Block-constant baseline JPEGs (flat DQT) round-trip exactly for
    arbitrary block grids, and MJPEG streams of them split and frame-
    sample correctly at every stride. Pure-Python, no Spark."""
    import numpy as np

    from cartography_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
        mjpeg_split,
    )

    rng = np.random.RandomState(seed % 2**31)
    frames = []
    for _ in range(n_frames):
        px = np.zeros((8 * bh, 8 * bw), dtype=np.uint8)
        for by in range(bh):
            for bx in range(bw):
                px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = rng.randint(0, 256)
        frames.append(px)
    clip = b"".join(jpeg_encode(px) for px in frames)
    parts = mjpeg_split(clip)
    assert parts is not None and len(parts) == n_frames
    for raw, px in zip(parts, frames):
        dec = jpeg_decode(raw)
        assert dec is not None and dec.shape == px.shape and (dec == px).all()
    for stride in range(1, n_frames + 1):
        sampled = list(range(0, n_frames, stride))
        total = sum(int(jpeg_decode(parts[f]).sum(dtype=np.int64)) for f in sampled)
        expect = sum(int(frames[f].sum(dtype=np.int64)) for f in sampled)
        assert total == expect


@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcd", min_size=1, max_size=9), min_size=1, max_size=8
        ),
        min_size=1,
        max_size=6,
    ),
    st.integers(2, 4),
)
@settings(max_examples=15, deadline=None)
def test_viterbi_min_pieces_property(spark, word_lists, min_count):
    """subword_viterbi_segment finds the true minimum piece count for
    arbitrary corpora: cross-checked against a plain-Python DP over the
    identically mined vocab."""
    from collections import Counter

    from cartography_spark.operators.bpe import subword_viterbi_segment

    texts = [" ".join(ws) for ws in word_lists]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_pieces"])
        for r in subword_viterbi_segment(docs, min_count=min_count).collect()
    }

    words = sorted({w for ws in word_lists for w in ws})
    cnt = Counter(
        w[s:e]
        for w in words
        for s in range(len(w))
        for e in range(s + 2, min(s + 4, len(w)) + 1)
    )
    vocab = {p for p, c in cnt.items() if c >= min_count}

    def mp(w):
        best = [0] + [len(w) + 1] * len(w)
        for i in range(1, len(w) + 1):
            best[i] = best[i - 1] + 1
            for s in range(max(0, i - 4), i - 1):
                if w[s:i] in vocab:
                    best[i] = min(best[i], best[s] + 1)
        return best[len(w)]

    for i, ws in enumerate(word_lists):
        expect = (len(ws), sum(len(w) for w in ws), sum(mp(w) for w in ws))
        assert out[i] == expect, (i, ws, out[i], expect)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    phrase=st.lists(st.sampled_from("ab"), min_size=2, max_size=3),
)
@settings(max_examples=12, deadline=None)
def test_phrase_search_matches_bruteforce(spark, docs, phrase):
    """phrase_search equals the naive per-doc sliding-window count on
    arbitrary tiny corpora (overlaps included, absent docs omitted)."""
    from cartography_spark.operators.textstats import phrase_search

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_matches for r in phrase_search(df, list(phrase)).collect()}
    want = {}
    k = len(phrase)
    for i, words in enumerate(docs):
        toks = " ".join(words).split(" ")  # mirrors the operator's split(' ')
        n = sum(1 for j in range(len(toks) - k + 1) if toks[j : j + k] == list(phrase))
        if n:
            want[i] = n
    assert got == want


# --- round-8 additions: bottom-k sketch, average precision, median-of-means ---

_rows8 = st.lists(
    st.tuples(st.integers(0, 1000), st.integers(-100, 100)), min_size=1, max_size=40, unique_by=lambda t: t[0]
)


@settings(max_examples=10, deadline=None)
@given(rows=_rows8, split=st.integers(1, 999), k=st.integers(1, 12))
def test_bottomk_sample_merge_equals_direct(spark, rows, split, k):
    """bottomk(A u B) == re-take-k(bottomk(A) u bottomk(B)) for EVERY split
    point and k — the exact-mergeability theorem the quantile sketch uses."""
    from cartography_spark.operators.sketches import bottomk_sample

    df = spark.createDataFrame(rows, "id long, v long")
    a, b = df.filter(F.col("id") < split), df.filter(F.col("id") >= split)
    direct = bottomk_sample(df, F.col("id"), F.col("v"), k, "p8")
    merged = (
        bottomk_sample(a, F.col("id"), F.col("v"), k, "p8")
        .unionByName(bottomk_sample(b, F.col("id"), F.col("v"), k, "p8"))
        .orderBy("h")
        .limit(k)
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(-20, 20), st.booleans()), min_size=1, max_size=30
    )
)
def test_average_precision_matches_bruteforce(spark, rows):
    """average_precision == the step-wise threshold definition computed in
    plain Python (with the identical per-term micro quantization)."""
    from cartography_spark.operators.textstats import average_precision

    df = spark.createDataFrame(rows, "s int, y boolean")
    out = average_precision(df, score_col="s", label_col="y").head()
    pos = sum(1 for _, y in rows if y)
    by_s: dict[int, list[int]] = {}
    for s, y in rows:
        c = by_s.setdefault(s, [0, 0])
        c[0 if y else 1] += 1
    cum1 = cumt = 0
    ap_sum = 0
    for s in sorted(by_s, reverse=True):
        n1, n0 = by_s[s]
        cum1 += n1
        cumt += n1 + n0
        # Spark ROUND on doubles is HALF_UP
        import decimal

        ap_sum += int(
            decimal.Decimal(1_000_000.0 * n1 * cum1 / cumt).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
    assert out.n_pos == pos
    assert out.ap_micros_sum == ap_sum
    if pos == 0:
        assert out.average_precision is None


@settings(max_examples=10, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(-10_000, 10_000)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    nb=st.integers(1, 8),
)
def test_median_of_means_matches_bruteforce(spark, rows, nb):
    """mom_micros == the exact median (average of middle two) of the
    per-bucket milli-means computed in plain Python with the same md5
    bucketing and rounding."""
    import decimal
    import hashlib

    from cartography_spark.operators.profiling import median_of_means_by

    df = spark.createDataFrame(rows, "id long, v long")
    out = median_of_means_by(df, F.lit("g"), F.col("id"), F.col("v"), n_buckets=nb).head()

    buckets: dict[int, list[int]] = {}
    for i, v in rows:
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % nb
        buckets.setdefault(b, []).append(v)
    means = sorted(
        int(
            decimal.Decimal(1000.0 * sum(vs) / len(vs)).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
        for vs in buckets.values()
    )
    n = len(means)
    lo, hi = means[(n + 1) // 2 - 1], means[-(-(n + 1) // 2) - 1]
    assert out.n_buckets_eff == n
    assert out.mom_micros == (lo + hi) * 500
