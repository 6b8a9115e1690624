"""Embedding similarity search over an ``array<float>`` column.

Two paths, both set-based:

- ``cosine_topk``: brute-force exact top-k against one query vector.
  The dot product runs JVM-side via ``F.zip_with`` + ``F.aggregate`` (no
  Python in the loop); at scale this is one full scan + TakeOrdered — the
  right baseline, and embarrassingly parallel.
- ``lsh_ann_topk``: random-hyperplane LSH. Hyperplane components are
  md5-derived ±1 (deterministic and oracle-reproducible; at 100 TB you'd
  precompute a broadcast matrix — same plan shape). Vectors sharing the
  query's signature bucket get exact re-ranking; the scan is pruned by the
  bucket equality filter, which pushes down to the signature column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ROUND_DIGITS = 4
N_PLANES = 8
QUERY_ID = 0
TOP_K = 10
N_CENTROIDS = 16
N_SUB = 4
QUERY_DOC_ID = 0
K_EACH = 20
RRF_K = 60
DIM = 64


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<double> columns, JVM-side, left-to-right
    accumulation (deterministic and engine-portable)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact brute-force top-k by cosine similarity to ``query_vec``."""
    q = F.lit(query_vec).cast("array<double>")
    v = F.col("embedding").cast("array<double>")
    scored = embeddings.select(
        F.col("vec_id"), F.round(cosine_similarity(v, q), ROUND_DIGITS).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def plane_signs(i: int, dim: int) -> list[float]:
    """±1 components of hyperplane i: +1 iff md5("i_j") has an even first
    hex nibble. Computed driver-side with hashlib — bit-identical to an
    engine-side md5, so oracles reproduce it — and embedded as a literal,
    so the per-row cost is one dot product instead of ``dim`` md5 calls."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
        for j in range(dim)
    ]


def hyperplane_signature(vec_col: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane signature: bit i = 1 iff dot(v, h_i) > 0 with
    h_i the md5-derived ±1 vector of :func:`plane_signs`. Deterministic,
    no RNG state; the sign matrix is a plan constant (at very high dims
    you'd broadcast it into a pandas-UDF matmul — same signature values)."""
    v = vec_col.cast("array<double>")
    bits = []
    for i in range(n_planes):
        comps = F.lit(plane_signs(i, dim)).cast("array<double>")
        dot = F.aggregate(F.zip_with(v, comps, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b)
        bits.append(F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig


def lsh_ann_topk(embeddings: DataFrame, query_vec: list[float], dim: int, k: int = 10) -> DataFrame:
    """ANN: filter to the query's LSH bucket, then exact cosine re-rank.
    Recall < 1.0 by construction; the oracle replicates the same bucketing
    so results are still exactly checkable."""
    sig = hyperplane_signature(F.col("embedding"), dim, N_PLANES)
    with_sig = embeddings.withColumn("__sig", sig)
    q = F.lit(query_vec).cast("array<double>")
    qsig = hyperplane_signature(q, dim, N_PLANES)
    bucket = with_sig.filter(F.col("__sig") == qsig)
    v = F.col("embedding").cast("array<double>")
    scored = bucket.select(
        F.col("vec_id"), F.round(cosine_similarity(v, q), ROUND_DIGITS).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF index build: assign every stored vector to its max-cosine cell
    (ties -> lowest cid). Returns (id, cid, __v array<double>) — the
    inverted lists. Cell assignment is a broadcast cross join (|emb| x K
    cosine evaluations, JVM-side) folded by a mergeable ``min_by``
    aggregate — partial aggregation map-side, no per-id window sort
    (negation of a double is exact, so the ordering is identical to
    ORDER BY cos DESC, cid ASC). At very large K you'd move the
    assignment into a pandas-UDF matmul — the surrounding plan shape is
    unchanged. Run once per corpus snapshot; probes reuse the result."""
    v = F.col("embedding").cast("array<double>")
    cents = centroids.select("cid", F.col("cv").cast("array<double>").alias("cv"))
    scored = embeddings.select(F.col("vec_id"), v.alias("__v")).crossJoin(F.broadcast(cents))
    scored = scored.withColumn("__cos", cosine_similarity(F.col("__v"), F.col("cv")))
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("cid", "__v"), F.struct((-F.col("__cos")).alias("nc"), F.col("cid"))
            ).alias("__b")
        )
        .select("vec_id", F.col("__b.cid").alias("cid"), F.col("__b.__v").alias("__v"))
    )


def ivf_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: DataFrame | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions vectors into
    ``n_centroids`` cells; the query probes only its ``n_probe`` nearest
    cells and re-ranks exactly inside them.

    ``assigned`` (id, cid, __v) supplies the PREBUILT inverted lists from
    :func:`ivf_assign` — the index-build/probe split production IVF uses:
    stored vectors are assigned to cells once at index time, so a query
    costs only the probe-cell selection (K broadcast rows) plus the exact
    re-rank over ~n_probe/n_centroids of the data.

    ``centroids`` (cid, cv array<double>) supplies a TRAINED coarse
    quantizer — typically clustering.trained_centroid_frame (integer-exact
    k-means round, still oracle-reproducible). Without it, cells are
    seeded by the first ``n_centroids`` vectors (deterministic fallback).
    Either way the plan is identical: cell assignment is a broadcast cross
    join (|emb| x K cosine evaluations, JVM-side) + one window argmax; at
    very large K you'd move the assignment into a pandas-UDF matmul — the
    surrounding plan is unchanged. The probe filter is an equi-semi-join
    on cell id, so the exact re-rank scans ~n_probe/n_centroids of the
    data.
    """
    v = F.col("embedding").cast("array<double>")
    if centroids is None:
        cents = embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cid"), v.alias("cv")
        )
    else:
        cents = centroids.select("cid", F.col("cv").cast("array<double>").alias("cv"))
    q = F.lit(query_vec).cast("array<double>")

    if assigned is None:
        assigned = ivf_assign(embeddings, cents)

    probes = (
        cents.withColumn("__qcos", cosine_similarity(F.col("cv"), q))
        .orderBy(F.col("__qcos").desc(), F.col("cid").asc())
        .limit(n_probe)
        .select("cid")
    )
    bucket = assigned.join(F.broadcast(probes), "cid", "left_semi")
    out = bucket.select(
        F.col("vec_id"), F.round(cosine_similarity(F.col("__v"), q), ROUND_DIGITS).alias("cosine")
    )
    return out.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def sparse_token_cosine_pairs(docs: DataFrame, min_cos: float = 0.5, k: int = 20) -> DataFrame:
    """All-pairs sparse cosine similarity over word-bigram count vectors
    via an INVERTED-INDEX join — the set-based sparse analogue of the
    dense embedding paths above:

      tf(doc, gram) -> prune grams with df < 2 (can't pair) or
      df > N/10 (stopword-like grams, the df-cap that bounds the
      per-gram pair fan-out to df^2 — the standard sparse-similarity
      scalability lever) -> self-join on gram -> sum(tf_a*tf_b) -> dot.

    Dot products and norms are INTEGER sums (order-free, engine-exact);
    the only float ops are one sqrt+multiply+divide per surviving pair,
    so results are bit-identical in the DuckDB oracle. At 100 TB the
    df-cap plus a MinHash-LSH prefilter (dedup_minhash_lsh) bound the
    pair explosion; the join partitions by gram, the final aggregate by
    (doc_a, doc_b).
    """
    from cartography_spark.operators.textprep import _tokens, _word_ngrams

    sc = docs.sparkSession.sparkContext
    grams = docs.repartition(sc.defaultParallelism).select(
        F.col("doc_id").alias("doc"), F.explode(_word_ngrams(_tokens(), 2)).alias("g")
    )
    tf = grams.groupBy("doc", "g").agg(F.count("*").cast("bigint").alias("tf"))
    # tf feeds FOUR consumers (norms, the df filter, and both self-join
    # sides): materialize once or the explode+groupBy pipeline re-runs per
    # consumer (observed 4x wall clock at sf0.1 vs the materialized plan).
    tf = tf.localCheckpoint(eager=True)
    norms = tf.groupBy("doc").agg(F.sum(F.col("tf") * F.col("tf")).alias("nrm"))
    total = docs.agg(F.count("*").alias("total"))
    dfk = (
        tf.groupBy("g")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(total))
        .filter((F.col("df") >= 2) & (F.col("df") <= F.floor(F.col("total") / 10)))
        .select("g")
    )
    kept = tf.join(F.broadcast(dfk), "g")
    a = kept.select(F.col("g"), F.col("doc").alias("doc_a"), F.col("tf").alias("ta"))
    b = kept.select(F.col("g"), F.col("doc").alias("doc_b"), F.col("tf").alias("tb"))
    dots = (
        a.join(b, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("ta") * F.col("tb")).alias("dot"))
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb")))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("c"))
        .filter(F.col("c") >= min_cos)
        .orderBy(F.col("c").desc(), "doc_a", "doc_b")
        .limit(k)
        .select("doc_a", "doc_b", F.round(F.col("c"), 6).alias("cosine"))
    )


def int8_quantize(embeddings: DataFrame) -> DataFrame:
    """Scalar-quantize float vectors to [0, 254] integers per dimension
    (the int8 compression path every 100 TB vector store ships: 4x less
    I/O and integer dot products instead of float).

    Per-dim min/max come from one posexplode + 64-key groupBy (map-side
    combinable), folded into a single broadcast row of (mins, maxs)
    arrays; quantization itself is a JVM-side ``transform`` — no Python,
    no second shuffle. q = floor((v - mn) * 254 / (mx - mn)), clamped,
    constant dims -> 0. All arithmetic is IEEE-double then integer, so
    any engine reproduces the codes bit-exactly.
    """
    pos = embeddings.select(F.posexplode(F.col("embedding")).alias("pos", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    stats = pos.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    row = stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("__mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("__mxs"),
    )
    qvec = F.transform(
        F.col("embedding"),
        lambda v, i: F.when(
            F.get("__mxs", i) > F.get("__mns", i),
            F.least(
                F.floor(
                    (v.cast("double") - F.get("__mns", i))
                    * F.lit(254.0)
                    / (F.get("__mxs", i) - F.get("__mns", i))
                ),
                F.lit(254).cast("long"),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    return (
        embeddings.crossJoin(F.broadcast(row))
        .select(F.col("vec_id"), qvec.alias("qvec"))
    )


def int8_topk(embeddings: DataFrame, k: int = 20) -> DataFrame:
    """Top-k neighbors by integer dot product over int8-quantized vectors.

    The scan side never materializes floats: one pass over the quantized
    codes, a broadcast 1-row query vector, an integer zip_with/aggregate
    dot, then TakeOrdered(k) — order (qdot DESC, id ASC) is total, so
    the cut is deterministic.
    """
    q = int8_quantize(embeddings)
    qv = q.filter(F.col("vec_id") == QUERY_ID).select(F.col("qvec").alias("__qq"))
    dot = F.aggregate(
        F.zip_with("qvec", "__qq", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        q.filter(F.col("vec_id") != QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id"), dot.alias("qdot"))
        .orderBy(F.desc("qdot"), F.asc("vec_id"))
        .limit(k)
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Integer squared L2 distance between two bigint arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def pq_adc_topk(
    embeddings: DataFrame,
    dim: int,
    k: int = 20,
    n_sub: int = 4,
    codebook_ids: tuple[int, ...] = (1, 2, 3, 4, 5, 6, 7, 8),
) -> DataFrame:
    """Product-quantization ADC (asymmetric distance computation) top-k.

    The standard 100 TB ANN compression ladder past int8: vectors are
    split into ``n_sub`` subspaces, each sub-vector replaced by the id of
    its nearest codebook centroid (ties -> smallest id), so a 64-dim
    vector stores as 4 small codes. A query never decodes the database:
    it builds a ``n_sub x K`` lookup table of exact subspace distances
    and scores every stored vector with ``n_sub`` table lookups.

    Codebooks here are deterministic samples (the int8-quantized vectors
    of ``codebook_ids``) — centroid TRAINING is the k-means operator
    demonstrated elsewhere (operators/clustering.py); this operator owns
    the encode/ADC machinery. Everything runs on the int8 codes from
    int8_quantize, so encoding, LUT, and scan are exact BIGINT
    arithmetic any engine reproduces.

    Plan: quantized vectors localCheckpointed once; ONE aggregate over
    the codebook+query rows builds a single 1-row broadcast carrying
    both the codebook and the query's LUT (the previous shape paid two
    broadcast-build jobs and two full scans of the checkpointed codes —
    RDD-backed frames have no filter pushdown, so "find the query row"
    was a whole extra pass); encode + scan are JVM higher-order
    expressions on the single pass over the codes, with each subspace's
    centroid-distance array let-bound via a 1-element transform() so it
    is evaluated once, not re-derived for argmin and min separately;
    TakeOrdered(k) with the total order (adist ASC, id ASC).
    """
    dsub = dim // n_sub
    q = int8_quantize(embeddings)
    q = q.localCheckpoint(eager=True)
    cbq = (
        q.filter(F.col("vec_id").isin([*codebook_ids, QUERY_ID]))
        .groupBy()
        .agg(
            # collect_list skips NULLs, so the when() drops the query row
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("vec_id") != QUERY_ID,
                            F.struct(F.col("vec_id"), F.col("qvec")),
                        )
                    )
                ),
                lambda s: s["qvec"],
            ).alias("__cb"),
            # exactly one row has the flag set, so max_by is deterministic
            F.max_by("qvec", (F.col("vec_id") == QUERY_ID).cast("int")).alias("__q"),
        )
    )

    def sub_dists(vec: Column, m: int) -> Column:
        mine = F.slice(vec, m * dsub + 1, dsub)
        return F.transform(
            F.col("__cb"), lambda c: _sq_dist(mine, F.slice(c, m * dsub + 1, dsub))
        )

    lut_row = cbq.select(
        "__cb",
        F.array(*[sub_dists(F.col("__q"), m) for m in range(n_sub)]).alias("__lut"),
        # codebook pre-sliced per subspace IN THE BROADCAST, so the
        # per-row encode never re-slices the full centroid vectors
        # (8 centroid slices per subspace per scanned row otherwise);
        # factory closure because a 2-parameter lambda would be treated
        # as (element, index) by transform()
        F.array(
            *[
                (lambda _m: F.transform(F.col("__cb"), lambda c: F.slice(c, _m * dsub + 1, dsub)))(m)
                for m in range(n_sub)
            ]
        ).alias("__cbs"),
    )

    def code(m: int) -> Column:
        # let-bind BOTH the query sub-vector slice (one element transform,
        # evaluated once instead of once per centroid) and the 8-centroid
        # distance array (so argmin's two references share one
        # evaluation); centroid sub-vectors come pre-sliced from the
        # broadcast. (An unrolled flat-expression encode — 512 get/sub/mul
        # terms per row replacing the zip_with+aggregate HOFs — measured
        # 5x SLOWER at sf1 in an interleaved A/B (20.9 vs 4.1 s min): the
        # tree falls out of whole-stage codegen and per-node
        # interpretation costs far more than the HOF's tight
        # primitive-array loop. r8 opt.)
        dists = F.get(
            F.transform(
                F.array(F.slice(F.col("qvec"), m * dsub + 1, dsub)),
                lambda mine: F.transform(
                    F.get(F.col("__cbs"), m), lambda cs: _sq_dist(mine, cs)
                ),
            ),
            0,
        )
        return F.get(
            F.transform(
                F.array(dists),
                lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
            ),
            0,
        )

    adist = sum(F.get(F.get("__lut", m), code(m)) for m in range(n_sub))
    return (
        q.filter(F.col("vec_id") != QUERY_ID)
        .crossJoin(F.broadcast(lut_row))
        .select(F.col("vec_id"), adist.cast("long").alias("adist"))
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(k)
    )


def multiprobe_lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
) -> DataFrame:
    """Multi-probe LSH ANN: scan every bucket within 1 bit
    flips of the query's signature (9 of 256 buckets at 8 planes/1 flip)
    then exact cosine re-rank — the standard recall lever over
    single-bucket LSH without re-hashing or extra tables. The probe set
    is expressed as one ``bit_count(sig XOR qsig) <= h`` scan predicate:
    no bucket explosion, no join, and the signature column stays an
    equi-partitionable long for the stored side."""
    sig = hyperplane_signature(F.col("embedding"), dim, N_PLANES)
    qsig = hyperplane_signature(F.lit(query_vec).cast("array<double>"), dim, N_PLANES)
    cand = embeddings.withColumn("__sig", sig).filter(
        F.bit_count(F.col("__sig").bitwiseXOR(qsig)) <= 1
    )
    v = F.col("embedding").cast("array<double>")
    q = F.lit(query_vec).cast("array<double>")
    scored = cand.select(
        F.col("vec_id"), F.round(cosine_similarity(v, q), ROUND_DIGITS).alias("cosine")
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def ivf_pq_topk(embeddings: DataFrame, dim: int) -> DataFrame:
    """IVF-PQ: the production ANN layout — a coarse quantizer prunes the
    scan to 4 of ``N_CENTROIDS`` cells, product-quantization ADC
    scores the survivors with ``N_SUB`` table lookups each. Combines
    ivf_ann_topk's pruning with pq_adc_topk's compression; both stages
    run on the int8 codes with exact BIGINT distances (coarse argmin and
    probe selection tie-break on the smaller centroid id), so the full
    two-stage trajectory is oracle-reproducible.

    Plan: one localCheckpointed pass builds codes; coarse centroids,
    PQ codebook, query LUT and probe list are all 1-row broadcasts; cell
    pruning is an ``array_contains`` scan predicate (no join); scoring
    is 4 lookups/row; TakeOrdered(TOP_K) on the total (adist, id) order.
    """
    dsub = dim // N_SUB
    q = int8_quantize(embeddings)
    q = q.localCheckpoint(eager=True)

    def one_row_codebook(src: DataFrame, alias: str) -> DataFrame:
        return src.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("vec_id"), F.col("qvec")))),
                lambda s: s["qvec"],
            ).alias(alias)
        )

    coarse = one_row_codebook(q.filter(F.col("vec_id") < N_CENTROIDS), "__cc")
    cb = one_row_codebook(q.filter(F.col("vec_id").isin(list(range(1, 9)))), "__cb")
    enc = q.crossJoin(F.broadcast(coarse)).crossJoin(F.broadcast(cb))

    cdists = F.transform(F.col("__cc"), lambda c: _sq_dist(F.col("qvec"), c))
    cell = (F.array_position(cdists, F.array_min(cdists)) - 1).cast("int")

    def sub_dists(m: int) -> Column:
        mine = F.slice("qvec", m * dsub + 1, dsub)
        return F.transform(
            F.col("__cb"), lambda c: _sq_dist(mine, F.slice(c, m * dsub + 1, dsub))
        )

    codes = F.array(
        *[
            (F.array_position(sub_dists(m), F.array_min(sub_dists(m))) - 1).cast("int")
            for m in range(N_SUB)
        ]
    )
    probe_structs = F.array_sort(
        F.zip_with(
            cdists,
            F.sequence(F.lit(0), F.lit(N_CENTROIDS - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("cid")),
        )
    )
    probes = F.transform(F.slice(probe_structs, 1, 4), lambda s: s["cid"].cast("int"))
    qrow = enc.filter(F.col("vec_id") == QUERY_ID).select(
        F.array(*[sub_dists(m) for m in range(N_SUB)]).alias("__lut"),
        probes.alias("__probes"),
    )
    scan = (
        enc.filter(F.col("vec_id") != QUERY_ID)
        .select(F.col("vec_id"), cell.alias("__cell"), codes.alias("__codes"))
        .crossJoin(F.broadcast(qrow))
        .filter(F.array_contains("__probes", F.col("__cell")))
    )
    adist = sum(F.get(F.get("__lut", m), F.get("__codes", F.lit(m))) for m in range(N_SUB))
    return (
        scan.select(F.col("vec_id"), adist.cast("long").alias("adist"))
        .orderBy(F.asc("adist"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def hybrid_rrf_topk(docs: DataFrame, embeddings: DataFrame, query_vec: list[float]) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion: the dense lane ranks by
    embedding cosine to ``query_vec``, the sparse lane by word-bigram
    cosine to document ``QUERY_DOC_ID``, and candidates fuse with
    score = 1/(RRF_K + dense_rank) + 1/(RRF_K + sparse_rank) (a lane a
    candidate missed contributes 0) — the standard way production search
    merges BM25-ish lexical recall with vector recall.

    Scale shape: the sparse lane is SCAN-LOCAL — the query document's
    bigram counts are driver-small by contract (one document), embedded
    as a literal map, so every stored doc computes its integer dot
    (one ``aggregate`` over its own bigram array with map lookups) and
    its integer norm (run-length fold over the sorted array) per row:
    zero shuffles, no corpus-wide term-frequency table (the previous
    inverted-index plan spent ~6.5 s at sf1 just materializing tf).
    The dense lane is one scan; each lane keeps only its top ``K_EACH``
    before the fuse, so the rank window sorts K_EACH rows, never the
    corpus.
    """
    from pyspark.sql import Window

    from cartography_spark.operators.textprep import _tokens, _word_ngrams

    # dense lane
    q = F.lit(query_vec).cast("array<double>")
    v = F.col("embedding").cast("array<double>")
    dense = (
        embeddings.filter(F.col("vec_id") != QUERY_DOC_ID)
        .select(F.col("vec_id").alias("id"), cosine_similarity(v, q).alias("dcos"))
        .orderBy(F.col("dcos").desc(), F.col("id").asc())
        .limit(K_EACH)
    )
    wd = Window.orderBy(F.col("dcos").desc(), F.col("id").asc())
    dense = dense.withColumn("dr", F.row_number().over(wd)).select("id", "dr")

    # sparse lane: the query doc's bigram counts collected driver-side
    # (ONE document by contract) and scored scan-locally against every doc
    from collections import Counter

    grams_arr = _word_ngrams(_tokens(), 2)
    qrow = (
        docs.filter(F.col("doc_id") == QUERY_DOC_ID).select(grams_arr.alias("__g")).first()
    )
    qtf = Counter(qrow["__g"] if qrow and qrow["__g"] else [])
    qnrm = sum(c * c for c in qtf.values())
    if qtf:
        # Columnar scoring: one compact-row shuffle of the documents by id,
        # then explode + codegen'd hash aggregates. HashPartitioning(id)
        # satisfies the clustering requirement of every aggregate below
        # (group keys are (id, g) and (id)), so after that single exchange
        # the tf count, the norm, and the dot all run shuffle-free. This
        # replaced two interpreted higher-order `F.aggregate` folds (no
        # whole-stage codegen for lambda expressions — measured 3.6 s dot +
        # 3.8 s norm at sf1 for the SAME results this path gets in ~1 s),
        # and unlike the abandoned corpus-wide inverted index it never
        # materializes a (doc, gram) table across the cluster: the only
        # shuffle payload is one row per document.
        spark = docs.sparkSession
        base = docs.filter(F.col("doc_id") != QUERY_DOC_ID).repartition(
            spark.sparkContext.defaultParallelism, F.col("doc_id")
        )
        dtf = (
            base.select(F.col("doc_id").alias("id"), F.explode(grams_arr).alias("__g"))
            .groupBy("id", "__g")
            .agg(F.count(F.lit(1)).alias("__tf"))
        )
        nrm = dtf.groupBy("id").agg(F.sum(F.col("__tf") * F.col("__tf")).alias("nrm"))
        qdf = spark.createDataFrame(
            sorted(qtf.items()), schema="__g string, __qtf long"
        )
        dots = (
            dtf.join(F.broadcast(qdf), "__g")
            .groupBy("id")
            .agg(F.sum(F.col("__tf") * F.col("__qtf")).alias("dot"))
        )
        # inner join: docs sharing no gram with the query have no dot row,
        # which is exactly the old `dot > 0` filter
        scored = dots.join(nrm, "id")
        sparse = (
            scored.select(
                "id",
                (F.col("dot") / (F.sqrt("nrm") * F.sqrt(F.lit(float(qnrm))))).alias("scos"),
            )
            .orderBy(F.col("scos").desc(), F.col("id").asc())
            .limit(K_EACH)
        )
    else:
        # query doc empty: sparse lane contributes nothing
        sparse = dense.limit(0).select("id", F.col("dr").alias("scos"))
    ws = Window.orderBy(F.col("scos").desc(), F.col("id").asc())
    sparse = sparse.withColumn("sr", F.row_number().over(ws)).select("id", "sr")

    fused = dense.join(sparse, "id", "full_outer").select(
        "id",
        F.round(
            F.coalesce(F.lit(1.0) / (RRF_K + F.col("dr")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (RRF_K + F.col("sr")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
        F.coalesce("dr", F.lit(0)).alias("dense_rank"),
        F.coalesce("sr", F.lit(0)).alias("sparse_rank"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("id").asc()).limit(TOP_K)


def random_project(embeddings: DataFrame, dim: int, n_components: int = 4) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a DETERMINISTIC dense
    ±1 matrix (Achlioptas 2003 without the sparsity): component k of the
    projection is ``dot(v, signs_k) / sqrt(n_components)`` with
    ``signs_k`` the md5-derived ±1 vector shared with the LSH hyperplanes
    (:func:`plane_signs`) — no RNG state, so the oracle reproduces every
    value and re-runs are bit-stable.

    This is the standard preprocessing step before LSH / clustering at
    100 TB: it shrinks ``dim`` to ``n_components`` while preserving
    pairwise distances within (1±eps), cutting every downstream shuffle's
    payload by ``dim/n_components``. The sign matrix is embedded as plan
    literals (n_components × dim doubles — a few KB); at very high dims
    you'd broadcast it into a pandas-UDF matmul with identical values.
    Scan-local: zero shuffles, one projection per row.
    """
    v = F.col("embedding").cast("array<double>")
    scale = float(n_components) ** 0.5
    cols = [F.col("vec_id")]
    for k in range(n_components):
        comps = F.lit(plane_signs(k, dim)).cast("array<double>")
        dot = F.aggregate(F.zip_with(v, comps, lambda x, y: x * y), F.lit(0.0), lambda a, b: a + b)
        cols.append(F.round(dot / scale, ROUND_DIGITS).alias(f"p{k}"))
    return embeddings.select(*cols)


def binary_sign_topk(embeddings: DataFrame, query_vec: list[float]) -> DataFrame:
    """1-bit binary quantization retrieval — the 32x-compression rung of
    the ANN ladder below int8 (4x) and PQ: keep only each component's sign,
    packed 32 bits per BIGINT (two words for DIM<=64; bit 63 of a single
    word would overflow signed engines), rank candidates by Hamming
    distance (one xor + popcount per word — the cheapest possible scan
    over a 100 TB vector store), then exact-cosine re-rank the top
    ``TOP_K * 4`` pool. Matches modern binary-embedding retrieval
    (sign(x) agrees with angular similarity in expectation).

    Everything JVM-side codegen: the packing is a fixed fan of 64 CASE
    terms, the scan is two xor/popcount columns, the re-rank pool is
    ``TOP_K * 4`` rows so its float cosine cost is constant.
    """
    v = F.col("embedding")

    def pack(lo_dim: int, n_bits: int) -> F.Column:
        out = F.lit(0).cast("long")
        for i in range(n_bits):
            out = out + F.when(
                F.element_at(v, lo_dim + i + 1).cast("double") > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    lo_bits = min(32, DIM)
    hi_bits = max(0, DIM - 32)
    qlo = sum((1 << i) for i in range(lo_bits) if query_vec[i] > 0)
    qhi = sum((1 << i) for i in range(hi_bits) if query_vec[32 + i] > 0)
    sig = embeddings.filter(F.col("vec_id") != QUERY_ID).select(
        F.col("vec_id"), v.alias("__v"), pack(0, lo_bits).alias("__lo"), pack(32, hi_bits).alias("__hi")
    )
    hamming = (
        F.bit_count(F.col("__lo").bitwiseXOR(F.lit(qlo).cast("long")))
        + F.bit_count(F.col("__hi").bitwiseXOR(F.lit(qhi).cast("long")))
    ).cast("bigint")
    cand = (
        sig.withColumn("hamming", hamming)
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(TOP_K * 4)
    )
    cos = cosine_similarity(
        F.col("__v").cast("array<double>"), F.lit(query_vec).cast("array<double>")
    )
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .select("vec_id", "hamming", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


def mmr_rerank(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    query_id: int = 0,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
    the diversity-aware rerank production retrieval runs on top of any ANN
    lane: greedily pick the candidate maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in selected} sim(d, s)`` so the
    final k answers are relevant AND mutually diverse (a plain top-k returns
    near-duplicates of the same best hit).

    Execution contract: the candidate pool (exact top-``pool`` by cosine)
    is computed distributed once; each of the k greedy steps is one
    distributed argmax over the pool with the selected vectors embedded as
    literals (selected set is k <= 10 rows by contract — the same
    driver-bounded iteration as the BPE merge table). Scores are quantized
    to integer micros with ONE round per (candidate, step), so the greedy
    trajectory is bit-reproducible in any engine.
    """
    q = F.lit(query_vec).cast("array<double>")
    v = F.col("embedding").cast("array<double>")
    cand = (
        embeddings.filter(F.col("vec_id") != query_id)
        .select(F.col("vec_id"), v.alias("__v"), cosine_similarity(v, q).alias("__rel"))
        .orderBy(F.col("__rel").desc(), F.col("vec_id").asc())
        .limit(pool)
    )
    cand = cand.localCheckpoint(eager=True)  # pool computed once; k argmax scans reuse it
    selected: list[tuple[int, int, list[float]]] = []  # (id, score_micro, vec)
    for _ in range(k):
        if selected:
            sims = [
                cosine_similarity(F.col("__v"), F.lit(vec).cast("array<double>"))
                for _, _, vec in selected
            ]
            maxsim = sims[0]
            for s in sims[1:]:
                maxsim = F.greatest(maxsim, s)
        else:
            maxsim = F.lit(0.0)
        score = F.round(
            (F.lit(lam) * F.col("__rel") - F.lit(1.0 - lam) * maxsim) * 1_000_000
        ).cast("bigint")
        remaining = cand.filter(~F.col("vec_id").isin([s[0] for s in selected])) if selected else cand
        top = (
            remaining.select(F.col("vec_id"), score.alias("__score"), F.col("__v"))
            .orderBy(F.col("__score").desc(), F.col("vec_id").asc())
            .first()
        )
        if top is None:
            break
        selected.append((top[0], top[1], list(top[2])))
    spark = embeddings.sparkSession
    rows = [(i + 1, s[0], s[1]) for i, s in enumerate(selected)]
    return spark.createDataFrame(rows, "rank int, vec_id long, score_micro bigint")


def dimension_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension moment profile of an embedding column: one row per
    dimension with exact integer micro-quantized moment sums (n,
    sum_micros, sumsq_micros2), the mean (mean_micros), the sample
    variance (var_micros2), and the dimension's variance rank — the
    feature-health check before PCA / whitening / matryoshka truncation
    decisions (dead dims have ~0 variance; dominant dims distort cosine).

    Exactness: each float component is quantized to integer micros ON
    READ (one correctly-rounded op per value, identical in any engine);
    all sums are then order-free BIGINTs. Variance is the closed-form
    (sumsq - sum^2/n)/(n-1) in doubles over those exact integers,
    re-quantized to whole micros^2.

    Scale shape: posexplode is a flat-map (no shuffle); the per-dim
    aggregate map-side combines down to |dims| rows, and the variance
    rank window sorts only that |dims|-row frame. sumsq headroom:
    unit-normalized micros^2 terms are <=1e12, so BIGINT holds ~9e6
    row-dims per partial (contract: >= 2 vectors for the sample
    variance) — at larger scale, pre-divide the quantization
    to 1e4 or aggregate per shard and merge.
    """
    from pyspark.sql import Window

    vals = embeddings.select(F.posexplode(F.col("embedding")).alias("pos", "val")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.lit(1_000_000.0) * F.col("val").cast("double")).cast("bigint").alias("q"),
    )
    per_dim = vals.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sum_micros"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sumsq_micros2"),
    )
    n = F.col("n").cast("double")
    s = F.col("sum_micros").cast("double")
    var = (F.col("sumsq_micros2").cast("double") - s * s / n) / (n - 1)
    stats = per_dim.select(
        "dim",
        "n",
        "sum_micros",
        "sumsq_micros2",
        F.round(s / n).cast("bigint").alias("mean_micros"),
        F.round(var).cast("bigint").alias("var_micros2"),
    )
    w = Window.orderBy(F.col("var_micros2").desc(), F.col("dim").asc())
    return stats.withColumn("var_rank", F.row_number().over(w).cast("bigint"))


def int8_distortion(embeddings: DataFrame) -> DataFrame:
    """Reconstruction-error audit of the int8 scalar quantizer: dequantize
    each code at its cell midpoint (mn + (q + 0.5) * step) and report the
    per-label squared-error profile — the QA number that tells you
    whether the 4x-compressed scan path (similarity_int8_scan) is safe
    for a given corpus slice before you deploy it. Returns one row per
    label: n_vectors, total_err_pico, mean_err_pico (squared error
    quantized at 1e12 per component, so all sums are order-free
    BIGINTs).

    One scan: the (mins, maxs) broadcast row is the same fold
    int8_quantize uses; quantization, midpoint reconstruction, and the
    per-component error quantization all happen in a single JVM-side
    transform + aggregate over the vector column (flat-map, no extra
    shuffle); the per-label rollup is map-side combinable. Error is
    computed as e*e (not pow) so the oracle's identical expression
    chain reproduces it bit-exactly.
    """
    pos = embeddings.select(F.posexplode(F.col("embedding")).alias("pos", "v")).withColumn(
        "v", F.col("v").cast("double")
    )
    stats = pos.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    row = stats.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("__mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("__mxs"),
    )

    def err_pico(v, i):
        mn, mx = F.get("__mns", i), F.get("__mxs", i)
        x = v.cast("double")
        q = F.least(
            F.floor((x - mn) * F.lit(254.0) / (mx - mn)), F.lit(254).cast("long")
        ).cast("double")
        recon = mn + (q + F.lit(0.5)) * (mx - mn) / F.lit(254.0)
        e = x - recon
        return F.when(mx > mn, F.round(F.lit(1e12) * e * e).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )

    per_vec = embeddings.crossJoin(F.broadcast(row)).select(
        F.col("label").cast("bigint").alias("label"),
        F.aggregate(
            F.transform(F.col("embedding"), err_pico),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("err_pico"),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum("err_pico").cast("bigint").alias("total_err_pico"),
        F.round(F.sum("err_pico").cast("double") / F.count("*").cast("double"))
        .cast("bigint")
        .alias("mean_err_pico"),
    )
