"""Embedding clustering for corpus curation — distributed Lloyd k-means
in integer arithmetic.

Scale design: the DATA never leaves the cluster; the centroid table
(k x dim — a few KB) is broadcast to every round.
- assign step: one broadcast join of (vec, dim) against the centroid
  table, one (vec, cid) distance aggregate and one mergeable argmin.
- update step: groupBy(cluster, dim) floor-mean — one map-side-combinable
  shuffle of at most k*dim groups per round.
At 100 TB this is the MLlib KMeans dataflow, without the RDD legacy:
rounds scan the checkpointed quantized input, shuffles are tiny.

The final assignment powers semantic dedup / cluster-balanced sampling:
keep-the-canonical-member-per-cluster (SemDeDup-style) falls out as a
min(vec_id) over the assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kmeans_exact(
    emb: DataFrame,
    k: int = 16,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Integer-exact Lloyd k-means: vectors quantized to bigint micro-units
    (round(x * 1e6)), centroid updates by portable floor-division, argmin
    tie-break total on (dist, cid) — every round is bit-identical across
    engines, so the WHOLE iterative algorithm has a hash-exact SQL oracle
    (unlike float-mean k-means, where reduction order perturbs centroids).

    ``rounds`` counts assignment steps; updates run between them
    (rounds=3 -> assign, update, assign, update, assign).

    Returns (id, cluster, dist_sq, keep): integer squared distance in
    micro-units and the SemDeDup-style canonical (lowest-id) member flag.

    Per round: one broadcast of the k x dim centroid table, one (vec, cid)
    distance aggregate, one mergeable min_by argmin (no window sort), one
    centroid rebuild; localCheckpoint truncates per-round lineage.
    """
    q = emb.select(id_col, F.posexplode(vec_col).alias("d", "v")).select(
        id_col,
        "d",
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("qv"),
    )
    q = q.localCheckpoint(eager=True)
    c = q.filter(F.col(id_col) < k).select(F.col(id_col).alias("cid"), "d", F.col("qv").alias("c"))
    assign = None
    for r in range(rounds):
        diff = F.col("qv") - F.col("c")
        dist = (
            q.join(F.broadcast(c), "d")
            .groupBy(id_col, "cid")
            .agg(F.sum(diff * diff).alias("dist"))
        )
        assign = dist.groupBy(id_col).agg(
            F.min_by(F.struct("cid", "dist"), F.struct("dist", "cid")).alias("best")
        ).select(id_col, F.col("best.cid").alias("cid"), F.col("best.dist").alias("dist"))
        if r < rounds - 1:
            c = (
                q.join(assign.select(id_col, "cid"), id_col)
                .groupBy("cid", "d")
                .agg(F.floor(F.sum("qv").cast("double") / F.count(F.lit(1))).cast("bigint").alias("c"))
                .localCheckpoint(eager=True)
            )
    from pyspark.sql import Window

    w = Window.partitionBy("cid")
    return assign.select(
        F.col(id_col),
        F.col("cid").alias("cluster"),
        F.col("dist").alias("dist_sq"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("keep"),
    )


def semdedup_prune(
    emb: DataFrame,
    k: int = 4,
    rounds: int = 3,
    threshold: float = 0.9,
    round_digits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    collapse_exact: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    clustering followed by WITHIN-CLUSTER cosine pruning — a row is pruned
    when its cluster contains a lower-id member with cosine >= threshold.

    This is the scale contract that makes semantic dedup tractable: the
    pair generator is an equi-join on the cluster id, so candidate pairs
    are bounded by the largest cluster, never the corpus (at production
    scale k grows with n to cap cluster sizes — k' ~ n/target_cluster_size
    — which only changes the integer-exact k-means step's centroid table
    size). Clustering reuses kmeans_exact, so assignment is bit-identical
    to the oracle's unrolled CTE; the cosine check runs on the original
    float vectors, left-to-right accumulation, rounded to
    ``round_digits``.

    ``collapse_exact`` (default on) first collapses bit-identical vectors
    to their min-id representative and runs cluster+prune on unique
    representatives only, then expands back through one linear join —
    the same exact-collapse contract as dedup.py's collapsed dedups.
    For any threshold <= 1 this is RESULT-preserving for the dedup
    decision (an exact twin always has cosine 1.0 to its representative,
    so non-minimal members are pruned either way); it changes only the
    k-means weighting (each duplicate set counts once — the SemDeDup
    reading that a duplicate set is one semantic point). Web-scale
    corpora are dominated by exact duplicates; without the collapse a
    duplication factor f costs f^2 pairs per bucket (measured: the 4x
    replicated sf1 rehearsal did not finish at k=4; collapsed it matches
    the unreplicated cost).

    Returns (id, cluster, pruned) for every input row.
    """
    from cartography_spark.operators.similarity import _dot, _norm

    v0 = emb.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
    if collapse_exact:
        # group/join on the raw double array: bit-exact in any engine (no
        # float-to-string formatting), one shuffle on the vector value
        rep = v0.groupBy("__v").agg(F.min(id_col).alias("__rep"))
        members = v0.join(rep, "__v").select(F.col(id_col), "__rep")
        reps = rep.select(F.col("__rep").alias(id_col), F.col("__v").alias(vec_col))
        core = semdedup_prune(
            reps, k=k, rounds=rounds, threshold=threshold,
            round_digits=round_digits, id_col=id_col, vec_col=vec_col,
            collapse_exact=False,
        ).withColumnRenamed(id_col, "__rep")
        return members.join(core, "__rep").select(
            F.col(id_col),
            "cluster",
            (F.col("pruned") | (F.col(id_col) != F.col("__rep"))).alias("pruned"),
        )

    assign = kmeans_exact(emb, k=k, rounds=rounds, id_col=id_col, vec_col=vec_col).select(
        id_col, "cluster"
    )
    v = v0
    # Per-vector norm BELOW the pair join (r8 opt §28, same cut as §21's
    # hard-negative fix): cosine_similarity per pair re-folds both norms,
    # so each of the O(cluster_size^2) pairs paid three interpreted
    # 64-element folds; norms are per-ROW quantities (|members| evals).
    # The pair expression composes the identical tree
    # Divide(_dot, Multiply(na, nb)) so the rounded value is bit-exact.
    m = assign.join(v, id_col).select(
        "cluster", F.col(id_col), F.col("__v"), _norm(F.col("__v")).alias("__n")
    )
    a = m.select(
        F.col("cluster"), F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = m.select(
        F.col("cluster"), F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    pruned = (
        a.join(b, ["cluster"])
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            F.round(
                _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
                round_digits,
            )
            >= threshold
        )
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__p", F.lit(True))
    )
    return assign.join(pruned, id_col, "left").select(
        F.col(id_col),
        "cluster",
        F.coalesce("__p", F.lit(False)).alias("pruned"),
    )


def trained_centroid_frame(emb: DataFrame, sample_mod: int = 1) -> DataFrame:
    """One integer-exact k-means round -> trained coarse-quantizer cells for
    IVF (similarity.ivf_ann_topk): returns (cid, cv array<double>), cv the
    floor-mean centroid de-quantized back to doubles (c / 1e6 — the same
    double both engines compute from the same integer). Replaces the
    first-k-vectors seed quantizer with data-adaptive cells at the cost of
    one distance aggregate + one rebuild over the TRAINING SAMPLE.

    ``sample_mod`` trains on the deterministic 1/sample_mod slice
    ``id % sample_mod == 0`` (ids are dense, so the slice is uniform and
    the oracle reproduces it with one WHERE clause). This is how IVF
    quantizers are actually built at corpus scale: centroid quality needs
    O(k * 1000) examples, not the full 100 TB — training cost drops by
    sample_mod while every vector still gets assigned to a trained cell.
    Seeds are the first 16 sample members (id < 16 * sample_mod)."""
    src = emb if sample_mod <= 1 else emb.filter(F.col("vec_id") % sample_mod == 0)
    q = src.select("vec_id", F.posexplode("embedding").alias("d", "v")).select(
        "vec_id",
        "d",
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("qv"),
    )
    seeds = q.filter(F.col("vec_id") < 16 * max(sample_mod, 1)).select(
        F.col("vec_id").alias("cid"), "d", F.col("qv").alias("c")
    )
    diff = F.col("qv") - F.col("c")
    dist = (
        q.join(F.broadcast(seeds), "d").groupBy("vec_id", "cid").agg(F.sum(diff * diff).alias("dist"))
    )
    assign = dist.groupBy("vec_id").agg(F.min_by("cid", F.struct("dist", "cid")).alias("cid"))
    c1 = (
        q.join(assign, "vec_id")
        .groupBy("cid", "d")
        .agg(F.floor(F.sum("qv").cast("double") / F.count(F.lit(1))).cast("bigint").alias("c"))
    )
    return c1.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "c"))), lambda s: s["c"] / 1000000.0
        ).alias("cv")
    )


def kcenter_diverse(embeddings: DataFrame, k: int = 5, seed_id: int = 0) -> DataFrame:
    """Greedy k-center (farthest-point) diverse subset selection — the
    coverage-maximizing counterpart to SemDeDup-style near-dup pruning in
    a training-data pipeline: pick the point farthest from everything
    selected so far, k-1 times, starting from ``seed_id``.

    Runs on int8-quantized codes (similarity.int8_quantize) so every
    distance is an exact BIGINT and the greedy argmax (ties -> smallest
    id) is engine-reproducible. Per round: ONE scan of the running
    min-distance relation — `least(dmin, sqdist(qvec, new))` — and a
    TakeOrdered(1); the only driver-side state is the k selected code
    vectors (the same bounded-state contract as kmeans above). Lineage
    is truncated per round with localCheckpoint.

    Returns (sel_order, vec_id, dmin) with dmin the point's distance to
    the previously-selected set at selection time (0 for the seed).
    """
    from cartography_spark.operators.similarity import _sq_dist, int8_quantize

    q = int8_quantize(embeddings)
    q = q.localCheckpoint(eager=True)
    seed = q.filter(F.col("vec_id") == seed_id).first()
    if seed is None:
        raise ValueError(f"kcenter_diverse: seed_id {seed_id!r} not present in vec_id")
    n_candidates = q.count()
    if k > n_candidates:
        raise ValueError(
            f"kcenter_diverse: k={k} exceeds the {n_candidates} available vectors"
        )
    cur = q.select(
        F.col("vec_id"),
        F.col("qvec"),
        _sq_dist(F.col("qvec"), F.lit(list(seed["qvec"])).cast("array<long>")).alias("dmin"),
    ).localCheckpoint(eager=True)
    selected: list[tuple[int, int, int]] = [(0, seed["vec_id"], 0)]
    for r in range(1, k):
        chosen = (
            cur.filter(~F.col("vec_id").isin([s[1] for s in selected]))
            .orderBy(F.desc("dmin"), F.asc("vec_id"))
            .limit(1)
            .first()
        )
        selected.append((r, chosen["vec_id"], chosen["dmin"]))
        newv = F.lit(list(chosen["qvec"])).cast("array<long>")
        cur = cur.select(
            F.col("vec_id"),
            F.col("qvec"),
            F.least(F.col("dmin"), _sq_dist(F.col("qvec"), newv)).alias("dmin"),
        ).localCheckpoint(eager=True)
    return embeddings.sparkSession.createDataFrame(
        selected, "sel_order int, vec_id bigint, dmin bigint"
    )


def gram_matrix(vecs: DataFrame, dims: int = 64) -> DataFrame:
    """Uncentered Gram (second-moment) matrix C = X^T X of an embedding
    column, as a (i, j, c) frame with 1-based dims — the substrate for
    spectral diagnostics (top principal direction, effective rank,
    anisotropy) over embedding spaces. THE 100 TB shape: each partition
    reduces its rows to ONE d x d float64 partial via a single BLAS
    gemm inside Arrow-batched mapInPandas (d^2 doubles per partition,
    no d^2-row explode of the data), and partials merge with one
    grouped sum on the d^2-row frame. This is the one place numpy
    earns its keep over built-ins: the alternative is a d^2-per-row
    posexplode that multiplies the scan by 4096.

    Float contract: partial sums are float64 gemm accumulations whose
    association order differs across engines/partitionings by ~1e-15
    relative — downstream consumers must quantize (top_pc_power
    normalizes by max|C| and rounds to micros, the acf/KM precedent).
    """
    import numpy as np
    import pandas as pd

    def partial(batches):
        g = np.zeros((dims, dims), dtype=np.float64)
        seen = False
        for pdf in batches:
            if len(pdf):
                x = np.vstack(pdf["embedding"].values)[:, :dims].astype(np.float64)
                g += x.T @ x
                seen = True
        if seen:
            ii, jj = np.indices((dims, dims))
            yield pd.DataFrame(
                {"i": ii.ravel() + 1, "j": jj.ravel() + 1, "c": g.ravel()}
            )

    parts = vecs.select("embedding").mapInPandas(partial, "i int, j int, c double")
    return parts.groupBy("i", "j").agg(F.sum("c").alias("c"))


def top_pc_power(vecs: DataFrame, dims: int = 64, n_iter: int = 8) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding Gram
    matrix via fixed-point power iteration — the anisotropy probe an
    embedding-quality audit runs before trusting cosine retrieval: a
    single direction hoarding the spectrum means uncalibrated similarity
    scores (the "all vectors point the same way" failure of contrastive
    collapse). Returns one row per dimension (dim, v_micros), the
    dominant direction in L-infinity normalization with a canonical
    sign (the largest-|component| entry, smallest index on ties, is
    made positive).

    Integer-deterministic iteration (the markov_stationary discipline):
    C is normalized by max|C| and quantized ONCE to micros, so every
    update's inner sum v.g is an exact BIGINT (|v|,|g| <= 1e6, d terms
    << int64); per-step L-infinity renormalization is one double
    division + HALF_UP round on those exact integers. The oracle
    unrolls the same n_iter steps on the same integers. The only
    data-scale float stage is the Gram merge (quantized away at 1e-6
    relative; acf/KM precedent). ANSI-safe: an all-zero Gram yields
    the zero vector, not a division error. The answer is the ITERATE-n
    contract, not a convergence promise (n=8 resolves the direction to
    sub-percent for spectra with a distinct top eigenvalue).

    Scale shape: ONE mapInPandas gemm pass over the data is the only
    distributed stage. The quantized Gram is d^2 rows BY CONTRACT, so
    the power iteration runs driver-side on exact Python integers (the
    kmeans-init/BPE bounded-compute precedent) — the first cut iterated
    on d-row DataFrames and spent ~25 tiny shuffles per call on pure
    scheduler overhead; at 100 TB the gemm pass dominates and the
    O(n_iter * d^2) driver loop is microseconds.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    g = gram_matrix(vecs, dims)
    m = g.agg(F.max(F.abs(F.col("c"))).alias("m"))
    p = g.crossJoin(F.broadcast(m)).select(
        "i",
        "j",
        F.coalesce(
            F.round(F.lit(1_000_000.0) * F.try_divide(F.col("c"), F.col("m"))),
            F.lit(0.0),
        )
        .cast("long")
        .alias("g"),
    )
    spark = vecs.sparkSession
    # Bounded collect: d^2 rows by contract (kmeans-init/BPE precedent).
    gm = [[0] * dims for _ in range(dims)]
    for r in p.collect():
        gm[r.i - 1][r.j - 1] = r.g

    def _half_up(q: float) -> int:
        # Match Spark's round(double): shortest-decimal repr, HALF_UP.
        if math.isnan(q) or math.isinf(q):
            return 0
        return int(Decimal(repr(q)).to_integral_value(rounding=ROUND_HALF_UP))

    v = [1_000_000] * dims
    for _ in range(n_iter):
        raw = [
            sum(v[i] * gm[i][j] for i in range(dims)) for j in range(dims)
        ]
        mv = max(abs(x) for x in raw)
        if mv == 0:
            v = [0] * dims
        else:
            v = [_half_up(1_000_000.0 * (float(x) / float(mv))) for x in raw]
    # Canonical sign: the largest-|component| entry (smallest dim on
    # ties) is made positive.
    vstar = max(zip(v, range(dims)), key=lambda t: (abs(t[0]), -t[1]))[0]
    s = -1 if vstar < 0 else 1
    return spark.createDataFrame(
        [(d + 1, v[d] * s) for d in range(dims)], "dim bigint, v_micros bigint"
    )


def effective_rank(vecs: DataFrame, dims: int = 64) -> DataFrame:
    """Participation-ratio effective rank of the embedding second-moment
    matrix — the one-number isotropy audit that complements
    :func:`top_pc_power`: eff_rank = tr(C)^2 / tr(C^2), which equals
    (sum lambda)^2 / (sum lambda^2) over C's eigenvalues WITHOUT any
    eigendecomposition, because tr(C^2) = sum_ij C_ij^2 for symmetric C.
    eff_rank = d means perfectly isotropic usage of the space; eff_rank
    -> 1 means one direction hoards the spectrum (contrastive collapse,
    rank-deficient adapters, mean-vector bias). Returns ONE row
    (trace_ppm_of_frobenius intentionally omitted — the two traces are
    reported as micros ratios so both engines quantize identically):
    (n_dims, eff_rank_micros, top_share_ub_micros) where top_share_ub =
    1/eff_rank is the tight lower-bound-derived upper bound on the top
    eigenvalue's spectrum share.

    Exactness contract: tr(C) and tr(C^2) are float64 sums over the d^2
    Gram frame (association order differs across engines by ~1e-15
    relative); the RATIOS are quantized to micros with one identical
    round on both engines — the acf/KM/top_pc precedent.

    Scale shape: the one mapInPandas gemm pass of gram_matrix is the
    only data-scale stage; the trace reductions run on the d^2-row
    frame. At 100 TB this is a single read of the embedding column.
    """
    g = gram_matrix(vecs, dims)
    traces = g.agg(
        F.sum(F.when(F.col("i") == F.col("j"), F.col("c"))).alias("tr"),
        F.sum(F.col("c") * F.col("c")).alias("tr2"),
    )
    er = F.try_divide(F.col("tr") * F.col("tr"), F.col("tr2"))
    # 1/er is computed as tr2/tr^2 (NOT 1.0/er) so the float op sequence
    # is identical to the oracle's expression before the micro-round.
    share = F.try_divide(F.col("tr2"), F.col("tr") * F.col("tr"))
    return traces.select(
        F.lit(dims).cast("bigint").alias("n_dims"),
        F.round(F.lit(1_000_000.0) * er).cast("bigint").alias("eff_rank_micros"),
        F.round(F.lit(1_000_000.0) * share).cast("bigint").alias("top_share_ub_micros"),
    )
