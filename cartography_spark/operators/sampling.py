"""Deterministic sampling and dataset splitting for training pipelines.

Random `df.sample()` is seed- and partitioning-dependent — two runs (or two
engines) disagree, which poisons train/test hygiene. Hash-based assignment
is the reproducible alternative: a row's bucket is a pure function of its
id, so membership is stable across runs, engines, repartitions, and
incremental re-syncs (new docs never move old docs between splits).
All md5-derived, so any engine recomputes the identical assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cartography_spark.operators.dedup import portable_hash32

DSIR_BUCKETS = 256
N_REPLICATES = 32
LO_RANK = 2
N_SHARDS = 8
# train/val/test shares of the 100 hash buckets
SPLIT_WEIGHTS = {"train": 80, "val": 10, "test": 10}


def hash_bucket(col: Column, n_buckets: int = 100, salt: str = "split") -> Column:
    """Stable bucket in [0, n_buckets) from the salted md5 of the id."""
    return portable_hash32(col, salt=salt) % n_buckets


def assign_splits(df: DataFrame) -> DataFrame:
    """Attach a ``split`` column (train/val/test 80/10/10): bucket ranges
    over a 100-bucket hash."""
    b = hash_bucket(F.col("doc_id"), 100, "split")
    expr = None
    lo = 0
    for name, w in SPLIT_WEIGHTS.items():
        cond = (b >= lo) & (b < lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    return df.withColumn("split", expr)


def weighted_sample_topk(df: DataFrame, weight_col: Column, k: int) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): per-row key = ln(u)/w with u derived from the salted
    md5 hash, take the k largest keys. Inclusion probability is
    proportional to weight, yet fully reproducible. Distributed cost: a
    narrow projection + TakeOrdered(k) — no shuffle, merges across
    partitions like any top-k."""
    u = (portable_hash32(F.col("doc_id"), salt="ws") + 1) / F.lit(4294967296.0)
    key = F.log(u) / weight_col
    return (
        df.select(F.col("doc_id"), weight_col.cast("bigint").alias("weight"), key.alias("__key"))
        .orderBy(F.col("__key").desc(), F.col("doc_id"))
        .limit(k)
        .select("doc_id", "weight", F.round("__key", 6).alias("sample_key"))
    )


def dsir_importance(docs: DataFrame, target_pred: Column, top_k: int = 100) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how target-like its hashed-bigram distribution
    is, then keep the ``top_k`` highest-weight documents.

    The model is two bag-of-hashed-bigram distributions — the target slice
    (rows where ``target_pred`` holds) and the raw corpus — over
    256 md5-hashed buckets with add-1 smoothing. A document's
    importance weight is the sum over its bigram OCCURRENCES of the
    per-bucket log-likelihood ratio log p_target(b) - log p_raw(b),
    quantized to millinats (bigint) so the per-document sum is
    integer-exact and engine-reproducible regardless of reduction order
    (same discipline as textstats.unigram_surprisal).

    Plan shape for 100 TB: one explode + one groupBy reduces the stream to
    vocabulary-bounded bigram counts (map-side combinable; the bucket md5
    runs per distinct bigram, not per occurrence), folded to the 256
    model; the log-ratio dictionary and its two scalar totals are a
    bounded broadcast; the scoring pass is one broadcast join + one
    per-doc sum; selection is a TakeOrdered(top_k) semi-joined back — no
    global window, no second shuffle over the corpus. Deterministic
    tie-break (weight desc, id asc).

    Returns (doc_id, n_grams, weight_millinats, selected).
    """
    from cartography_spark.operators.textprep import _tokens, _word_ngrams

    base = docs.select(F.col("doc_id"), target_pred.alias("__t"), _tokens().alias("__toks"))
    # small single-file parquet scans as ONE split — spread the compact
    # pre-explode rows so the explode work parallelizes (and the exchange
    # lets both passes below reuse the tokenize)
    base = base.repartition(docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    grams = base.select(
        F.col("doc_id"), "__t", F.explode(_word_ngrams(F.col("__toks"), 2)).alias("g")
    )

    # md5 over the bigram VOCABULARY, not the occurrence stream: the
    # bucket hash previously ran per occurrence in BOTH corpus passes
    # (model build and scoring). The stream now reduces map-side to
    # vocabulary-bounded (g, rc, tc) counts (Heaps-law sublinear), the
    # hash runs once per distinct bigram, and scoring joins a broadcast
    # (g -> lr) dictionary. Lazy localCheckpoint because the counts frame
    # fans out to three consumers whose different column prunings would
    # otherwise defeat exchange reuse and re-run the stream aggregate per
    # consumer (same fix as textstats.nb_language_classifier, r8 opt).
    # Measured: tie at sf0.1/sf1 (the local corpus's bigram hash is noise
    # next to tokenize+explode — interleaved A/B mins 3.87 vs 3.82 s at
    # sf1); kept because it strictly removes two corpus-sized md5 passes
    # at scale while the oracle stays value-exact.
    counts_g = (
        grams.groupBy("g")
        .agg(F.count("*").alias("rc"), F.count_if(F.col("__t")).alias("tc"))
        .localCheckpoint(eager=False)
    )
    bucket = (portable_hash32(F.col("g"), salt="dsir") % DSIR_BUCKETS).alias("b")
    model = (
        counts_g.select(bucket, "rc", "tc")
        .groupBy("b")
        .agg(F.sum("rc").alias("rc"), F.sum("tc").alias("tc"))
    )
    totals = model.agg(F.sum("rc").alias("rt"), F.sum("tc").alias("tt"))
    lr = (
        F.log((F.col("tc") + F.lit(1.0)) / (F.col("tt") + F.lit(float(DSIR_BUCKETS))))
        - F.log((F.col("rc") + F.lit(1.0)) / (F.col("rt") + F.lit(float(DSIR_BUCKETS))))
    )
    model = model.crossJoin(F.broadcast(totals)).select(
        "b", F.round(lr * 1000).cast("bigint").alias("lr_millinats")
    )
    gram_lr = (
        counts_g.select("g")
        .distinct()
        .select("g", bucket)
        .join(F.broadcast(model), "b")
        .select("g", "lr_millinats")
    )
    scored = (
        grams.join(F.broadcast(gram_lr), "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum("lr_millinats").cast("bigint").alias("weight_millinats"),
        )
    )
    chosen = (
        scored.orderBy(F.col("weight_millinats").desc(), F.col("doc_id").asc())
        .limit(top_k)
        .select(F.col("doc_id"), F.lit(True).alias("__sel"))
    )
    return scored.join(F.broadcast(chosen), "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "weight_millinats",
        F.coalesce("__sel", F.lit(False)).alias("selected"),
    )


def stratified_sample_topk(df: DataFrame, group_col: str, k: int) -> DataFrame:
    """Exactly k rows per group (fewer if the group is smaller), chosen by
    hash order — a deterministic stratified sample. One shuffle on the
    group key; within each group the hash order is a uniform permutation."""
    from pyspark.sql import Window

    h = portable_hash32(F.col("doc_id"), salt="strat")
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col("doc_id").asc())
    return (
        df.select(F.col(group_col), F.col("doc_id"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


# Truncated-Poisson(1) inverse-CDF cutoffs on a 32-bit uniform hash:
# P(0)=e^-1, cumulative x 2^32, identical integer literals in the SQL
# oracle so replicate weights are engine-exact.
_POISSON_CUTS = (1580030169, 3160060337, 3950075422, 4213413783)


# the same cuts as fixed-width lowercase hex: for 8-hex-char slices of an
# md5 string, LEXICOGRAPHIC order == numeric order ('0'-'9' < 'a'-'f'),
# so the inverse CDF can compare the hex slice directly and skip the
# conv(hex,16,10) base parse — which profiling showed was ~65% of
# bootstrap_mean_ci's per-row cost (r9 opt: 32 convs ~6.8 s of 10.3 s at
# sf0.1; string-compare form 5.5 s, all 64 sums bit-identical)
_POISSON_HEX_CUTS = tuple(format(c, "08x") for c in _POISSON_CUTS)


def _poisson_from_hex_slice(hx: Column) -> Column:
    """Truncated-Poisson(1) inverse CDF evaluated directly on an 8-char
    lowercase-hex slice of an md5: the same value as comparing the parsed
    32-bit integer ``conv(hx, 16, 10)`` against ``_POISSON_CUTS``, without
    the parse."""
    w = F.when(hx < _POISSON_HEX_CUTS[0], 0)
    for k in range(1, len(_POISSON_HEX_CUTS)):
        w = w.when(hx < _POISSON_HEX_CUTS[k], k)
    return w.otherwise(len(_POISSON_HEX_CUTS))


def poisson_bootstrap_ci(df: DataFrame, value: Column, id_col: Column) -> DataFrame:
    """One-pass Poisson-bootstrap confidence interval for a mean: each
    replicate resamples every row with an independent hash-derived
    Poisson(1) weight, so replicate b's mean is sum(w_b*x)/sum(w_b) —
    2*32 running sums computed in ONE scan with map-side
    combine, no data duplication and no global N needed (the property
    that makes the Poisson bootstrap THE bootstrap at 100 TB; an exact
    multinomial resample would need the total count up front and a 32x
    explode). ``value`` must be integer-quantized by the caller so the
    sums are reduction-order-exact. CI bounds are order statistics
    (rank 2 and 31) of the 32 replicate means —
    exact ranks, no interpolation, so engines agree bit-for-bit.

    Output: (n_rows, point_mean, ci_lo, ci_hi, n_replicates).
    """
    from pyspark.sql import Window

    # materialize one md5 per 4 replicates explicitly (not relying on
    # codegen subexpression elimination): the hash is the per-row cost
    n_groups = (N_REPLICATES + 3) // 4
    hashed = df.select(
        value.alias("_x"),
        *[
            F.md5(F.concat(F.lit(f"boot{g}:"), id_col.cast("string"))).alias(f"_h{g}")
            for g in range(n_groups)
        ],
    )
    aggs = [F.sum("_x").alias("s"), F.count(F.lit(1)).alias("n")]
    for b in range(N_REPLICATES):
        group, slot = divmod(b, 4)
        # hex-slice string compare instead of conv(hex,16,10): identical
        # weights (fixed-width lowercase hex orders lexicographically ==
        # numerically), ~2x on the whole query (see _poisson_from_hex_slice)
        w = _poisson_from_hex_slice(F.substring(F.col(f"_h{group}"), 1 + 8 * slot, 8))
        aggs.append(F.sum(w * F.col("_x")).alias(f"s{b}"))
        aggs.append(F.sum(w).alias(f"n{b}"))
    one = hashed.agg(*aggs)
    reps = one.select(
        "s",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("b"), (F.col(f"s{b}") / F.col(f"n{b}")).alias("m"))
                    for b in range(N_REPLICATES)
                ]
            )
        ).alias("r"),
    ).select("s", "n", F.col("r.b").alias("b"), F.col("r.m").alias("m"))
    rk = F.row_number().over(Window.orderBy("m", "b"))
    ranked = reps.withColumn("rk", rk)
    hi_rank = N_REPLICATES + 1 - LO_RANK
    return ranked.agg(
        F.max("n").cast("long").alias("n_rows"),
        (F.max("s") / F.max("n")).alias("point_mean"),
        F.max(F.when(F.col("rk") == LO_RANK, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == hi_rank, F.col("m"))).alias("ci_hi"),
        F.lit(N_REPLICATES).alias("n_replicates"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    n_total: int,
) -> DataFrame:
    """Neyman (optimal) allocation of a fixed sampling budget across
    strata: n_h proportional to N_h * S_h (stratum size x stratum
    standard deviation), the allocation that minimizes the variance of
    the stratified mean estimator for a given total budget — the
    principled upgrade over proportional allocation when strata differ
    in spread (survey sampling / eval-set budgeting / labeling-budget
    planning).

    Returns one row per stratum: n_rows, sum/sumsq moment BIGINTs, the
    quantized weight w_milli = round(1e3 * N_h * sd_h), and the exact
    integer allocation alloc_n (largest-remainder rounding, so the
    allocations sum to exactly n_total). Milli (not micro) quantization
    is deliberate headroom: the apportionment multiplies the weight by
    n_total, and n_total * w must stay inside int64 — at 1e3 scaling a
    1e10-row stratum with 1e5 spread still fits with n_total up to ~90.
    (Only RELATIVE weight precision matters for the allocation, so the
    coarser quantization costs nothing until N*sd drops near 1.)

    Exactness: moments are order-free BIGINT sums from ONE grouped scan
    (map-side combine); sd is one closed-form sqrt over those integers,
    immediately re-quantized, so the apportionment arithmetic
    (floor-div, mod, remainder ranking) is pure integer and
    engine-identical. Scale: everything after the first aggregate runs
    on |strata| rows; the two 1-row total attaches are broadcast
    scalars. Contract: every stratum needs n >= 2, and at least one
    stratum must have nonzero spread (all-constant strata make the
    weight total zero and the apportionment undefined).
    """
    # widen BEFORE squaring (IntegerType v*v overflows at |v| > 46340)
    v = F.col(value_col).cast("long")
    per = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(v).cast("bigint").alias("sum_v"),
        F.sum(v * v).cast("bigint").alias("sumsq_v"),
    )
    n = F.col("n_rows").cast("double")
    s = F.col("sum_v").cast("double")
    sd = F.sqrt((F.col("sumsq_v").cast("double") - s * s / n) / (n - 1))
    w = per.withColumn("w_milli", F.round(F.lit(1_000.0) * n * sd).cast("bigint"))
    tot = w.agg(F.sum("w_milli").alias("w_total"))
    base = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("base_n", F.expr(f"({n_total} * w_milli) div w_total"))
        .withColumn("rem", (F.lit(n_total) * F.col("w_milli")) % F.col("w_total"))
    )
    used = base.agg(F.sum("base_n").alias("used"))
    ranked = base.crossJoin(F.broadcast(used)).withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("stratum").asc())),
    )
    return ranked.select(
        "stratum",
        "n_rows",
        "sum_v",
        "sumsq_v",
        "w_milli",
        (
            F.col("base_n")
            + F.when(F.col("rnk") <= F.lit(n_total) - F.col("used"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc_n"),
    )


def rendezvous_shards(df: DataFrame) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding with an expansion
    audit: each row is assigned to the shard whose md5(hrw:id:shard)
    score is lexicographically largest among shards 0..n-1, then
    RE-assigned among 0..n (one new shard), and the per-shard movement
    is reported — one row per base shard with (shard, n_docs, n_moved).
    HRW is what a shard count change SHOULD cost: unlike modulo
    sharding (where going 8->9 moves ~8/9 of all rows and invalidates
    every downstream cache), HRW moves EXACTLY the rows whose new-shard
    score wins — ~1/(n+1) of the data, all of it INTO the new shard,
    nothing shuffles between survivors (pytest-checked invariant).

    Determinism: scores are md5 hex strings compared lexicographically —
    identical in any engine, no RNG. The shard axis is an exploded
    literal array (no join of any kind — Catalyst sees a narrow
    generator), the double argmax is ONE map-side-combinable max_by
    pass per id (the base argmax ranks over a NULL-masked score, which
    max_by skips by definition), and the report is a second bounded
    aggregate. Scale shape: a narrow id column fans out x(n+1), then
    collapses immediately — no window, no shuffle beyond the two
    grouped aggregates.
    """
    shard_axis = F.array(*[F.lit(i) for i in range(N_SHARDS + 1)])
    scored = df.select(F.col("doc_id").alias("id")).select(
        "id", F.explode(shard_axis).alias("shard")
    )
    score = F.md5(
        F.concat(
            F.lit("hrw:"),
            F.col("id").cast("string"),
            F.lit(":"),
            F.col("shard").cast("string"),
        )
    )
    per_id = scored.select("id", "shard", score.alias("score")).groupBy("id").agg(
        F.expr(f"max_by(shard, CASE WHEN shard < {N_SHARDS} THEN score END)").alias("base_shard"),
        F.expr("max_by(shard, score)").alias("new_shard"),
    )
    return (
        per_id.groupBy(F.col("base_shard").cast("bigint").alias("shard"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("new_shard") != F.col("base_shard")).cast("long"))
            .cast("long")
            .alias("n_moved"),
        )
    )
