"""Document deduplication operators for large-scale training-data pipelines.

All set-based and JVM-side (no Python UDFs in the hot path):

- exact_dedup:      md5-hash groupBy — one shuffle on the hash.
- shingles:         character n-gram set per doc (split/explode/distinct).
- ngram_jaccard_pairs: exact Jaccard over shingle sets via an inverted-index
                    self-join — blocked by (lang, length-bucket) so the pair
                    space stays bounded at scale.
- minhash_wide / lsh_candidate_pairs: MinHash + banded LSH. Hashes are
  derived from md5 (portable: the DuckDB oracle reproduces them bit-exactly)
  instead of Scala murmur, so correctness is externally checkable. At 100 TB
  the only shuffles are doc -> per-perm mins and the band-bucket join, both
  map-side combinable.
- simhash:          token-hash bit-vote fingerprint; near-dup = small
                    hamming distance via bit_count(xor).

Design note: everything keys on stable doc ids, never on driver-side
collects; pair generation is always through joins on bounded buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cartography_spark.operators.fixpoint import fixpoint
from cartography_spark.session import shuffle_partition_count

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.5
BANDS = 4
MAX_ITER = 6

# Broadcast budget of ngram_jaccard_pairs' dense strategy: the per-doc
# shingle bitset table must fit it.
DENSE_JACCARD_BROADCAST_BYTES = 64 * 1024 * 1024


def portable_hash32(col: Column, salt: Column | str | int | None = None) -> Column:
    """Unsigned-32-bit hash derived from md5, reproducible in any engine
    with md5(): conv(substr(md5(x),1,8),16,10). Salt prefixes the input."""
    x = col.cast("string")
    if salt is not None:
        s = salt if isinstance(salt, Column) else F.lit(str(salt))
        x = F.concat(s.cast("string"), F.lit(":"), x)
    return F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")


def ordered_dense_ids(df: DataFrame, order_cols: list[str], id_col: str) -> DataFrame:
    """Dense 0-based ids in total ``order_cols`` order WITHOUT a
    single-partition window — the zipWithIndex dataflow in DataFrame
    terms, for unbounded vocabularies (word n-grams):

    1. range-partition by the order columns (global sort order across
       partitions),
    2. per-partition local row_number (narrow — partitions are disjoint
       ranges),
    3. add each partition's cumulative row-count offset (one tiny
       driver-side collect of P counts).
    """
    from pyspark.sql import Window

    ranged = df.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = ranged.localCheckpoint(eager=True)  # pin partitioning for both uses
    counts = {r["__pid"]: r["c"] for r in ranged.groupBy("__pid").agg(F.count("*").alias("c")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    local = Window.partitionBy("__pid").orderBy(*order_cols)
    return (
        ranged.withColumn("__rn", F.row_number().over(local))
        .withColumn(id_col, off[F.col("__pid")] + F.col("__rn") - 1)
        .drop("__pid", "__rn")
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep the lowest id per identical text hash.
    Returns (doc_id, keep, group_size). Null texts form their own group
    (null-safe join) — a plain equi-join would silently DROP null-text
    docs from the report, losing rows in a data-quality pass."""
    h = docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("h"))
    grp = h.groupBy("h").agg(F.min("doc_id").alias("keeper"), F.count("*").alias("group_size"))
    return (
        h.alias("h").join(grp.alias("g"), F.col("h.h").eqNullSafe(F.col("g.h")))
        .select(
            F.col("h.doc_id").alias("doc_id"),
            (F.col("h.doc_id") == F.col("g.keeper")).alias("keep"),
            F.col("g.group_size").alias("group_size"),
        )
    )


def _ngram_jaccard_dense(
    sh: DataFrame, vocab: DataFrame, nwords: int, threshold: float
) -> DataFrame:
    """Strategy D of :func:`ngram_jaccard_pairs`: ``lang``-blocked doc×doc join with
    the exact popcount jaccard evaluated in-stream over per-doc shingle
    bitsets stored as ``nwords`` SCALAR long columns (scalar bitwise ops
    whole-stage-codegen; array element_at/HOF forms measured 2.7 µs/pair
    interpreted vs ~0.02 µs here). Each unordered pair is enumerated
    exactly once (a < b inside the block), so there is no candidate
    distinct and no verification join — the join's output IS the result.
    Only entered when the caller's cost check proved the blocked pair
    count beats the prefix index's occurrence count and the word table
    fits the broadcast budget."""
    ided = sh.join(F.broadcast(vocab.select("shingle", "__sid")), "shingle")
    word_bits = ided.groupBy(
        "doc_id", "lang", (F.col("__sid") / 64).cast("int").alias("__w")
    ).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__sid % 64 AS INT))")).alias("__bits"),
        F.count("*").alias("__n"),
    )
    sets = (
        word_bits.groupBy("doc_id", "lang")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("__w", "__bits"))).alias("__m"),
            F.sum("__n").alias("__sz"),
        )
        .select(
            "doc_id", "lang", "__sz",
            *[
                F.coalesce(F.col("__m")[j], F.lit(0).cast("bigint")).alias(f"__w{j}")
                for j in range(nwords)
            ],
        )
        # scanned by both join sides (broadcast build + probe)
        .localCheckpoint(eager=False)
    )
    a = sets.select(
        F.col("doc_id").alias("a"), F.col("__sz").alias("__sza"),
        *[F.col(f"__w{j}").alias(f"__a{j}") for j in range(nwords)],
        F.col("lang").alias("__ba_lang"),
    )
    b = sets.select(
        F.col("doc_id").alias("b"), F.col("__sz").alias("__szb"),
        *[F.col(f"__w{j}").alias(f"__b{j}") for j in range(nwords)],
        F.col("lang").alias("__bb_lang"),
    )
    on = (F.col("a") < F.col("b")) & (F.col("__ba_lang") == F.col("__bb_lang"))
    size_ok = F.least("__sza", "__szb") >= F.lit(threshold) * F.greatest("__sza", "__szb")
    inter = F.lit(0).cast("bigint")
    for j in range(nwords):
        inter = inter + F.bit_count(F.col(f"__a{j}").bitwiseAND(F.col(f"__b{j}")))
    jac = inter / (F.col("__sza") + F.col("__szb") - inter)
    return (
        a.join(F.broadcast(b), on & size_ok)
        .where(jac >= F.lit(threshold))
        .select("a", "b", F.round(jac, 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact character 3-gram Jaccard similarity pairs >= 0.5 within the
    same ``lang``, via PREFIX FILTERING (exact — identical output to the
    naive inverted-index join).

    Why: a naive inverted-index self-join generates Σ_s n_s² candidate rows;
    a shingle present in most documents alone produces |docs|² rows, which
    is quadratic death at scale. Prefix filter: order all shingles by global
    document frequency (rarest first); any pair with J(A,B) >= t MUST share
    at least one shingle among each side's first |A| - ceil(t·|A|) + 1
    shingles in that order (else |A∩B| <= ceil(t|A|)-1 < t|A| <= t|A∪B|).
    Indexing only those prefixes removes the frequent-shingle hot spots
    entirely. Candidates are then verified exactly with one
    ``array_intersect`` per pair — no explode, no per-pair shuffle.

    STRATEGY CHOICE (r9 opt; both strategies are exact and return the
    identical pair set — full-output diff + oracle verified):

    - **P (prefix join)** — the shape above, the at-scale default for real
      text, where similarity is sparse and the candidate join touches a
      tiny fraction of the doc×doc space. Now also applies the PPJoin
      POSITIONAL filter inside the candidate join: an occurrence at
      1-based rarity ranks (i, j) can support at most
      1 + min(|A|-i, |B|-j) intersecting shingles, so occurrences below
      the t/(1+t)·(|A|+|B|) overlap requirement are dropped before the
      candidate distinct (measured 87.7M -> 26.3M rows at sf0.1; exact —
      the pair's minimum shared shingle always survives).
    - **D (dense blocked bitset join)** — when the shingle vocabulary is
      SMALL (bounded-alphabet char n-grams) and similarity is dense, the
      prefix index degenerates: at sf0.1 it emits 87.7M candidate
      occurrences for what is only 1.25M blocked doc pairs, because every
      pair shares ~33 prefix shingles. In that regime each doc's whole
      shingle set fits a few 64-bit words, so the blocked doc×doc join
      with the exact popcount jaccard AS THE JOIN FILTER is strictly less
      work: each pair is enumerated once, filtered in-stream — no
      occurrence blowup, no distinct, no verification join. Chosen only
      when (a) the per-doc word table fits the broadcast budget
      (``DENSE_JACCARD_BROADCAST_BYTES``, 64 MB) and (b) the blocked pair
      count × word count is below the inverted-index occurrence bound
      Σ_s n_s·(n_s-1)/2 — both computed from aggregates already needed by
      P, so the at-scale path pays nothing for the check. Interleaved A/B
      at sf0.1: 11.4 -> ~1.5 s.
    """
    from pyspark.sql import Window

    sh = doc_shingles(docs, n=SHINGLE_N, extra_cols=("lang",))
    # materialize: consumed by freq, prefix, and the verification sets
    sh = sh.localCheckpoint(eager=True)

    # Global rarity order + dense shingle id. Char n-gram vocab is bounded
    # (alphabet^n, tens of thousands in practice even at 100 TB) so the
    # vocab table broadcasts and a single-partition window can assign the
    # dense id over that small table. Word n-gram vocabularies are NOT
    # bounded — above the guard the id is assigned distributed
    # (range-partition + per-partition offsets), same total order, no
    # single-partition stage.
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    freq = freq.localCheckpoint(eager=True)
    # one action returns the vocab size AND the unfiltered inverted-index
    # pair bound Σ n_s·(n_s-1)/2 used by the strategy choice below
    _fstats = freq.agg(
        F.count("*").alias("v"),
        F.sum(F.col("__df") * (F.col("__df") - 1) / 2).alias("ip"),
    ).first()
    vocab_size = _fstats["v"] or 0
    inv_index_pairs = float(_fstats["ip"] or 0.0)
    if vocab_size <= 1_000_000:
        vocab = freq.withColumn(
            "__sid", F.row_number().over(Window.orderBy("__df", "shingle")) - 1
        )
    else:
        vocab = ordered_dense_ids(freq, ["__df", "shingle"], "__sid")
    vocab = vocab.localCheckpoint(eager=True)

    # --- strategy D eligibility + cost check (exact alternative; see
    # docstring). All inputs are driver-side aggregates: the blocked pair
    # count comes from one tiny count-per-block job over the docs table
    # (skipped entirely for large vocabularies, so the at-scale prefix
    # path pays nothing), the occurrence bound came with the vocab-size
    # action above.
    nwords = (vocab_size + 63) // 64
    if 0 < vocab_size and nwords <= 128:
        counts = [r["__c"] for r in docs.groupBy("lang").agg(F.count("*").alias("__c")).collect()]
        n_docs = sum(counts)
        cross_pairs = sum(c * (c - 1) / 2 for c in counts)
        # nwords multiplies D's per-pair cost; P's per-occurrence cost is
        # O(1) — comparing cross_pairs*nwords against the occurrence bound
        # biases the choice TOWARD the at-scale prefix path
        if (
            n_docs * (nwords + 3) * 8 <= DENSE_JACCARD_BROADCAST_BYTES
            and cross_pairs * nwords <= inv_index_pairs
        ):
            return _ngram_jaccard_dense(sh, vocab, nwords, JACCARD_THRESHOLD)

    w = Window.partitionBy("doc_id", "lang").orderBy("__sid")
    wsz = Window.partitionBy("doc_id", "lang")
    ranked = (
        sh.join(F.broadcast(vocab), "shingle")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__sz", F.count("*").over(wsz))
    )
    prefix = ranked.filter(
        F.col("__rn") <= F.col("__sz") - F.ceil(F.lit(JACCARD_THRESHOLD) * F.col("__sz")) + 1
    )

    # Candidates join on the 4-byte dense id, not the shingle string, with
    # the exact PPJoin length filter applied inside the join itself:
    # J(A,B) >= t  =>  min|A|,|B| >= t * max|A|,|B| — kills
    # size-incompatible pairs before they reach the distinct.
    a = prefix.select(
        F.col("doc_id").alias("a"), "__sid", F.col("__sz").alias("__sza"),
        F.col("__rn").alias("__rna"),
        F.col("lang").alias("__ba_lang"),
    )
    b = prefix.select(
        F.col("doc_id").alias("b"), "__sid", F.col("__sz").alias("__szb"),
        F.col("__rn").alias("__rnb"),
        F.col("lang").alias("__bb_lang"),
    )
    on = (a["__sid"] == b["__sid"]) & (F.col("__ba_lang") == F.col("__bb_lang"))
    size_ok = F.least("__sza", "__szb") >= F.lit(JACCARD_THRESHOLD) * F.greatest("__sza", "__szb")
    # PPJoin POSITIONAL filter (exact pruning): an occurrence at 1-based
    # rarity ranks (i, j) can support at most 1 + min(|A|-i, |B|-j)
    # intersecting shingles; a J >= t pair needs t/(1+t)·(|A|+|B|). The
    # occurrence at the pair's MINIMUM shared shingle (which is in both
    # prefixes whenever any shared shingle is) always meets the bound, so
    # no qualifying pair loses all its occurrences. The 1e-9 slack only
    # relaxes the pruning — the exact jaccard filter still runs below.
    alpha_ok = (
        1 + F.least(F.col("__sza") - F.col("__rna"), F.col("__szb") - F.col("__rnb"))
        >= F.lit(JACCARD_THRESHOLD / (1.0 + JACCARD_THRESHOLD)) * (F.col("__sza") + F.col("__szb"))
        - F.lit(1e-9)
    )
    cand = (
        a.join(b, on & (F.col("a") < F.col("b")) & size_ok & alpha_ok)
        .select("a", "b")
        .distinct()
    )

    ided = sh.join(F.broadcast(vocab.select("shingle", "__sid")), "shingle")
    # Verification: |A∩B| per candidate pair. Two physical encodings of the
    # same exact set-intersection (identical output):
    #  - small vocab: fixed-width BITMAP (array<bigint>, one bit per dense
    #    id); intersect = sum of bit_count(a&b) over vocab_size/64 words —
    #    ~100x cheaper than hashing 100+ strings per pair.
    #  - large vocab: sorted int-id arrays + array_intersect (bitmaps would
    #    waste vocab_size/8 bytes per doc).
    if vocab_size <= 65536:
        nwords = (vocab_size + 63) // 64
        word_bits = ided.groupBy("doc_id", "lang", (F.col("__sid") / 64).cast("int").alias("__w")).agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__sid % 64 AS INT))")).alias("__bits"),
            F.count("*").alias("__n"),
        )
        sets = word_bits.groupBy("doc_id", "lang").agg(
            F.map_from_entries(F.collect_list(F.struct("__w", "__bits"))).alias("__m"),
            F.sum("__n").alias("__sz"),
        ).select(
            "doc_id",
            "lang",
            F.transform(
                F.sequence(F.lit(0), F.lit(nwords - 1)),
                lambda i: F.coalesce(F.col("__m")[i], F.lit(0).cast("bigint")),
            ).alias("__set"),
            "__sz",
        )
        inter = F.aggregate(
            F.zip_with("__seta", "__setb", lambda x, y: F.bit_count(x.bitwiseAND(y))),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
    else:
        sets = ided.groupBy("doc_id", "lang").agg(
            F.collect_set("__sid").alias("__set"), F.count("*").alias("__sz")
        )
        inter = F.size(F.array_intersect("__seta", "__setb")).cast("bigint")

    sa = sets.select(F.col("doc_id").alias("a"), F.col("__set").alias("__seta"), F.col("__sz").alias("sza"))
    sb = sets.select(F.col("doc_id").alias("b"), F.col("__set").alias("__setb"), F.col("__sz").alias("szb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn("inter", inter)
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def doc_shingles(docs: DataFrame, n: int = 3, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distinct character n-gram shingles per doc (JVM-side)."""
    t = F.lower(F.col("text"))
    rows = docs.select(F.col("doc_id"), *[F.col(c) for c in extra_cols], t.alias("__t"))
    # Parallelism guard: a compact input (one small parquet file = one scan
    # split) would run the ~100x row explosion + per-shingle md5 on a single
    # task. Hash-repartition the PRE-explode rows (cheap) so the heavy work
    # spreads across the cluster; since we key on id, the downstream
    # groupBy(id) reuses this partitioning instead of shuffling the
    # much larger post-explode rowset. The partition count must be explicit:
    # with `repartition(col)` alone AQE sees a few-MB exchange and coalesces
    # it back to ONE partition, serializing the explode+md5 (observed 6x
    # slowdown at sf0.1).
    rows = rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — docs
    # shorter than n must yield no shingles (matches generate_series/oracle)
    grams = F.when(
        F.length("__t") >= n,
        F.transform(
            F.sequence(F.lit(1), F.length("__t") - (n - 1)),
            lambda i: F.col("__t").substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        rows.select(F.col("doc_id"), *extra_cols, F.explode(F.array_distinct(grams)).alias("shingle"))
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1


def perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation i: universal-hash family
    h_i(x) = (a*x + b) mod p. Knuth multiplicative constant keeps the a's
    well-spread; everything is exact BIGINT arithmetic (a < p, x < 2^32 ->
    a*x+b < 2^63), so any engine reproduces the signature bit-exactly."""
    a = ((i + 1) * 2654435761) % MINHASH_PRIME
    b = ((i + 1) * 40503) % MINHASH_PRIME
    return a, b


def minhash_wide(docs: DataFrame, num_perm: int = 16) -> DataFrame:
    """(id, mh0..mh{num_perm-1}): the MinHash signature as one wide row.

    Cost model (the reason for this shape): the expensive md5 runs ONCE per
    (doc, shingle); the ``num_perm`` permutations are derived arithmetically
    (h_i = (a_i*h + b_i) mod p) as parallel aggregate columns, so there is a
    single shuffle of |shingles| rows with map-side-combined mins — not a
    num_perm-times row explosion. (A first implementation salted md5 per
    perm: 16x the hashing and 16x the shuffle, ~25x slower at sf0.1.)
    """
    sh = doc_shingles(docs)
    hashed = sh.withColumn("h", portable_hash32(F.col("shingle")))
    aggs = []
    for i in range(num_perm):
        a, b = perm_coeffs(i)
        aggs.append(F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh{i}"))
    return hashed.groupBy("doc_id").agg(*aggs)


def band_signatures(wide: DataFrame) -> DataFrame:
    """(id, band, bsig) straight from the wide signature — no extra shuffle.

    Band b holds permutations {b, b+4, b+8, ...} in ascending perm
    order (equivalent to grouping long-format rows by perm % 4), so the
    band signature is a concat of already-computed aggregate columns: the
    explode-and-regroup a long-format pipeline would need (one full extra
    shuffle) disappears.
    """
    num_perm = sum(1 for c in wide.columns if c.startswith("mh"))
    rows = []
    for b in range(BANDS):
        perms = list(range(b, num_perm, BANDS))
        concat = F.concat_ws("_", *[F.col(f"mh{p}").cast("string") for p in perms])
        # compact the ~100-byte signature string to a 60-bit key so the
        # bucket self-join shuffles 8-byte longs; md5-derived, so the oracle
        # computes the identical key (collisions, ~2^-60, would be identical
        # on both sides too)
        rows.append(
            F.struct(
                F.lit(b).alias("band"),
                F.conv(F.substring(F.md5(concat), 1, 15), 16, 10).cast("long").alias("bsig"),
            )
        )
    return wide.select(
        F.col("doc_id"), F.explode(F.array(*rows)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bsig").alias("bsig"))


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Band the :func:`minhash_wide` signature (rows_per_band = num_perm /
    bands) through :func:`band_signatures`, bucket-join on
    (band, band_signature): docs sharing any band are candidate pairs.
    """
    band_sig = band_signatures(signatures)
    # materialize once: the a/b self-join would otherwise recompute the
    # whole shingle->hash->min pipeline twice (docs x bands rows — small)
    band_sig = band_sig.localCheckpoint(eager=True)
    # Hot-bucket defense: the join key IS the bucket, so a bucket with k
    # docs sends all k rows to ONE reducer that then emits k^2/2 pairs —
    # AQE can't split it (input bytes are tiny; the OUTPUT explodes).
    # Group-replication: side B carries its group g = hash(id) % G in the
    # join key; side A is replicated across all G group values. Every pair
    # still meets exactly once (in the partition keyed by g(b)), but a hot
    # bucket's pair generation now spreads over G reducers. A-side rows
    # multiply by G — bounded (docs x bands x G) and tiny next to the pairs.
    G = 8
    a = band_sig.select(F.col("doc_id").alias("a"), "band", "bsig").withColumn(
        "g", F.explode(F.sequence(F.lit(0), F.lit(G - 1)).cast("array<int>"))
    )
    b = band_sig.select(F.col("doc_id").alias("b"), "band", "bsig").withColumn(
        "g", F.pmod(F.hash("b"), F.lit(G)).cast("int")
    )
    return (
        a.join(b, ["band", "bsig", "g"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def lsh_delta_pairs(base_docs: DataFrame, delta_docs: DataFrame) -> DataFrame:
    """Incremental LSH index maintenance: the candidate near-dup pairs that
    APPEAR when ``delta_docs`` arrive — every pair has at least one delta
    side; base-base pairs (already known) are never regenerated.

    This is the daily-increment contract of a crawl pipeline: signatures
    are computed for the delta only (here base signatures are recomputed
    for self-containment; in production they are the stored index), and
    the band join probes DELTA band rows against the full band index, so
    the pair space is delta-postings x bucket — cost proportional to the
    increment, never |base|^2. Composes with cluster_min_label /
    exact_collapse exactly like the batch pair generator.

    Returns distinct (a, b) with a < b and at least one side in delta.
    """
    wb = minhash_wide(base_docs)
    wd = minhash_wide(delta_docs)
    bb = band_signatures(wb)
    bd = band_signatures(wd)
    bd = bd.localCheckpoint(eager=True)  # probe side feeds the union AND the join
    index = bb.unionByName(bd)
    probe = bd.select(F.col("doc_id").alias("__da"), "band", "bsig")
    hit = index.select(F.col("doc_id").alias("__db"), "band", "bsig")
    return (
        probe.join(hit, ["band", "bsig"])
        .filter(F.col("__da") != F.col("__db"))
        .select(
            F.least("__da", "__db").alias("a"),
            F.greatest("__da", "__db").alias("b"),
        )
        .distinct()
    )


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash fingerprint: each token votes ±1 per bit of its hash; the
    fingerprint sets bit b iff the vote sum is positive.

    Plan: token explode -> bit explode (tokens × 32 rows) -> groupBy(id)
    with conditional sums — one shuffle, map-side combined.
    """
    toks = docs.select(F.col("doc_id"), F.lower(F.col("text")).alias("__t"))
    # same parallelism guard as doc_shingles: spread the token x bit
    # explosion before it happens, keyed so downstream groupBys don't
    # re-shuffle the exploded rows (explicit count, or AQE re-coalesces)
    toks = (
        toks.repartition(toks.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
        .select(F.col("doc_id"), F.explode(F.split(F.col("__t"), r"\s+")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    hashed = toks.withColumn("h", portable_hash32(F.col("tok")))
    bitrows = hashed.select(
        F.col("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit"),
        F.col("h"),
    ).withColumn("vote", F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1))
    votes = bitrows.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(F.lit(0))
        ).alias("simhash")
    )


def _min_label_clusters(
    hop, static: DataFrame, key: str, vertices: DataFrame, max_iter: int, id_col: str
) -> DataFrame:
    """The loop of both clusterings: ``hop(static, labels)`` lowers each
    (v, lbl) to the minimum label one pair-graph hop away. The previous
    label rides along so the changed-count is a row-local predicate; a
    round that changes nothing is the fixed point, so stopping there keeps
    results identical to the fixed-round oracle. Returns (id, cluster, keep)."""
    labels = vertices.select(F.col(id_col).alias("v")).distinct().withColumn(
        "lbl", F.col("v")
    )
    # Static side persisted hash-partitioned on the round join ``key``
    # (localCheckpoint would lose the partitioning; persist keeps it), so
    # the round joins read the cache without an exchange. Repartition FIRST,
    # dedup second: HashPartitioning(key) satisfies the distinct's
    # clustering, so one exchange serves both (guide §2.4).
    static = static.repartition(shuffle_partition_count(static.sparkSession), key).dropDuplicates()
    static.persist()

    def _round(state: DataFrame, _r: int) -> DataFrame:
        lbls = state.drop("prev")
        return hop(static, lbls).join(lbls.select("v", F.col("lbl").alias("prev")), "v")

    changed = F.count_if(F.col("lbl") != F.col("prev"))
    labels, _ = fixpoint(_round, labels, max_iter, changed, release=[static])
    return labels.select(
        F.col("v").alias(id_col),
        F.col("lbl").alias("cluster"),
        (F.col("v") == F.col("lbl")).alias("keep"),
    )


def cluster_min_label(
    pairs: DataFrame,
    vertices: DataFrame,
    max_iter: int = 6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pair sets -> clusters: bounded min-label propagation.

    After round k every vertex holds the minimum id within its k-hop
    neighborhood (label_{k+1}(v) = min(label_k(v), min over neighbors)), so
    ``max_iter`` rounds give exact connected components for any component
    whose radius from its minimum-id vertex is <= max_iter — near-dup
    clusters are dense (LSH/Jaccard pairs), so small bounds converge.
    Each round is one shuffle (join + min-agg); lineage is checkpointed per
    round. Returns (id, cluster, keep) — keep marks the canonical doc.
    """
    und = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )

    def _hop(und: DataFrame, lbls: DataFrame) -> DataFrame:
        neighbor_min = (
            und.join(lbls, und.dst == lbls.v)
            .groupBy(F.col("src").alias("v"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        return lbls.join(neighbor_min, "v", "left").select(
            F.col("v"),
            F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
        )

    return _min_label_clusters(_hop, und, "dst", vertices, max_iter, id_col)


def cluster_min_label_bipartite(
    memberships: DataFrame,
    vertices: DataFrame,
    max_iter: int = 6,
) -> DataFrame:
    """Min-label clustering over BUCKET MEMBERSHIPS instead of pairs —
    star contraction on the hypergraph whose hyperedges are LSH buckets.

    Two docs are connected iff they share a bucket, so connected
    components over the (doc, bucket) bipartite graph equal components
    over the pair graph — WITHOUT ever materializing the pairs. A bucket
    with k members contributes k membership rows here versus k(k-1)/2
    pair rows in :func:`cluster_min_label`: the quadratic emit that LSH
    banding is supposed to bound disappears from the dataflow entirely,
    which is the difference between O(sum k) and O(sum k^2) at a hot
    bucket. One bipartite round (doc -> bucket min -> doc min) covers one
    pair-graph hop, so ``max_iter`` bounds the same radius as the
    pair-based form and both converge to the identical fixed point the
    oracle's recursive CTE describes.

    Per round: two joins + two min-aggregates over the membership rows;
    convergence read from a Dataset.observe metric during the round's
    checkpoint job (one job per round).
    """
    mem = memberships.select(F.col("doc_id").alias("mv"), F.col("bucket").alias("mb"))

    def _hop(mem: DataFrame, lbls: DataFrame) -> DataFrame:
        bmin = (
            mem.join(lbls, mem.mv == lbls.v)
            .groupBy("mb")
            .agg(F.min("lbl").alias("blbl"))
        )
        nmin = (
            mem.join(bmin, "mb")
            .groupBy(F.col("mv").alias("v"))
            .agg(F.min("blbl").alias("nlbl"))
        )
        return lbls.join(nmin, "v", "left").select(
            "v",
            F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
        )

    return _min_label_clusters(_hop, mem, "mv", vertices, max_iter, "doc_id")


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.99,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    All-pairs cosine is O(n^2) — unusable at 100 TB. Instead: random-
    hyperplane signature per vector (one scan), equi-self-join on the
    signature bucket (near-identical vectors collide with high probability),
    exact cosine re-check inside buckets only. The join is an equi-join on
    the signature, so Catalyst shuffles both sides on ~2^n_planes balanced
    keys instead of building the cross product.
    """
    from cartography_spark.operators.similarity import cosine_similarity, hyperplane_signature

    sig = hyperplane_signature(F.col("embedding"), dim, n_planes)
    with_sig = embeddings.select(F.col("vec_id"), F.col("embedding"), sig.alias("__sig"))
    # bounded: one row per vector; avoids recomputing 8x64 md5 signs per side
    with_sig = with_sig.localCheckpoint(eager=True)
    a = with_sig.select(F.col("vec_id").alias("a"), F.col("embedding").alias("__va"), "__sig")
    b = with_sig.select(F.col("vec_id").alias("b"), F.col("embedding").alias("__vb"), "__sig")
    pairs = a.join(b, "__sig").filter(F.col("a") < F.col("b"))
    cos = cosine_similarity(F.col("__va").cast("array<double>"), F.col("__vb").cast("array<double>"))
    return (
        pairs.withColumn("cosine", F.round(cos, 4))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def simhash_near_pairs(fingerprints: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs by hamming distance over simhash fingerprints.
    Blocked on the top byte to avoid the full cross join at scale."""
    a = fingerprints.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    b = fingerprints.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    blk_a = F.shiftright("ha", 24)
    blk_b = F.shiftright("hb", 24)
    return (
        a.join(b, (blk_a == blk_b) & (F.col("a") < F.col("b")))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def substring_span_stats(docs: DataFrame, window: int = 10) -> DataFrame:
    """Exact-substring duplication statistics (the suffix-array-free scale
    path of "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2021): hash every stride-1 ``window``-token span, flag spans
    whose hash occurs more than once in the corpus, and report per document
    how many tokens sit inside at least one duplicated span.

    Plan shape: one explode (guarded by the doc_shingles repartition
    pattern), one groupBy on the span hash (map-side combinable count),
    one join back, then a per-doc interval-union computed with a single
    running-max window — never a self-join over spans. At 100 TB the span
    hash is the only wide key; everything downstream is per-doc.

    Output: (doc_id, n_tokens, dup_windows, dup_tokens, dup_permille) —
    all integers, so the DuckDB oracle matches bit-exactly.

    Reference analogue: cartography has no corpus operators; this extends
    the dedup family required by the LLM-data north-star.
    """
    from pyspark.sql import Window as W

    # null text -> '' so size() is 1, never -1 (Spark's size(NULL)); keeps
    # n_tokens/dup_permille aligned with engines where len(split(NULL)) is
    # NULL-propagated instead
    rows = docs.select(
        F.col("doc_id"), F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("__ws")
    )
    rows = rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    base = rows.select(F.col("doc_id"), F.size("__ws").cast("long").alias("n_tokens"))
    # sequence(1, 0) would DESCEND in Spark — docs shorter than the window
    # must produce no spans, hence the explicit size filter.
    wins = (
        rows.filter(F.size("__ws") >= window)
        .select(
            F.col("doc_id"),
            F.explode(F.sequence(F.lit(1), F.size("__ws") - (window - 1))).alias("i"),
            F.col("__ws"),
        )
        .select(
            F.col("doc_id"),
            F.col("i"),
            F.md5(F.array_join(F.slice("__ws", F.col("i"), F.lit(window)), " ")).alias("h"),
        )
    )
    dup_h = wins.groupBy("h").agg(F.count("*").alias("__cnt")).filter(F.col("__cnt") > 1)
    dup = wins.join(dup_h, "h").select(F.col("doc_id"), F.col("i"))
    prior = W.partitionBy("doc_id").orderBy("i").rowsBetween(W.unboundedPreceding, -1)
    cov = (
        dup.withColumn("__end", F.col("i") + (window - 1))
        .withColumn("__prev_end", F.coalesce(F.max("__end").over(prior), F.lit(0)))
        .withColumn(
            "__covered",
            F.greatest(
                F.lit(0), F.col("__end") - F.greatest(F.col("__prev_end"), F.col("i") - 1)
            ),
        )
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dup_windows"),
        F.sum("__covered").cast("long").alias("dup_tokens"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.col("n_tokens"),
            F.coalesce("dup_windows", F.lit(0)).cast("long").alias("dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        )
        .withColumn(
            "dup_permille",
            F.expr("CAST((dup_tokens * 1000) DIV n_tokens AS BIGINT)"),
        )
    )


def exact_collapse(docs: DataFrame) -> DataFrame:
    """(all input columns, rep): min-id representative per EXACT duplicate
    group (md5 text key, null-safe so null-text docs keep a group).

    This is the mandatory FIRST stage of any near-dup pipeline at scale:
    web-scale corpora are dominated by exact copies, and every downstream
    pair generator (LSH band buckets, hyperplane buckets) degrades
    quadratically in the copy count if fed raw — k exact copies of one doc
    turn every candidate pair into k^2 pairs. The sf1 rehearsal measured
    exactly this: 10x replicated input made dedup_minhash_lsh ~57x slower,
    because the PAIR OUTPUT grew ~100x. Collapsing first makes the heavy
    stage run on unique texts only; expansion back to all ids is one
    linear join on the rep key.
    """
    from pyspark.sql import Window

    # min-id per md5 group as a WINDOW over the hash key: ONE exchange of
    # the doc rows, no join back (the former groupBy + eqNullSafe self-join
    # shuffled the docs once for the aggregate and once more for the probe
    # side — guide §2.4). Window partitioning groups NULL keys together,
    # matching the null-safe join semantics exactly.
    key = F.md5(F.col("text"))
    return (
        docs.withColumn("__k", key)
        .withColumn("rep", F.min("doc_id").over(Window.partitionBy("__k")))
        .drop("__k")
    )


def minhash_cluster_collapsed(docs: DataFrame) -> DataFrame:
    """The 100 TB-sane MinHash dedup contract: (id, cluster, keep) — O(N)
    output — instead of the O(pairs) candidate list.

    Pipeline: exact-collapse (hash groupBy on a 16-byte key) -> MinHash +
    banded LSH among unique texts only -> bounded min-label clustering of
    representatives -> linear expansion of every doc through its rep.
    Exact copies never reach the pair generator, so duplication factor k
    costs k rows in two linear joins, not k^2 pairs per bucket. The final
    cluster label is the corpus-minimum doc id of the merged component
    (reps are group minima, so min over reps == min over docs).
    """
    mapped = exact_collapse(docs)
    # reused by reps + expansion; checkpoint only the compact (id, rep) map
    idmap = mapped.select(F.col("doc_id"), "rep").localCheckpoint(eager=True)
    reps = mapped.filter(F.col("doc_id") == F.col("rep")).select(F.col("doc_id"), F.col("text"))
    wide = minhash_wide(reps, num_perm=32)
    # cluster straight over (doc, band-bucket) memberships — candidate
    # PAIRS are never materialized (see cluster_min_label_bipartite: the
    # components over shared-bucket membership equal components over the
    # pair graph, minus the per-bucket quadratic emit)
    mem = band_signatures(wide).select(
        F.col("doc_id"),
        F.concat_ws(":", F.col("band"), F.col("bsig")).alias("bucket"),
    )
    # vertices = the distinct rep ids, read from the already-checkpointed
    # idmap instead of re-deriving reps from the collapse (the labels init
    # runs inside the first cluster job — without this it re-ran the full
    # docs scan + collapse there; identical id set either way)
    cl = cluster_min_label_bipartite(
        mem,
        idmap.select(F.col("rep").alias("doc_id")),
        max_iter=MAX_ITER,
    )
    return (
        idmap.join(cl.select(F.col("doc_id").alias("rep"), "cluster"), "rep")
        .select(
            F.col("doc_id"),
            "cluster",
            (F.col("doc_id") == F.col("cluster")).alias("keep"),
        )
    )


def embedding_cluster_collapsed(embeddings: DataFrame, dim: int) -> DataFrame:
    """Embedding near-dup clustering with exact-copy collapse: group
    bit-identical vectors (equi-join on the array value — no lossy string
    formatting), run the LSH-blocked cosine pair generator on unique
    vectors only, cluster, then expand linearly. Same rationale as
    :func:`minhash_cluster_collapsed`."""
    from pyspark.sql import Window

    # min-id per identical vector as a window over the array value — one
    # exchange of the embedding rows instead of groupBy + equi-join back
    # (same rewrite as exact_collapse; grouping and window partitioning
    # share Spark's value-equality semantics for arrays). NULL-vector rows
    # are dropped up front: the pre-rewrite equi-join (not null-safe)
    # dropped them, and the window would otherwise group them into one
    # bogus cluster — parity with the join shape and the oracle's SQL
    # equi-join semantics.
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    mapped = embeddings.select(
        F.col("vec_id"),
        F.min("vec_id").over(Window.partitionBy("embedding")).alias("rep"),
        F.col("embedding"),
    )
    idmap = mapped.select(F.col("vec_id"), "rep").localCheckpoint(eager=True)
    reps = mapped.filter(F.col("vec_id") == F.col("rep")).select(F.col("vec_id"), F.col("embedding"))
    pairs = embedding_near_dup_pairs(reps, dim=dim).select("a", "b")
    # vertices from the checkpointed idmap — same rep-id set, no second
    # pass over the embedding collapse (see minhash_cluster_collapsed)
    cl = cluster_min_label(
        pairs, idmap.select(F.col("rep").alias("vec_id")), max_iter=MAX_ITER, id_col="vec_id"
    )
    return (
        idmap.join(cl.select(F.col("vec_id").alias("rep"), "cluster"), "rep")
        .select(
            F.col("vec_id"),
            "cluster",
            (F.col("vec_id") == F.col("cluster")).alias("keep"),
        )
    )


def shingle_containment_pairs(docs: DataFrame, min_permille: int = 900) -> DataFrame:
    """Asymmetric containment detection: |shingles(a) ∩ shingles(b)| over
    |shingles(smaller side)| — the relation Jaccard MISSES. An excerpt,
    quote, or truncated mirror of a long document shares nearly all of its
    own shingles with the original but few of the original's, so its
    Jaccard is low while its containment is ~1. Standard companion to
    near-dup filtering in pretraining pipelines (quotes and page fragments
    survive Jaccard dedup and still leak the source text).

    Same inverted-index discipline as :func:`ngram_jaccard_pairs`: distinct
    char n-grams per doc, self-join on (shingle, block), per-pair
    intersection count, integer cross-multiplied threshold
    (inter * 1000 >= min_permille * min(sz)) — no float division in the
    filter. Pair output is quadratic in per-shingle density BY CONTRACT;
    the collapsed cluster contracts remain the 100 TB bulk path, this is
    the targeted audit for containment relations within a blocked slice.
    """
    # guard: Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — docs
    # shorter than n must yield no shingles (matches generate_series/oracle);
    # same pitfall guarded at the minhash and substring-span shingle sites.
    grams = F.when(
        F.length("text") >= SHINGLE_N,
        F.expr(
            f"transform(sequence(1, length(text) - {SHINGLE_N - 1}), "
            f"i -> substring(lower(text), i, {SHINGLE_N}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    # The post-explode repartition doubles as a MATERIALIZATION point:
    # the shingle stream feeds three consumers (sizes + both self-join
    # sides), and the exchange files let each reuse the explode instead
    # of re-flattening the gram arrays (cf. the r8-opt sf1 A/Bs on the
    # analogous token-stream sites).
    sh = docs.select(
        F.col("doc_id"),
        F.col("lang"),
        F.explode(F.array_distinct(grams)).alias("__sh"),
    )
    sh = sh.repartition(sh.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("__sz"))
    a = sh.select(F.col("doc_id").alias("a"), F.col("lang").alias("__ba"), F.col("__sh"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("lang").alias("__bb"), F.col("__sh"))
    inter = (
        a.join(b, ["__sh"])
        .filter((F.col("a") < F.col("b")) & (F.col("__ba") == F.col("__bb")))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("__sz").alias("sz_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("__sz").alias("sz_b")), "b")
        .filter(
            F.col("inter") * 1000 >= F.lit(min_permille) * F.least("sz_a", "sz_b")
        )
        .select(
            "a",
            "b",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("sz_a").cast("bigint").alias("sz_a"),
            F.col("sz_b").cast("bigint").alias("sz_b"),
            F.expr("CAST(inter * 1000 DIV sz_a AS BIGINT)").alias("cont_a_permille"),
            F.expr("CAST(inter * 1000 DIV sz_b AS BIGINT)").alias("cont_b_permille"),
        )
    )


def shingle_novelty(docs: DataFrame) -> DataFrame:
    """Per-document n-gram NOVELTY score: the fraction of a document's
    distinct character n-grams that appear in NO other document —
    1_000_000 = entirely novel content, 0 = every shingle also occurs
    elsewhere. The corpus-level complement of the pairwise containment
    audit (shingle_containment_pairs): containment asks 'which pair
    overlaps', novelty asks 'how much of THIS doc is boilerplate the
    rest of the corpus already has' — the signal data-mixing pipelines
    weight up (novel long-tail text) or down (mirrored/templated spans)
    without ever materializing pairs.

    Exact integer contract: novelty_ppm = (n_unique * 1_000_000) DIV
    n_shingles over distinct-per-doc shingles; a shingle is unique iff
    its doc frequency is exactly 1.

    Plan at 100 TB: doc_shingles is computed ONCE and checkpointed
    (blockmax single-pass pattern — the relation feeds both the df
    aggregate and the join back); df is a map-side-combinable count
    keyed by shingle; the join back is shingle-co-partitioned; the
    final per-doc aggregate reuses the doc key. Never O(pairs) — cost
    is |postings| + |vocabulary|, linear in corpus size.
    """
    sh = doc_shingles(docs, n=6).localCheckpoint(eager=False)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("long").alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.expr("(n_unique * 1000000) DIV n_shingles").cast("long").alias("novelty_ppm"),
        )
    )
