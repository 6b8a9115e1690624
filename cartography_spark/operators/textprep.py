"""Training-data preparation operators beyond the basic text stats —
repetition filtering, PII scrubbing, chunking, sequence packing, and
benchmark-contamination detection. All built-in pyspark.sql.functions
(JVM-side, whole-stage codegen); no Python UDFs anywhere.

Scale notes (100 TB design intent):
- repetition_stats / scrub_pii / chunk_documents are per-row narrow maps —
  no shuffle at all; they scale linearly with input splits.
- chunk_documents multiplies rows ~(n_tokens/stride)x; callers should
  repartition the compact pre-explode rows when inputs are few large files
  (same gotcha as dedup shingling).
- pack_sequences is one window per (lang) partition — a single shuffle on
  the partition key; bin assignment is the "concatenate-and-split"
  convention used by LLM pretraining loaders, a pure function of the
  running token offset (stable under re-runs, unlike greedy bin packing
  which is inherently sequential).
- contamination_overlap broadcasts the benchmark n-gram set (benchmarks
  are ~MBs even for big suites) so the corpus side stays shuffle-free
  until the per-doc count aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CONTAMINATION_N = 5
CDC_WINDOW = 8


def _tokens() -> Column:
    """The whitespace tokens of the lower-cased ``text`` column."""
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as space-joined strings (empty array when < n tokens)."""
    slices = [F.slice(toks, i + 1, F.greatest(F.size(toks) - n + 1, F.lit(0))) for i in range(n)]
    out = slices[0]
    for s in slices[1:]:
        out = F.zip_with(out, s, lambda a, b: F.concat_ws(" ", a, b))
    return out


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition metrics: fraction of tokens
    taken by the single most frequent token, duplicate word-bigram
    fraction, and the distinct-token ratio. Cheap per-row signals used to
    drop degenerate (looping / boilerplate) documents before training."""
    toks = _tokens()
    n_tok = F.greatest(F.size(toks), F.lit(1))
    # occurrences of each distinct token, all computed inside the row
    per_tok_counts = F.transform(
        F.array_distinct(toks), lambda t: F.size(F.filter(toks, lambda x: x == t))
    )
    top_word_frac = F.array_max(per_tok_counts) / n_tok
    bigrams = _word_ngrams(toks, 2)
    n_bi = F.size(bigrams)
    dup_bigram_frac = F.when(n_bi > 0, (n_bi - F.size(F.array_distinct(bigrams))) / n_bi).otherwise(
        F.lit(0.0)
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    return docs.select(
        F.col("doc_id"),
        F.round(top_word_frac, 6).alias("top_word_frac"),
        F.round(dup_bigram_frac, 6).alias("dup_bigram_frac"),
        F.round(distinct_ratio, 6).alias("distinct_token_ratio"),
        ((top_word_frac > 0.2) | (dup_bigram_frac > 0.3)).alias("repetitive"),
    )


# --- PII scrubbing ---------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def synthesize_pii_column(docs: DataFrame) -> DataFrame:
    """Deterministically append synthetic PII (email / phone / IPv4 derived
    from the doc id) so the scrubber has real matches to redact; the test
    corpus itself contains none. Mirrors multimodal.synthesize_*: fake
    payload, real plumbing."""
    i = F.col("doc_id").cast("long")
    email = F.concat(F.lit("user"), (i % 100).cast("string"), F.lit("@example.com"))
    phone = F.concat(
        F.lit("555-"),
        F.lpad((i % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((i * 7) % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit("10."), (i % 256).cast("string"), F.lit(".0."), ((i * 13) % 256).cast("string")
    )
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" contact "), email, F.lit(" call "), phone, F.lit(" from "), ip
        ),
    )


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Redact emails, phone numbers and IPv4 addresses with typed
    placeholders; report per-type match counts and a fingerprint of the
    redacted text. Order matters: emails first so their host parts are not
    half-eaten by the IP pattern."""
    t = F.col("text")
    n_emails = F.regexp_count(t, F.lit(EMAIL_RE))
    n_phones = F.regexp_count(t, F.lit(PHONE_RE))
    redacted = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(redacted, PHONE_RE, "<PHONE>")
    n_ips = F.regexp_count(redacted, F.lit(IPV4_RE))
    redacted = F.regexp_replace(redacted, IPV4_RE, "<IP>")
    return docs.select(
        F.col("doc_id"),
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        n_ips.cast("int").alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


# --- chunking / packing ----------------------------------------------------


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Split each document into overlapping fixed-token windows (chunk at
    every 15 tokens, each up to 20 long — the
    standard context-window chunking for retrieval / training). Emits
    (doc_id, chunk_id, n_chunk_tokens, chunk_md5)."""
    toks = _tokens()
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(15))
    exploded = docs.select(
        F.col("doc_id"), toks.alias("__toks"), F.posexplode(starts).alias("chunk_id", "__start")
    )
    chunk = F.slice(F.col("__toks"), F.col("__start"), 20)
    return exploded.select(
        F.col("doc_id"),
        F.col("chunk_id"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def length_bucket_batches(docs: DataFrame) -> DataFrame:
    """Power-of-two length-bucketed batching with padding-waste accounting
    — the shuffle-light alternative to bin packing (``pack_sequences``)
    used when examples must stay intact: each doc pads up to the next
    power-of-two token length >= 16, and the report prices
    that choice per bucket (padded minus real tokens, waste in permille).

    Bucket assignment is a pure per-row expression (ceil-log2 of the
    token count), so the ONLY shuffle is the final per-bucket aggregate
    — map-side combinable, ~log2(max_len) groups. Compare with ntile
    bucketing, which needs a global sort: at 100 TB the fixed power-of-
    two grid gives the same padding bound with zero ordering cost and is
    stable under re-runs and data growth (bucket ids never shift when
    new docs arrive — the property a reproducible training pipeline
    needs).
    """
    n = F.size(_tokens())
    # next power of two >= max(n, min_bucket): 2^ceil(log2(x)); exact for
    # x a power of two (log2 of a power of two is exact in IEEE double)
    x = F.greatest(n, F.lit(16))
    target = F.pow(F.lit(2.0), F.ceil(F.log2(x))).cast("bigint")
    rows = docs.select(F.col("doc_id"), n.cast("bigint").alias("__n"), target.alias("__t"))
    return (
        rows.groupBy(F.col("__t").alias("bucket_len"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__n").cast("bigint").alias("real_tokens"),
            (F.sum("__t")).cast("bigint").alias("padded_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "real_tokens",
            "padded_tokens",
            # integer division: double-divide-then-cast would round in
            # DuckDB and truncate in Spark — keep both engines on x DIV y
            F.expr(
                "CAST((padded_tokens - real_tokens) * 1000 DIV padded_tokens AS BIGINT)"
            ).alias("waste_permille"),
        )
    )


def pack_sequences(docs: DataFrame, budget: int = 256) -> DataFrame:
    """Assign documents to fixed-token-budget bins with the
    concatenate-and-split convention: within each partition (language),
    documents are laid out in id order and a document belongs to the bin
    where its first token lands (start_offset // budget). One shuffle on
    the partition key; deterministic across engines and re-runs."""
    from pyspark.sql import Window

    n_tok = F.size(_tokens())
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = docs.select(F.col("doc_id"), F.col("lang"), n_tok.alias("__n"))
    binned = sized.withColumn("bin", F.floor((F.sum("__n").over(w) - F.col("__n")) / F.lit(budget)))
    return binned.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("__n").cast("bigint").alias("total_tokens")
    )


# --- contamination ---------------------------------------------------------


def contamination_overlap(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark-contamination check: fraction of each corpus document's
    distinct word n-grams that appear anywhere in the benchmark set.
    The benchmark gram set is broadcast (eval suites are tiny next to a
    pretraining corpus), so the corpus side is explode -> broadcast-semi
    probe -> per-doc count: one aggregation shuffle, no corpus self-join."""
    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("doc_id"),
            F.explode(F.array_distinct(_word_ngrams(_tokens(), CONTAMINATION_N))).alias("g"),
        )

    bench_grams = benchmark.select(
        F.explode(F.array_distinct(_word_ngrams(_tokens(), CONTAMINATION_N))).alias("g")
    ).distinct()
    doc_grams = grams(corpus)
    sizes = doc_grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    matched = (
        doc_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
    )
    frac = F.col("n_matched") / F.col("n_grams")
    return (
        sizes.join(matched, "doc_id", "left")
        .withColumn("n_matched", F.coalesce(F.col("n_matched"), F.lit(0)).cast("bigint"))
        .select(
            F.col("doc_id"),
            F.col("n_grams"),
            F.col("n_matched"),
            F.round(frac, 6).alias("contam_frac"),
            (frac >= 0.2).alias("contaminated"),
        )
    )


def unicode_nfc_normalize(
    df: DataFrame,
    text_col: str,
    out_col: str = "norm_text",
) -> DataFrame:
    """Unicode NFC normalization via Arrow-batched ``mapInPandas`` — the
    sanctioned slow path, used because Spark SQL has NO normalizer builtin
    (DuckDB ships ``nfc_normalize``, the JVM hides java.text.Normalizer
    behind a UDF anyway, so the Python lane costs the same one Arrow hop).

    Web corpora mix precomposed (U+00E9) and decomposed (e + U+0301) forms
    of the same text; every hash-keyed stage downstream (exact dedup,
    MinHash shingles, URL canonicalization) silently treats them as
    different documents unless a normalization pass runs first. NFC is the
    W3C-recommended canonical form.

    Scan-parallel: one stateless batch function, no shuffle, output schema
    = input schema + ``out_col``. At 100 TB this pipelines inside the scan
    stage exactly like the multimodal codecs (operators/multimodal.py).
    """
    import unicodedata

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema = f"{fields}, {out_col} string"

    def gen(batches):
        for pdf in batches:
            pdf[out_col] = [
                unicodedata.normalize("NFC", s) if s is not None else None
                for s in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(gen, schema)


def content_defined_chunks(docs: DataFrame) -> DataFrame:
    """Content-defined chunking (Rabin-style): chunk boundaries where a
    polynomial hash of the preceding ``CDC_WINDOW`` characters is 0 mod
    64 — so an insertion early in a document shifts only the
    chunks it touches, and every chunk after the next boundary keeps its
    byte content and therefore its fingerprint. This is the dedup
    primitive rsync/LBFS/storage dedup use, applied to corpus text: join
    chunk_md5 across snapshots and only genuinely-new spans survive,
    where fixed-size chunking would re-hash the whole tail of every
    edited document.

    The hash is position-independent by construction: H(i) = sum_j
    code(c[i+j]) * 31^j over the window starting at i, computed with
    built-in transform/aggregate (JVM codegen, exact BIGINT — max term
    0x10FFFF * 31^7 ~ 3e16, window sum < 3e17, no overflow). A boundary
    at position i >= 2 starts a new chunk; position 1 always starts the
    first. Documents shorter than CDC_WINDOW+1 are a single chunk (Spark's
    sequence(2, n) is DESCENDING for n < 2 — guarded, same pitfall as
    doc_shingles).

    100 TB: no key shuffle — scan, per-row array math, explode. The only
    exchange is the cheap pre-explode repartition of COMPACT doc rows
    (doc_shingles parallelism-guard pattern: a single-split parquet input
    would otherwise run the O(CDC_WINDOW * chars) codegen loop on one task);
    everything downstream of it is pipelined. Output is chunk rows keyed
    by (doc_id, chunk_idx) with the chunk md5 ready for a dedup groupBy.
    """
    pows = ", ".join(str(31**j) + "L" for j in range(CDC_WINDOW))
    h = (
        f"aggregate(sequence(0, {CDC_WINDOW - 1}), 0L, "
        f"(acc, j) -> acc + ascii(substring(__t, i + j, 1)) * element_at(array({pows}), j + 1))"
    )
    rows = docs.select(F.col("doc_id"), F.col("text").alias("__t"))
    rows = rows.repartition(rows.sparkSession.sparkContext.defaultParallelism, F.col("doc_id"))
    starts = F.expr(
        f"""concat(array(1),
            CASE WHEN length(__t) >= {CDC_WINDOW + 1}
                 THEN filter(sequence(2, length(__t) - {CDC_WINDOW - 1}),
                             i -> ({h}) % 64 = 0)
                 ELSE array() END)"""
    )
    chunked = rows.select(
        F.col("doc_id"),
        F.col("__t"),
        F.posexplode(
            F.zip_with(
                starts,
                F.concat(
                    F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
                    F.array(F.length("__t") + 1),
                ),
                lambda s, nxt: F.struct(s.alias("start"), (nxt - s).alias("chunk_len")),
            )
        ).alias("idx0", "c"),
    )
    return chunked.select(
        F.col("doc_id"),
        (F.col("idx0") + 1).cast("bigint").alias("chunk_idx"),
        F.col("c.start").cast("bigint").alias("start"),
        F.col("c.chunk_len").cast("bigint").alias("chunk_len"),
        F.md5(F.expr("substring(__t, c.start, c.chunk_len)").cast("binary")).alias("chunk_md5"),
    )
