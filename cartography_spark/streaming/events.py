"""Structured Streaming over the events table.

The reference is strictly batch (SURVEY §2.11 — no watermarks/windows
anywhere in it); this module is the native-Spark extension: the SAME
windowed aggregation logic as the batch query ``events_tumbling_window``
expressed as a stream, so batch results are the correctness oracle for the
stream (run with Trigger.AvailableNow over the parquet directory).

Scale design: watermark bounds state; windowed aggregation state lives in
the state store keyed by (window, event_type) — at 100 TB/day the state is
proportional to windows x keys, not events. ``sessionize`` shows the
custom-stateful path via applyInPandasWithState-style session windows using
the built-in session_window (no Python state loop needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cartography_spark.session import memo, shuffle_partition_count

WATERMARK = "2 hours"
SKETCH_WINDOW = "1 hour"


def _stream_state_partitions(spark: SparkSession) -> int:
    """State-store partition count for a stream start: the session's
    shuffle partitions, capped at its core parallelism.

    Streaming state is pinned to ``spark.sql.shuffle.partitions`` at first
    query start and AQE never coalesces it, so every state partition pays
    per-micro-batch state-store commit overhead, and partitions beyond the
    cores add that overhead without adding parallelism. Going below the
    cores costs more than it saves: state-operator compute scales with rows
    per partition (the sf1 rehearsal measured the session-window merge at
    13.7 s on one partition vs 3.4 s on the pinned count). The count
    depends on the session only, not on which inputs the application read
    before."""
    return min(shuffle_partition_count(spark), spark.sparkContext.defaultParallelism)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """readStream over the events parquet path (file or directory);
    normalizes the NANOS timestamp exactly like the batch loader
    (sources/parquet.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type, stream_path = memo(spark, ("events_stream", path), lambda: _stream_setup(spark, path))
    schema = (
        f"event_id bigint, ts {ts_type}, user_id bigint, event_type string, "
        "value double, props string"
    )
    raw = spark.readStream.schema(schema).format("parquet").load(stream_path)
    if ts_type == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _stream_setup(spark: SparkSession, path: str) -> tuple[str, str]:
    """(physical ts type, stream directory) of an events path, memoized per
    application by read_events_stream: the probe is a directory listing +
    footer read that every streaming query repaid (~0.1 s each), and the
    fixture cannot change under a running app."""
    import os
    import tempfile

    from pyspark import SparkFiles

    # probe the physical type with a batch read so the stream schema matches
    # whichever generation of the fixture is on disk (bigint nanos vs
    # timestamp[us])
    ts_type = dict(spark.read.parquet(path).dtypes)["ts"]
    stream_path = path
    if os.path.isfile(path):
        # the file stream source requires a directory: expose the single
        # file through a symlink dir (read-only testdata stays untouched)
        # under the driver's SparkFiles root, which goes when the context stops
        stream_path = tempfile.mkdtemp(prefix="events_stream_", dir=SparkFiles.getRootDirectory())
        os.symlink(os.path.abspath(path), os.path.join(stream_path, os.path.basename(path)))
    return ts_type, stream_path


def tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows with late-data handling via watermark. The
    batch query events_tumbling_window runs it on the events table, where
    Spark drops the watermark, so the batch result is the stream's oracle."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sessionize(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user: gap-based session assignment in the state
    store (built-in session_window — the declarative form of a custom
    applyInPandasWithState sessionizer)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_dedupe(events: DataFrame, key_cols: list[str] | None = None) -> DataFrame:
    """Streaming exact dedup on event ids with watermark-BOUNDED state:
    ``dropDuplicatesWithinWatermark`` keeps a key in the state store only
    until the watermark passes it, so state is proportional to the
    watermark window, not the stream's lifetime — the only dedup shape that
    survives an unbounded stream. (Batch dropDuplicates semantics, applied
    to at-least-once sources.)"""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    per-user (event count, value total) kept in the state store across
    micro-batches — the escape hatch for operators the declarative
    windowing API can't express (reference has nothing like it; SURVEY
    §2.11 bonus surface).

    State is one (long, long) tuple per user — bounded by |users|, not
    |events|. Totals accumulate in integer cents so results are exactly
    reproducible regardless of batch order and float summation order.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, value_cents long",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_available_now(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Execute the stream with Trigger.AvailableNow into a memory sink and
    return the materialized result (for tests/verification). Stateful
    operators (applyInPandasWithState) require ``output_mode='update'``."""
    spark = stream_df.sparkSession
    # State-store partition count is captured from spark.sql.shuffle.
    # partitions at query start (fresh temp checkpoint each run) and AQE
    # cannot coalesce it later — set it for the stream's lifetime (see
    # _stream_state_partitions) and restore the session value after.
    derived = _stream_state_partitions(spark)
    prior = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(derived))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        else:
            # the session had no explicit setting: unset rather than
            # leaving the derived count to leak into every later batch
            # query in the session
            spark.conf.unset("spark.sql.shuffle.partitions")
    return spark.sql(f"SELECT * FROM {query_name}")


def minute_rollup_stream(events: DataFrame) -> DataFrame:
    """Streaming front-end of the continuous-aggregate hierarchy
    (operators/rollup.py): emits the same per-minute mergeable partials
    (count/sum/min/max) the batch minute pass produces, with watermarked
    state. Downstream hour/day levels are batch merges of this stream's
    output table — the classic "streaming ingest, batch rollup" split
    with no lambda-architecture divergence, because both paths share the
    partial-state schema."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("bucket"), "n_events", "sum_value", "min_value", "max_value"
        )
    )


def stream_stream_attribution(clicks: DataFrame, views: DataFrame) -> DataFrame:
    """Stream-stream interval join: every click joined to the same user's
    views from the preceding hour. Both sides carry watermarks and
    the join condition bounds event time on BOTH streams, so each side's
    join state is evictable: a buffered view can be dropped once the click
    watermark passes view_ts + 1 hour (state ∝ watermark x rate, not
    stream lifetime). This is the streaming form of the batch as-of/range
    join family (operators/asof.py, operators/rangejoin.py)."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", WATERMARK)
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    ).withWatermark("view_ts", WATERMARK)
    return c.join(
        v,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("interval 1 hour")),
    ).select("click_id", F.col("c_user").alias("user_id"), "click_ts", "view_id", "view_ts")


def hll_register_stream(events: DataFrame) -> DataFrame:
    """Maintain HyperLogLog registers incrementally on a stream: per
    event-time window, the 256 (bucket, max-rank) registers of ``user_id``.

    max() is associative/commutative/idempotent, so Spark keeps ONE row
    of state per (window, bucket) — bounded state, evicted by the
    watermark — and the emitted per-window register sets merge into the
    exact same registers a batch pass over all data would build
    (operators/sketches.py:hll_merge). That is the mergeable-sketch
    contract running under Structured Streaming: distinct-count at
    100 TB/day without ever shuffling a distinct.

    OUTPUT-MODE CONTRACT: run the writeStream in ``complete`` (or
    ``update``) mode. In ``append`` mode Spark withholds every window
    newer than the watermark front until it closes, so a merged sketch
    read mid-stream would silently miss the trailing watermark-width of
    windows. The streaming queries in plans/ pin complete mode at their
    call sites; new consumers must do the same.
    """
    from cartography_spark.operators.sketches import hll_bucket_rho

    b, rho = hll_bucket_rho("user_id")
    return (
        events.withWatermark("ts", WATERMARK)
        .select(F.col("ts"), b.alias("b"), rho.alias("rho"))
        .groupBy(F.window("ts", SKETCH_WINDOW).alias("win"), F.col("b"))
        .agg(F.max("rho").alias("mx"))
        .select(F.col("win.start").alias("window_start"), "b", "mx")
    )


def countmin_cell_stream(events: DataFrame) -> DataFrame:
    """Maintain Count-Min counters incrementally on a stream: per
    event-time window, the 4 x 16 counter cells of ``event_type``.

    count() partials merge by SUM — the additive half of the mergeable-
    sketch contract (hll_register_stream above is the max/idempotent
    half) — so per-window cells emitted by the stream sum into exactly
    the cells a batch pass would build. State is bounded at
    4*16 rows per open window and watermark-evicted.

    OUTPUT-MODE CONTRACT: run the writeStream in ``complete`` (or
    ``update``) mode — see hll_register_stream above; ``append`` would
    withhold the trailing watermark-width of windows and a mid-stream
    merged sketch would silently undercount.
    """
    from cartography_spark.operators.dedup import portable_hash32

    rows = F.explode(F.array(*[F.lit(r) for r in range(4)])).alias("r")
    cells = events.withWatermark("ts", WATERMARK).select(
        F.col("ts"), F.col("event_type").alias("__x"), rows
    ).select(
        "ts",
        "r",
        (
            portable_hash32(F.concat(F.col("r").cast("string"), F.lit(":"), F.col("__x"))) % 16
        ).alias("b"),
    )
    return (
        cells.groupBy(F.window("ts", SKETCH_WINDOW).alias("win"), "r", "b")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.col("win.start").alias("window_start"), "r", "b", "n")
    )


def cdc_latest_state(changelog: DataFrame, key_col: str) -> DataFrame:
    """Streaming CDC apply: reduce an I/U/D changelog STREAM to the
    latest state per key with one mergeable max_by aggregate — the
    streaming twin of operators/incremental.py:cdc_apply. Each key's
    winner is max_by(payload, seq); a 'D' tombstone winning means the
    key is absent from the state (filtered AFTER the aggregate, so a
    later re-insert still revives it). The aggregate is map-side
    combinable and the state store holds one row per live key — state
    size tracks the KEY population, not the changelog length, which is
    the property that lets the same query run over an unbounded log.

    Delegates to the batch :func:`cdc_apply` — the groupBy/max_by plan
    is streaming-compatible as-is, so both paths share ONE tombstone
    semantics by construction (no drift between the batch backfill and
    the streaming tail)."""
    from cartography_spark.operators.incremental import cdc_apply

    return cdc_apply(changelog.select(key_col, "seq", "op", "name"), [key_col])


def psi_bin_stream(events: DataFrame) -> DataFrame:
    """Maintain the binned value histogram a drift monitor needs, per
    event-time window: (window_start, bin, n). count() partials merge by
    SUM — the additive mergeable-sketch contract — so Spark keeps ONE
    state row per (window, bin), bounded by the watermark, and the
    emitted per-window histograms sum into EXACTLY the batch histogram.
    This is how PSI/KS/JSD drift gates actually deploy: the stream owns
    the cheap mergeable state (bin counts); the drift statistic itself
    is a read-side fold over emitted windows (plans/inventory_extended:
    streaming_psi_drift), so changing the reference population or the
    drift metric never touches stream state.

    Same OUTPUT-MODE CONTRACT as hll_register_stream: run in ``complete``
    (or ``update``) mode — append would withhold the trailing
    watermark-width of windows from the read-side fold.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", SKETCH_WINDOW).alias("w"),
            F.floor(cents / F.lit(2000.0)).cast("int").alias("bin"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("w.start").alias("window_start"), "bin", "n")
    )


def value_count_stream(events: DataFrame) -> DataFrame:
    """Maintain per-window QUANTIZED-VALUE counts — the mergeable state a
    streaming Kolmogorov-Smirnov gate needs: (window_start, v, n), where
    v is the value quantized to 100 cents so state stays bounded by
    the value DOMAIN (not the event count) per watermark-live window. KS
    of the quantized variable is exact KS of that variable — the same
    upstream-quantization contract as the batch ks_two_sample.

    The exact factoring psi_bin_stream established (r07): the stream owns
    only additive count() state (partials merge by SUM, so emitted
    windows sum to EXACTLY the batch histogram); the drift statistic is a
    read-side fold over emitted windows through the SAME batch operator
    — swapping PSI for KS touches zero stream state, which is why this
    function differs from psi_bin_stream only in the grouping column.

    Same OUTPUT-MODE CONTRACT as hll_register_stream: run in ``complete``
    (or ``update``) mode — append would withhold the trailing
    watermark-width of windows from the read-side fold.
    """
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", SKETCH_WINDOW).alias("w"),
            F.floor(cents / F.lit(100.0)).cast("long").alias("v"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .select(F.col("w.start").alias("window_start"), "v", "n")
    )
