"""Structured Streaming tests: the batch windowed query is the oracle for
the streaming one (same logic, availableNow trigger)."""

from __future__ import annotations

from cartography_spark.plans.inventory_relational import q_events_tumbling
from cartography_spark.streaming.events import (
    read_events_stream,
    run_available_now,
    sessionize,
    tumbling_counts,
)


def test_stream_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    result = run_available_now(tumbling_counts(stream), "tumbling_test")
    got = {tuple(r) for r in result.collect()}
    expect = {tuple(r) for r in q_events_tumbling(spark, sf_dir).collect()}
    assert got == expect


def test_sessionize_runs(spark, sf_dir):
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    result = run_available_now(sessionize(stream), "session_test")
    rows = result.collect()
    assert rows
    assert all(r.session_end >= r.session_start and r.n_events >= 1 for r in rows)


def test_stream_dedupe_drops_replays(spark, sf_dir, tmp_path):
    """Duplicate the events file in the stream directory (simulating an
    at-least-once source replay): streaming dedup must restore the exact
    original row set."""
    import os

    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import stream_dedupe

    d = tmp_path / "events_dir"
    d.mkdir()
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    os.symlink(src, d / "a.parquet")
    os.symlink(src, d / "b.parquet")  # replayed copy
    stream = read_events_stream(spark, str(d))
    result = run_available_now(stream_dedupe(stream), "dedupe_test", output_mode="append")
    n_unique = load_table(spark, sf_dir, "events").count()
    assert result.count() == n_unique


def test_stream_upsert_into_catalog(spark, sf_dir):
    """readStream -> foreachBatch -> the real upsert: after the stream
    drains, the catalog holds one EventUser node per distinct user with
    engine lifecycle columns."""
    from pyspark.sql import functions as F

    from cartography_spark.catalog import GraphCatalog
    from cartography_spark.schema import NodeSchema, PropertyRef
    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.ingest import run_stream_upsert

    schema = NodeSchema(
        label="EventUser",
        properties={"id": PropertyRef("user_id")},
        scoped_cleanup=False,
    )
    cat = GraphCatalog(spark)
    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    run_stream_upsert(cat, schema, stream)
    node = cat.node("EventUser")
    n_expected = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert node.count() == n_expected
    assert {"id", "firstseen", "lastupdated"} <= set(node.columns)


def test_stateful_totals_match_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import stateful_user_totals

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    result = run_available_now(
        stateful_user_totals(stream), "stateful_test", output_mode="update"
    )
    got = {tuple(r) for r in result.collect()}
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    assert got == {tuple(r) for r in batch.collect()}


def test_streaming_rollup_feeds_batch_hierarchy(spark, sf_dir):
    """Minute partials computed by the STREAM, merged to day level by the
    BATCH rollup, must equal the all-batch continuous aggregate."""
    from cartography_spark.operators.rollup import continuous_aggregate, finalize, rollup_level
    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import minute_rollup_stream, read_events_stream

    stream = minute_rollup_stream(read_events_stream(spark, f"{sf_dir}/events.parquet"))
    q = (
        stream.writeStream.format("memory")
        .queryName("minute_partials")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed_minutes = spark.table("minute_partials")
    day_via_stream = finalize(rollup_level(rollup_level(streamed_minutes, "hour"), "day"))
    day_batch = finalize(continuous_aggregate(load_table(spark, sf_dir, "events"))["day"])
    got = sorted(map(tuple, day_via_stream.collect()))
    want = sorted(map(tuple, day_batch.collect()))
    assert got == want


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (clicks x views within 1h per user)
    must produce exactly the batch join's pairs."""
    from pyspark.sql import functions as F

    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import stream_stream_attribution

    s1 = read_events_stream(spark, f"{sf_dir}/events.parquet")
    clicks_s = s1.filter(F.col("event_type") == "click")
    s2 = read_events_stream(spark, f"{sf_dir}/events.parquet")
    views_s = s2.filter(F.col("event_type") == "view")
    got = run_available_now(
        stream_stream_attribution(clicks_s, views_s), "ssj_test", output_mode="append"
    )

    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id"), F.col("ts").alias("click_ts")
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("vu"), F.col("ts").alias("view_ts")
    )
    expect = c.join(
        v,
        (c.user_id == v.vu)
        & (v.view_ts <= c.click_ts)
        & (v.view_ts >= c.click_ts - F.expr("interval 1 hour")),
    ).select("click_id", "view_id")
    assert {(r.click_id, r.view_id) for r in got.collect()} == {
        (r.click_id, r.view_id) for r in expect.collect()
    }


def test_streaming_hll_registers_equal_batch(spark, sf_dir):
    """Merged per-window streaming HLL registers == the batch registers:
    the mergeable-sketch contract holds under Structured Streaming."""
    from cartography_spark.operators.sketches import hll_merge, hll_registers
    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import (
        hll_register_stream,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    # complete: append withholds windows above the terminal watermark
    per_window = run_available_now(
        hll_register_stream(stream), "hll_regs_test", output_mode="complete"
    )
    merged = hll_merge(per_window.select("b", "mx"))
    batch = hll_registers(load_table(spark, sf_dir, "events"), "user_id")
    assert {(r.b, r.mx) for r in merged.collect()} == {
        (r.b, r.mx) for r in batch.collect()
    }


def test_streaming_countmin_cells_equal_batch(spark, sf_dir):
    """Summed per-window streaming Count-Min cells == the batch cells:
    the additive mergeable-sketch contract under Structured Streaming."""
    from pyspark.sql import functions as F

    from cartography_spark.operators.sketches import countmin_build
    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import (
        countmin_cell_stream,
        read_events_stream,
        run_available_now,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    per_window = run_available_now(
        countmin_cell_stream(stream), "cm_cells_test", output_mode="complete"
    )
    merged = per_window.groupBy("r", "b").agg(F.sum("n").cast("bigint").alias("n"))
    batch = countmin_build(load_table(spark, sf_dir, "events"), "event_type")
    assert {(x.r, x.b, x.n) for x in merged.collect()} == {
        (x.r, x.b, x.n) for x in batch.collect()
    }


def test_stream_lsh_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Streaming near-dup detection == the one-shot batch delta run: every
    pair is discovered exactly once, when its later member arrives."""
    import os

    from pyspark.sql import functions as F

    from cartography_spark.operators.dedup import lsh_delta_pairs
    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.ingest import run_stream_lsh_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 == 0)
    arriving = docs.filter(F.col("doc_id") % 3 != 0)

    d = tmp_path / "docs_stream"
    d.mkdir()
    # two files -> two micro-batches with maxFilesPerTrigger=1
    arriving.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.parquet(str(d / "p1"))
    arriving.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(str(d / "p2"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )
    pairs, merged = run_stream_lsh_dedup(base, stream)
    got = {(r.a, r.b) for r in pairs.collect()}
    want = {(r.a, r.b) for r in lsh_delta_pairs(base, arriving).collect()}
    assert got == want and len(got) > 0
    assert merged.count() == docs.count()


def test_streaming_dedup_watermark_query_matches_batch(spark, sf_dir):
    """The registry's self-union at-least-once dedup: doubled delivery
    collapses back to the exact batch per-type aggregate."""
    from pyspark.sql import functions as F

    from cartography_spark.plans.inventory_extended import q_streaming_dedup_watermark
    from cartography_spark.sources.parquet import load_table

    got = {
        r.event_type: (r.n_unique, r.value_cents)
        for r in q_streaming_dedup_watermark(spark, sf_dir).collect()
    }
    want = {
        r.event_type: (r.n_unique, r.value_cents)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_unique"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .collect()
    }
    assert got == want


def test_streaming_cdc_revive_after_tombstone(spark):
    """A key deleted at seq 3 and re-inserted at seq 4 must be LIVE with
    the seq-4 payload — the reason tombstones are filtered after the
    max_by aggregate, not before."""
    from cartography_spark.streaming.events import cdc_latest_state, run_available_now
    import tempfile
    import uuid

    log = spark.createDataFrame(
        [
            (1, "a", 1, "I"), (1, None, 2, "D"),            # dead
            (2, "b", 1, "I"), (2, None, 2, "D"), (2, "b2", 3, "I"),  # revived
            (3, "c", 1, "I"), (3, "c2", 2, "U"),            # updated
        ],
        "k long, name string, seq long, op string",
    )
    path = tempfile.mkdtemp(prefix="cdc_revive_")
    log.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(log.schema).parquet(path)
    out = run_available_now(
        cdc_latest_state(stream, "k"),
        f"cdc_t_{uuid.uuid4().hex[:8]}",
        output_mode="complete",
    )
    got = {r.k: r.name for r in out.collect()}
    assert got == {2: "b2", 3: "c2"}


def test_value_count_stream_equals_batch(spark, sf_dir):
    """Summed per-window streaming value counts == the batch quantized
    histogram: the additive contract the streaming KS gate rides on."""
    from pyspark.sql import functions as F

    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import (
        read_events_stream,
        run_available_now,
        value_count_stream,
    )

    stream = read_events_stream(spark, f"{sf_dir}/events.parquet")
    per_window = run_available_now(
        value_count_stream(stream), "vc_stream_test", output_mode="complete"
    )
    streamed = per_window.groupBy("v").agg(F.sum("n").cast("long").alias("n"))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.floor(F.round(F.col("value") * 100).cast("long") / F.lit(100.0))
            .cast("long")
            .alias("v")
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_stream_state_partitions_derived_and_restored(spark, sf_dir, monkeypatch):
    """The state-store partition count is derived from the probed source
    size (AQE-style coalesce: ceil(bytes/bpp) clamped to the configured
    shuffle-partition ceiling), applied only for the stream's lifetime,
    and never changes what the stream computes."""
    from cartography_spark.session import shuffle_partition_count
    from cartography_spark.streaming import events as ev

    stream = ev.read_events_stream(spark, f"{sf_dir}/events.parquet")
    sizes = ev._SOURCE_BYTES.get(spark.sparkContext.applicationId)
    assert sizes and all(v > 0 for v in sizes.values())

    ceiling = shuffle_partition_count(spark)
    floor = min(ceiling, spark.sparkContext.defaultParallelism)
    total = sum(sizes.values())
    derived = ev._stream_state_partitions(spark)
    assert derived == max(floor, min(ceiling, -(-total // (64 * 1024 * 1024))))
    # coalesce-only, like AQE — but never below the core parallelism
    # (r8 sf1 evidence: state COMPUTE scales with rows per partition; a
    # byte-derived single partition 4x'd the session-window merge)
    assert floor <= derived <= ceiling

    # the bytes-per-partition constant is honoured (tiny bpp -> ceiling clamp)
    with monkeypatch.context() as mp:
        mp.setattr(ev, "BYTES_PER_STATE_PARTITION", 1)
        assert ev._stream_state_partitions(spark) == ceiling

    # run_available_now applies the derived value only while the stream runs
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    result = run_available_now(tumbling_counts(stream), "state_part_test")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    got = {tuple(r) for r in result.collect()}
    expect = {tuple(r) for r in q_events_tumbling(spark, sf_dir).collect()}
    assert got == expect
