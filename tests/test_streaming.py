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


def test_stream_state_partitions_derived_and_restored(spark, sf_dir):
    """The state-store partition count is the session's shuffle partitions
    capped at its cores, applied only for the stream's lifetime, and never
    changes what the stream computes."""
    from cartography_spark.session import shuffle_partition_count
    from cartography_spark.streaming import events as ev

    cores = spark.sparkContext.defaultParallelism
    assert ev._stream_state_partitions(spark) == min(shuffle_partition_count(spark), cores)

    # run_available_now applies the derived value only while the stream runs
    stream = ev.read_events_stream(spark, f"{sf_dir}/events.parquet")
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    result = run_available_now(tumbling_counts(stream), "state_part_test")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    got = {tuple(r) for r in result.collect()}
    expect = {tuple(r) for r in q_events_tumbling(spark, sf_dir).collect()}
    assert got == expect


def test_stream_state_partitions_ignore_other_probed_paths(spark, sf_dir, tmp_path, monkeypatch):
    """A stream's state operator gets the same partition count before and
    after the application probes another events path: the count depends on
    the session, not on which inputs were read before."""
    import os

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from cartography_spark.streaming import events as ev

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)

    def state_partitions(name: str) -> set[int]:
        stream = ev.read_events_stream(spark, f"{sf_dir}/events.parquet")
        run_available_now(tumbling_counts(stream), name).collect()
        return {
            op["numShufflePartitions"]
            for progress in started[-1].recentProgress
            for op in progress["stateOperators"]
        }

    before = state_partitions("state_part_before")
    other = tmp_path / "more_events"
    other.mkdir()
    for name in ("a.parquet", "b.parquet", "c.parquet"):
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), other / name)
    ev.read_events_stream(spark, str(other))
    after = state_partitions("state_part_after")
    assert before == after == {ev._stream_state_partitions(spark)}
