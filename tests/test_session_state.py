"""State that outlives a query: iteration caches are released before an
operator returns, values reused across queries live in ``session.memo``
per application, and directories written for them sit under the driver's
SparkFiles root, which goes when the context stops."""

from __future__ import annotations

import os

from pyspark import SparkFiles

from cartography_spark.session import finalize_iterative, memo


def test_finalize_iterative_checkpoints_and_releases(spark):
    df = spark.range(10)
    cache = spark.range(5).persist()
    out = finalize_iterative(df, cache)
    # the result is checkpointed (its plan becomes an RDD scan) and the
    # iteration cache is released
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
    assert not cache.is_cached


def test_memo_builds_once_per_key(spark):
    calls = []

    def build(v):
        def f():
            calls.append(v)
            return [v]

        return f

    first = memo(spark, ("memo_test", 1), build(1))
    assert memo(spark, ("memo_test", 1), build(99)) is first
    assert calls == [1]
    assert memo(spark, ("memo_test", 2), build(2)) == [2]
    assert calls == [1, 2]


def test_written_dirs_live_under_sparkfiles_root(spark, sf_dir):
    from cartography_spark.plans.registry import REGISTRY, all_queries
    from cartography_spark.streaming.events import read_events_stream

    def stored():
        raise AssertionError("expected a memoized value")

    all_queries()
    REGISTRY["streaming_cdc_latest_state"].spark(spark, sf_dir)
    events = f"{sf_dir}/events.parquet"
    read_events_stream(spark, events)
    root = os.path.realpath(SparkFiles.getRootDirectory())
    cdc_log = memo(spark, ("cdc_log", sf_dir), stored)
    _, stream_dir = memo(spark, ("events_stream", events), stored)
    for path in (cdc_log, stream_dir):
        assert os.path.isdir(path)
        assert os.path.commonpath([root, os.path.realpath(path)]) == root


def test_events_loaders_read_nanos_timestamps_on_a_plain_session(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file reads on a session whose conf nobody
    prepared (a caller's own SparkSession): both loaders turn on
    ``nanosAsLong`` themselves and floor the nanos to microseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cartography_spark.sources.parquet import load_table
    from cartography_spark.streaming.events import read_events_stream, run_available_now

    nanos = [1_700_000_000_123_456_789, 1_700_000_360_000_000_999]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([7, 8], pa.int64()),
            "event_type": ["view", "click"],
            "value": [1.5, 2.5],
            "props": ["{}", "{}"],
        }
    )
    path = tmp_path / "events.parquet"
    pq.write_table(table, path)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    want = [(1, nanos[0] // 1000), (2, nanos[1] // 1000)]

    plain = spark.newSession()
    assert plain.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    batch = load_table(plain, str(tmp_path), "events")
    got = batch.select("event_id", F.unix_micros("ts")).orderBy("event_id").collect()
    assert [tuple(r) for r in got] == want

    plain = spark.newSession()
    stream = read_events_stream(plain, str(path)).select("event_id", F.unix_micros("ts").alias("us"))
    got = run_available_now(stream, "nanos_plain_session", output_mode="append")
    assert sorted(tuple(r) for r in got.collect()) == want


def test_shuffle_partition_count_on_a_session_without_the_setting(spark):
    from cartography_spark.session import shuffle_partition_count

    plain = spark.newSession()
    plain.conf.unset("spark.sql.shuffle.partitions")
    assert shuffle_partition_count(plain) == 200
