"""Edge-semantics tests for the union-merge as-of join: equal-timestamp
visibility, no-prior-row nulls, and deterministic tie-breaking among
same-timestamp right rows."""

from __future__ import annotations

from datetime import datetime

from cartography_spark.operators.asof import asof_join_backward


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_backward_semantics(spark):
    L = "lid long, k long, ts timestamp, lv double"
    R = "event_id long, k long, ts timestamp, rv double"
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = _df(
        spark,
        [
            (1, 7, t(10), 1.0),  # right rows at 5 and 10 precede; 10 is equal -> visible
            (2, 7, t(4), 2.0),  # only the row at 3 precedes
            (3, 7, t(2), 3.0),  # nothing precedes -> nulls
            (4, 9, t(30), 4.0),  # different key, no right rows at all
        ],
        L,
    )
    right = _df(
        spark,
        [
            (100, 7, t(3), 30.0),
            (101, 7, t(5), 50.0),
            (102, 7, t(10), 77.0),
            (103, 7, t(10), 99.0),  # same ts as 102 -> higher event_id wins
        ],
        R,
    )
    out = {
        r.lid: r
        for r in asof_join_backward(
            left, right, by="k", ts="ts", value_cols=("rv",), tie_col="event_id"
        ).collect()
    }
    assert out[1].asof_rv == 99.0 and out[1].asof_ts == t(10)  # equal ts visible, tie -> max id
    assert out[2].asof_rv == 30.0 and out[2].asof_ts == t(3)
    assert out[3].asof_rv is None and out[3].asof_ts is None
    assert out[4].asof_rv is None
    # left columns all preserved
    assert out[1].lv == 1.0 and set(out) == {1, 2, 3, 4}


def test_asof_forward_semantics(spark):
    from cartography_spark.operators.asof import asof_join_forward

    L = "lid long, k long, ts timestamp, lv double"
    R = "event_id long, k long, ts timestamp, rv double"
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = _df(
        spark,
        [
            (1, 7, t(10), 1.0),  # rows at 10 (equal -> visible) and 12 follow
            (2, 7, t(11), 2.0),  # only the row at 12 follows
            (3, 7, t(13), 3.0),  # nothing follows -> nulls
            (4, 9, t(0), 4.0),  # different key, no right rows at all
        ],
        L,
    )
    right = _df(
        spark,
        [
            (100, 7, t(3), 30.0),
            (101, 7, t(12), 50.0),
            (102, 7, t(10), 77.0),
            (103, 7, t(10), 99.0),  # same ts as 102 -> LOWER event_id wins (forward mirror)
        ],
        R,
    )
    out = {
        r.lid: r
        for r in asof_join_forward(left, right, by="k", ts="ts", value_cols=("rv",)).collect()
    }
    assert out[1].asof_rv == 77.0 and out[1].asof_ts == t(10)  # equal ts visible, tie -> min id
    assert out[2].asof_rv == 50.0 and out[2].asof_ts == t(12)
    assert out[3].asof_rv is None and out[3].asof_ts is None
    assert out[4].asof_rv is None
    assert out[1].lv == 1.0 and set(out) == {1, 2, 3, 4}


def test_asof_nearest_picks_closer_side(spark):
    """Nearest = min(|delta|) across both directions; exact ties go to
    the at-or-before match; one-sided cases fall back gracefully."""
    from datetime import datetime

    from cartography_spark.operators.asof import asof_join_nearest

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 7, t(40)), (2, 7, t(5)), (3, 7, t(55)), (4, 8, t(30))],
        "lid bigint, u bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 7, t(35), 3.5), (101, 7, t(42), 4.2), (102, 8, t(25), 2.5), (103, 8, t(35), 3.6)],
        "event_id bigint, u bigint, ts timestamp, v double",
    )
    got = {
        r.lid: (r.asof_ts.second, r.asof_v)
        for r in asof_join_nearest(
            left, right, by="u", ts="ts", value_cols=("v",),
            left_id="lid",
        ).collect()
    }
    assert got == {
        1: (42, 4.2),   # 42 is 2s away vs 35 at 5s
        2: (35, 3.5),   # nothing before: forward fallback
        3: (42, 4.2),   # nothing after: backward fallback
        4: (25, 2.5),   # exact 5s tie both sides: past wins
    }
