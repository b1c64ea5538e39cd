"""operators/events.py — sessionization, funnel, rollup on a hand-built
event log with known sessions and conversions."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.events import (
    event_rollup,
    funnel,
    session_stats,
    sessionize,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(eid, user, minutes, etype="view", value=1.0):
    return (eid, T0 + dt.timedelta(minutes=minutes), user, etype, value, "{}")


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: two sessions (40-min gap between minute 20 and 60)
        _ev(0, 1, 0.0, "view"),
        _ev(1, 1, 10.0, "click"),
        _ev(2, 1, 20.0, "purchase", 5.0),
        _ev(3, 1, 60.0, "view"),
        _ev(4, 1, 65.0, "view"),
        # user 2: one session, converts view->click but clicks BEFORE
        # viewing a purchase step never happens
        _ev(5, 2, 0.0, "click"),
        _ev(6, 2, 5.0, "view"),
        _ev(7, 2, 6.0, "click"),
        # user 3: single event
        _ev(8, 3, 0.0, "error", 2.5),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).persist()


def test_sessionize_gap_splits(spark, events):
    sessions = sessionize(events, gap_minutes=30)
    assert sessions.columns == events.columns + ["session_idx"]
    got = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in sessions.collect()
    }
    assert got[(1, 0)] == got[(1, 1)] == got[(1, 2)] == 1
    assert got[(1, 3)] == got[(1, 4)] == 2
    assert got[(2, 5)] == got[(2, 6)] == got[(2, 7)] == 1
    assert got[(3, 8)] == 1


def test_session_stats(spark, events):
    got = {
        (r["user_id"], r["session_idx"]): r
        for r in session_stats(events, gap_minutes=30).collect()
    }
    assert len(got) == 4
    s11 = got[(1, 1)]
    assert s11["n_events"] == 3
    assert s11["duration_us"] == 20 * 60_000_000
    assert s11["total_value"] == pytest.approx(7.0)  # 1 + 1 + 5
    assert got[(1, 2)]["n_events"] == 2
    assert got[(3, 1)]["duration_us"] == 0


def test_funnel_requires_order(spark, events):
    got = {r["step"]: r["n_users"] for r in
           funnel(events, ["view", "click", "purchase"]).collect()}
    # user 1 converts all three in order; user 2's FIRST click (minute
    # 0) precedes their first view (minute 5) so first-touch attribution
    # does NOT convert them (their minute-6 click is not a first touch);
    # user 3 never viewed
    assert got == {"view": 2, "click": 1, "purchase": 1}
    # strict order: first click at minute 0 does NOT convert a user
    # whose first view is later unless a later click exists
    one = funnel(events.filter(F.col("event_id").isin(5, 6)), ["view", "click"])
    assert {r["step"]: r["n_users"] for r in one.collect()} == {
        "view": 1, "click": 0,
    }


def test_event_rollup_buckets(spark, events):
    got = {(r["bucket_us"], r["event_type"]): r["n_events"]
           for r in event_rollup(events, bucket_minutes=60).collect()}
    # epoch micros of the first hour (NTZ wall-clock read as UTC)
    h0 = int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    h1 = h0 + 3_600_000_000
    assert got[(h0, "view")] == 2          # user1 m0, user2 m5
    assert got[(h0, "click")] == 3
    assert got[(h1, "view")] == 2          # user1 m60, m65
    assert sum(got.values()) == 9
