"""Streaming sessionization (applyInPandasWithState): two time-ordered
micro-batches through a real Structured Streaming query with a shared
checkpoint; the compacted snapshot log must equal the batch
operators/events.session_stats on the full data."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.events import session_stats
from graph_data_science_spark.streaming.sessions import (
    current_sessions,
    start_session_pipeline,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(eid, user, minutes, etype="view", value=1.0):
    return (eid, T0 + dt.timedelta(minutes=minutes), user, etype, value, "{}")


# chunk 1: minutes 0-20; chunk 2: minutes 55-75 (time-ordered batches).
# user 1's session 1 SPANS the chunk boundary (20 -> 35 is within the
# 30-min gap); user 2's second chunk events open session 2 (gap 50 min).
CHUNK1 = [
    _ev(0, 1, 0.0, "view"),
    _ev(1, 1, 12.0, "click", 2.0),
    _ev(2, 2, 5.0, "view", 3.0),
    _ev(3, 3, 1.0, "error"),
]
CHUNK2 = [
    _ev(4, 1, 35.0, "purchase", 5.0),
    _ev(5, 2, 60.0, "view"),
    _ev(6, 2, 75.0, "click"),
]

SCHEMA = ("event_id long, ts timestamp_ntz, user_id long, "
          "event_type string, value double, props string")


def _write_chunk(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append").parquet(path)


@pytest.fixture(scope="module")
def snapshot_dir(spark, tmp_path_factory):
    """Both chunks run through the pipeline with one shared checkpoint;
    returns the snapshot log's directory."""
    tmp_path = tmp_path_factory.mktemp("sessions")
    incoming = str(tmp_path / "incoming")
    out = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "ckpt")

    _write_chunk(spark, incoming, CHUNK1)
    q = start_session_pipeline(spark, incoming, out, ckpt, gap_minutes=30)
    q.awaitTermination(120)
    _write_chunk(spark, incoming, CHUNK2)
    q = start_session_pipeline(spark, incoming, out, ckpt, gap_minutes=30)
    q.awaitTermination(120)
    return out


def test_streaming_sessions_match_batch(spark, snapshot_dir):
    out = snapshot_dir
    got = {
        (r["user_id"], r["session_idx"]): r
        for r in current_sessions(spark.read.parquet(out)).collect()
    }
    want = {
        (r["user_id"], r["session_idx"]): r
        for r in session_stats(
            spark.createDataFrame(CHUNK1 + CHUNK2, SCHEMA), gap_minutes=30
        ).collect()
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert g["n_events"] == w["n_events"], k
        assert g["start_us"] == w["start_us"], k
        assert g["duration_us"] == w["duration_us"], k
        assert g["total_value"] == pytest.approx(w["total_value"]), k

    # the cross-boundary session really did accumulate across batches
    assert got[(1, 1)]["n_events"] == 3
    # and user 2 has two sessions, the second opened by the gap
    assert got[(2, 1)]["n_events"] == 1 and got[(2, 2)]["n_events"] == 2

    # snapshot-log semantics: the boundary-spanning session appears in
    # BOTH micro-batches' output (an open snapshot then a bigger one)
    log = spark.read.parquet(out)
    assert log.filter(
        (F.col("user_id") == 1) & (F.col("session_idx") == 1)
    ).count() == 2


def test_current_sessions_one_row_per_session(spark, snapshot_dir):
    rows = current_sessions(spark.read.parquet(snapshot_dir)).collect()
    keys = [(r["user_id"], r["session_idx"]) for r in rows]
    assert len(keys) == len(set(keys))
    # user 2's session 1 was open after chunk 1 and closed by chunk 2's gap
    # with the same n_events; the closed snapshot is the current one
    (s21,) = [r for r in rows if (r["user_id"], r["session_idx"]) == (2, 1)]
    assert s21["n_events"] == 1 and s21["open"] is False
