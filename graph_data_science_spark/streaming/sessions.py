"""Streaming sessionization — a CUSTOM STATEFUL operator via
applyInPandasWithState, the streaming twin of the oracle-gated batch
operators/events.sessionize / session_stats (same gap rule, same
session_idx numbering, same exact-integer-micros time math).

The reference is batch-only; like streaming/docs.py this is our
extension for the continuous-ingest deployment: events land as they
happen and per-session aggregates are maintained incrementally instead
of recomputed in sweeps.

State per user (the group key): the LIVE session only —
(session_idx, last_us, start_us, n_events, total_value). Bounded:
O(1) per user regardless of history length, the streaming analogue of
the batch lag-window needing only the previous row. Each micro-batch
emits one SNAPSHOT row per session it touched; a session that a gap
closed inside the batch emits its final snapshot with open=false. The
sink is an append-only log of snapshots (parquet FileSink supports
only append): the current table is latest-snapshot-per-(user_id,
session_idx) — max n_events wins (closed over open on a tie), the
same latest-wins compaction contract as streaming/docs.py's near-dup
sink.

Ordering contract: events WITHIN a micro-batch are sorted here
(us, event_id); BATCHES must arrive in event-time order per user (a
file/Kafka source partitioned by ingest time satisfies this — same
assumption as streaming/ingest.py's incremental WCC). A late event
older than its user's live session would start a spurious session;
production deployments put a watermark + sort buffer upstream.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENT_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)
OUT_SCHEMA = (
    "user_id long, session_idx long, n_events long, start_us long, "
    "duration_us long, total_value double, open boolean"
)
STATE_SCHEMA = (
    "session_idx long, last_us long, start_us long, n_events long, "
    "total_value double"
)


def _session_fn(gap_minutes: float):
    gap_us = int(gap_minutes * 60_000_000)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.exists:
            s_idx, last, start, n, tot = state.get
        else:
            s_idx, last, start, n, tot = 0, None, None, 0, 0.0
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        batch = batch.sort_values(["us", "event_id"])
        snapshots: dict[int, tuple] = {}
        for us, val in zip(batch["us"].to_numpy(), batch["value"].to_numpy()):
            us = int(us)
            if last is None or us - last > gap_us:
                if s_idx > 0:  # gap closed the live session inside this batch
                    snapshots[s_idx] = (
                        user, s_idx, n, start, last - start, tot, False)
                s_idx, start, n, tot = s_idx + 1, us, 0, 0.0
            n += 1
            tot += float(val)
            last = us
        snapshots[s_idx] = (user, s_idx, n, start, last - start, tot, True)
        state.update((s_idx, last, start, n, tot))
        yield pd.DataFrame(
            list(snapshots.values()),
            columns=["user_id", "session_idx", "n_events", "start_us",
                     "duration_us", "total_value", "open"],
        )

    return update


def sessionize_stream(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Per-session aggregate snapshots over a streaming (or batch)
    events frame. Works on batch frames too (applyInPandasWithState
    falls back to per-group batch state), which the parity test uses."""
    prepped = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us"),
        F.col(value_col).alias("value"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_minutes),
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_session_pipeline(
    spark: SparkSession,
    incoming_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_minutes: float = 30.0,
) -> Any:
    """readStream(events parquet) -> stateful sessionization -> parquet
    snapshot log, one-shot (availableNow) trigger; re-running with the
    same checkpoint resumes the per-user state store, so sessions span
    micro-batches AND restarts."""
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(incoming_dir)
    return (
        sessionize_stream(stream, gap_minutes)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def current_sessions(snapshot_log: DataFrame) -> DataFrame:
    """Latest snapshot per (user_id, session_idx) from the append-only
    sink — the compaction read, two-phase (per-key max, then join back),
    no global window. A gap that closes a session in a later batch emits
    a closed snapshot with the same n_events as the open one before it;
    the closed snapshot wins that tie."""
    latest = snapshot_log.groupBy("user_id", "session_idx").agg(
        F.max(F.struct("n_events", (~F.col("open")).alias("closed"))).alias("k")
    ).select("user_id", "session_idx", "k.n_events", (~F.col("k.closed")).alias("open"))
    return snapshot_log.join(
        latest, ["user_id", "session_idx", "n_events", "open"]
    ).select(*snapshot_log.columns)
