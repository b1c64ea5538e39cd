"""Event-log analytics over the events table: sessionization, funnel,
time-bucket rollup.

The reference engine has no event-log surface (it is a graph library);
these are the operations a training-data / clickstream pipeline runs
before graph extraction (sessions become edges, funnels become labels),
included as first-class oracle-gated operators like the dedup/text
suite.

Engine portability: all time math is EXACT INTEGER MICROSECONDS —
Spark `unix_micros(ts)` vs DuckDB `epoch_us(ts)` — so session gaps,
durations and bucket boundaries hash identically (no float-epoch
rounding, no timezone: the parquet column is TIMESTAMP_NTZ and both
engines treat it as UTC wall-clock).

100 TB shape: every window is partitioned by user_id (no global
windows — the repo rule); the rollup is a plain groupBy with map-side
combine; the funnel is one conditional-aggregation pass per user then
a k-row reduce. Skewed users (bots with millions of events) stream
through a sorted window rather than a collect_list buffer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _us(col):
    # TIMESTAMP_NTZ -> session-tz(UTC) timestamp -> exact micros
    return F.unix_micros(col.cast("timestamp"))


def sessionize(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessions: a new session starts when a user's pause
    exceeds gap_minutes. Returns the events annotated with a per-user
    session_idx (1-based, ordered by time).

    Classic two-window formulation: flag rows whose gap to the previous
    event exceeds the threshold, then running-sum the flags — both
    windows are partitioned by user (bounded state per key; this is
    exactly the shape Structured Streaming's session windows compute
    incrementally). Ties on identical micros break on id_col for
    engine-identical ordering."""
    gap_us = int(gap_minutes * 60_000_000)
    w = Window.partitionBy(user_col).orderBy("_us", id_col)
    return (
        events.withColumn("_us", _us(F.col(ts_col)))
        .withColumn(
            "_new",
            F.when(
                F.lag("_us").over(w).isNull()
                | (F.col("_us") - F.lag("_us").over(w) > gap_us),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_idx",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("_new", "_us")
    )


def session_stats(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-session aggregates: (user_id, session_idx, n_events,
    start_us, duration_us, total_value). Micros are exact bigints;
    total_value follows the repo's round(...,5)+0.0 hash convention."""
    us = _us(F.col(ts_col))
    return (
        sessionize(events, gap_minutes, user_col, ts_col)
        .groupBy(user_col, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(us).alias("start_us"),
            (F.max(us) - F.min(us)).alias("duration_us"),
            (F.round(F.sum(value_col), 5) + F.lit(0.0)).alias("total_value"),
        )
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-conversion funnel: a user converts through step i if
    their FIRST event of step i happens strictly after their first
    event of step i-1 (first-touch attribution). Returns one row per
    step: (step_idx, step, n_users), n_users monotone non-increasing.

    One conditional-aggregation pass builds each user's first-touch
    time per step (map-side combinable min), then a k-term cascade
    counts converted prefixes — no joins, no windows."""
    us = _us(F.col(ts_col))
    firsts = events.groupBy(user_col).agg(
        *[
            F.min(F.when(F.col(type_col) == s, us)).alias(f"t{i}")
            for i, s in enumerate(steps)
        ]
    )
    exprs = [F.col("t0").isNotNull()]
    for i in range(1, len(steps)):
        exprs.append(
            exprs[i - 1]
            & F.col(f"t{i}").isNotNull()
            & (F.col(f"t{i}") > F.col(f"t{i-1}"))
        )
    convs = [e.cast("long").alias(f"c{i}") for i, e in enumerate(exprs)]
    counted = firsts.select(*convs).agg(
        *[F.sum(f"c{i}").alias(f"n{i}") for i in range(len(steps))]
    )
    rows = counted.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("step_idx"),
                        F.lit(s).alias("step"),
                        F.col(f"n{i}").alias("n_users"),
                    )
                    for i, s in enumerate(steps)
                ]
            )
        ).alias("r")
    )
    return rows.select("r.step_idx", "r.step", "r.n_users")


def event_rollup(
    events: DataFrame,
    bucket_minutes: int = 60,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Tumbling-window rollup: (bucket_us, event_type, n_events,
    total_value) with bucket_us = floor-aligned bucket start in exact
    micros (integer modulo — no float division). Equivalent to a
    Structured Streaming window(ts, ...) groupBy in batch form; pure
    groupBy, map-side combinable."""
    bucket_us = int(bucket_minutes) * 60_000_000
    us = _us(F.col(ts_col))
    return (
        events.select(
            (us - F.pmod(us, F.lit(bucket_us))).alias("bucket_us"),
            F.col(type_col).alias("event_type"),
            F.col(value_col).alias("v"),
        )
        .groupBy("bucket_us", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(F.sum("v"), 5) + F.lit(0.0)).alias("total_value"),
        )
    )
