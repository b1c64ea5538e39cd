"""Lineage truncation for iterative DataFrame loops: how a cut is made
(`cut_lineage`) and how it is freed (`release`).

`DataFrame.localCheckpoint(eager=True)` truncates the LOGICAL plan to a
LogicalRDD, but keeps the checkpointed plan's STATISTICS (originStats).
Catalyst's size-only estimator multiplies child sizes through joins, so
a loop whose step references its state k>1 times compounds sizeInBytes
double-exponentially: bits(size) ~ k^rounds. Measured on
`random_graph(300, 4)` after 12 plain-localCheckpoint supersteps: sync
LPA's estimate reached 1e3658 bytes, block-async LPA's 1e2003 and
star-contraction WCC's 1e166. Sync LPA on a 20-node chain (local[2])
took 1.5, 3.4, 7.7 and 21.1 s for its last four of 20 supersteps (43.1 s
in all); cut with cut_lineage it stays flat at 0.30-0.37 s (9.1 s).

cut_lineage() checkpoints, then rebuilds the DataFrame on the
checkpointed RDD as a fresh LogicalRDD with NO origin stats (size falls
back to the constant spark.sql.defaultSizeInBytes) that KEEPS the
checkpoint's outputPartitioning and outputOrdering. Loops re-join and
re-group their state on the same key every round; with
UnknownPartitioning each round would add a state Exchange + Sort that
the already-partitioned data does not need (PageRank superstep: 3
exchanges/round vs 2). The capture happens at checkpoint time, so it
needs AQE off (AdaptiveSparkPlan reports UnknownPartitioning until
materialized) — every loop here runs under `pregel.loop_conf`.

One policy: PregelEngine cuts every in-memory superstep with
cut_lineage, so an engine step never cuts for lineage. Inside loop_conf
the size estimate chooses nothing, so keeping it only costs driver time.

Uses two package-private-but-bytecode-public Scala APIs (LogicalRDD's
constructor, classic.Dataset.ofRows — the path data-source scans use).
There is no fallback: one that dropped partitioning would add an
Exchange + Sort to every superstep with no signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame) -> DataFrame:
    """Eagerly materialize df and return a stats-reset, plan-truncated
    DataFrame backed by the checkpointed RDD (no recomputation),
    preserving its hash-partitioning/ordering."""
    spark = df.sparkSession
    ck = df.localCheckpoint(eager=True)
    jvm = spark.sparkContext._jvm
    jlrdd = ck._jdf.queryExecution().analyzed()
    none = jvm.scala.Option.empty()
    new_plan = jvm.org.apache.spark.sql.execution.LogicalRDD(
        jlrdd.output(),
        jlrdd.rdd(),
        jlrdd.outputPartitioning(),
        jlrdd.outputOrdering(),
        jlrdd.isStreaming(),
        none,  # stream origin
        spark._jsparkSession,
        none,  # originStats — the reset
        none,  # originConstraints
    )
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, new_plan)
    return DataFrame(jdf, spark)


def release(df: DataFrame) -> None:
    """Drop the cached blocks behind a cut_lineage DataFrame.
    SparkContext.unpersistRDD, not RDD.unpersist: the latter logs a
    warning per call for every locally checkpointed RDD."""
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)
