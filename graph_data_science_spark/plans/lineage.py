"""Lineage truncation for iterative DataFrame loops.

`DataFrame.localCheckpoint(eager=True)` truncates the LOGICAL plan to a
LogicalRDD — but Spark carries the checkpointed plan's STATISTICS into
that LogicalRDD (originStats). Catalyst's size-only stats estimator
multiplies child sizes through joins, so an iterative algorithm whose
step references its state k>1 times compounds sizeInBytes
double-exponentially: bits(size) ~ k^rounds. Measured here: a 3-reference
loop grows 30 -> 87 -> 259 -> 776 -> 2326 -> 6976 bits in 6 rounds, and
Louvain's color sweeps drove the driver into minutes of
BigInteger.multiplyToomCook3 inside JoinSelection/AQE stats estimation.

cut_lineage() fixes this: checkpoint, then rebuild the DataFrame from
the checkpointed RDD with a fresh LogicalRDD that has NO origin stats
(size falls back to spark.sql.defaultSizeInBytes — a constant, so no
compounding) while PRESERVING the checkpointed plan's outputPartitioning
and outputOrdering. Preservation matters: the loops that need the stats
reset re-join / re-group their state on the same key every round, and a
LogicalRDD with UnknownPartitioning forces one full state Exchange +
Sort per round that the physical data (already hash-partitioned and
sorted by the previous round's shuffle) does not need. Measured on the
PageRank superstep shape: 3 exchanges/round with partitioning dropped vs
2 with it preserved. Note the capture happens at checkpoint time, so
this only helps inside AQE-off loops (AdaptiveSparkPlan reports
UnknownPartitioning until final-plan materialization) — which is every
loop in this repo, per the measured AQE-off-inside-loops rule.

Single-reference loops (PageRank's engine) only grow linearly
(~11 bits/superstep measured) and use plain localCheckpoint, which keeps
real origin stats AND partitioning.

Uses two package-private-but-bytecode-public Scala APIs
(LogicalRDD's constructor, classic.Dataset.ofRows — the same path
data-source scans use); falls back to
SparkSession.internalCreateDataFrame (partitioning lost, stats still
reset) if either is unavailable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cut_lineage(df: DataFrame) -> DataFrame:
    """Eagerly materialize df and return a stats-reset, plan-truncated
    DataFrame backed by the checkpointed RDD (no recomputation),
    preserving hash-partitioning/ordering when capturable."""
    spark = df.sparkSession
    ck = df.localCheckpoint(eager=True)
    jvm = spark.sparkContext._jvm
    try:
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
        jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, new_plan
        )
        return DataFrame(jdf, spark)
    except Exception:
        jdf = spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), df._jdf.schema(), False
        )
        return DataFrame(jdf, spark)
