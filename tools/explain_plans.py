"""Capture physical plans for the hot paths → BENCH/PLANS.md.

What to look for (and what the committed output shows):
  - PageRank superstep messages, built by the functions page_rank
    itself calls (sql_messages, csr_messages) under the engine's loop
    conf: the edge join is a co-partitioned merge join that moves
    neither input, and the raw (vid, m) rows shuffle to vid with no
    partial aggregate below that Exchange.
  - Parquet scans: PushedFilters + pruned ReadSchema (only the columns
    a query touches reach the scan).
  - CSR cogroup: the blocks side reuses its existing hash partitioning
    (no Exchange on the big side; only the small routed-state side
    shuffles per superstep).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_data_science_spark.operators.pagerank import edges_by_source, sql_messages
from graph_data_science_spark.operators.pregel import loop_conf
from graph_data_science_spark.session import get_spark
from graph_data_science_spark.plans.csr import build_csr_blocks, csr_messages
from graph_data_science_spark.sources.generator import random_graph

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "BENCH", "PLANS.md")


def captured_explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main():
    spark = get_spark(app_name="explain", cores=8, shuffle_partitions=8,
                      driver_memory="8g")
    sections = []

    # 1. PageRank superstep message plan (SQL backend), planned under the
    # engine's loop conf from a state laid out as the engine leaves it:
    # localCheckpointed, hash-partitioned and sorted on vid
    g = random_graph(spark, 10000, 8, seed=42)
    edges = edges_by_source(g)
    with loop_conf(spark):
        state = (g.degrees().repartition(8, "vid").sortWithinPartitions("vid")
                 .localCheckpoint(eager=True))
        senders = state.filter(F.col("degree") > 0).select(
            "vid", (F.lit(0.15) / F.col("degree")).alias("contrib"))
        msgs = sql_messages(edges, senders, weighted=False)
        sections.append(("PageRank superstep messages (SQL backend)\n\n"
                         "Check: senders ⋈ edges is a SortMergeJoin on e_src "
                         "with no Exchange or Sort under either input: the "
                         "sender side reads the checkpointed state and the "
                         "edge side the cached InMemoryRelation, both "
                         "hash-partitioned and sorted on the key. No "
                         "BroadcastExchange anywhere. The one Exchange is "
                         "hashpartitioning(vid, 8), REPARTITION_BY_NUM over "
                         "the raw (vid, m) Project, and both the partial_sum "
                         "and the final sum HashAggregate sit above it (no "
                         "map-side combine).",
                         captured_explain(msgs)))

    # 2. Parquet scan pruning/pushdown
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    q = (li.filter(F.col("l_quantity") > 40)
         .select("l_orderkey", "l_partkey").distinct())
    sections.append(("Parquet scan: filter pushdown + column pruning\n\n"
                     "Check: PushedFilters [IsNotNull(l_quantity), "
                     "GreaterThan(l_quantity,40.0)]; ReadSchema only the two "
                     "selected columns + filter column.",
                     captured_explain(q)))

    # 3. CSR cogroup superstep (blocks side pre-partitioned)
    csr = build_csr_blocks(g, num_blocks=8)
    with loop_conf(spark):
        m2 = csr_messages(csr, senders, weighted=False)
        sections.append(("CSR-block SpMV messages (csr backend)\n\n"
                         "Check: FlatMapCoGroupsInPandas with the blocks side "
                         "fed by its persisted hash partitioning (single "
                         "Exchange on the small routed-state side only).",
                         captured_explain(m2)))
    edges.unpersist()
    csr.unpersist()

    with open(OUT, "w") as fh:
        fh.write("# Physical plans of the hot paths\n\n")
        fh.write("Generated by tools/explain_plans.py (local[8], sf0.01).\n\n")
        for title, plan in sections:
            fh.write(f"## {title}\n\n```\n{plan}\n```\n\n")
    print("wrote", OUT)


if __name__ == "__main__":
    main()
