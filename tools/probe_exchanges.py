"""Probe: count the exchanges in a mid-loop PageRank superstep plan.

Builds the sql-backend superstep from the functions page_rank itself
calls (edges_by_source, sql_messages) under the engine's loop conf
(pregel.loop_conf), runs one superstep, then plans the next one from
two kinds of state: the engine's cut_lineage and a lazy localCheckpoint.
For each it counts hash Exchanges and BroadcastExchanges, so we can see
whether the state side of `senders join edges` and `state join msgs`
re-shuffles (i.e. whether HashPartitioning survives the lineage cut) and
whether anything is broadcast. It prints the plan of the first.

    python tools/probe_exchanges.py
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_data_science_spark.operators.pagerank import edges_by_source, sql_messages
from graph_data_science_spark.operators.pregel import loop_conf
from graph_data_science_spark.plans.lineage import cut_lineage
from graph_data_science_spark.session import get_spark
from graph_data_science_spark.sources.generator import random_graph


def step(edges, state):
    senders = state.filter(F.col("will_send")).select(
        "vid", (F.col("delta") / F.col("deg")).alias("contrib")
    )
    msgs = sql_messages(edges, senders, weighted=False)
    delta = 0.85 * F.coalesce(F.col("msg_sum"), F.lit(0.0))
    return state.join(msgs, "vid", "left").select(
        "vid",
        "deg",
        (F.col("rank") + delta).alias("rank"),
        delta.alias("delta"),
        ((delta > 1e-6) & (F.col("deg") > 0)).alias("will_send"),
    )


def count_exchanges(df):
    """(hash Exchanges, BroadcastExchanges, plan) of df's executed plan,
    not counting the build plans under a cached InMemoryRelation."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    kept, cache_indent = [], None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if cache_indent is not None and indent > cache_indent:
            continue
        cache_indent = indent if "InMemoryRelation" in line else None
        kept.append(line)
    top = "\n".join(kept)
    return len(re.findall(r"Exchange hashpartitioning", top)), top.count("BroadcastExchange"), plan


def main():
    spark = get_spark(app_name="probe", cores=8, shuffle_partitions=8, driver_memory="8g")
    g = random_graph(spark, 200_000, 8, seed=42)
    edges = edges_by_source(g)
    state0 = g.degrees(direction="out").select(
        "vid",
        F.col("degree").alias("deg"),
        F.lit(0.15).alias("rank"),
        F.lit(0.15).alias("delta"),
        (F.col("degree") > 0).alias("will_send"),
    )
    with loop_conf(spark):
        s1 = cut_lineage(step(edges, state0))
        states = [
            ("cut_lineage (the engine's)", s1),
            ("lazy localCheckpoint", step(edges, s1).localCheckpoint(eager=False)),
        ]
        for i, (name, state) in enumerate(states):
            shuffles, broadcasts, plan = count_exchanges(step(edges, state))
            print(f"=== superstep from {name}: exchanges = {shuffles}, broadcasts = {broadcasts}")
            if i == 0:
                print(plan[:4000])
    edges.unpersist()


if __name__ == "__main__":
    main()
