"""Approximate maximum k-cut — gds.maxkcut.

Reference: algo/src/main/java/org/neo4j/gds/approxmaxkcut/ApproxMaxKCut.java
(randomized assignment + local search swaps; defaults k=2,
iterations=8). Objective: partition nodes into k sets maximizing the
total weight of edges CROSSING sets.

Spark-first: deterministic hash-random initial assignment, then
local-move sweeps over k1-coloring color classes (the Louvain trick —
no two adjacent nodes move in the same round, so the cut weight is
monotone): a node moves to the set minimizing its internal weight
(equivalently maximizing its cut contribution), ties to the smaller set
id. One join + groupBy per color round.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.operators.k1coloring import color_edges
from graph_data_science_spark.operators.pregel import loop_conf
from graph_data_science_spark.plans.graph import Graph
from graph_data_science_spark.plans.lineage import cut_lineage


# Number of k1-coloring rounds used to build the conflict-free move
# schedule. The graph_maxkcut DuckDB oracle unrolls exactly this many
# coloring CTEs (it imports this constant) — change it here and the
# oracle replay follows; editing either side alone can't silently
# diverge anymore.
COLOR_ROUNDS = 5


@dataclass
class MaxKCutResult:
    assignments: DataFrame  # (vid, community)
    cut_cost: float  # total weight of crossing edges
    ran_iterations: int


def approx_max_k_cut(
    graph: Graph,
    k: int = 2,
    iterations: int = 8,
    seed: int = 42,
    coin: str = "xxhash64",
) -> MaxKCutResult:
    """coin="md5" makes the initial assignment and the k1-coloring init
    engine-portable, so the graph_maxkcut DuckDB oracle replays the
    color-class sweep rounds exactly."""
    spark = graph.edges.sparkSession
    with loop_conf(spark):
        from graph_data_science_spark.operators.louvain import _canonical_edges

        e = _canonical_edges(graph).filter(F.col("src") != F.col("dst"))
        both = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        ).persist()
        nodes = graph.nodes.select("vid")
        if coin == "md5":
            from graph_data_science_spark.operators.influence import _md5_u32

            init_c = F.pmod(_md5_u32(F.lit("mkc"), F.lit(str(seed)), F.col("vid")), F.lit(k))
        else:
            init_c = F.pmod(F.xxhash64(F.lit(seed), F.col("vid")), F.lit(k))
        assign = nodes.select(
            "vid", init_c.alias("community")
        ).transform(cut_lineage)

        coloring = color_edges(both, nodes, max_iterations=COLOR_ROUNDS, init_coin=coin)
        colors = coloring.colors.persist()
        color_list = [
            r["color"] for r in colors.select("color").distinct().orderBy("color").collect()
        ]
        w_node = Window.partitionBy("vid")
        ran = 0
        for _it in range(iterations):
            for cid in color_list:
                movers = colors.filter(F.col("color") == cid).select("vid")
                a_dst = assign.select(F.col("vid").alias("dst"), F.col("community").alias("c"))
                # weight from each mover into each set
                w_in = (
                    both.join(movers.withColumnRenamed("vid", "src"), "src", "left_semi")
                    .join(a_dst, "dst")
                    .groupBy(F.col("src").alias("vid"), "c")
                    .agg(F.sum("weight").alias("w_in"))
                )
                # candidate rows for ALL k sets (absent set -> w_in 0)
                sets_df = spark.range(k).select(F.col("id").alias("c"))
                cand = (
                    movers.crossJoin(F.broadcast(sets_df))
                    .join(w_in, ["vid", "c"], "left")
                    .select("vid", "c", F.coalesce("w_in", F.lit(0.0)).alias("w_in"))
                )
                best = (
                    cand.withColumn(
                        "rn", F.row_number().over(w_node.orderBy(F.asc("w_in"), F.asc("c")))
                    )
                    .filter(F.col("rn") == 1)
                    .select("vid", F.col("c").alias("new_community"))
                )
                assign = (
                    assign.join(best, "vid", "left")
                    .select(
                        "vid",
                        F.coalesce("new_community", "community").alias("community"),
                    )
                    .transform(cut_lineage)
                )
            ran = _it + 1
        a_u = assign.select(F.col("vid").alias("src"), F.col("community").alias("cu"))
        a_v = assign.select(F.col("vid").alias("dst"), F.col("community").alias("cv"))
        cut = (
            e.join(a_u, "src").join(a_v, "dst")
            .filter(F.col("cu") != F.col("cv"))
            .agg(F.sum("weight"))
            .collect()[0][0]
            or 0.0
        )
        both.unpersist()
        colors.unpersist()
        return MaxKCutResult(assignments=assign, cut_cost=float(cut), ran_iterations=ran)
