"""Steiner tree (shortest-path heuristic) — gds.steinerTree.

Reference: algo/src/main/java/org/neo4j/gds/steiner/
ShortestPathsSteinerAlgorithm.java (compute() :120-167: SSSP from the
source where settling a terminal MERGES its path into the tree —
SteinerBasedDeltaStepping.mergeNodesOnPathToSource :135-153 zeroes the
path nodes' distances and re-inserts them into the frontier, so later
terminals connect to the nearest TREE node, not the source; result
:160-166 = parent array with ROOT_NODE=-1 at the source and PRUNED=-2
off-tree, per-edge parent costs, totalCost, effectiveNodeCount,
terminalsReached). Fixture ShortestPathsSteinerAlgorithmTest:60-100.
The optional LinkCutTree rerouting pass (applyRerouting) is a
sequential post-optimization and is not implemented here (documented
gap; default in the reference is off).

Spark-first: delta-stepping's settled-bin guarantee has no BSP
equivalent, so the merge happens at fixpoint boundaries: run the
min-relaxation fixpoint to convergence (distances to the CURRENT tree),
merge the nearest remaining terminal's path (distance 0, re-activated),
and continue with the warm state. Each merge re-runs only the part of
the graph the new zero-distance nodes can improve — the frontier
re-expansion the reference gets from bin re-insertion. Cost: one
fixpoint continuation per terminal; each path is one join-walk plus a
single bounded driver collect of that path's node array (same
materialization the reference's processPath does).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.dijkstra import _reconstruct
from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph

_INF = float("inf")
ROOT_NODE = -1  # ShortestPathsSteinerAlgorithm.ROOT_NODE
PRUNED = -2  # ShortestPathsSteinerAlgorithm.PRUNED


@dataclass
class SteinerTreeResult:
    parents: DataFrame  # (vid, parent, parent_cost) — PRUNED=-2 off-tree
    total_cost: float
    effective_node_count: int
    terminals_reached: int
    metrics: list[dict[str, Any]] = field(default_factory=list)


def steiner_tree(
    graph: Graph,
    source: int,
    terminals: Iterable[int],
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
) -> SteinerTreeResult:
    spark = graph.edges.sparkSession
    terminals = [int(t) for t in terminals]
    remaining = set(terminals)

    edges = cache_on(
        graph.edges.select(
            F.col("src").alias("e_src"), F.col("dst").alias("e_dst"),
            F.col("weight").alias("cost"),
        ),
        "e_src",
    )
    state = graph.nodes.select(
        "vid",
        F.when(F.col("vid") == source, F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
        F.lit(None).cast("long").alias("parent"),
        (F.col("vid") == source).alias("changed"),
    )

    def step(st: DataFrame, s: int) -> DataFrame:
        frontier = st.filter(F.col("changed")).select(
            F.col("vid").alias("e_src"), F.col("dist").alias("sdist")
        )
        msgs = (
            frontier.join(edges, "e_src")
            .groupBy(F.col("e_dst").alias("vid"))
            .agg(
                F.min(
                    F.struct((F.col("sdist") + F.col("cost")).alias("cand"),
                             F.col("e_src").alias("sender"))
                ).alias("m")
            )
            .select("vid", F.col("m.cand").alias("cand"), F.col("m.sender").alias("sender"))
        )
        joined = st.join(msgs, "vid", "left")
        improved = F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))
        return joined.select(
            "vid",
            F.when(improved, F.col("cand")).otherwise(F.col("dist")).alias("dist"),
            F.when(improved, F.col("sender")).otherwise(F.col("parent")).alias("parent"),
            improved.alias("changed"),
        )

    eng = engine or PregelEngine(spark)
    # tree bookkeeping (driver-side scalars + small python dicts keyed by
    # tree nodes only — the tree is at most |terminals| paths long)
    tree_parent: dict[int, int] = {source: ROOT_NODE}
    tree_cost: dict[int, float] = {source: 0.0}
    total_cost = 0.0
    terminals_reached = 0
    # parent-chain length to ANY settled node is bounded by the TOTAL
    # relaxation supersteps across every continuation so far, not just the
    # last one: a later continuation can converge in a few rounds
    # while an earlier-settled branch's chain is much longer. Bounding the
    # backward walk by only the last run's count left `active` undrained
    # and crashed on multi-terminal inputs with uneven branch depths.
    total_supersteps = 0
    metrics: list[dict[str, Any]] = []
    if source in remaining:  # the source is trivially in the tree
        remaining.discard(source)
        terminals_reached += 1

    while remaining:
        result = eng.run(
            initial_state=state,
            step=step,
            stats_exprs=[F.sum(F.col("changed").cast("long")).alias("changed_count")],
            converged=lambda st: (st["changed_count"] or 0) == 0,
            max_iterations=max_iterations,
        )
        metrics.extend(result.metrics)
        state = result.state
        total_supersteps += result.ran_iterations
        nearest = (
            state.filter(F.col("vid").isin(list(remaining)) & (F.col("dist") < _INF))
            .orderBy("dist", "vid")
            .limit(1)
            .collect()
        )
        if not nearest:
            break  # remaining terminals unreachable -> stay PRUNED
        t = int(nearest[0]["vid"])
        tdf = spark.createDataFrame([(t,)], "vid long")
        path_rows = _reconstruct(
            state.select("vid", "dist", "parent"), source, tdf,
            max_rounds=max(total_supersteps, 1),
            # single-target walks to the NEAREST tree node stay shallow
            # even when cumulative supersteps (the safe bound) is large;
            # the linear walk exits at actual depth
            doubling=False,
        ).collect()
        ids = list(path_rows[0]["node_ids"])
        costs = list(path_rows[0]["costs"])
        total_cost += float(costs[-1])  # distance from tree entry to t
        for j in range(1, len(ids)):
            node = int(ids[j])
            tree_parent[node] = int(ids[j - 1])
            tree_cost[node] = float(costs[j] - costs[j - 1])
            if node in remaining:
                remaining.discard(node)
                terminals_reached += 1
        # merge the path into the tree: distance 0, re-activated
        # (mergeNodesOnPathToSource's bin-0 re-insertion)
        pdf = spark.createDataFrame([(int(i),) for i in ids], "vid long").withColumn(
            "on_path", F.lit(True)
        )
        state = (
            state.join(pdf, "vid", "left")
            .select(
                "vid",
                F.when(F.col("on_path"), F.lit(0.0)).otherwise(F.col("dist")).alias("dist"),
                F.when(F.col("on_path"), F.lit(None).cast("long"))
                .otherwise(F.col("parent")).alias("parent"),
                F.coalesce("on_path", F.col("changed") & F.lit(False)).alias("changed"),
            )
        )

    edges.unpersist()
    tree_df = spark.createDataFrame(
        [(v, p, tree_cost[v]) for v, p in tree_parent.items()],
        "vid long, t_parent long, t_cost double",
    )
    parents = (
        graph.nodes.select("vid")
        .join(tree_df, "vid", "left")
        .select(
            "vid",
            F.coalesce("t_parent", F.lit(PRUNED)).alias("parent"),
            F.coalesce("t_cost", F.lit(float(PRUNED))).alias("parent_cost"),
        )
    )
    return SteinerTreeResult(
        parents=parents,
        total_cost=total_cost,
        effective_node_count=len(tree_parent),
        terminals_reached=terminals_reached,
        metrics=metrics,
    )
