"""Bellman-Ford single-source shortest paths with negative weights,
negative-cycle detection, and full PathFindingResult rows.

Reference: algo/src/main/java/org/neo4j/gds/paths/bellmanford/
BellmanFord.java (compute() :71-122: frontier relaxation over
(distance, predecessor, length) until the frontier drains; a path length
reaching nodeCount+1 proves a reachable negative cycle —
BellmanFordTask.processNode :85-95; shortest paths are EMPTY when a
cycle exists :126-133; negativeCycleResult walks predecessors until the
start node closes the cycle :270-300); BellmanFordResult.java (shape:
containsNegativeCycle + shortestPaths + negativeCycles).

Spark-first: the reference's queue-driven relaxation maps to the same
BSP min-relaxation fixpoint as dijkstra, with the state extended by the
hop LENGTH of the tentative path. Negative weights need no change to
the relaxation (label-correcting, not label-setting); the length bound
is the cycle detector. Cycle paths are reconstructed with the same
engine walk over parent pointers as dijkstra's paths, stopping when the
walk revisits its seed.

Scale notes: worst-case rounds = n (vs diameter for Dijkstra) — that is
Bellman-Ford's complexity, not a plan defect; each round touches only
the improved frontier. The length column adds 8 bytes/row to the state.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.dijkstra import _reconstruct, _walk
from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph

_INF = float("inf")


@dataclass
class BellmanFordResult:
    paths: DataFrame  # (index, source_node, target_node, total_cost, node_ids, costs)
    negative_cycles: DataFrame  # same shape; target_node == source of the cycle
    contains_negative_cycle: bool
    distances: DataFrame  # (vid, distance, parent, length)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def bellman_ford(
    graph: Graph,
    source: int,
    track_negative_cycles: bool = True,
    max_iterations: int | None = None,
    engine: PregelEngine | None = None,
) -> BellmanFordResult:
    """gds.bellmanFord. max_iterations defaults to nodeCount + 2 (enough
    to push any tentative length past the n+1 cycle bound)."""
    spark = graph.edges.sparkSession
    n = graph.nodes.count()
    length_bound = n + 1  # BellmanFordTask: a loopless path has <= n nodes
    if max_iterations is None:
        max_iterations = n + 2

    edges = cache_on(
        graph.edges.select(
            F.col("src").alias("e_src"), F.col("dst").alias("e_dst"),
            F.col("weight").alias("cost"),
        ),
        "e_src",
    )
    state0 = graph.nodes.select(
        "vid",
        F.when(F.col("vid") == source, F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
        F.lit(None).cast("long").alias("parent"),
        F.when(F.col("vid") == source, F.lit(1)).otherwise(F.lit(0)).alias("length"),
        (F.col("vid") == source).alias("changed"),
    )

    def step(state: DataFrame, s: int) -> DataFrame:
        # nodes at the length bound stop relaxing (they are cycle proof,
        # not path state — BellmanFordTask.processNode)
        frontier = state.filter(
            F.col("changed") & (F.col("length") <= length_bound)
        ).select(
            F.col("vid").alias("e_src"), F.col("dist").alias("sdist"),
            F.col("length").alias("slen"),
        )
        msgs = (
            frontier.join(edges, "e_src")
            .groupBy(F.col("e_dst").alias("vid"))
            .agg(
                F.min(
                    F.struct(
                        (F.col("sdist") + F.col("cost")).alias("cand"),
                        F.col("e_src").alias("sender"),
                        (F.col("slen") + 1).alias("cand_len"),
                    )
                ).alias("m")
            )
            .select(
                "vid", F.col("m.cand").alias("cand"),
                F.col("m.sender").alias("sender"), F.col("m.cand_len").alias("cand_len"),
            )
        )
        joined = state.join(msgs, "vid", "left")
        improved = F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))
        return joined.select(
            "vid",
            F.when(improved, F.col("cand")).otherwise(F.col("dist")).alias("dist"),
            F.when(improved, F.col("sender")).otherwise(F.col("parent")).alias("parent"),
            F.when(improved, F.col("cand_len")).otherwise(F.col("length")).alias("length"),
            improved.alias("changed"),
        )

    eng = engine or PregelEngine(spark)
    result = eng.run(
        initial_state=state0,
        step=step,
        stats_exprs=[
            F.sum(F.col("changed").cast("long")).alias("changed_count"),
            F.max("length").alias("max_length"),
        ],
        converged=lambda st: (st["changed_count"] or 0) == 0
        or (st["max_length"] or 0) > length_bound,
        max_iterations=max_iterations,
    )
    state = result.state.select("vid", "dist", "parent", "length").persist()
    overflowed = state.filter(F.col("length") > length_bound)
    contains_cycle = overflowed.limit(1).count() > 0

    empty = spark.createDataFrame(
        [],
        "index bigint, source_node long, target_node long, total_cost double, "
        "node_ids array<bigint>, costs array<double>",
    )
    if contains_cycle:
        paths = empty  # BellmanFord.produceResult: no shortest paths
        cycles = (
            _negative_cycles(state, overflowed, n)
            if track_negative_cycles
            else empty
        )
    else:
        reachable = state.filter(F.col("dist") < _INF).select("vid")
        paths = _reconstruct(state, source, reachable,
                             max_rounds=max(result.ran_iterations, 1))
        cycles = empty
    return BellmanFordResult(
        paths=paths,
        negative_cycles=cycles,
        contains_negative_cycle=contains_cycle,
        distances=state.select("vid", F.col("dist").alias("distance"), "parent", "length"),
        ran_iterations=result.ran_iterations,
        did_converge=result.did_converge,
        metrics=result.metrics,
    )


def _negative_cycles(state: DataFrame, seeds: DataFrame, n: int) -> DataFrame:
    """Walk predecessors from each overflowed seed until the walk returns
    to its seed and closes the cycle (BellmanFord.negativeCycleResult:
    walks longer than nodeCount+1 are dropped, and so is a seed on a tail
    whose walk never returns). The same engine walk as
    dijkstra._reconstruct's, one parent hop and one job per round, never
    squared; emitted node_ids run in cycle (forward) order."""
    done = _walk(state, seeds, F.col("cur_next") == F.col("start"), n + 1, square=False)
    # forward cycle order: seed -> ... -> seed closes; reverse the
    # predecessor chain and close the loop at the seed
    cycles = done.select(
        F.col("start").alias("seed"),
        F.concat(
            F.array("start"), F.reverse(F.slice("node_ids_rev", 2, n + 2)), F.array("start")
        ).alias("node_ids"),
    )
    from graph_data_science_spark.plans.ranking import distributed_row_index

    return distributed_row_index(cycles, ["seed"], index_col="index").select(
        "index",
        F.col("seed").alias("source_node"),
        F.col("seed").alias("target_node"),
        F.lit(None).cast("double").alias("total_cost"),
        "node_ids",
        F.lit(None).cast("array<double>").alias("costs"),
    )


def cycle_costs(cycles: DataFrame, graph: Graph) -> DataFrame:
    """Fill total_cost for negative-cycle rows by joining consecutive
    node pairs against the edge table (min weight per parallel pair —
    the reference's createNegativeCycleResult resolves weights the same
    way, by relationship scan). Separate helper because it costs one
    edge join; the detection itself doesn't need weights."""
    pairs = cycles.select(
        "index",
        F.posexplode(
            F.zip_with(
                F.slice(F.col("node_ids"), 1, F.size("node_ids") - 1),
                F.slice(F.col("node_ids"), 2, F.size("node_ids") - 1),
                lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
            )
        ).alias("pos", "pr"),
    ).select("index", F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst"))
    w = graph.edges.groupBy("src", "dst").agg(F.min("weight").alias("w"))
    totals = pairs.join(w, ["src", "dst"]).groupBy("index").agg(
        F.sum("w").alias("cycle_cost")
    )
    return cycles.join(totals, "index", "left").select(
        "index", "source_node", "target_node",
        F.col("cycle_cost").alias("total_cost"), "node_ids", "costs",
    )
