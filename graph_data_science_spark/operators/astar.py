"""A* source-target shortest path with haversine heuristic.

Reference: algo/src/main/java/org/neo4j/gds/paths/astar/AStar.java —
Dijkstra with a HeuristicFunction (HaversineHeuristic :110-170:
great-circle distance in nautical miles between (latitude, longitude)
node properties, EARTH_RADIUS_IN_NM = 6371 * 0.539957) and a
SingleTarget termination; result is one PathFindingResult row.

Spark-first design: the reference's heuristic reorders a sequential
priority queue. A BSP relaxation has no queue to reorder, so the
heuristic's distributed equivalent is FRONTIER PRUNING: a node expands
only while g(v) + h(v) <= dist(target) (with h admissible it can never
improve the target once that fails, and dist(target) only decreases).

The bound is a masterCompute-style global: it rides the per-superstep
stats aggregate (min dist over the target row) and is folded into the
next superstep's plan as a LITERAL. The literal is one superstep stale,
i.e. an upper bound on the live target distance — pruning with a
larger bound is still admissible (g+h > B >= dist* implies the node
cannot improve the target), it just prunes less. The earlier design
cross-joined the 1-row bound from the state itself; that made the step
reference `state` three times, growing the chained logical plan 3^k per
checkpoint window (measured 269 s for a 35-superstep run on 200 nodes;
the literal-bound design runs the same fixpoint in seconds).
Distances of pruned non-target nodes are left non-final by design (the
reference's SingleTarget mode also stops early).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.dijkstra import _reconstruct
from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph

_INF = float("inf")
# AStar.HaversineHeuristic: kilometers -> nautical miles
EARTH_RADIUS_IN_NM = 6371 * 0.539957


@dataclass
class AStarResult:
    paths: DataFrame  # (index, source_node, target_node, total_cost, node_ids, costs)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def haversine_nm(lat1, lon1, lat2, lon2):
    """Great-circle distance in nautical miles as a Column expression
    (HaversineHeuristic.distance :150-169, rosettacode haversine)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.pow(F.sin(dlon / 2), 2) * F.cos(
        F.radians(lat1)
    ) * F.cos(F.radians(lat2))
    return F.lit(2.0 * EARTH_RADIUS_IN_NM) * F.asin(F.sqrt(a))


def astar(
    graph: Graph,
    source: int,
    target: int,
    latitude_col: str = "latitude",
    longitude_col: str = "longitude",
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
) -> AStarResult:
    """gds.shortestPath.astar. Node DataFrame must carry the latitude /
    longitude property columns (AStar.sourceTarget validates the same)."""
    for col in (latitude_col, longitude_col):
        if col not in graph.nodes.columns:
            raise ValueError(f"The property `{col}` has not been loaded")
    spark = graph.edges.sparkSession

    trow = graph.nodes.filter(F.col("vid") == target).select(
        F.col(latitude_col).alias("tlat"), F.col(longitude_col).alias("tlon")
    ).collect()
    if not trow:
        raise ValueError(f"target {target} not in graph")
    tlat, tlon = float(trow[0]["tlat"]), float(trow[0]["tlon"])

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
        (F.col("vid") == source).alias("changed"),
        haversine_nm(
            F.col(latitude_col), F.col(longitude_col), F.lit(tlat), F.lit(tlon)
        ).alias("h"),
    )

    # driver-held target bound; refreshed from the stats aggregate after
    # every superstep (see module docstring for why a literal beats
    # joining the 1-row bound back into the plan)
    bound = {"v": _INF}

    def step(state: DataFrame, s: int) -> DataFrame:
        frontier = (
            state.filter(
                F.col("changed")
                & ((F.col("dist") + F.col("h")) <= F.lit(bound["v"]))
            )
            .select(F.col("vid").alias("e_src"), F.col("dist").alias("sdist"))
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
        joined = state.join(msgs, "vid", "left")
        improved = F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))
        return joined.select(
            "vid",
            F.when(improved, F.col("cand")).otherwise(F.col("dist")).alias("dist"),
            F.when(improved, F.col("sender")).otherwise(F.col("parent")).alias("parent"),
            improved.alias("changed"),
            "h",
        )

    def _converged(st) -> bool:
        t_dist = st.get("t_dist")
        if t_dist is not None:
            bound["v"] = float(t_dist)
        return (st["changed_count"] or 0) == 0

    eng = engine or PregelEngine(spark)
    result = eng.run(
        initial_state=state0,
        step=step,
        stats_exprs=[
            F.sum(F.col("changed").cast("long")).alias("changed_count"),
            F.min(F.when(F.col("vid") == target, F.col("dist"))).alias("t_dist"),
        ],
        converged=_converged,
        max_iterations=max_iterations,
    )
    state = result.state.select("vid", "dist", "parent").persist()
    tdf = state.filter((F.col("vid") == target) & (F.col("dist") < _INF)).select("vid")
    paths = _reconstruct(state, source, tdf, max_rounds=max(result.ran_iterations, 1))
    edges.unpersist()
    return AStarResult(
        paths=paths,
        ran_iterations=result.ran_iterations,
        did_converge=result.did_converge,
        metrics=result.metrics,
    )
