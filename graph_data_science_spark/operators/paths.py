"""Path-finding operators: BFS levels, single-source shortest paths,
topological sort — the tractable slice of the reference's path family.

Reference anchors:
  - BFS: algo/.../traversal/BFS.java (+ Pregel example bfs/ — level &
    parent variants).
  - SSSP: gds.allShortestPaths.delta (delta-stepping,
    algo/.../paths/delta/DeltaStepping.java) and the Pregel SSSP
    example. A BSP fixpoint (Bellman-Ford relaxation) computes the
    same distances; delta-stepping's bucketing is a shared-memory
    scheduling optimization with no Spark analogue that beats a
    plain frontier loop.
  - Topological sort: gds.dag.topologicalSort
    (algo/.../dag/topologicalsort/TopologicalSort.java) — iterative
    zero-in-degree peeling.

All three ride the PregelEngine: frontier = the changed set,
messages = shuffle + min-combine, checkpoint/resume for free.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph

_INF = float("inf")


@dataclass
class PathResult:
    distances: DataFrame  # (vid, distance) — unreachable = Infinity
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def _distance_fixpoint(
    graph: Graph,
    source_nodes: Iterable[int],
    edge_cost,
    max_iterations: int,
    engine: PregelEngine | None,
) -> PathResult:
    """Generic min-distance relaxation: dist' = min(dist, min over
    in-edges (dist(src) + cost)); senders = nodes whose dist improved
    (the frontier). BFS and SSSP differ only in edge_cost."""
    spark = graph.edges.sparkSession
    sources = list(source_nodes)
    edges = cache_on(
        graph.edges.select(
            F.col("src").alias("e_src"), F.col("dst").alias("e_dst"),
            edge_cost.alias("cost"),
        ),
        "e_src",
    )

    state0 = graph.nodes.select(
        "vid",
        F.when(F.col("vid").isin(sources), F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
        F.col("vid").isin(sources).alias("changed"),
    )

    def step(state: DataFrame, s: int) -> DataFrame:
        frontier = state.filter(F.col("changed")).select(
            F.col("vid").alias("e_src"), F.col("dist").alias("sdist")
        )
        msgs = (
            frontier.join(edges, "e_src")
            .groupBy(F.col("e_dst").alias("vid"))
            .agg(F.min(F.col("sdist") + F.col("cost")).alias("cand"))
        )
        joined = state.join(msgs, "vid", "left")
        new_dist = F.least(F.col("dist"), F.coalesce(F.col("cand"), F.col("dist")))
        return joined.select(
            "vid",
            new_dist.alias("dist"),
            (new_dist < F.col("dist")).alias("changed"),
        )

    eng = engine or PregelEngine(spark)
    result = eng.run(
        initial_state=state0,
        step=step,
        stats_exprs=[F.sum(F.col("changed").cast("long")).alias("changed_count")],
        converged=lambda st: (st["changed_count"] or 0) == 0,
        max_iterations=max_iterations,
    )
    edges.unpersist()
    return PathResult(
        distances=result.state.select("vid", F.col("dist").alias("distance")),
        ran_iterations=result.ran_iterations,
        did_converge=result.did_converge,
        metrics=result.metrics,
    )


def bfs(
    graph: Graph,
    source_nodes: Iterable[int],
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
) -> PathResult:
    """Hop distance from the source set (gds.bfs level semantics)."""
    return _distance_fixpoint(graph, source_nodes, F.lit(1.0), max_iterations, engine)


def sssp(
    graph: Graph,
    source_nodes: Iterable[int],
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
) -> PathResult:
    """Weighted shortest-path distances (Bellman-Ford relaxation to
    fixpoint — same results as delta-stepping; requires non-negative
    weights for the iteration bound to be meaningful)."""
    return _distance_fixpoint(graph, source_nodes, F.col("weight"), max_iterations, engine)


def topological_sort(
    graph: Graph,
    max_iterations: int = 1000,
    engine: PregelEngine | None = None,
) -> DataFrame:
    """(vid, layer): in-degree-decrement peeling on the PregelEngine;
    layer = longest path from any source (gds.dag.topologicalSort +
    longestPath layering). Nodes on cycles get layer NULL (the reference
    skips them too — TopologicalSort.java processes only nodes whose
    in-degree drains to zero).

    Superstep s: nodes assigned layer s-1 send one decrement per
    out-edge; a node whose in-degree hits zero is assigned layer s.
    Riding the engine bounds lineage per superstep (the old driver loop
    accumulated an unbounded unionByName and leaked one cached frame per
    layer on deep DAGs) and gives checkpoint/resume for free."""
    spark = graph.edges.sparkSession
    edges = cache_on(
        graph.edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst")), "e_src"
    )
    indeg0 = (
        graph.nodes.select("vid")
        .join(
            edges.groupBy(F.col("e_dst").alias("vid")).agg(F.count(F.lit(1)).alias("d")),
            "vid", "left",
        )
        .select("vid", F.coalesce("d", F.lit(0)).alias("indeg"))
    )
    state0 = indeg0.select(
        "vid", "indeg",
        F.when(F.col("indeg") == 0, F.lit(0)).cast("long").alias("layer"),
    )

    def step(state: DataFrame, s: int) -> DataFrame:
        if s == 0:
            return state  # state0 is superstep 0's output (sources at layer 0)
        senders = state.filter(F.col("layer") == s - 1).select(
            F.col("vid").alias("e_src")
        )
        msgs = (
            senders.join(edges, "e_src")
            .groupBy(F.col("e_dst").alias("vid"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        joined = state.join(msgs, "vid", "left")
        new_indeg = F.col("indeg") - F.coalesce(F.col("dec"), F.lit(0))
        newly = F.col("layer").isNull() & (new_indeg == 0) & F.col("dec").isNotNull()
        return joined.select(
            "vid",
            new_indeg.alias("indeg"),
            F.when(newly, F.lit(s).cast("long")).otherwise(F.col("layer")).alias("layer"),
        )

    eng = engine or PregelEngine(spark)
    res = eng.run(
        initial_state=state0,
        step=step,
        # converge when the newest layer produced no nodes: track the max
        # assigned layer — if it lags the superstep counter, peeling is done
        stats_exprs=[F.max("layer").alias("max_layer")],
        converged=lambda st: (st["max_layer"] if st["max_layer"] is not None else -1)
        < st["superstep"],
        max_iterations=max_iterations,
    )
    edges.unpersist()
    return res.state.select("vid", "layer")


def longest_path(
    graph: Graph,
    max_iterations: int = 1000,
    engine: PregelEngine | None = None,
) -> DataFrame:
    """gds.dag.longestPath (algo/.../dag/longestPath/DagLongestPath.java):
    the WEIGHTED longest path from any zero-in-degree source to each node,
    as full PathFindingResult rows
    (index, source_node, target_node, total_cost, node_ids, costs) —
    WeightedDagLongestPathTest fixture parity in tests/test_paths.py.

    Same zero-in-degree peeling fixpoint as topological_sort, additionally
    carrying (dist, parent): when a node's in-degree drains to zero every
    predecessor is finalized, so its running max over incoming
    (pred_dist + weight) is the true longest distance (the reference's
    TentativeDistances with a max comparator). Distance ties break to the
    smaller parent vid (the reference's parallel task order is
    nondeterministic there; we pin it for engine-portable results). Nodes
    on cycles never drain and are skipped, like the reference."""
    spark = graph.edges.sparkSession
    edges = cache_on(
        graph.edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"), "weight"),
        "e_src",
    )
    indeg0 = (
        graph.nodes.select("vid")
        .join(
            edges.groupBy(F.col("e_dst").alias("vid")).agg(F.count(F.lit(1)).alias("d")),
            "vid", "left",
        )
        .select("vid", F.coalesce("d", F.lit(0)).alias("indeg"))
    )
    state0 = indeg0.select(
        "vid", "indeg",
        F.when(F.col("indeg") == 0, F.lit(0)).cast("long").alias("layer"),
        F.when(F.col("indeg") == 0, F.lit(0.0)).alias("dist"),
        F.lit(None).cast("long").alias("parent"),
    )

    def step(state: DataFrame, s: int) -> DataFrame:
        if s == 0:
            return state
        senders = state.filter(F.col("layer") == s - 1).select(
            F.col("vid").alias("e_src"), F.col("dist").alias("s_dist")
        )
        # max (dist, -parent) struct => max distance, ties to smaller parent
        msgs = (
            senders.join(edges, "e_src")
            .groupBy(F.col("e_dst").alias("vid"))
            .agg(
                F.count(F.lit(1)).alias("dec"),
                F.max(
                    F.struct(
                        (F.col("s_dist") + F.col("weight")).alias("d"),
                        (-F.col("e_src")).alias("np"),
                    )
                ).alias("best"),
            )
        )
        joined = state.join(msgs, "vid", "left")
        new_indeg = F.col("indeg") - F.coalesce(F.col("dec"), F.lit(0))
        msg_d = F.col("best")["d"]
        msg_p = -F.col("best")["np"]
        better = F.col("best").isNotNull() & (
            F.col("dist").isNull()
            | (msg_d > F.col("dist"))
            | ((msg_d == F.col("dist")) & (msg_p < F.col("parent")))
        )
        newly = F.col("layer").isNull() & (new_indeg == 0) & F.col("dec").isNotNull()
        return joined.select(
            "vid",
            new_indeg.alias("indeg"),
            F.when(newly, F.lit(s).cast("long")).otherwise(F.col("layer")).alias("layer"),
            F.when(better, msg_d).otherwise(F.col("dist")).alias("dist"),
            F.when(better, msg_p).otherwise(F.col("parent")).alias("parent"),
        )

    eng = engine or PregelEngine(spark)
    res = eng.run(
        initial_state=state0,
        step=step,
        stats_exprs=[F.max("layer").alias("max_layer")],
        converged=lambda st: (st["max_layer"] if st["max_layer"] is not None else -1)
        < st["superstep"],
        max_iterations=max_iterations,
    )
    edges.unpersist()

    from graph_data_science_spark.operators.dijkstra import _reconstruct
    from graph_data_science_spark.plans.lineage import cut_lineage

    finalized = cut_lineage(
        res.state.filter(F.col("layer").isNotNull()).select("vid", "dist", "parent")
    )
    return _reconstruct(
        finalized, None, finalized.select("vid"), res.ran_iterations + 1
    )


def all_shortest_paths_stream(
    graph: Graph,
    sources: DataFrame | None = None,
    batch_size: int = 512,
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
) -> DataFrame:
    """gds.allShortestPaths.stream (MS-BFS all-pairs hop distances,
    algo/.../allshortestpaths/msbfs/MSBFSAllShortestPaths.java): rows
    (source_node, target_node, distance) for every reachable pair.

    Spark-first: sources are processed in batches of `batch_size`, all
    advancing in ONE BSP fixpoint via the closeness multi-source distance
    machinery (array state, elementwise-min combine) — the same trick the
    reference's MS-BFS bit-parallelism plays, with the batch width as the
    parallelism unit. Batches stream from the nodes DataFrame
    (toLocalIterator), never a wholesale collect. Output is O(reachable
    pairs) — a stream operator by contract, as in the reference.

    sources=None -> all nodes (the reference's default); pass a (vid)
    DataFrame to bound the source set. Weighted all-pairs = loop
    dijkstra() per source (the reference's weighted mode runs one
    Dijkstra per source too)."""
    from graph_data_science_spark.operators.closeness import multi_source_hop_distances
    from graph_data_science_spark.plans.lineage import cut_lineage

    spark = graph.edges.sparkSession
    src_nodes = (sources or graph.nodes).select("vid")

    out: DataFrame | None = None
    batch: list[int] = []

    def flush(batch: list[int]) -> DataFrame:
        dists = multi_source_hop_distances(
            graph, batch, max_iterations=max_iterations, engine=engine,
            reverse=False,
        )
        idx_df = spark.createDataFrame(
            [(i, int(s)) for i, s in enumerate(batch)], "_i int, source_node long"
        )
        return (
            dists.select(F.col("vid").alias("target_node"),
                         F.posexplode("dists").alias("_i", "distance"))
            .filter(F.col("distance") != _INF)
            .join(F.broadcast(idx_df), "_i")
            .select("source_node", "target_node", "distance")
        )

    for r in src_nodes.orderBy("vid").toLocalIterator(prefetchPartitions=True):
        batch.append(int(r["vid"]))
        if len(batch) == batch_size:
            part = flush(batch)
            out = part if out is None else cut_lineage(out.unionByName(part))
            batch = []
    if batch:
        part = flush(batch)
        out = part if out is None else cut_lineage(out.unionByName(part))
    if out is None:
        return spark.createDataFrame(
            [], "source_node long, target_node long, distance double"
        )
    return out
