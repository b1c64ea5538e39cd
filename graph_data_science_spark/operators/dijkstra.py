"""Shortest paths WITH path reconstruction — gds.shortestPath.dijkstra /
gds.allShortestPaths.dijkstra / gds.shortestPath.yens.

Reference: algo/src/main/java/org/neo4j/gds/paths/dijkstra/Dijkstra.java
(binary-heap Dijkstra with per-node predecessor array, path assembly in
PathResult: (index, sourceNode, targetNode, totalCost, nodeIds, costs));
yens algo/src/main/java/org/neo4j/gds/paths/yens/Yens.java (K shortest
loopless paths via spur-node deviations over repeated Dijkstra runs with
edge/node bans).

Spark-first design: a priority queue is inherently sequential, so the
distance computation is the same BSP min-relaxation fixpoint the engine
already uses for SSSP (provably identical distances for non-negative
weights), extended with PARENT tracking: each message carries its sender,
and the min-combine picks (cost, parent) lexicographically — the smallest
parent id among optimal predecessors, making the shortest-path TREE
deterministic and partition-invariant. Path reconstruction then walks the
parent pointers backward as one PregelEngine step (_walk) — one join per
superstep between the still-walking targets and a jump table cached
hash-partitioned on its node, no driver-side row data. The linear walk
is the jump table never squared: one parent hop and one job per
superstep. Deep walks (> _DOUBLING_THRESHOLD hops) square it every round
(POINTER DOUBLING: parent(2k) = parent(parent(k)) with array splicing),
so the round count is O(log diameter) at two jobs per round — see
_reconstruct for the memory trade-off. Bellman-Ford's negative-cycle
walk is the same step with a different finish predicate.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph
from graph_data_science_spark.plans.lineage import cut_lineage, release

_INF = float("inf")


@dataclass
class DijkstraResult:
    paths: DataFrame  # (index, source_node, target_node, total_cost, node_ids, costs)
    distances: DataFrame  # (vid, distance, parent)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def _parent_fixpoint(
    graph: Graph,
    source: int,
    max_iterations: int,
    engine: PregelEngine | None,
) -> tuple[DataFrame, int, bool, list]:
    """Min-relaxation with parent tracking. State: (vid, dist, parent,
    changed). Message = struct(cand_dist, sender); min over structs picks
    the smallest cost, ties toward the smallest sender id."""
    spark = graph.edges.sparkSession
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
    )

    def step(state: DataFrame, s: int) -> DataFrame:
        frontier = state.filter(F.col("changed")).select(
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
        joined = state.join(msgs, "vid", "left")
        improved = F.col("cand").isNotNull() & (F.col("cand") < F.col("dist"))
        return joined.select(
            "vid",
            F.when(improved, F.col("cand")).otherwise(F.col("dist")).alias("dist"),
            F.when(improved, F.col("sender")).otherwise(F.col("parent")).alias("parent"),
            improved.alias("changed"),
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
    return result.state, result.ran_iterations, result.did_converge, result.metrics


_DOUBLING_THRESHOLD = 16  # walks deeper than this use pointer doubling


def _walk(
    parents: DataFrame,  # (vid, dist, parent)
    starts: DataFrame,  # (vid)
    finished: Column,
    max_rounds: int,
    square: bool,
) -> DataFrame:
    """Walk parent pointers from every start until `finished` holds, as
    one step on an in-memory PregelEngine. The jump table holds, per
    FINITE-distance node `cur`, the node `nxt` some hops up its parent
    chain and the segment of nodes and distances walked to reach it; it
    starts one hop deep (nxt = parent) and, with `square`, is squared at
    the top of every round after the first, so round k advances 2^(k-1)
    hops. Unsquared, it is the one-hop linear walk. Returns (start,
    cur_next, node_ids_rev, costs_rev) for the walks that finished within
    max_rounds; arrays run from the start up the parent chain.

    Superstep 0 materializes the first hop; each later superstep passes
    the finished walks through and joins the rest to the table on
    cur_next. One job per superstep, plus the cut of each squared table."""
    jump0 = cache_on(
        parents.filter(F.col("dist") < _INF).select(
            F.col("vid").alias("cur"),
            F.col("parent").alias("nxt"),
            F.array("vid").alias("seg_nodes"),
            F.array("dist").alias("seg_costs"),
        ),
        "cur",
    )
    table = jump0
    walks0 = starts.join(jump0, F.col("vid") == F.col("cur")).select(
        F.col("vid").alias("start"),
        F.col("nxt").alias("cur_next"),
        F.col("seg_nodes").alias("node_ids_rev"),
        F.col("seg_costs").alias("costs_rev"),
    )

    def step(walks: DataFrame, s: int) -> DataFrame:
        nonlocal table
        if s == 0:
            return walks
        if square and s >= 2:
            # 2^k -> 2^(k+1) hops per row, squared only for a round that runs
            a, b = table.alias("a"), table.alias("b")
            ends = F.col("a.nxt").isNull()
            squared = cut_lineage(
                a.join(b, F.col("a.nxt") == F.col("b.cur"), "left")
                .select(
                    F.col("a.cur").alias("cur"),
                    F.col("b.nxt").alias("nxt"),
                    F.when(ends, F.col("a.seg_nodes"))
                    .otherwise(F.concat("a.seg_nodes", "b.seg_nodes")).alias("seg_nodes"),
                    F.when(ends, F.col("a.seg_costs"))
                    .otherwise(F.concat("a.seg_costs", "b.seg_costs")).alias("seg_costs"),
                )
                .repartition("cur")
                .sortWithinPartitions("cur")
            )
            if table is not jump0:
                release(table)
            table = squared
        moved = (
            walks.filter(~finished)
            .join(table, F.col("cur_next") == F.col("cur"))
            .select(
                "start",
                F.col("nxt").alias("cur_next"),
                F.concat("node_ids_rev", "seg_nodes").alias("node_ids_rev"),
                F.concat("costs_rev", "seg_costs").alias("costs_rev"),
            )
        )
        return walks.filter(finished).unionByName(moved)

    result = PregelEngine(parents.sparkSession).run(
        initial_state=walks0,
        step=step,
        stats_exprs=[F.sum((~finished).cast("long")).alias("active")],
        converged=lambda st: (st["active"] or 0) == 0,
        max_iterations=max_rounds + 1,
    )
    jump0.unpersist()
    if table is not jump0:
        release(table)
    return result.state.filter(finished)


def _reconstruct(
    parents: DataFrame,  # (vid, dist, parent)
    source: int | None,
    targets: DataFrame,  # (vid) reachable targets
    max_rounds: int,
    doubling: bool | None = None,
) -> DataFrame:
    """Backward parent-pointer walk (_walk) from every target to the root
    of its tree. Arrays build from the target back to the source, then
    flip. source=None derives each path's source from its own first node
    (multi-source trees, e.g. dag.longestPath).

    Shallow walks (max_rounds <= _DOUBLING_THRESHOLD) run the jump table
    unsquared: one parent hop per round, one job per hop. Deep walks use
    POINTER DOUBLING: squaring the table (parent(2k) = parent(parent(k))
    with array splicing) lets round k advance every active walk 2^(k-1)
    hops, so a diameter-D chain finishes in O(log D) rounds of at most
    two jobs (the square's cut and the step). On a chain, a 12-hop
    linear walk runs 13 walk jobs and a 60-hop doubling walk 12; with
    the path ranking, dijkstra runs 19 and 18 jobs after its fixpoint,
    where the former hand-written loops ran about 4 per hop (57) and 39.
    Cost: the squared table carries O(n *
    min(2^k, D)) segment entries — the same order as the walk output
    itself when most nodes are targets (allShortestPaths), and bounded
    by n*D in the worst case; the linear walk remains the low-memory mode
    for shallow reconstructions. The table holds only FINITE-distance
    rows (unreachable nodes can appear in no walk), so a pruned search
    (astar) squares only the settled region.

    doubling=None selects by max_rounds; callers that KNOW their walks
    are shallow regardless of the conservative max_rounds bound (steiner
    passes cumulative supersteps but each merge keeps chains short) pass
    doubling=False — the linear walk costs O(actual depth) rounds, not
    O(max_rounds), because it stops when no walk is active."""
    if doubling is None:
        doubling = max_rounds > _DOUBLING_THRESHOLD
    rounds = int(math.ceil(math.log2(max(max_rounds, 2)))) + 2 if doubling else max_rounds + 1
    done = _walk(parents, targets, F.col("cur_next").isNull(), rounds, square=doubling)
    src_col = (
        F.lit(source) if source is not None
        else F.element_at(F.reverse("node_ids_rev"), 1)
    )
    out = done.select(
        src_col.alias("source_node"),
        F.col("start").alias("target_node"),
        F.element_at("costs_rev", 1).alias("total_cost"),
        F.reverse("node_ids_rev").alias("node_ids"),
        F.reverse("costs_rev").alias("costs"),
    )
    # index: rank by (total_cost, target) — the reference indexes streamed
    # paths in discovery (cost) order. Two-phase distributed rank; the
    # old unpartitioned orderBy window was a single-partition pass over the whole
    # path set (fatal for allShortestPaths on a big component).
    from graph_data_science_spark.plans.ranking import distributed_row_index

    return distributed_row_index(out, ["total_cost", "target_node"], index_col="index").select(
        "index", "source_node", "target_node", "total_cost", "node_ids", "costs"
    )


def dijkstra(
    graph: Graph,
    source: int,
    targets: Iterable[int] | None = None,
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
) -> DijkstraResult:
    """Shortest paths from `source` with full path reconstruction.

    targets=None -> all reachable nodes (allShortestPaths.dijkstra);
    otherwise only the given targets (shortestPath.dijkstra when one).
    Result rows mirror the reference's PathFindingResult:
    (index, source_node, target_node, total_cost, node_ids, costs).
    """
    state, ran, conv, metrics = _parent_fixpoint(graph, source, max_iterations, engine)
    # Deterministic shortest-path TREE: the fixpoint's parent is the min
    # sender among the EARLIEST-settling optimal predecessors (an artifact
    # of relaxation order); recompute it as the GLOBAL min optimal
    # predecessor — parent(v) = min src with dist(src) + w(src,v) ==
    # dist(v) — one join, engine-portable (a SQL oracle computes the same
    # tree from the same distances).
    fin = state.select("vid", "dist")
    d_src = fin.select(F.col("vid").alias("src"), F.col("dist").alias("d_src"))
    d_dst = fin.select(F.col("vid").alias("dst"), F.col("dist").alias("d_dst"))
    best_parent = (
        graph.edges.join(d_src, "src")
        .join(d_dst, "dst")
        .filter(
            (F.col("d_src") + F.col("weight") == F.col("d_dst"))
            & (F.col("d_dst") != _INF)
        )
        .groupBy(F.col("dst").alias("vid"))
        .agg(F.min("src").alias("parent"))
    )
    state = (
        fin.join(best_parent, "vid", "left")
        .select(
            "vid", "dist",
            F.when(F.col("vid") == source, F.lit(None).cast("long"))
            .otherwise(F.col("parent")).alias("parent"),
        )
        .persist()
    )
    reachable = state.filter(F.col("dist") < _INF).select("vid")
    if targets is not None:
        tlist = list(targets)
        tdf = reachable.filter(F.col("vid").isin(tlist))
    else:
        tdf = reachable
    paths = _reconstruct(state, source, tdf, max_rounds=max(ran, 1))
    return DijkstraResult(
        paths=paths,
        distances=state.select("vid", F.col("dist").alias("distance"), "parent"),
        ran_iterations=ran,
        did_converge=conv,
        metrics=metrics,
    )


def yens(
    graph: Graph,
    source: int,
    target: int,
    k: int = 3,
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
) -> DataFrame:
    """K shortest loopless paths (gds.shortestPath.yens,
    algo/.../paths/yens/Yens.java): repeated Dijkstra runs with root-path
    sharing and edge bans at each spur node.

    Returns (index, source_node, target_node, total_cost, node_ids, costs)
    with index 0..k-1 in cost order. Each candidate spur is one Dijkstra
    fixpoint on a filtered graph — the filter is a Catalyst predicate on
    the edge DataFrame (anti-join against banned edges), so every run
    keeps the same distributed plan shape.
    """
    first = dijkstra(graph, source, targets=[target], max_iterations=max_iterations,
                     engine=engine)
    rows = first.paths.collect()
    if not rows:
        return first.paths  # unreachable: empty frame, right schema
    accepted = [rows[0]]
    candidates: list = []
    seen_paths = {tuple(rows[0]["node_ids"])}

    spark = graph.edges.sparkSession
    for _ki in range(1, k):
        prev = accepted[-1]
        prev_nodes = prev["node_ids"]
        for i in range(len(prev_nodes) - 1):
            spur = prev_nodes[i]
            root = prev_nodes[: i + 1]
            root_cost = prev["costs"][i]
            # ban edges used by any accepted path sharing this root
            banned = []
            for p in accepted:
                pn = p["node_ids"]
                if len(pn) > i and list(pn[: i + 1]) == list(root):
                    banned.append((pn[i], pn[i + 1]))
            # ban root nodes except the spur (loopless)
            banned_nodes = set(root[:-1])
            e = graph.edges
            if banned:
                bdf = spark.createDataFrame(banned, "src long, dst long")
                e = e.join(bdf, ["src", "dst"], "left_anti")
            if banned_nodes:
                e = e.filter(~F.col("src").isin(list(banned_nodes)) &
                             ~F.col("dst").isin(list(banned_nodes)))
            sub = Graph(nodes=graph.nodes, edges=e, orientation=graph.orientation)
            spur_res = dijkstra(sub, spur, targets=[target],
                                max_iterations=max_iterations, engine=engine)
            srows = spur_res.paths.collect()
            if not srows:
                continue
            sp = srows[0]
            total = list(root[:-1]) + list(sp["node_ids"])
            key = tuple(total)
            if key in seen_paths:
                continue
            seen_paths.add(key)
            costs = [c for c in prev["costs"][:i]] + [root_cost + c for c in sp["costs"]]
            candidates.append(
                dict(node_ids=total, costs=costs, total_cost=root_cost + sp["total_cost"])
            )
        if not candidates:
            break
        candidates.sort(key=lambda c: (c["total_cost"], c["node_ids"]))
        best = candidates.pop(0)
        accepted.append(
            type(rows[0])(
                index=len(accepted), source_node=source, target_node=target,
                total_cost=best["total_cost"], node_ids=best["node_ids"],
                costs=best["costs"],
            )
        )
    out_rows = [
        (i, source, target, float(p["total_cost"]), list(p["node_ids"]),
         [float(c) for c in p["costs"]])
        for i, p in enumerate(accepted)
    ]
    return spark.createDataFrame(
        out_rows,
        "index int, source_node long, target_node long, total_cost double, "
        "node_ids array<bigint>, costs array<double>",
    )
