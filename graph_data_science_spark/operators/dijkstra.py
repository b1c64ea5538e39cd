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
parent pointers backward entirely with joins — one hash join per round
on the shrinking active set, no driver-side row data. At 10^9 nodes the
parent table is a hash-partitioned DataFrame and each round touches only
still-walking targets. Shallow walks run the linear one-hop-per-round
mode; deep walks (> _DOUBLING_THRESHOLD hops) switch to POINTER
DOUBLING (parent(2k) = parent(parent(k)) with array splicing), so the
round count is O(log diameter) — see _reconstruct for the memory
trade-off.
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


def _reconstruct(
    parents: DataFrame,  # (vid, dist, parent)
    source: int | None,
    targets: DataFrame,  # (vid) reachable targets
    max_rounds: int,
    doubling: bool | None = None,
) -> DataFrame:
    """Backward parent-pointer walk entirely with joins. Arrays build
    from the target back to the source, then flip. source=None derives
    each path's source from its own first node (multi-source trees,
    e.g. dag.longestPath).

    Shallow walks (max_rounds <= _DOUBLING_THRESHOLD) step one parent
    hop per round — O(depth) tiny joins on the shrinking active set.
    Deep walks switch to POINTER DOUBLING: a jump table J_k holds, per
    node, the 2^k-hop ancestor plus the node segment traversed to reach
    it (parent(2k) = parent(parent(k)) with array splicing); each round
    advances every active walk 2^k hops and squares J, so a diameter-D
    chain finishes in O(log D) rounds instead of O(D). Cost: J carries
    O(n * min(2^k, D)) segment entries — the same order as the walk
    output itself when most nodes are targets (allShortestPaths), and
    bounded by n*D in the worst case; the linear walk remains the
    low-memory mode for shallow reconstructions. The jump table holds
    only FINITE-distance rows (unreachable nodes can appear in no walk),
    so a pruned search (astar) squares only the settled region.

    doubling=None selects by max_rounds; callers that KNOW their walks
    are shallow regardless of the conservative max_rounds bound (steiner
    passes cumulative supersteps but each merge keeps chains short) pass
    doubling=False — the linear walk costs O(actual depth) rounds, not
    O(max_rounds), because it exits when the active set drains."""
    ptab = parents.select(
        F.col("vid").alias("cur"), F.col("dist").alias("cur_dist"), "parent"
    ).persist()
    walk = (
        targets.select(F.col("vid").alias("target"))
        .join(ptab, F.col("target") == F.col("cur"))
        .select(
            "target",
            F.col("cur_dist").alias("total_cost"),
            F.col("parent").alias("cur_next"),
            F.array(F.col("target")).alias("node_ids_rev"),
            F.array(F.col("cur_dist")).alias("costs_rev"),
        )
        .localCheckpoint(eager=True)
    )
    done = walk.filter(F.col("cur_next").isNull())
    active = walk.filter(F.col("cur_next").isNotNull())
    if doubling is None:
        doubling = max_rounds > _DOUBLING_THRESHOLD
    if not doubling:
        for _ in range(max_rounds + 1):
            if active.rdd.isEmpty():
                break
            stepped = (
                active.join(ptab, active["cur_next"] == ptab["cur"])
                .select(
                    "target",
                    "total_cost",
                    F.col("parent").alias("cur_next"),
                    F.concat("node_ids_rev", F.array(F.col("cur"))).alias("node_ids_rev"),
                    F.concat("costs_rev", F.array(F.col("cur_dist"))).alias("costs_rev"),
                )
                .localCheckpoint(eager=True)
            )
            done = done.unionByName(stepped.filter(F.col("cur_next").isNull())).localCheckpoint(
                eager=True
            )
            active = stepped.filter(F.col("cur_next").isNotNull())
    else:
        import math

        jump = (
            ptab.filter(F.col("cur_dist") < float("inf"))
            .select(
                "cur",
                F.col("parent").alias("nxt"),
                F.array(F.col("cur")).alias("seg_nodes"),
                F.array(F.col("cur_dist")).alias("seg_costs"),
            )
            .localCheckpoint(eager=True)
        )
        rounds = int(math.ceil(math.log2(max(max_rounds, 2)))) + 2
        first_round = True
        for _ in range(rounds):
            if active.rdd.isEmpty():
                break
            if not first_round:
                # square the jump table (2^k -> 2^(k+1) hops per row) at
                # the TOP of a round we know will run — squaring after
                # the step wasted one full self-join + eager checkpoint
                # per reconstruction (the last square was never consumed)
                # and materialized the widest O(n*2^k) table exactly when
                # only a handful of walks remained active
                a, b = jump.alias("a"), jump.alias("b")
                jump = (
                    a.join(b, F.col("a.nxt") == F.col("b.cur"), "left")
                    .select(
                        F.col("a.cur").alias("cur"),
                        F.when(F.col("a.nxt").isNull(), F.lit(None).cast("long"))
                        .otherwise(F.col("b.nxt")).alias("nxt"),
                        F.when(F.col("a.nxt").isNull(), F.col("a.seg_nodes"))
                        .otherwise(F.concat(F.col("a.seg_nodes"), F.col("b.seg_nodes")))
                        .alias("seg_nodes"),
                        F.when(F.col("a.nxt").isNull(), F.col("a.seg_costs"))
                        .otherwise(F.concat(F.col("a.seg_costs"), F.col("b.seg_costs")))
                        .alias("seg_costs"),
                    )
                    .localCheckpoint(eager=True)
                )
            first_round = False
            stepped = (
                active.join(jump, active["cur_next"] == jump["cur"])
                .select(
                    "target",
                    "total_cost",
                    F.col("nxt").alias("cur_next"),
                    F.concat("node_ids_rev", "seg_nodes").alias("node_ids_rev"),
                    F.concat("costs_rev", "seg_costs").alias("seg_costs_tmp"),
                )
                .withColumnRenamed("seg_costs_tmp", "costs_rev")
                .localCheckpoint(eager=True)
            )
            done = done.unionByName(stepped.filter(F.col("cur_next").isNull())).localCheckpoint(
                eager=True
            )
            active = stepped.filter(F.col("cur_next").isNotNull())
    ptab.unpersist()
    src_col = (
        F.lit(source) if source is not None
        else F.element_at(F.reverse("node_ids_rev"), 1)
    )
    out = done.select(
        src_col.alias("source_node"),
        F.col("target").alias("target_node"),
        "total_cost",
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
