"""Louvain community detection — hierarchical modularity optimization.

Reference: algo/src/main/java/org/neo4j/gds/louvain/Louvain.java — the
levels loop (compute() :100-156), dendrogram build (:169-196), graph
condensation (summarizeGraph :216-262), level convergence
(hasConverged :264-272: stop unless modularity improved by more than
tolerance); per-level local-move phase
algo/.../modularityoptimization/ModularityOptimization.java, which cites
Lu, Halappanavar, Kalyanaraman, "Parallel heuristics for scalable
community detection", Parallel Computing 47 (2015), arXiv:1410.1237.
Defaults mirror LouvainBaseConfig.java:40-56 (tolerance=0.0001,
maxIterations=10 per level, maxLevels=10) and
ModularityOptimization.updateModularity (:377-387: an iteration counts
as progress only if modularity improved by more than tolerance).

Spark-first local-move design (NOT the reference's shared-memory design):
like the reference, conflicting moves are serialized via a k1-coloring —
`_local_move` computes a distributed k1-coloring (bounded at 5 rounds,
K1COLORING_MAX_ITERATIONS) and sweeps the color classes in order; within
a color class no two movers are adjacent, so each class's best moves are
evaluated in ONE join + groupBy against the current assignment and applied
conflict-free (ties in gain break toward the smaller community id via the
row_number ordering). After a full sweep over all classes, modularity is
recomputed; a sweep that fails to improve Q reverts to the pre-sweep
assignment, so the returned (assignment, modularity) pair is always
consistent. Community ids are relabeled to the minimum member root-vid per
level, so results are deterministic and partition-invariant (same contract
as WCC's union-by-min ids).

Scale notes (100 TB discipline): per iteration the big tables touched are
edges ⋈ assignment (shuffle on dst, then groupBy (src, community) — both
map-side-combined) and the community-total aggregate (|communities| rows;
no join is auto-broadcast under `pregel.loop_conf`). No driver-side row
data ever; only scalar modularity / move-count aggregates. Condensation
shrinks the edge table geometrically, so level>0 cost is a fraction of
level 0.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import loop_conf
from graph_data_science_spark.plans.graph import Graph, Orientation
from graph_data_science_spark.plans.lineage import cut_lineage

# color rounds chained lazily per materialization job; 3 bounds the
# Catalyst size-stats growth at 4^3 per chain (see _local_move)
_COLOR_CHAIN = 3


@dataclass
class LouvainResult:
    communities: DataFrame  # (vid, community) on the root graph
    ran_levels: int
    modularities: list[float] = field(default_factory=list)
    did_converge: bool = False
    dendrogram: list[DataFrame] | None = None  # per-level (vid, community)


def _canonical_edges(graph: Graph) -> DataFrame:
    """One row per undirected edge with src <= dst (parallel directions
    merged by SUM, as the reference's UNDIRECTED projection with SUM
    aggregation would). Louvain semantics are undirected (LouvainTest
    projects Orientation.UNDIRECTED)."""
    e = graph.edges
    if graph.orientation == Orientation.UNDIRECTED:
        return e.filter(F.col("src") <= F.col("dst")).select("src", "dst", "weight")
    return (
        e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        )
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("weight"))
    )


def _modularity(comm_tot: DataFrame, intra_w: DataFrame, m: float, gamma: float) -> float:
    """Q = sum_c [ e_c/m - gamma*(tot_c/(2m))^2 ] from the two per-community
    aggregates (one tiny job)."""
    row = (
        comm_tot.join(intra_w, "community", "left")
        .agg(
            F.sum(
                F.coalesce(F.col("e_c"), F.lit(0.0)) / F.lit(m)
                - F.lit(gamma) * F.pow(F.col("tot") / F.lit(2.0 * m), 2)
            ).alias("q")
        )
        .collect()[0]
    )
    return float(row["q"] or 0.0)


def _local_move(
    edges: DataFrame,  # canonical (src < dst, no self-loops)
    self_w: DataFrame,  # (vid, w_self) canonical self-loop weight
    node_ids: DataFrame,  # (vid)
    m: float,
    max_iterations: int,
    tolerance: float,
    gamma: float,
    seed_assign: DataFrame | None,
    coloring_coin: str = "xxhash64",
) -> tuple[DataFrame, float, int]:
    """One Louvain level: best-move sweeps over k1-coloring color classes
    (exactly the reference's conflict-avoidance: ModularityOptimization
    computeColoring + optimizeColor per color, K1COLORING_MAX_ITERATIONS=5)
    until modularity stops improving by > tolerance
    (ModularityOptimization:377-387). Within a color class no two movers
    are adjacent, so the sweep is conflict-free and Q is monotone.
    Returns (assignment(vid, community), modularity, iterations)."""
    from graph_data_science_spark.operators.k1coloring import color_edges

    both = edges.select("src", "dst", "weight").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    # node weight k = incident weight + 2*self-loop (standard Louvain)
    k = (
        node_ids.join(
            both.groupBy(F.col("src").alias("vid")).agg(F.sum("weight").alias("kw")), "vid", "left"
        )
        .join(self_w.select("vid", F.col("w_self")), "vid", "left")
        .select(
            "vid",
            (F.coalesce("kw", F.lit(0.0)) + 2.0 * F.coalesce("w_self", F.lit(0.0))).alias("k"),
        )
        .persist()
    )
    if seed_assign is not None:
        assign = seed_assign.select("vid", "community")
    else:
        assign = node_ids.select("vid", F.col("vid").alias("community"))
    assign = assign.transform(cut_lineage)

    # K1COLORING_MAX_ITERATIONS = 5 (ModularityOptimization.java:64);
    # residual conflicts after 5 rounds are tolerated, as in the reference
    coloring = color_edges(both, node_ids, max_iterations=5,
                           init_coin=coloring_coin)
    color_list = [
        r["color"]
        for r in coloring.colors.select("color").distinct().orderBy("color").collect()
    ]
    colors = coloring.colors.persist()

    q_prev = None
    iters = 0
    eps = 1e-12
    w_node = Window.partitionBy("vid")
    # color-round chaining: stay LAZY for _COLOR_CHAIN rounds via
    # localCheckpoint(eager=False) — the plan is cut at an RDD boundary so
    # the 4-reference fan-out per round grows a shared DAG, not a 4^rounds
    # tree — then cut_lineage (eager, stats-reset) closes each chain before
    # Catalyst's size-stats compound (the BigInteger blowup lineage.py
    # documents). One materialization job per chain instead of one per
    # color class; results identical.
    for it in range(max_iterations):
        pre_sweep = assign  # snapshot: revert target if this sweep lowers Q
        for ci, col_id in enumerate(color_list):
            movers = colors.filter(F.col("color") == col_id).select("vid")
            a_dst = assign.select(F.col("vid").alias("dst"), F.col("community").alias("c"))
            # weight from each mover into each neighboring community
            k_in = (
                both.join(movers.withColumnRenamed("vid", "src"), "src", "left_semi")
                .join(a_dst, "dst")
                .groupBy(F.col("src").alias("vid"), "c")
                .agg(F.sum("weight").alias("k_in"))
            )
            # ensure a "stay" candidate row exists even with no intra neighbor
            cand = k_in.unionByName(
                assign.join(movers, "vid", "left_semi").select(
                    "vid", F.col("community").alias("c"), F.lit(0.0).alias("k_in")
                )
            ).groupBy("vid", "c").agg(F.sum("k_in").alias("k_in"))

            comm = (
                assign.join(k, "vid")
                .groupBy("community")
                .agg(F.sum("k").alias("tot"))
            )
            scored = (
                cand.join(assign, "vid")
                .join(k, "vid")
                .join(comm.select(F.col("community").alias("c"), "tot"), "c")
                .withColumn(
                    "score",
                    F.col("k_in")
                    - F.lit(gamma)
                    * F.col("k")
                    * (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("community"), F.col("k")).otherwise(0.0)
                    )
                    / F.lit(2.0 * m),
                )
            )
            best = (
                scored.withColumn(
                    "stay_score",
                    F.max(F.when(F.col("c") == F.col("community"), F.col("score"))).over(w_node),
                )
                .withColumn(
                    "rn",
                    F.row_number().over(w_node.orderBy(F.desc("score"), F.asc("c"))),
                )
                .filter(F.col("rn") == 1)
            )
            moved = (F.col("c") != F.col("community")) & (
                F.col("score") > F.col("stay_score") + F.lit(eps)
            )
            decided = best.select(
                "vid",
                F.when(moved, F.col("c")).otherwise(F.col("community")).alias("new_community"),
            )
            # Every round must cut the logical plan to a LogicalRDD —
            # persist() does NOT cut it (cache substitution happens after
            # analysis), so chained persists sent CheckAnalysis into an
            # exponentially-growing tree (measured: 130+ s of driver CPU
            # inside TreeNode.foreachUp). Lazy cut within a chain, eager
            # stats-reset cut at chain end (see the loop-head comment).
            assign = assign.join(decided, "vid", "left").select(
                "vid", F.coalesce("new_community", "community").alias("community")
            )
            if (ci + 1) % _COLOR_CHAIN == 0 or ci == len(color_list) - 1:
                assign = assign.transform(cut_lineage)
            else:
                assign = assign.localCheckpoint(eager=False)

        # after a full sweep over all colors: modularity for convergence
        # (reference updateModularity after optimizeForColor)
        a_u = assign.select(F.col("vid").alias("src"), F.col("community").alias("cu"))
        a_v = assign.select(F.col("vid").alias("dst"), F.col("community").alias("cv"))
        intra = (
            edges.join(a_u, "src")
            .join(a_v, "dst")
            .filter(F.col("cu") == F.col("cv"))
            .select(F.col("cu").alias("community"), "weight")
            .unionByName(
                self_w.join(assign, "vid").select(
                    "community", F.col("w_self").alias("weight")
                )
            )
            .groupBy("community")
            .agg(F.sum("weight").alias("e_c"))
        )
        new_comm = assign.join(k, "vid").groupBy("community").agg(F.sum("k").alias("tot"))
        q = _modularity(new_comm, intra, m, gamma)
        iters = it + 1
        # reference updateModularity:377-387: progress iff q improved by
        # more than tolerance (first iteration always counts)
        if q_prev is not None and not (q > q_prev and abs(q - q_prev) > tolerance):
            if q < q_prev:
                # the sweep DEGRADED Q (possible: same-color non-adjacent
                # nodes moving into one community score against stale
                # totals) — revert to the pre-sweep assignment so the
                # returned (assignment, modularity) pair is consistent
                assign = pre_sweep
            else:
                q_prev = q  # kept the (marginally better) new assignment
            break
        q_prev = q
    k.unpersist()
    colors.unpersist()
    return assign, float(q_prev if q_prev is not None else 0.0), iters


@dataclass
class ModularityOptimizationResult:
    communities: DataFrame  # (vid, community)
    modularity: float
    ran_iterations: int
    did_converge: bool


def modularity_optimization(
    graph: Graph,
    max_iterations: int = 10,
    tolerance: float = 1e-4,
    gamma: float = 1.0,
    seed: DataFrame | None = None,
    coloring_coin: str = "xxhash64",
) -> ModularityOptimizationResult:
    """gds.beta.modularityOptimization — ONE level of local moving
    (ModularityOptimization.java), i.e. Louvain without the hierarchy.
    Defaults mirror ModularityOptimizationBaseConfig (maxIterations=10,
    tolerance=1e-4). Community ids are relabeled to the min member vid
    unless seeded."""
    with loop_conf(graph.edges.sparkSession):
        edges = _canonical_edges(graph).filter(F.col("src") != F.col("dst")).persist()
        self_w = (
            _canonical_edges(graph)
            .filter(F.col("src") == F.col("dst"))
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("weight").alias("w_self"))
            .persist()
        )
        node_ids = graph.nodes.select("vid")
        m = float(edges.agg(F.sum("weight")).collect()[0][0] or 0.0) + float(
            self_w.agg(F.sum("w_self")).collect()[0][0] or 0.0
        )
        if m <= 0:
            edges.unpersist()
            self_w.unpersist()
            return ModularityOptimizationResult(
                communities=node_ids.select("vid", F.col("vid").alias("community")),
                modularity=0.0, ran_iterations=0, did_converge=True,
            )
        seed_assign = None
        if seed is not None:
            max_seed = seed.agg(F.max("seed")).collect()[0][0] or 0
            seed_assign = node_ids.join(seed, "vid", "left").select(
                "vid",
                F.coalesce(F.col("seed"), F.col("vid") + F.lit(max_seed + 1)).alias("community"),
            )
        assign, q, iters = _local_move(
            edges, self_w, node_ids, m, max_iterations, tolerance, gamma,
            seed_assign, coloring_coin=coloring_coin,
        )
        if seed is None:
            relabel = assign.groupBy("community").agg(F.min("vid").alias("new_c"))
            assign = assign.join(relabel, "community").select(
                "vid", F.col("new_c").alias("community")
            )
        assign = cut_lineage(assign)
        edges.unpersist()
        self_w.unpersist()
        return ModularityOptimizationResult(
            communities=assign,
            modularity=q,
            ran_iterations=iters,
            did_converge=iters < max_iterations,
        )


def louvain(
    graph: Graph,
    max_levels: int = 10,
    max_iterations: int = 10,
    tolerance: float = 1e-4,
    gamma: float = 1.0,
    seed: DataFrame | None = None,  # (vid, seed) initial communities
    include_intermediate: bool = False,
) -> LouvainResult:
    """Hierarchical Louvain (Louvain.java:100-156).

    Per level: local-move phase, relabel communities to min member
    root-vid, condense the graph (communities become nodes; intra edges
    become self-loops — summarizeGraph :216-262), repeat until the node
    count stops shrinking, one community remains, or modularity gain
    <= tolerance (hasConverged :264-272).
    """
    with loop_conf(graph.edges.sparkSession):
        edges = _canonical_edges(graph).filter(F.col("src") != F.col("dst"))
        self_w = (
            _canonical_edges(graph)
            .filter(F.col("src") == F.col("dst"))
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("weight").alias("w_self"))
        )
        node_ids = graph.nodes.select("vid")
        m_row = edges.agg(F.sum("weight")).collect()[0][0] or 0.0
        m = float(m_row) + float(self_w.agg(F.sum("w_self")).collect()[0][0] or 0.0)
        if m <= 0:
            return LouvainResult(
                communities=node_ids.select("vid", F.col("vid").alias("community")),
                ran_levels=0,
            )

        seed_assign = None
        if seed is not None:
            # unseeded nodes get unique ids past the max seed (InitStep-style
            # collision freedom)
            max_seed = seed.agg(F.max("seed")).collect()[0][0] or 0
            seed_assign = node_ids.join(seed, "vid", "left").select(
                "vid",
                F.coalesce(F.col("seed"), F.col("vid") + F.lit(max_seed + 1)).alias("community"),
            )

        root_map = node_ids.select("vid", F.col("vid").alias("node"))
        dendrogram: list[DataFrame] = []
        modularities: list[float] = []
        old_count = graph.node_count()
        ran_levels = 0
        did_converge = False

        edges = edges.persist()
        self_w = self_w.persist()
        level_nodes = node_ids

        for level in range(max_levels):
            assign, q, _iters = _local_move(
                edges, self_w, level_nodes, m, max_iterations, tolerance, gamma,
                seed_assign if level == 0 else None,
            )
            # Level convergence (hasConverged :264-272) mirrors the reference's
            # loop structure: a level whose modularity does not improve by more
            # than tolerance is DISCARDED — resizeResultArrays truncates the
            # dendrogram/modularities to ranLevels, so the converging level's
            # assignment never appears in the result.
            if level > 0 and not (
                q > modularities[level - 1] and abs(q - modularities[level - 1]) > tolerance
            ):
                did_converge = True
                break
            # relabel to min member node id (node ids at level l ARE root vids,
            # so the final community id = min root vid in the community) —
            # except when seeded: seed labels are the community ids and must be
            # preserved in the output (LouvainTest.testSeeded:239-252)
            if not (seed is not None and level == 0):
                relabel = assign.groupBy("community").agg(F.min("vid").alias("new_c"))
                assign = assign.join(relabel, "community").select(
                    "vid", F.col("new_c").alias("community")
                )
            assign = assign.transform(cut_lineage)
            ran_levels = level + 1
            modularities.append(q)
            root_map = (
                root_map.join(
                    assign.select(F.col("vid").alias("node"), "community"), "node"
                )
                .select("vid", F.col("community").alias("node"))
                .transform(cut_lineage)
            )
            if include_intermediate:
                dendrogram.append(root_map.select("vid", F.col("node").alias("community")))

            new_count = assign.select("community").distinct().count()
            if new_count == old_count or new_count == 1:
                did_converge = new_count == 1
                break
            old_count = new_count

            # condense (summarizeGraph): communities -> nodes, intra -> self-loops
            a_u = assign.select(F.col("vid").alias("src"), F.col("community").alias("cu"))
            a_v = assign.select(F.col("vid").alias("dst"), F.col("community").alias("cv"))
            tagged = edges.join(a_u, "src").join(a_v, "dst")
            new_self = (
                tagged.filter(F.col("cu") == F.col("cv"))
                .select(F.col("cu").alias("vid"), "weight")
                .unionByName(
                    self_w.join(assign, "vid").select(
                        F.col("community").alias("vid"), F.col("w_self").alias("weight")
                    )
                )
                .groupBy("vid")
                .agg(F.sum("weight").alias("w_self"))
            )
            new_edges = (
                tagged.filter(F.col("cu") != F.col("cv"))
                .select(
                    F.least("cu", "cv").alias("src"),
                    F.greatest("cu", "cv").alias("dst"),
                    "weight",
                )
                .groupBy("src", "dst")
                .agg(F.sum("weight").alias("weight"))
            )
            old_edges, old_self = edges, self_w
            edges = new_edges.transform(cut_lineage)
            self_w = new_self.transform(cut_lineage)
            old_edges.unpersist()
            old_self.unpersist()
            level_nodes = assign.select(F.col("community").alias("vid")).distinct()

        edges.unpersist()
        self_w.unpersist()
        communities = root_map.select("vid", F.col("node").alias("community"))
        return LouvainResult(
            communities=communities,
            ran_levels=ran_levels,
            modularities=modularities,
            did_converge=did_converge,
            dendrogram=dendrogram if include_intermediate else None,
        )
