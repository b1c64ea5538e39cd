"""Leiden community detection — local move, refinement, aggregation.

Reference: algo/src/main/java/org/neo4j/gds/leiden/Leiden.java (compute()
:95-247: iteration loop = local move -> modularity -> tolerance check ->
output dendrogram -> refinement -> aggregation -> maintainPartition);
LocalMovePhase.java / LocalMoveTask.java (queue-driven local moves, gain
:processNode = k_in(C) - vol(u) * vol(C \\ u) * gamma with gamma
pre-scaled by 1/totalVolume, tie-break to the smaller community id among
positive gains); RefinementPhase.java (singleton well-connected merges
with theta-randomness, :190-259 mergeNodeSubset); ModularityComputer.java
(:89-96: Q = coeff * sum_c [inside_c - gamma * tot_c^2], inside derived
as tot_c - outside_c because aggregated graphs drop intra-community
edges and volumes are carried in arrays instead); maintainPartition
(Leiden.java:343-388: refined communities sharing a local-move community
are re-seeded to one community for the next level);
SeedCommunityManager.java (seed labels normalized to the min node id per
label, mapped back in the output); LeidenUtils.java (negative seeds
rejected, missing seeds get fresh ids past the max). Defaults gamma=1.0,
theta=0.01, tolerance=1e-4 mirror LeidenBaseConfig / the LeidenTest
fixtures.

Spark-first design (NOT the reference's shared-memory design):

- The queue-driven local move is replaced by the same k1-coloring
  color-class sweep machinery as Louvain (`operators/louvain.py`):
  within a color class no two movers are adjacent, so each class's best
  moves are one join + groupBy, applied conflict-free; sweeps repeat
  until a full sweep makes zero moves (the reference's "queue drained").
- The refinement phase is sequential WITHIN a local-move community by
  construction (merges mutate live volumes), but independent ACROSS
  communities — exactly the shape of `cogroup().applyInPandas`: each
  community's nodes + intra-community edges are one group, the
  reference's merge loop runs vectorized-per-group, and all communities
  refine in parallel. (The reference refines the whole graph on ONE
  thread — RefinementPhase.run() is a sequential forEachNode — so this
  is strictly more parallel.) Skew bound: the largest local-move
  community must fit one task's memory; at 100 TB the local-move phase
  has already shrunk communities to working-set size, and the group
  payload is (members + intra edges), not the whole graph.
- Aggregated graphs keep refined-community ids as node ids (no dense
  remap — DataFrames don't need one) and DROP intra-community edges;
  node volumes are carried as an explicit column, per the reference.
- Randomness: the reference draws from one java.util.Random across the
  sequential node scan — irreproducible under any parallel schedule. We
  instead seed one PRNG per (random_seed, community), which is
  deterministic AND partition-invariant; community membership fixtures
  (LeidenTest) are unaffected.

Scale notes (100 TB discipline): per sweep the big tables touched are
edges join assignment (shuffle on the neighbor key, then groupBy
(node, community) — both map-side combined) and the community-volume
aggregate. Only scalar move counts / modularity aggregates ever reach
the driver. Aggregation shrinks the edge table geometrically per level.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.plans.graph import Graph, Orientation
from graph_data_science_spark.plans.lineage import cut_lineage
from graph_data_science_spark.operators.louvain import _COLOR_CHAIN
from graph_data_science_spark.operators.pregel import loop_conf


@dataclass
class LeidenResult:
    communities: DataFrame  # (vid, community) on the root graph
    ran_levels: int
    modularities: list[float] = field(default_factory=list)
    modularity: float = 0.0
    did_converge: bool = False
    dendrogram: list[DataFrame] | None = None


def _symmetric_edges(graph: Graph) -> DataFrame:
    """Every undirected edge as TWO directed rows (u, v, w), parallel
    edges merged by SUM, self-loops dropped (the reference's own TODO
    acknowledges self-loops are unhandled — Leiden.java:40)."""
    e = graph.edges
    if graph.orientation != Orientation.UNDIRECTED:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
        )
    return (
        e.filter(F.col("src") != F.col("dst"))
        .groupBy(F.col("src").alias("u"), F.col("dst").alias("v"))
        .agg(F.sum("weight").alias("w"))
    )


def _modularity(
    both: DataFrame, vols: DataFrame, assign: DataFrame, gamma_s: float, total_volume: float
) -> float:
    """ModularityComputer.compute: Q = (1/totalVolume) * sum_c
    [(tot_c - outside_c) - gamma_s * tot_c^2]; outside_c = directed
    weight leaving c (intra edges of previous merges are NOT in the
    aggregated edge table, hence the subtraction form)."""
    a_u = assign.select(F.col("vid").alias("u"), F.col("community").alias("cu"))
    a_v = assign.select(F.col("vid").alias("v"), F.col("community").alias("cv"))
    outside = (
        both.join(a_u, "u")
        .join(a_v, "v")
        .filter(F.col("cu") != F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.sum("w").alias("out_w"))
    )
    tot = (
        assign.join(vols, "vid")
        .groupBy("community")
        .agg(F.sum("vol").alias("tot"))
    )
    row = (
        tot.join(outside, "community", "left")
        .agg(
            F.sum(
                (F.col("tot") - F.coalesce(F.col("out_w"), F.lit(0.0)))
                - F.lit(gamma_s) * F.col("tot") * F.col("tot")
            ).alias("q")
        )
        .collect()[0]
    )
    return float(row["q"] or 0.0) / total_volume


def _local_move(
    both: DataFrame,
    vols: DataFrame,  # (vid, vol) — explicit volumes, NOT degrees
    node_ids: DataFrame,
    comm0: DataFrame,  # (vid, community) starting assignment
    gamma_s: float,
    max_sweeps: int,
) -> tuple[DataFrame, int]:
    """LocalMovePhase via color-class sweeps. Gain per LocalMoveTask
    .processNode: stay = k_in(cur) - vol_u*(tot_cur - vol_u)*gamma_s;
    candidate C: k_in(C) - vol_u*tot_C*gamma_s; move iff best > stay, or
    best == stay and best > 0 and C < cur (findBestCommunity tie rule).
    Returns (assignment, moves_in_first_sweep) — the reference's
    localPhaseConverged is first-sweep moves == 0."""
    from graph_data_science_spark.operators.k1coloring import color_edges

    edges_sd = both.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), F.col("w").alias("weight")
    )
    coloring = color_edges(edges_sd, node_ids, max_iterations=5)
    color_list = [
        r["color"]
        for r in coloring.colors.select("color").distinct().orderBy("color").collect()
    ]
    colors = coloring.colors.persist()

    assign = comm0.select("vid", "community").transform(cut_lineage)
    w_node = Window.partitionBy("vid")
    first_moves = -1
    for sweep in range(max_sweeps):
        pre = assign
        for ci, col_id in enumerate(color_list):
            movers = colors.filter(F.col("color") == col_id).select("vid")
            a_v = assign.select(F.col("vid").alias("v"), F.col("community").alias("c"))
            k_in = (
                both.join(movers.withColumnRenamed("vid", "u"), "u", "left_semi")
                .join(a_v, "v")
                .groupBy(F.col("u").alias("vid"), "c")
                .agg(F.sum("w").alias("k_in"))
            )
            # guarantee a "stay" row (k_in to own community may be absent)
            cand = (
                k_in.unionByName(
                    assign.join(movers, "vid", "left_semi").select(
                        "vid", F.col("community").alias("c"), F.lit(0.0).alias("k_in")
                    )
                )
                .groupBy("vid", "c")
                .agg(F.sum("k_in").alias("k_in"))
            )
            comm_tot = (
                assign.join(vols, "vid").groupBy("community").agg(F.sum("vol").alias("tot"))
            )
            scored = (
                cand.join(assign, "vid")
                .join(vols, "vid")
                .join(comm_tot.select(F.col("community").alias("c"), "tot"), "c")
                .withColumn(
                    "score",
                    F.col("k_in")
                    - F.lit(gamma_s)
                    * F.col("vol")
                    * (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("community"), F.col("vol")).otherwise(
                            0.0
                        )
                    ),
                )
            )
            best = (
                scored.withColumn(
                    "stay_score",
                    F.max(
                        F.when(F.col("c") == F.col("community"), F.col("score"))
                    ).over(w_node),
                )
                .filter(F.col("c") != F.col("community"))
                .withColumn(
                    "rn", F.row_number().over(w_node.orderBy(F.desc("score"), F.asc("c")))
                )
                .filter(F.col("rn") == 1)
            )
            moved = (F.col("score") > F.col("stay_score")) | (
                (F.col("score") == F.col("stay_score"))
                & (F.col("score") > 0)
                & (F.col("c") < F.col("community"))
            )
            decided = best.filter(moved).select("vid", F.col("c").alias("new_community"))
            # plan cut per color round (lineage-blowup reasoning in
            # louvain._local_move): lazy RDD-boundary cut within a chain
            # of _COLOR_CHAIN rounds, eager stats-reset cut at chain end —
            # one materialization job per chain instead of per color
            assign = assign.join(decided, "vid", "left").select(
                "vid", F.coalesce("new_community", "community").alias("community")
            )
            if (ci + 1) % _COLOR_CHAIN == 0 or ci == len(color_list) - 1:
                assign = assign.transform(cut_lineage)
            else:
                assign = assign.localCheckpoint(eager=False)
        moves = (
            assign.join(
                pre.select("vid", F.col("community").alias("prev_c")), "vid"
            )
            .filter(F.col("community") != F.col("prev_c"))
            .count()
        )
        if sweep == 0:
            first_moves = moves
        if moves == 0:
            break
    colors.unpersist()
    return assign, first_moves


def _refine(
    both: DataFrame,
    vols: DataFrame,
    assign: DataFrame,  # local-move communities
    gamma_s: float,
    theta: float,
    random_seed: int,
) -> DataFrame:
    """RefinementPhase.run as a cogrouped applyInPandas: one group per
    local-move community = (member nodes+volumes, intra-community
    directed edges); the kernel replays mergeNodeSubset (:190-259) over
    members in ascending node-id order (the reference's forEachNode
    order) with a per-community PRNG. Returns (vid, refined)."""
    a_u = assign.select(F.col("vid").alias("u"), F.col("community").alias("cm"))
    a_v = assign.select(F.col("vid").alias("v"), F.col("community").alias("cv"))
    intra = (
        both.join(a_u, "u")
        .join(a_v, "v")
        .filter(F.col("cm") == F.col("cv"))
        .select(F.col("cm").alias("community"), "u", "v", "w")
    )
    members = assign.join(vols, "vid").select("community", "vid", "vol")

    def kernel(key, nodes_pdf: pd.DataFrame, edges_pdf: pd.DataFrame) -> pd.DataFrame:
        node_list = sorted(nodes_pdf["vid"].tolist())
        vol = dict(zip(nodes_pdf["vid"], nodes_pdf["vol"]))
        comm_vol = float(nodes_pdf["vol"].sum())
        adj: dict[int, list[tuple[int, float]]] = {}
        rels: dict[int, float] = {v: 0.0 for v in node_list}
        for u, v, w in zip(edges_pdf["u"], edges_pdf["v"], edges_pdf["w"]):
            adj.setdefault(u, []).append((v, w))
            rels[u] = rels.get(u, 0.0) + w  # relationshipsBetweenCommunities
        refined = {v: v for v in node_list}
        rvol = dict(vol)  # communityVolumesAfterMerge
        non_singleton: set[int] = set()
        rng = random.Random((int(random_seed) << 20) ^ (int(key[0]) & 0x7FFFFFFF))

        def well_connected(x: int) -> bool:
            rv = rvol[x]
            return rels[x] >= gamma_s * rv * (comm_vol - rv)

        for v in node_list:
            if v in non_singleton or not well_connected(v):
                continue
            cand: dict[int, float] = {}
            for nbr, w in adj.get(v, ()):
                tc = refined[nbr]
                if well_connected(tc):
                    cand[tc] = cand.get(tc, 0.0) + w
            if not cand:
                continue
            total_rel = sum(cand.values())
            best_gain, best_c = 0.0, 0
            probs: list[tuple[int, float]] = []
            psum = 0.0
            for c in sorted(cand):
                gain = cand[c] - vol[v] * rvol[c] * gamma_s
                if gain > best_gain:
                    best_gain, best_c = gain, c
                if gain >= 0:
                    # Java Math.exp overflows to Infinity (handled by the
                    # isInfinite branch below); Python raises — mirror Java
                    try:
                        p = math.exp(gain / theta)
                    except OverflowError:
                        p = math.inf
                else:
                    p = 0.0
                probs.append((c, p))
                psum += p
            if math.isinf(psum) or psum <= 0:
                next_c = best_c if best_gain > 0 else v
            else:
                x = psum * rng.random()
                next_c, acc = v, 0.0
                for c, p in probs:
                    acc += p
                    if x <= acc:
                        next_c = c
                        break
            if next_c != v:
                refined[v] = next_c
                non_singleton.add(next_c)
                rvol[next_c] += vol[v]
                rvol[v] -= vol[v]
                rels[next_c] += total_rel - cand[next_c]
        return pd.DataFrame(
            {"vid": node_list, "refined": [refined[v] for v in node_list]}
        )

    return (
        members.groupBy("community")
        .cogroup(intra.groupBy("community"))
        .applyInPandas(kernel, "vid long, refined long")
    )


def leiden(
    graph: Graph,
    max_levels: int = 10,
    gamma: float = 1.0,
    theta: float = 0.01,
    tolerance: float = 1e-4,
    random_seed: int = 19,
    seed: DataFrame | None = None,  # (vid, seed) initial communities
    include_intermediate: bool = False,
    max_sweeps: int = 10,
) -> LeidenResult:
    """Leiden (Leiden.java compute() :95-247). Per level: local move
    over the maintained partition, modularity + tolerance check
    (CONTINUE / CONVERGED / DECREASE — a DECREASE level is discarded),
    refinement within local-move communities, aggregation on the refined
    partition, maintainPartition re-seeding. Unseeded community ids are
    representative node ids; seeded runs map them back to the original
    seed labels (SeedCommunityManager)."""
    with loop_conf(graph.edges.sparkSession):
        return _leiden_impl(
            graph, max_levels, gamma, theta, tolerance, random_seed, seed,
            include_intermediate, max_sweeps,
        )


def _leiden_impl(
    graph: Graph,
    max_levels: int,
    gamma: float,
    theta: float,
    tolerance: float,
    random_seed: int,
    seed: DataFrame | None,
    include_intermediate: bool,
    max_sweeps: int,
) -> LeidenResult:
    node_ids = graph.nodes.select("vid")
    both = _symmetric_edges(graph).persist()
    total_volume = float(both.agg(F.sum("w")).collect()[0][0] or 0.0)
    if total_volume <= 0:
        both.unpersist()
        return LeidenResult(
            communities=node_ids.select("vid", F.col("vid").alias("community")),
            ran_levels=0, did_converge=True,
        )
    gamma_s = gamma / total_volume  # Leiden.java:116 gamma * coefficient

    # node volumes = weighted degree (InitVolumeTask; symmetric table sums
    # both directions per endpoint)
    vols = (
        node_ids.join(
            both.groupBy(F.col("u").alias("vid")).agg(F.sum("w").alias("vw")),
            "vid", "left",
        )
        .select("vid", F.coalesce("vw", F.lit(0.0)).alias("vol"))
        .persist()
    )

    # starting communities (LeidenUtils.createStartingCommunities) +
    # seed normalization to min-node representatives (SeedCommunityManager)
    seed_reverse: DataFrame | None = None
    if seed is not None:
        if seed.filter(F.col("seed") < 0).limit(1).count() > 0:
            raise ValueError("Seed values should be non-negative")
        max_seed = seed.agg(F.max("seed")).collect()[0][0] or 0
        filled = node_ids.join(seed, "vid", "left").select(
            "vid",
            F.coalesce(F.col("seed"), F.col("vid") + F.lit(max_seed + 1)).alias("label"),
        )
        rep = filled.groupBy("label").agg(F.min("vid").alias("community"))
        comm = filled.join(rep, "label").select("vid", "community")
        seed_reverse = rep.select("community", F.col("label").alias("seed_label"))
    else:
        comm = node_ids.select("vid", F.col("vid").alias("community"))
    comm = comm.transform(cut_lineage)
    start_comm = comm

    chain = node_ids.select("vid", F.col("vid").alias("node"))  # root -> working
    output_assign: DataFrame | None = None
    dendrogram: list[DataFrame] = []
    mods: list[float] = []
    modularity = 0.0
    did_converge = False
    ran_levels = 0
    work_nodes = node_ids
    work_edges = both
    work_vols = vols

    for level in range(max_levels):
        assign, first_moves = _local_move(
            work_edges, work_vols, work_nodes, comm, gamma_s, max_sweeps
        )
        local_converged = first_moves == 0
        if not local_converged or level == 0:
            q = _modularity(work_edges, work_vols, assign, gamma_s, total_volume)
        if local_converged:
            did_converge = True
            if level == 0:
                mods.append(q)
                modularity = q
                ran_levels = 1
                output_assign = start_comm
            break
        if level > 0 and q - mods[level - 1] < 0:
            break  # DECREASE: discard this level, keep previous output
        mods.append(q)
        # output dendrogram: root nodes -> this level's local-move community
        output_assign = (
            chain.join(assign.select(F.col("vid").alias("node"), "community"), "node")
            .select("vid", "community")
            .transform(cut_lineage)
        )
        if include_intermediate:
            dendrogram.append(output_assign)
        ran_levels = level + 1
        modularity = q
        if level > 0 and q - mods[level - 1] < tolerance:
            did_converge = True
            break
        if level == max_levels - 1:
            break  # no next iteration -> skip refinement/aggregation

        refined = _refine(
            work_edges, work_vols, assign, gamma_s, theta, random_seed
        ).persist()
        # chain through the refined partition (updateAlgorithmDendrogram)
        chain = (
            chain.join(refined.select(F.col("vid").alias("node"), "refined"), "node")
            .select("vid", F.col("refined").alias("node"))
            .transform(cut_lineage)
        )
        # aggregate: refined communities -> nodes; intra edges dropped;
        # volumes carried (GraphAggregationPhase + refined volumes)
        r_u = refined.select(F.col("vid").alias("u"), F.col("refined").alias("ru"))
        r_v = refined.select(F.col("vid").alias("v"), F.col("refined").alias("rv"))
        new_edges = (
            work_edges.join(r_u, "u")
            .join(r_v, "v")
            .filter(F.col("ru") != F.col("rv"))
            .groupBy(F.col("ru").alias("u"), F.col("rv").alias("v"))
            .agg(F.sum("w").alias("w"))
            .transform(cut_lineage)
        )
        new_vols = (
            refined.join(work_vols, "vid")
            .groupBy(F.col("refined").alias("vid"))
            .agg(F.sum("vol").alias("vol"))
            .transform(cut_lineage)
        )
        # maintainPartition: refined communities sharing a local-move
        # community seed ONE community (min refined id = first aggregated
        # id in the reference's sequential scan)
        rmap = (
            refined.join(assign, "vid")
            .select(F.col("refined").alias("vid"), "community")
            .distinct()
        )
        seed_rep = rmap.groupBy("community").agg(F.min("vid").alias("rep"))
        comm = (
            rmap.join(seed_rep, "community")
            .select("vid", F.col("rep").alias("community"))
            .transform(cut_lineage)
        )
        work_edges = new_edges
        work_vols = new_vols
        work_nodes = new_vols.select("vid")
        refined.unpersist()

    both.unpersist()
    vols.unpersist()
    if output_assign is None:  # level-0 DECREASE is impossible; safety
        output_assign = start_comm
    if seed_reverse is not None:
        # map representative community ids back to the user's seed labels
        # (SeedCommunityManager.mapToSeed); deeper-level representatives
        # that never had a seed keep their id
        output_assign = output_assign.join(seed_reverse, "community", "left").select(
            "vid", F.coalesce("seed_label", "community").alias("community")
        )
    return LeidenResult(
        communities=output_assign.select("vid", "community"),
        ran_levels=ran_levels,
        modularities=mods,
        modularity=modularity,
        did_converge=did_converge,
        dendrogram=dendrogram if include_intermediate else None,
    )
