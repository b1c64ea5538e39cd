"""Weakly connected components — iterative min-label propagation.

Reference: algo/src/main/java/org/neo4j/gds/wcc/Wcc.java — wait-free
parallel union-find with path halving and union-by-min
(HugeAtomicDisjointSetStruct.java:110-190, "the smaller community ID
wins"). Shared-memory CAS does not port to Spark; the mandated Spark
formulation is the reference's own Pregel example
(examples/pregel-example/.../cc/ConnectedComponentsPregel.java:64-104):
    comp := min(comp, min(neighbor components)), send only on change,
over the undirected edge view. At the fixed point comp = min vid in the
component — bit-exact equality with union-by-min output.

Options mirrored from WccBaseConfig.java:30-46:
  - threshold: union only edges with weight > threshold
  - seed_col: incremental seeding — seeded components keep their seed id;
    unseeded components get ids > maxSeed
    (HugeAtomicDisjointSetStruct.java:129-146), reproduced post-hoc via
    dense_rank over unseeded representatives.

Scale notes: each superstep is one equi-join state⋈edges (a co-partitioned
merge join: the cached edges and the checkpointed state are both hashed
on the key) + a min-combine groupBy — Catalyst does map-side partial
min so hub vertices receive at most one candidate per shuffle partition
(no skew blow-up). Convergence in O(diameter) supersteps, or O(log
diameter) with the star_contraction option (pointer jumping
comp := comp(comp), implemented in wcc() below) — same fixed point,
fewer supersteps on long-chain graphs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph, Orientation


@dataclass
class WccResult:
    components: DataFrame  # (vid, component)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def wcc(
    graph: Graph,
    threshold: float | None = None,
    seed_col: str | None = None,
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
    resume: bool = False,
    star_contraction: bool = False,
) -> WccResult:
    """star_contraction=True adds the pointer-jumping shortcut
    comp := comp(comp(v)) after each propagation step (the classic
    star-contraction / Afforest-style shortcutting — reference context
    SampledStrategy.java:50-150): label chains halve per superstep, so a
    diameter-D path converges in O(log D) supersteps instead of O(D).
    The fixed point (comp = min vid in component) is IDENTICAL either
    way; only ran_iterations changes. Off by default for superstep-count
    parity with the reference's Pregel example. Cost: one extra
    state-self-join per superstep — worth it on long-chain graphs, noise
    on power-law ones."""
    spark = graph.edges.sparkSession

    edges = graph.edges
    if threshold is not None:
        # WccBaseConfig.java:30-46: union only edges with weight > threshold
        edges = edges.filter(F.col("weight") > threshold)
    # undirected view: propagation must flow both ways regardless of the
    # stored orientation (WCC treats the graph as undirected)
    if graph.orientation != Orientation.UNDIRECTED:
        edges = edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    else:
        edges = edges.select("src", "dst")
    # co-partition + sort once, reuse across supersteps (see pagerank.py)
    edges = cache_on(edges, "src")

    state0 = graph.nodes.select(
        "vid", F.col("vid").alias("comp"), F.lit(True).alias("changed")
    )

    edges_renamed = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

    def step(state: DataFrame, s: int) -> DataFrame:
        # senders: only nodes whose component changed last superstep
        # (ConnectedComponentsPregel.java:88-96 sends only on change)
        senders = state.filter(F.col("changed")).select(F.col("vid").alias("e_src"), "comp")
        msgs = (
            senders.join(edges_renamed, "e_src")
            .groupBy(F.col("e_dst").alias("vid"))
            .agg(F.min("comp").alias("min_nbr"))
        )
        joined = state.join(msgs, "vid", "left")
        new_comp = F.least(F.col("comp"), F.coalesce(F.col("min_nbr"), F.col("comp")))
        upd = joined.select(
            "vid",
            new_comp.alias("comp"),
            (new_comp < F.col("comp")).alias("changed"),
        )
        if not star_contraction:
            return upd
        # pointer jumping: comp := comp(comp(v)). comp(v) is always a
        # node id (the min vid seen so far), so the self-join hits; a
        # node whose label shortcuts must re-send next superstep.
        rep = upd.select(F.col("vid").alias("comp"), F.col("comp").alias("rep_comp"))
        short = F.least(F.col("comp"), F.coalesce(F.col("rep_comp"), F.col("comp")))
        return upd.join(rep, "comp", "left").select(
            "vid",
            short.alias("comp"),
            (F.col("changed") | (short < F.col("comp"))).alias("changed"),
        )

    eng = engine or PregelEngine(spark)
    result = eng.run(
        initial_state=state0,
        step=step,
        stats_exprs=[F.sum(F.col("changed").cast("long")).alias("changed_count")],
        converged=lambda st: (st["changed_count"] or 0) == 0,
        max_iterations=max_iterations,
        resume=resume,
    )
    comps = result.state.select("vid", F.col("comp").alias("component"))

    if seed_col is not None:
        # HugeAtomicDisjointSetStruct.java:129-146 — seeded components keep
        # the seed id; unseeded components get maxSeed + running counter.
        seeds = graph.nodes.select("vid", F.col(seed_col).alias("seed"))
        with_seed = comps.join(seeds, "vid", "left")
        # representative seed per component = min seed present in it
        rep = (
            with_seed.groupBy("component")
            .agg(F.min("seed").alias("comp_seed"))
        )
        max_seed = seeds.agg(F.max("seed")).collect()[0][0]
        max_seed = -1 if max_seed is None else max_seed
        from graph_data_science_spark.plans.ranking import distributed_row_index

        # maxSeed + running counter (1-based), via two-phase distributed
        # rank — component count can be O(n), no single-partition window
        unseeded = distributed_row_index(
            rep.filter(F.col("comp_seed").isNull()), ["component"], index_col="_idx"
        ).withColumn("new_id", F.col("_idx") + F.lit(max_seed + 1))
        rep = rep.join(unseeded.select("component", "new_id"), "component", "left").select(
            "component", F.coalesce("comp_seed", "new_id").alias("final_id")
        )
        comps = (
            with_seed.join(rep, "component")
            .select("vid", F.col("final_id").alias("component"))
        )

    edges.unpersist()
    return WccResult(
        components=comps,
        ran_iterations=result.ran_iterations,
        did_converge=result.did_converge,
        metrics=result.metrics,
    )


def wcc_stats(result: WccResult) -> DataFrame:
    """Component sizes (gds.wcc.stats component distribution,
    CommunityCompanion.java:42+)."""
    return result.components.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
