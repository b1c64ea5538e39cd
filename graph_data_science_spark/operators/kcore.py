"""K-core decomposition — gds.kcore analogue.

Reference: algo/src/main/java/org/neo4j/gds/kcore/KCoreDecomposition.java
(peeling-based coreValue per node, undirected).

Spark formulation: the distributed h-operator (Montresor, De Pellegrini,
Miorandi, "Distributed k-core decomposition", IEEE TPDS 2013 — public
algorithm): every node holds a coreness upper bound c(v), initialized to
its degree; each round c(v) := H(c(u) for u in N(v)), where H is the
h-index (max k such that ≥ k neighbors have bound ≥ k). Bounds are
monotonically non-increasing and converge to exact coreness. Each round
is one join + one window — BSP-friendly, no shared memory.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph, Orientation


@dataclass
class KCoreResult:
    cores: DataFrame  # (vid, core)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def k_core_decomposition(
    graph: Graph,
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
) -> KCoreResult:
    spark = graph.edges.sparkSession
    e = graph.edges
    if graph.orientation != Orientation.UNDIRECTED:
        e = e.select("src", "dst").unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    else:
        e = e.select("src", "dst")
    # cached on the gather key (dst), so the step's edges ⋈ state is a
    # co-partitioned merge join (the distinct alone hashes on (src, dst))
    e = cache_on(e.filter(F.col("src") != F.col("dst")).distinct(), "dst")
    edges_renamed = e.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

    deg = e.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("core"))
    state0 = (
        graph.nodes.select("vid")
        .join(deg, "vid", "left")
        .select("vid", F.coalesce("core", F.lit(0)).alias("core"), F.lit(True).alias("changed"))
    )

    win = Window.partitionBy("e_src").orderBy(F.desc("nbr_core"))

    def step(state: DataFrame, s: int) -> DataFrame:
        nbr = state.select(F.col("vid").alias("e_dst"), F.col("core").alias("nbr_core"))
        ranked = (
            edges_renamed.join(nbr, "e_dst")
            .withColumn("rn", F.row_number().over(win))
            # h-index: max over sorted-desc neighbors of min(rank, value)
            .groupBy(F.col("e_src").alias("vid"))
            .agg(F.max(F.least(F.col("rn"), F.col("nbr_core"))).alias("h"))
        )
        joined = state.join(ranked, "vid", "left")
        new_core = F.least(F.col("core"), F.coalesce(F.col("h"), F.col("core")))
        return joined.select(
            "vid", new_core.alias("core"), (new_core < F.col("core")).alias("changed")
        )

    eng = engine or PregelEngine(spark)
    result = eng.run(
        initial_state=state0,
        step=step,
        stats_exprs=[F.sum(F.col("changed").cast("long")).alias("changed_count")],
        converged=lambda st: (st["changed_count"] or 0) == 0,
        max_iterations=max_iterations,
    )
    e.unpersist()
    return KCoreResult(
        cores=result.state.select("vid", "core"),
        ran_iterations=result.ran_iterations,
        did_converge=result.did_converge,
        metrics=result.metrics,
    )


def k_core_subgraph(graph: Graph, k: int, **kwargs) -> Graph:
    """Subgraph induced by nodes with coreness >= k."""
    from dataclasses import replace

    cores = k_core_decomposition(graph, **kwargs).cores
    keep = cores.filter(F.col("core") >= k).select("vid")
    kept_nodes = graph.nodes.join(keep, "vid", "left_semi")
    e = (
        graph.edges.join(keep.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(keep.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst", "weight")
    )
    return replace(graph, nodes=kept_nodes, edges=e)
