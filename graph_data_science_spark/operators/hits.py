"""HITS (hubs & authorities) — gds.hits parity.

Reference: the reference ships HITS as a Pregel computation
(alpha/.../HitsComputation via `gds.alpha.hits.*`, listed in
OpenGdsProcedureSmokeTest.java). Semantics: iterate
    auth(v) = Σ_{u→v} hub(u);   hub(u) = Σ_{u→v} auth(v)
with global L2 normalization of each vector per iteration
(masterCompute), until max change <= tolerance or hitsIterations.

Spark plan per iteration: two gather joins (one per direction), each a
co-partitioned merge join against the edge table cached on that join's
key, + two global L2 aggregates (driver-side masterCompute, like the
reference).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph
from graph_data_science_spark.plans.lineage import cut_lineage


@dataclass
class HitsResult:
    scores: DataFrame  # (vid, hub, authority)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def hits(
    graph: Graph,
    hits_iterations: int = 20,
    tolerance: float = 1e-7,
    engine: PregelEngine | None = None,
) -> HitsResult:
    spark = graph.edges.sparkSession
    # one cached copy per gather key, so both joins are co-partitioned
    # merge joins and neither step shuffles the edge table
    by_src = cache_on(graph.edges.select("src", "dst"), "src")
    by_dst = cache_on(graph.edges.select("src", "dst"), "dst")

    state0 = graph.nodes.select(
        "vid", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"),
        F.lit(float("inf")).alias("delta"),
    )

    # Each norm's `collect` materializes the join under it; cut_lineage
    # keeps that result, so the next norm and the engine's job read it
    # instead of recomputing it.
    def step(state: DataFrame, s: int) -> DataFrame:
        hubs = state.select(F.col("vid").alias("src"), F.col("hub").alias("h"))
        auth_raw = (
            by_src.join(hubs, "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("h").alias("auth_raw"))
        )
        with_auth = cut_lineage(
            state.join(auth_raw, "vid", "left").withColumn(
                "auth_raw", F.coalesce("auth_raw", F.lit(0.0))
            )
        )
        # masterCompute: L2 normalize authorities
        a_norm = with_auth.agg(
            F.sqrt(F.sum(F.col("auth_raw") * F.col("auth_raw")))
        ).collect()[0][0] or 1.0
        with_auth = with_auth.withColumn("auth_new", F.col("auth_raw") / F.lit(a_norm))

        auths = with_auth.select(F.col("vid").alias("dst"), F.col("auth_new").alias("a"))
        hub_raw = (
            by_dst.join(auths, "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("a").alias("hub_raw"))
        )
        combined = cut_lineage(
            with_auth.join(hub_raw, "vid", "left").withColumn(
                "hub_raw", F.coalesce("hub_raw", F.lit(0.0))
            )
        )
        h_norm = combined.agg(
            F.sqrt(F.sum(F.col("hub_raw") * F.col("hub_raw")))
        ).collect()[0][0] or 1.0
        return combined.select(
            "vid",
            (F.col("hub_raw") / F.lit(h_norm)).alias("hub"),
            F.col("auth_new").alias("auth"),
            F.greatest(
                F.abs(F.col("hub_raw") / F.lit(h_norm) - F.col("hub")),
                F.abs(F.col("auth_new") - F.col("auth")),
            ).alias("delta"),
        )

    eng = engine or PregelEngine(spark)
    result = eng.run(
        initial_state=state0,
        step=step,
        stats_exprs=[F.max("delta").alias("max_delta")],
        converged=lambda st: (st["max_delta"] or 0.0) <= tolerance,
        max_iterations=hits_iterations,
    )
    by_src.unpersist()
    by_dst.unpersist()
    return HitsResult(
        scores=result.state.select("vid", "hub", F.col("auth").alias("authority")),
        ran_iterations=result.ran_iterations,
        did_converge=result.did_converge,
        metrics=result.metrics,
    )
