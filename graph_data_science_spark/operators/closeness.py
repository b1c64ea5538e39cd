"""Closeness and harmonic centrality — sampled multi-source variant.

Reference: algo/src/main/java/org/neo4j/gds/closeness/ (exact, all-pairs
via MS-BFS) and algo/.../harmonic/ (HarmonicCentrality). Exact all-pairs
is O(n·m); the standard scalable estimator (Eppstein-Wang, public
literature) samples k pivot nodes and scales — implemented here.

Spark formulation: ALL k pivots advance in ONE BSP fixpoint — the state
carries an array<double> of k distances and the message combine is an
elementwise min (zip_with), so the superstep count is the graph
diameter, not diameter × k. Distances are measured TO each sampled
pivot over REVERSED edges, which yields d(v, pivot) for centrality of v
under NATURAL orientation.

  harmonic(v)  ≈ (n-1)/k · Σ_pivots 1/d(v, p)        (d>0 terms)
  closeness(v) ≈ reachable_ratio · k / Σ_pivots d(v, p)   (Wasserman-Faust
                 style correction left to the caller; raw sums returned)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph

_INF = float("inf")


def _sample_pivots(graph: Graph, k: int, seed: int) -> list[int]:
    """Deterministic hash-ranked sample of k node ids."""
    rows = (
        graph.nodes.select("vid")
        .orderBy(F.xxhash64(F.lit(seed), F.col("vid")))
        .limit(k)
        .collect()
    )
    return [r["vid"] for r in rows]


def multi_source_hop_distances(
    graph: Graph,
    sources: list[int],
    max_iterations: int = 100,
    engine: PregelEngine | None = None,
    reverse: bool = True,
) -> DataFrame:
    """(vid, dists: array<double>) — hop distance from vid TO each source
    (reverse=True) or FROM each source (reverse=False). All sources in
    one fixpoint; unreachable = Infinity."""
    spark = graph.edges.sparkSession
    k = len(sources)
    if reverse:
        edges = graph.edges.select(F.col("dst").alias("e_src"), F.col("src").alias("e_dst"))
    else:
        edges = graph.edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
    edges = cache_on(edges, "e_src")

    # O(1)-size init expression regardless of k (a k-wide literal
    # F.array(*[F.when...]) costs Catalyst seconds of analysis+codegen per
    # superstep at wide k — the betweenness lesson): broadcast source-index
    # join + transform(sequence)
    src_df = spark.createDataFrame(
        [(int(s), i) for i, s in enumerate(sources)], "vid long, _src_idx int"
    )
    init = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.when(i == F.col("_src_idx"), F.lit(0.0)).otherwise(F.lit(_INF)),
    )
    state0 = (
        graph.nodes.select("vid")
        .join(F.broadcast(src_df), "vid", "left")
        .select("vid", init.alias("dists"), F.lit(True).alias("changed"))
    )

    def step(state, s):
        senders = state.filter(F.col("changed")).select(
            F.col("vid").alias("e_src"), F.col("dists").alias("sd")
        )
        # candidate per edge = sender dists + 1; combine per dst via
        # elementwise-min fold over collected candidate arrays
        cand = senders.join(edges, "e_src").select(
            F.col("e_dst").alias("vid"),
            F.transform("sd", lambda d: d + 1.0).alias("cd"),
        )
        inf_arr = F.array_repeat(F.lit(_INF), k)
        msgs = cand.groupBy("vid").agg(
            F.aggregate(
                F.collect_list("cd"), inf_arr,
                lambda acc, v: F.zip_with(acc, v, lambda a, b: F.least(a, b)),
            ).alias("cand_min")
        )
        joined = state.join(msgs, "vid", "left")
        new_dists = F.when(
            F.col("cand_min").isNotNull(),
            F.zip_with(F.col("dists"), F.col("cand_min"), lambda a, b: F.least(a, b)),
        ).otherwise(F.col("dists"))
        improved = F.when(
            F.col("cand_min").isNotNull(),
            F.exists(
                F.zip_with(new_dists, F.col("dists"), lambda a, b: a < b), lambda x: x
            ),
        ).otherwise(F.lit(False))
        return joined.select("vid", new_dists.alias("dists"), improved.alias("changed"))

    eng = engine or PregelEngine(spark)
    res = eng.run(
        initial_state=state0, step=step,
        stats_exprs=[F.sum(F.col("changed").cast("long")).alias("changed_count")],
        converged=lambda st: (st["changed_count"] or 0) == 0,
        max_iterations=max_iterations,
    )
    edges.unpersist()
    return res.state.select("vid", "dists")


@dataclass
class CentralitySample:
    scores: DataFrame  # (vid, score)
    pivots: list[int]


def harmonic_centrality(
    graph: Graph, sample_size: int = 32, seed: int = 42,
    max_iterations: int = 100, engine: PregelEngine | None = None,
    pivots: list[int] | None = None,
) -> CentralitySample:
    """Sampled harmonic centrality, normalized by (n-1) like the
    reference's HarmonicCentrality (mean of inverse distances).
    `pivots` overrides the hash sample with an explicit pivot set
    (deterministic across engines — the oracle-gated configuration)."""
    if pivots is None:
        n = graph.node_count()
        pivots = _sample_pivots(graph, min(sample_size, n), seed)
    k = len(pivots)
    d = multi_source_hop_distances(graph, pivots, max_iterations, engine)
    inv_sum = F.aggregate(
        F.col("dists"), F.lit(0.0),
        lambda acc, x: acc + F.when((x > 0) & (x != _INF), 1.0 / x).otherwise(0.0),
    )
    # scale sample mean up to the population: (n-1)/k · Σ 1/d, then
    # normalize by (n-1) -> Σ 1/d / k
    scores = d.select("vid", (inv_sum / F.lit(float(k))).alias("score"))
    return CentralitySample(scores=scores, pivots=pivots)


def closeness_centrality(
    graph: Graph, sample_size: int = 32, seed: int = 42,
    max_iterations: int = 100, engine: PregelEngine | None = None,
    pivots: list[int] | None = None,
) -> CentralitySample:
    """Sampled closeness: reachable_count / Σ d over reachable pivots
    (Wasserman-Faust component correction applied within the sample).
    `pivots` overrides the hash sample with an explicit pivot set."""
    if pivots is None:
        n = graph.node_count()
        pivots = _sample_pivots(graph, min(sample_size, n), seed)
    d = multi_source_hop_distances(graph, pivots, max_iterations, engine)
    finite = F.filter(F.col("dists"), lambda x: (x > 0) & (x != _INF))
    total = F.aggregate(finite, F.lit(0.0), lambda acc, x: acc + x)
    cnt = F.size(finite)
    scores = d.select(
        "vid",
        F.when(cnt > 0, cnt.cast("double") / total).otherwise(F.lit(0.0)).alias("score"),
    )
    return CentralitySample(scores=scores, pivots=pivots)
