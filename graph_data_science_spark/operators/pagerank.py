"""PageRank / ArticleRank / Eigenvector — delta-push BSP on DataFrames.

Reference semantics (algo/src/main/java/org/neo4j/gds/pagerank/):
  - PageRankComputation.java:66-99 — init rank = alpha = 1-d (source
    nodes only under personalization, others 0); superstep k>=1:
    delta = d * sum(messages), rank += delta; send delta/degree to
    out-neighbors iff (delta > tolerance OR initial superstep) AND
    degree > 0, else voteToHalt. Messages sum-reduced (:102-104).
  - Weighted: message *= relationship weight (:107-109); degree =
    weighted degree = sum of POSITIVE weights
    (PageRankAlgorithmFactory.java:140-156, DegreeCentrality.java:132-133).
  - Dangling nodes: NO redistribution — degree 0 simply doesn't send
    (:92-94); scores are unnormalized (isolated node = 1-d = 0.15,
    PageRankTest.java:78-82). `normalized=True` adds an optional
    normalized mode (dangling mass redistributed; sum of scores = 1)
    which the reference does not have.
  - Defaults: tolerance=1e-7, maxIterations=20, dampingFactor=0.85
    (PageRankConfig.java:37-58).
  - ArticleRank: message denominator degree + averageDegree
    (ArticleRankComputation.java:81-105, avg degree
    PageRankAlgorithmFactory.java:46-55).
  - Convergence: no messages sent AND all nodes voted to halt
    (PartitionedComputer.java:87-93); a message reactivates a halted
    node (pregel/.../ComputeStep.java:71-75).

Spark plan per superstep (backend="sql", pure JVM / whole-stage codegen):
  senders = state.filter(will_send)            # vote-bits as a filter
  msgs    = senders ⋈ edges ON vid = src       # the gather/scatter join
            .groupBy(dst).sum(delta/deg * w)   # combiner = partial agg
  state'  = state left-join msgs, update (rank, delta, halted, will_send)
backend="csr" routes the same superstep through per-partition CSR blocks
with a vectorized numpy SpMV (see plans/csr.py) — the north-rule hot path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, PregelResult
from graph_data_science_spark.operators.scaling import apply_scaler
from graph_data_science_spark.plans.graph import Graph


@dataclass
class CentralityResult:
    scores: DataFrame  # (vid, score)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def page_rank(
    graph: Graph,
    damping_factor: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    source_nodes: Iterable[int] | None = None,
    weighted: bool = False,
    scaler: str | None = None,
    mode: str = "pagerank",  # pagerank | articlerank
    backend: str = "sql",  # sql | csr
    engine: PregelEngine | None = None,
    resume: bool = False,
    normalized: bool = False,
) -> CentralityResult:
    spark = graph.edges.sparkSession
    alpha = 1.0 - damping_factor
    sources = sorted(set(source_nodes)) if source_nodes else None

    if backend == "csr":
        from graph_data_science_spark.plans.csr import csr_page_rank

        return csr_page_rank(
            graph,
            damping_factor=damping_factor,
            tolerance=tolerance,
            max_iterations=max_iterations,
            source_nodes=sources,
            weighted=weighted,
            scaler=scaler,
            mode=mode,
            engine=engine,
            resume=resume,
        )

    deg = graph.degrees(weighted=weighted, direction="out")
    if mode == "articlerank":
        # ArticleRankComputation denominator: degree + average degree
        avg_degree = deg.agg(F.avg("degree")).collect()[0][0] or 0.0
        denom = F.col("deg") + F.lit(avg_degree)
    else:
        denom = F.col("deg")

    if sources is None:
        init_rank = F.lit(alpha)
    else:
        init_rank = F.when(F.col("vid").isin(sources), F.lit(alpha)).otherwise(F.lit(0.0))

    state0 = deg.select(
        "vid",
        F.col("degree").alias("deg"),
        init_rank.alias("rank"),
        init_rank.alias("delta"),
        F.lit(False).alias("halted"),
        # initial superstep: everyone with out-edges sends, regardless of
        # tolerance (PageRankComputation.java:91 `|| isInitialSuperstep`);
        # zero-valued messages are elided (they add nothing to sums and
        # nobody is halted yet, so reactivation is moot)
        ((F.col("degree") > 0) & (init_rank > 0)).alias("will_send"),
    )

    edges = graph.edges
    dangling_ids = None
    n_nodes = None
    if normalized:
        dangling_ids = deg.filter(F.col("degree") <= 0).select("vid")
        dangling_ids.persist()
        n_nodes = graph.nodes.count()

    msg_val = (F.col("contrib")) * (F.col("weight") if weighted else F.lit(1.0))
    # Pre-shuffle the edge table ONCE: hash-partitioned + sorted on the
    # join key, then cached. The cached InMemoryRelation preserves
    # outputPartitioning/outputOrdering, so every superstep's
    # senders ⋈ edges reuses it — only the (small) sender side shuffles.
    # At 10^9+ edges this is the difference between shuffling the edge
    # table per superstep and never shuffling it again.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_renamed = (
        edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"), "weight")
        .repartition(n_part, "e_src")
        .sortWithinPartitions("e_src")
        .persist()
    )

    # Map-side partial aggregation ("combiner") is a LOSS for this shuffle
    # shape: each map partition sees ~all destination vids, so the partial
    # hash table has ~|V| entries per task — cache-hostile and barely
    # deduplicating (measured: aggregate task CPU inflates 2.6x from 8->32
    # local cores). Shuffling the raw (dst, m) pairs instead moves a bit
    # more data but both partial+final aggs then run post-exchange over
    # |V|/P keys per task (cache-resident). Opt out with PR_MSG_COMBINE=1
    # for graphs whose in-degree skew makes the combiner win (hub-heavy).
    msg_combine = os.environ.get("PR_MSG_COMBINE", "0") == "1"

    def step(state: DataFrame, s: int) -> DataFrame:
        senders = state.filter(F.col("will_send")).select(
            F.col("vid").alias("e_src"), (F.col("delta") / denom).alias("contrib")
        )
        msgs_raw = senders.join(edges_renamed, "e_src").select(
            F.col("e_dst").alias("vid"), msg_val.alias("m")
        )
        if not msg_combine:
            msgs_raw = msgs_raw.repartition(n_part, "vid")
        msgs = msgs_raw.groupBy("vid").agg(F.sum("m").alias("msg_sum"))
        if normalized:
            # optional mode: redistribute dangling mass uniformly
            dangling_mass = (
                state.join(dangling_ids, "vid", "left_semi").agg(F.sum("delta")).collect()[0][0]
                or 0.0
            )
            base = dangling_mass / n_nodes
        else:
            base = 0.0
        joined = state.join(msgs, "vid", "left")
        computes = F.col("msg_sum").isNotNull() | ~F.col("halted")
        new_delta = F.when(
            computes, damping_factor * (F.coalesce(F.col("msg_sum"), F.lit(0.0)) + F.lit(base))
        ).otherwise(F.col("delta"))
        return joined.select(
            "vid",
            "deg",
            F.when(computes, F.col("rank") + new_delta).otherwise(F.col("rank")).alias("rank"),
            new_delta.alias("delta"),
            F.when(computes, ~(new_delta > tolerance)).otherwise(F.col("halted")).alias("halted"),
            (computes & (new_delta > tolerance) & (F.col("deg") > 0)).alias("will_send"),
        )

    def first_step(state: DataFrame, s: int) -> DataFrame:
        return state if s == 0 else step(state, s)

    eng = engine or PregelEngine(spark)
    # ran_iterations parity: superstep 0 only sends (no vote), counted as
    # one iteration; we fold it in by treating state0's will_send flags as
    # the output of superstep 0.
    stats_exprs = [
        F.sum(F.col("will_send").cast("long")).alias("sent"),
        F.sum((~F.col("halted")).cast("long")).alias("active"),
        F.sum(F.abs("delta")).alias("sum_delta"),
        F.max(F.abs("delta")).alias("max_delta"),
    ]

    result = eng.run(
        initial_state=state0,
        step=first_step,
        stats_exprs=stats_exprs,
        converged=lambda st: st["sent"] == 0 and st["active"] == 0,
        max_iterations=max_iterations,
        resume=resume,
    )
    if dangling_ids is not None:
        dangling_ids.unpersist()
    edges_renamed.unpersist()

    scores = result.state.select("vid", F.col("rank").alias("score"))
    if normalized:
        total = scores.agg(F.sum("score")).collect()[0][0]
        scores = scores.select("vid", (F.col("score") / F.lit(total)).alias("score"))
    scores = apply_scaler(scores, "score", scaler)
    return CentralityResult(
        scores=scores,
        ran_iterations=result.ran_iterations,
        did_converge=result.did_converge,
        metrics=result.metrics,
    )


def article_rank(graph: Graph, **kwargs) -> CentralityResult:
    return page_rank(graph, mode="articlerank", **kwargs)


def eigenvector(
    graph: Graph,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    scaler: str | None = None,
    engine: PregelEngine | None = None,
) -> CentralityResult:
    """Eigenvector centrality: power iteration with L2 normalization per
    superstep in masterCompute (EigenvectorComputation.java:96-160).

    Uses the (A+I)x formulation implicitly via rank' = sum of incoming
    normalized ranks; converged when max |rank' - rank| <= tolerance.
    """
    spark = graph.edges.sparkSession
    n = graph.node_count()
    init = 1.0 / (n ** 0.5) if n else 0.0
    deg = graph.degrees(weighted=weighted, direction="out")
    state0 = deg.select(
        "vid",
        F.col("degree").alias("deg"),
        F.lit(init).alias("rank"),
        F.lit(float("inf")).alias("delta"),
    )
    edges_renamed = graph.edges.select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst"), "weight"
    )
    w = F.col("weight") if weighted else F.lit(1.0)
    from graph_data_science_spark.plans.lineage import cut_lineage

    def step(state: DataFrame, s: int) -> DataFrame:
        msgs = (
            state.select(F.col("vid").alias("e_src"), "rank")
            .join(edges_renamed, "e_src")
            .select(F.col("e_dst").alias("vid"), (F.col("rank") * w).alias("m"))
            .groupBy("vid")
            .agg(F.sum("m").alias("msg_sum"))
        )
        raw = state.join(msgs, "vid", "left").select(
            "vid",
            "deg",
            "rank",
            # (A + I) x: self rank + incoming, keeps disconnected masses stable
            (F.col("rank") + F.coalesce(F.col("msg_sum"), F.lit(0.0))).alias("new_raw"),
        )
        # masterCompute L2 normalization (EigenvectorComputation.java:116-160):
        # one driver-side aggregate per superstep. (A broadcast scalar
        # subquery would avoid the round-trip but deadlocks when the
        # engine materializes the persisted state — BroadcastExchange
        # inside an InMemoryRelation build; the collect is cheap and the
        # reference does masterCompute on the driver too.) cut_lineage
        # instead of persist: the norm aggregate forces a materialization
        # anyway, and the cut keeps the plan from growing 2^k between the
        # engine's checkpoint truncations (the HITS lesson).
        raw = cut_lineage(raw)
        norm = raw.agg(
            F.sqrt(F.sum(F.col("new_raw") * F.col("new_raw")))
        ).collect()[0][0] or 1.0
        return raw.select(
            "vid",
            "deg",
            (F.col("new_raw") / F.lit(norm)).alias("rank"),
            F.abs(F.col("new_raw") / F.lit(norm) - F.col("rank")).alias("delta"),
        )

    eng = engine or PregelEngine(spark)
    result = eng.run(
        initial_state=state0,
        step=step,
        stats_exprs=[F.max("delta").alias("max_delta"), F.sum("delta").alias("sum_delta")],
        converged=lambda st: (st["max_delta"] or 0.0) <= tolerance,
        max_iterations=max_iterations,
    )
    scores = apply_scaler(result.state.select("vid", F.col("rank").alias("score")), "score", scaler)
    return CentralityResult(scores, result.ran_iterations, result.did_converge, result.metrics)
