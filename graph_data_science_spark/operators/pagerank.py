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

One state machine, two message kernels. `page_rank` owns everything but
the message step: state0, the ArticleRank denominator, personalization,
the `normalized` dangling-mass term, the update, the stats, convergence,
the scaler and the result. `backend` picks only the function that turns
senders(vid, contrib) into msgs(vid, msg_sum), and the cached input it
reads:
  backend="sql" (pure JVM / whole-stage codegen): `sql_messages` over
    the edge table `edges_by_source` hash-partitions once.
  backend="csr": `plans/csr.py:csr_messages` over `build_csr_blocks`,
    a cogrouped numpy SpMV per CSR block — the north-rule hot path.

Spark plan per superstep (backend="sql"), one job of two stages:
  senders = state.filter(will_send)            # vote-bits as a filter
  msgs    = senders ⋈ edges ON vid = src       # co-partitioned merge join:
                                               # no Exchange, no Sort, no
                                               # broadcast on either side
            .repartition(dst)                  # raw (dst, m) shuffle
            .groupBy(dst).sum(delta/deg * w)
  state'  = state left-join msgs, update (rank, delta, halted, will_send)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import partial
from typing import Any, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, PregelResult, cache_on
from graph_data_science_spark.operators.scaling import apply_scaler
from graph_data_science_spark.plans.graph import Graph
from graph_data_science_spark.plans.lineage import cut_lineage


@dataclass
class CentralityResult:
    scores: DataFrame  # (vid, score)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def edges_by_source(graph: Graph) -> DataFrame:
    """The sql backend's cached input: (e_src, e_dst, weight), hash-
    partitioned + sorted on e_src. The cached InMemoryRelation preserves
    outputPartitioning/outputOrdering, and so does the engine's
    checkpointed state on vid, so under the engine's loop conf (no
    auto-broadcast) every superstep's senders ⋈ edges is a co-partitioned
    sort-merge join: no Exchange and no Sort on either input. At 10^9+
    edges this is the difference between shuffling (or broadcasting) the
    edge table per superstep and never moving it again. The caller
    unpersists it."""
    return cache_on(
        graph.edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"), "weight"),
        "e_src",
    )


def sql_messages(edges: DataFrame, senders: DataFrame, weighted: bool) -> DataFrame:
    """senders(vid, contrib) -> msgs(vid, msg_sum) over `edges_by_source`.

    Map-side partial aggregation ("combiner") is a LOSS for this shuffle
    shape: each map partition sees ~all destination vids, so the partial
    hash table has ~|V| entries per task — cache-hostile and barely
    deduplicating (measured: aggregate task CPU inflates 2.6x from 8->32
    local cores). Shuffling the raw (dst, m) pairs instead moves a bit
    more data but both partial+final aggs then run post-exchange over
    |V|/P keys per task (cache-resident).
    """
    n_part = int(senders.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    w = F.col("weight") if weighted else F.lit(1.0)
    return (
        senders.select(F.col("vid").alias("e_src"), "contrib")
        .join(edges, "e_src")
        .select(F.col("e_dst").alias("vid"), (F.col("contrib") * w).alias("m"))
        .repartition(n_part, "vid")
        .groupBy("vid")
        .agg(F.sum("m").alias("msg_sum"))
    )


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

    dangling_ids = None
    n_nodes = None
    if normalized:
        dangling_ids = deg.filter(F.col("degree") <= 0).select("vid")
        dangling_ids.persist()
        n_nodes = graph.nodes.count()

    if backend == "csr":
        # imported here so the sql backend never loads pandas
        from graph_data_science_spark.plans.csr import build_csr_blocks, csr_messages

        msg_input = build_csr_blocks(graph)
        messages = partial(csr_messages, msg_input, weighted=weighted)
    else:
        msg_input = edges_by_source(graph)
        messages = partial(sql_messages, msg_input, weighted=weighted)

    def step(state: DataFrame, s: int) -> DataFrame:
        msgs = messages(
            state.filter(F.col("will_send")).select("vid", (F.col("delta") / denom).alias("contrib"))
        )
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
    msg_input.unpersist()

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
    edges = edges_by_source(graph)

    def step(state: DataFrame, s: int) -> DataFrame:
        msgs = sql_messages(edges, state.select("vid", F.col("rank").alias("contrib")), weighted)
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
        # reference does masterCompute on the driver too.) The norm's
        # `collect` materializes `raw`; cut_lineage keeps it, so the
        # engine's job reads it instead of recomputing it.
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
    edges.unpersist()
    scores = apply_scaler(result.state.select("vid", F.col("rank").alias("score")), "score", scaler)
    return CentralityResult(scores, result.ran_iterations, result.did_converge, result.metrics)
