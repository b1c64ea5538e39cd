"""Random walks and random-walk subgraph sampling.

Reference surface:
  - gds.randomWalk (algo/.../walking/RandomWalk.java — node2vec-style
    walks with return/in-out factors): `random_walks` (uniform) and
    `biased_random_walks` (the (p, q) walks node2vec trains on)
  - gds.graph.sample.rwr / gds.graph.sample.cnarw
    (graph-sampling/.../samplers/rw/rwr, rw/cnarw — random walk with
    restart, plain or common-neighbor weighted): the subgraph induced by
    every node a restarting walker stood on

Spark-first: all four samplers run one walk step (`_walk`) on an
in-memory PregelEngine — one job per step, the lineage cut by the engine,
under pregel.loop_conf. Walker state is a DataFrame (walk_id, start, cur,
path, stopped); each step left-joins it to the adjacency, cached on `cur`
so the join reads it in place, and moves every walker to its sampler's
pick, appending the pick to `path` (a null pick stops the walker). A run
ends when no walker is active or after walk_length steps. A sampler
supplies only its pick expression for step s; every coin is a pure hash
of (seed, walk_id, s) — deterministic at any parallelism, no RNG state.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.influence import _md5_u32
from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph


def _walkers(starts: DataFrame, walks_per_node: int, *extra: Column) -> DataFrame:
    """(walk_id '<start>_<w>', start, cur, path, stopped, *extra):
    walks_per_node walkers per start vid, each standing on its start."""
    return starts.select(
        F.col("vid").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("w"),
    ).select(
        F.concat_ws("_", F.col("start"), F.col("w")).alias("walk_id"),
        "start",
        F.col("start").alias("cur"),
        F.array(F.col("start")).alias("path"),
        F.lit(False).alias("stopped"),
        *extra,
    )


def _walk(
    adj: DataFrame,  # (cur, ...) one row per node with out-edges
    walkers: DataFrame,
    pick: Callable[[int], Column],
    walk_length: int,
    carry: tuple[Column, ...] = (),
) -> DataFrame:
    """Final walker state after up to walk_length steps, run as one step
    on an in-memory PregelEngine. pick(s) is the next node at step s over
    a walker's row left-joined to its adjacency row (null adjacency
    columns at a sink); null stops the walker. `carry` re-derives the
    walker's extra columns over the same row."""
    adj = cache_on(adj, "cur")

    def step(state: DataFrame, s: int) -> DataFrame:
        nxt = F.when(~F.col("stopped"), pick(s))
        return state.join(adj, "cur", "left").select(
            "walk_id",
            "start",
            F.coalesce(nxt, F.col("cur")).alias("cur"),
            F.when(nxt.isNotNull(), F.concat(F.col("path"), F.array(nxt)))
            .otherwise(F.col("path"))
            .alias("path"),
            (F.col("stopped") | nxt.isNull()).alias("stopped"),
            *carry,
        )

    result = PregelEngine(adj.sparkSession).run(
        initial_state=walkers,
        step=step,
        stats_exprs=[F.sum((~F.col("stopped")).cast("long")).alias("active")],
        converged=lambda st: (st["active"] or 0) == 0,
        max_iterations=walk_length,
    )
    adj.unpersist()
    return result.state


def _xxhash(seed: int, s: int) -> Column:
    return F.abs(F.xxhash64(F.lit(seed), F.col("walk_id"), F.lit(s)))


def _unit(draw: Column) -> Column:
    """draw mapped to [0, 1) in 2^-30 steps."""
    return F.pmod(draw, F.lit(1 << 30)).cast("double") / F.lit(float(1 << 30))


def _coins(coin: str, tag: str, seed: int, s: int, p: float) -> tuple[Column, Column]:
    """(restart, draw) for step s: restart holds with probability p; draw
    is a non-negative long. coin="md5" is the engine-portable family the
    DuckDB oracles replay (see operators/influence._md5_u32)."""
    if coin == "md5":
        def md5(kind: str) -> Column:
            return _md5_u32(F.lit(tag), F.lit(kind), F.lit(str(seed)), F.col("walk_id"), F.lit(str(s)))

        return md5("r") < F.lit(int(p * (1 << 32))), md5("i")
    restart = F.pmod(_xxhash(seed + 1, s), F.lit(1 << 30)) < int(p * (1 << 30))
    return restart, _xxhash(seed, s)


def _uniform_pick(draw: Column) -> Column:
    """nbrs[draw mod deg]; null at a sink."""
    return F.when(
        F.col("deg") > 0,
        F.element_at(F.col("nbrs"), (F.pmod(draw, F.col("deg")) + 1).cast("int")),
    )


def _roulette(nbrs: str, r: Column, wt: Callable[[Column], Column]) -> Column:
    """Cumulative-weight pick: the dst of the first element x of `nbrs`
    at which the running remainder of r (in [0, total weight)) falls
    below wt(x) — the deterministic analogue of roulette sampling."""
    none = F.lit(None).cast("long").alias("pick")
    return F.aggregate(
        nbrs,
        F.struct(r.alias("rem"), none),
        lambda acc, x: F.when(acc["pick"].isNotNull(), acc)
        .when(acc["rem"] < wt(x), F.struct(acc["rem"].alias("rem"), x["dst"].alias("pick")))
        .otherwise(F.struct((acc["rem"] - wt(x)).alias("rem"), none)),
    )["pick"]


def _uniform_adjacency(graph: Graph) -> DataFrame:
    """(cur, nbrs sorted array, deg)."""
    return (
        graph.edges.groupBy(F.col("src").alias("cur"))
        .agg(F.array_sort(F.collect_list("dst")).alias("nbrs"))
        .withColumn("deg", F.size("nbrs"))
    )


def _induced_sample(graph: Graph, walks: DataFrame, suffix: str) -> Graph:
    """The subgraph induced by every node on a walker's path."""
    visited = walks.select(F.explode("path").alias("vid")).distinct()
    kept_nodes = graph.nodes.join(visited, "vid", "left_semi")
    kept_edges = (
        graph.edges.join(visited.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(visited.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .select("src", "dst", "weight")
    )
    return replace(graph, nodes=kept_nodes, edges=kept_edges, name=f"{graph.name or 'g'}_{suffix}")


def random_walks(
    graph: Graph,
    walks_per_node: int = 1,
    walk_length: int = 5,
    seed: int = 42,
    start_nodes: DataFrame | None = None,
) -> DataFrame:
    """(walk_id, start, path array<long>). Walks stop early at sinks.

    Uniform next-neighbor choice: index = xxhash64(seed, walk_id, step)
    mod degree — the deterministic analogue of the reference's seeded
    uniform sampler.
    """
    walkers = _walkers((start_nodes or graph.nodes).select("vid"), walks_per_node)
    walks = _walk(
        _uniform_adjacency(graph), walkers, lambda s: _uniform_pick(_xxhash(seed, s)), walk_length
    )
    return walks.select("walk_id", "start", "path")


def sample_cnarw(
    graph: Graph,
    start_nodes: DataFrame,
    restart_probability: float = 0.1,
    walk_length: int = 10,
    walks_per_node: int = 5,
    seed: int = 42,
    coin: str = "xxhash64",
) -> Graph:
    """Common-neighbor-aware random walk sampling (gds.graph.sample.cnarw,
    graph-sampling/.../samplers/rw/cnarw — CNARW, Li et al., public
    literature): like RWR, but the next-hop choice is BIASED toward
    neighbors sharing many common neighbors with the current node
    (weight 1 + |N(cur) ∩ N(next)|), which steers walks into dense
    clusters instead of escaping through bridges.

    The per-edge common-neighbor counts are precomputed once with the
    same shared-neighbor self-join node_similarity uses (bounded by
    Σ_c indeg(c)²; cap hubs upstream via filter_edges for skewed
    graphs). The biased pick folds a deterministic hash over the
    cumulative weights — no RNG state, partition-invariant.

    coin="md5" swaps both per-step coins for the engine-portable md5
    family AND switches the roulette to INTEGER arithmetic (the 1+cn
    weights are integral: r = md5 % total weight, integer
    remaining-weight fold), so the graph_sample_cnarw DuckDB oracle
    replays every pick exactly — integer compares cannot diverge
    between the fold and the oracle's prefix-sum formulation the way a
    float subtraction chain can."""
    # common neighbors per existing edge (u,v): count of w with u->w, v->w
    e = graph.edges.select("src", "dst").distinct()
    l1 = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    l2 = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    cn = (
        l1.join(l2, "w")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    weighted_adj = (
        e.join(
            cn.select(F.col("u").alias("src"), F.col("v").alias("dst"), "cn"),
            ["src", "dst"], "left",
        )
        .select(
            "src", "dst", (F.lit(1.0) + F.coalesce("cn", F.lit(0))).alias("wt")
        )
        .groupBy(F.col("src").alias("cur"))
        .agg(
            F.array_sort(F.collect_list(F.struct("dst", "wt"))).alias("nbrs"),
        )
        .withColumn(
            "total_wt",
            F.aggregate("nbrs", F.lit(0.0), lambda a, x: a + x["wt"]),
        )
    )

    def pick(s: int) -> Column:
        restart, draw = _coins(coin, "cnarw", seed, s, restart_probability)
        if coin == "md5":
            # the weights are integral, so the double total is exact
            r = F.pmod(draw, F.col("total_wt").cast("long"))
            picked = _roulette("nbrs", r, lambda x: x["wt"].cast("long"))
        else:
            picked = _roulette("nbrs", _unit(draw) * F.col("total_wt"), lambda x: x["wt"])
        return F.when(restart, F.col("start")).otherwise(
            F.coalesce(picked, F.col("start"))  # sink -> restart
        )

    walks = _walk(weighted_adj, _walkers(start_nodes, walks_per_node), pick, walk_length)
    return _induced_sample(graph, walks, "cnarw")


def sample_rwr(
    graph: Graph,
    start_nodes: DataFrame,
    restart_probability: float = 0.1,
    walk_length: int = 10,
    walks_per_node: int = 5,
    seed: int = 42,
    coin: str = "xxhash64",
) -> Graph:
    """Random-walk-with-restart subgraph sample (gds.graph.sample.rwr):
    the induced subgraph over all nodes visited by restarting walks.

    Restart = with probability p the walker jumps back to its start
    (decided by hash(seed+1, walk_id, step) — deterministic).
    coin="md5" swaps both per-step coins for the engine-portable md5
    family so the graph_sample_rwr DuckDB oracle replays the walks.
    """

    def pick(s: int) -> Column:
        restart, draw = _coins(coin, "rwr", seed, s, restart_probability)
        return F.when(restart, F.col("start")).otherwise(
            F.coalesce(_uniform_pick(draw), F.col("start"))  # sink -> restart
        )

    walks = _walk(_uniform_adjacency(graph), _walkers(start_nodes, walks_per_node), pick, walk_length)
    return _induced_sample(graph, walks, "rwr")


def biased_random_walks(
    graph: Graph,
    walks_per_node: int = 10,
    walk_length: int = 80,
    return_factor: float = 1.0,
    in_out_factor: float = 1.0,
    seed: int = 42,
    start_nodes: DataFrame | None = None,
) -> DataFrame:
    """node2vec second-order biased walks (reference
    algo/.../traversal/RandomWalk.java + Node2VecRandomWalkTask.java:
    unnormalized transition weight from (prev -> cur) to next is
    w(cur,next) * alpha, alpha = 1/returnFactor if next == prev, 1 if
    next adjacent to prev, 1/inOutFactor otherwise — Grover & Leskovec,
    node2vec, KDD 2016). Returns (walk_id, start, path array<long>).

    Spark-first: the whole transition — bias computation, cumulative
    roulette pick against a deterministic hash — runs inside ARRAY
    expressions on the cached adjacency struct (no explode, no window);
    one join per step. prev is the path's second-to-last node, and its
    neighbor-id array is carried forward from the previous step's join,
    so adjacency is joined exactly once per step."""
    adj = (
        graph.edges.groupBy(F.col("src").alias("cur"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dst").alias("dst"), F.col("weight").alias("w")))
            ).alias("nbrs_w")
        )
        .withColumn("nbr_ids", F.transform("nbrs_w", lambda x: x["dst"]))
    )
    inv_p = 1.0 / return_factor
    inv_q = 1.0 / in_out_factor
    prev = F.try_element_at("path", F.lit(-2))  # null on the first step

    def wt(x: Column) -> Column:
        return x["w"] * (
            F.when(prev.isNull(), F.lit(1.0))
            .when(x["dst"] == prev, F.lit(inv_p))
            .when(F.array_contains(F.col("prev_nbr_ids"), x["dst"]), F.lit(1.0))
            .otherwise(F.lit(inv_q))
        )

    def pick(s: int) -> Column:
        total = F.aggregate("nbrs_w", F.lit(0.0), lambda a, x: a + wt(x))
        return F.when(total > 0, _roulette("nbrs_w", _unit(_xxhash(seed, s)) * total, wt))

    walkers = _walkers(
        (start_nodes or graph.nodes).select("vid"),
        walks_per_node,
        F.lit(None).cast("array<long>").alias("prev_nbr_ids"),
    )
    walks = _walk(
        adj, walkers, pick, walk_length, carry=(F.col("nbr_ids").alias("prev_nbr_ids"),)
    )
    return walks.select("walk_id", "start", "path")
