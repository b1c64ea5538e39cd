"""Label Propagation (LPA) — synchronous weighted-majority vote.

Reference: algo/src/main/java/org/neo4j/gds/labelpropagation/:
  - Init (InitStep.java:57-78): label = seed if present else
    maxSeedId + originalNodeId + 1 (with no seed property maxSeed = -1,
    so label = vid).
  - Iterate (ComputeStep.java:80-90, ComputeStepConsumer.java:49-77):
    for each node, tally votes over OUT-neighbors under NATURAL
    orientation: votes[label(nbr)] += relWeight × nodeWeight(nbr);
    adopt argmax; tie -> smaller label id. Node weights from
    nodeWeightProperty, default 1.0 (LabelPropagation.java:82-89).
  - Converged when no node changed in a full pass
    (LabelPropagation.java:112-127).

The reference runs ASYNCHRONOUSLY within an iteration (labels updated in
place, nondeterministic on unstable graphs). Spark is BSP, so we
implement the SYNCHRONOUS variant — the same formulation as the
reference's own Pregel LPA example
(examples/pregel-example/.../lp/LabelPropagationPregel.java:69-118) —
which is deterministic; parity is asserted on fixtures where both agree
(LabelPropagationTest.java:94-135).

Spark plan per superstep: edges ⋈ labels ON edges.dst = labels.vid
(gather neighbor labels) → groupBy(src, label).sum(w) → window
row_number() over (partition by src order by weight desc, label asc) = 1
(argmax with min-label tie-break) → compare/update.

mode="block_async" runs on the same PregelEngine loop with a different
step: salted blocks → edges ⋈ labels → cogroup applyInPandas (in-place
updates within a block). Either mode is one Spark job per superstep,
honours the caller's `engine`/`resume`, and counts iterations the
engine's (reference) way.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph


@dataclass
class LpaResult:
    labels: DataFrame  # (vid, label)
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


def label_propagation(
    graph: Graph,
    max_iterations: int = 10,
    seed_col: str | None = None,
    node_weight_col: str | None = None,
    engine: PregelEngine | None = None,
    resume: bool = False,
    mode: str = "sync",  # sync | block_async | async_serial
    blocks: int = 16,
) -> LpaResult:
    """mode="sync" is the scalable BSP formulation (deterministic, may
    oscillate on unstable graphs where the reference's async impl
    converges). mode="block_async" is the scalable middle ground: nodes
    are hash-assigned to `blocks` blocks (salted per iteration), each
    block processes its nodes sequentially with IN-PLACE label updates
    (async — kills same-block oscillation, exactly the reference's
    in-place semantics at block granularity) while cross-block neighbors
    are read at last-superstep values (sync). The per-iteration salt
    re-partitions the blocks, so any oscillating cross-block pair
    co-locates within a few iterations and settles. Deterministic for a
    fixed `blocks`. Both modes run on the PregelEngine: one Spark job and
    one metrics record per superstep, the caller's `engine`/`resume`
    honoured, and the reference's iteration counting (the converging
    superstep is not counted). mode="async_serial" executes the native
    algorithm EXACTLY (sequential by mapped id, ComputeStep.java:80-90) —
    the parity/debug path; it materializes the graph on the driver, so it
    refuses to run above validation scale."""
    if mode == "async_serial":
        return _label_propagation_async_serial(
            graph, max_iterations, seed_col, node_weight_col
        )
    # co-partition + sort once on the gather key (dst), reuse per superstep
    edges = cache_on(graph.edges, "dst")
    step = _block_async_step(edges, blocks) if mode == "block_async" else _sync_step(edges)
    eng = engine or PregelEngine(graph.edges.sparkSession)
    result = eng.run(
        initial_state=_initial_state(graph, seed_col, node_weight_col),
        step=step,
        stats_exprs=[F.sum(F.col("changed").cast("long")).alias("changed_count")],
        converged=lambda st: (st["changed_count"] or 0) == 0,
        max_iterations=max_iterations,
        resume=resume,
    )
    edges.unpersist()
    return LpaResult(
        labels=result.state.select("vid", "label"),
        ran_iterations=result.ran_iterations,
        did_converge=result.did_converge,
        metrics=result.metrics,
    )


def _initial_state(
    graph: Graph, seed_col: str | None, node_weight_col: str | None
) -> DataFrame:
    """(vid, label, nw): the seeded labels and node weights (InitStep)."""
    nodes = graph.nodes
    if seed_col is not None:
        max_seed = nodes.agg(F.max(F.col(seed_col))).collect()[0][0]
        max_seed = -1 if max_seed is None else max_seed
        init_label = F.coalesce(
            F.col(seed_col).cast("long"), F.col("vid") + F.lit(max_seed + 1)
        )
    else:
        # InitStep.java:72-74 with maxSeedId = -1 -> label = vid
        init_label = F.col("vid")
    node_weight = (
        F.coalesce(F.col(node_weight_col).cast("double"), F.lit(1.0))
        if node_weight_col
        else F.lit(1.0)
    )
    return nodes.select("vid", init_label.alias("label"), node_weight.alias("nw"))


def _sync_step(edges: DataFrame) -> Callable[[DataFrame, int], DataFrame]:
    win = Window.partitionBy("voter").orderBy(F.desc("votes"), F.asc("vote_label"))
    edges_renamed = edges.select(
        F.col("src").alias("voter"), F.col("dst").alias("nbr_vid"), "weight"
    )

    def step(state: DataFrame, s: int) -> DataFrame:
        nbr = state.select(F.col("vid").alias("nbr_vid"), F.col("label").alias("nbr_label"),
                           F.col("nw").alias("nbr_nw"))
        votes = (
            edges_renamed.join(nbr, "nbr_vid")
            .select("voter", F.col("nbr_label").alias("vote_label"),
                    (F.col("weight") * F.col("nbr_nw")).alias("w"))
            .groupBy("voter", "vote_label")
            .agg(F.sum("w").alias("votes"))
        )
        winner = (
            votes.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select(F.col("voter").alias("vid"), F.col("vote_label").alias("new_label"))
        )
        joined = state.drop("changed").join(winner, "vid", "left")
        new_label = F.coalesce(F.col("new_label"), F.col("label"))
        return joined.select(
            "vid",
            new_label.alias("label"),
            "nw",
            (new_label != F.col("label")).alias("changed"),
        )

    return step


def _block_async_step(edges: DataFrame, blocks: int) -> Callable[[DataFrame, int], DataFrame]:
    """Async-within-block, sync-across-blocks LPA (see label_propagation).

    Per superstep s:
      1. block id = pmod(xxhash64(vid, s), blocks) — the salt reshuffles
         block membership so no node pair stays cross-block forever;
      2. every edge (voter, nbr, w*nw(nbr)) is tagged with the voter's
         block and the nbr's CURRENT label, then cogrouped with the
         block's node slice;
      3. a vectorized pandas kernel per block replays the reference's
         in-place loop (ascending vid; votes over current labels, where
         same-block neighbors reflect this pass's updates).
    Shuffle per superstep = one edge join + one cogroup — same order as
    the sync variant; the kernel is O(block edges) python-side but
    numpy/dict-based over Arrow batches (no per-row Python UDF calls).
    """
    import pandas as pd

    out_schema = "vid long, label long, nw double, changed int"

    def block_kernel(key, node_pdf: pd.DataFrame, edge_pdf: pd.DataFrame) -> pd.DataFrame:
        # Vectorized replay of the reference's in-place pass: the ONLY
        # Python-level loop is over this block's NODES (live same-block
        # updates are inherently sequential); every per-edge operation —
        # neighbor->slot lookup, live/snapshot label select, vote tally —
        # is a numpy array op over the voter's edge slice.
        import numpy as np

        node_pdf = node_pdf.sort_values("vid")
        vids = node_pdf["vid"].to_numpy()
        live = node_pdf["label"].to_numpy().copy()
        changed = 0
        if len(edge_pdf) and len(node_pdf):
            order = np.argsort(edge_pdf["voter"].to_numpy(), kind="stable")
            ev = edge_pdf["voter"].to_numpy()[order]
            ew = edge_pdf["w"].to_numpy(dtype=np.float64)[order]
            esnap = edge_pdf["nbr_label"].to_numpy()[order]
            en = edge_pdf["nbr"].to_numpy()[order]
            # nbr -> position in the block's (sorted) label array
            pos = np.minimum(np.searchsorted(vids, en), len(vids) - 1)
            in_block = vids[pos] == en
            starts = np.searchsorted(ev, vids, side="left")
            ends = np.searchsorted(ev, vids, side="right")
            for i in range(len(vids)):
                s, e = starts[i], ends[i]
                if s == e:
                    continue
                # same-block neighbors read the LIVE array (this pass's
                # updates), cross-block neighbors the join-time snapshot
                lbl = np.where(in_block[s:e], live[pos[s:e]], esnap[s:e])
                u, inv = np.unique(lbl, return_inverse=True)
                wsum = np.bincount(inv, weights=ew[s:e])
                best = u[np.argmax(wsum)]  # u sorted -> ties to smaller label
                if best != live[i]:
                    live[i] = best
                    changed += 1
        return pd.DataFrame(
            {
                "vid": vids,
                "label": live,
                "nw": node_pdf["nw"].to_numpy(),
                "changed": [changed] + [0] * (len(node_pdf) - 1),
            }
        )

    voters = edges.select(F.col("src").alias("voter"), F.col("dst").alias("nbr"), "weight")

    def step(state: DataFrame, s: int) -> DataFrame:
        def block(node: str) -> Column:
            return F.pmod(F.xxhash64(F.col(node), F.lit(s)), F.lit(blocks))

        state = state.select("vid", "label", "nw")
        nbr_labels = state.select(
            F.col("vid").alias("nbr"), F.col("label").alias("nbr_label"),
            F.col("nw").alias("nbr_nw"),
        )
        ed_b = voters.join(nbr_labels, "nbr").select(
            block("voter").alias("block"), "voter", "nbr",
            (F.col("weight") * F.col("nbr_nw")).alias("w"), "nbr_label",
        )
        return (
            state.withColumn("block", block("vid"))
            .groupBy("block")
            .cogroup(ed_b.groupBy("block"))
            .applyInPandas(block_kernel, schema=out_schema)
        )

    return step


def _label_propagation_async_serial(
    graph: Graph,
    max_iterations: int,
    seed_col: str | None,
    node_weight_col: str | None,
) -> LpaResult:
    """Exact replica of the reference's asynchronous compute step
    (ComputeStep.java:80-90, ComputeStepConsumer.tallyVotes:64-77):
    nodes processed in ascending id order, labels updated IN PLACE so
    later nodes in the same pass observe earlier updates; vote tally is
    max weight, ties to the smaller label; converged when a full pass
    changes nothing."""
    spark = graph.edges.sparkSession
    n_edges = graph.edges.count()
    if n_edges > 1_000_000:
        raise ValueError(
            f"async_serial is a validation-scale parity mode (collects the "
            f"graph to the driver); got {n_edges} edges > 1e6 — use "
            f"mode='block_async' for the scalable async variant"
        )
    nodes = graph.nodes
    node_rows = nodes.orderBy("vid").collect()
    vids = [r["vid"] for r in node_rows]
    idx = {v: i for i, v in enumerate(vids)}
    n = len(vids)

    if seed_col is not None:
        seeds = [r[seed_col] for r in node_rows]
        max_seed = max((s for s in seeds if s is not None), default=-1)
        labels = [
            s if s is not None else max_seed + v + 1 for s, v in zip(seeds, vids)
        ]
    else:
        labels = list(vids)
    if node_weight_col is not None:
        nw = [r[node_weight_col] if r[node_weight_col] is not None else 1.0 for r in node_rows]
    else:
        nw = [1.0] * n

    adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for r in graph.edges.collect():
        adj[idx[r["src"]]].append((idx[r["dst"]], r["weight"]))

    ran = 0
    did_converge = False
    for it in range(max_iterations):
        changed = False
        for i in range(n):
            if not adj[i]:
                continue
            votes: dict[int, float] = {}
            for j, w in adj[i]:
                lbl = labels[j]
                votes[lbl] = votes.get(lbl, 0.0) + w * nw[j]
            best_label, best_w = labels[i], float("-inf")
            for lbl, w in votes.items():
                if w > best_w or (w == best_w and lbl < best_label):
                    best_w, best_label = w, lbl
            if best_label != labels[i]:
                labels[i] = best_label
                changed = True
        ran = it + 1
        if not changed:
            did_converge = True
            break

    out = spark.createDataFrame(
        [(v, int(l)) for v, l in zip(vids, labels)], "vid long, label long"
    )
    return LpaResult(labels=out, ran_iterations=ran, did_converge=did_converge, metrics=[])
