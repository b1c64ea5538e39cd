"""node2vec — biased random walks + skip-gram negative-sampling training.

Reference: algo/src/main/java/org/neo4j/gds/embeddings/node2vec/
Node2Vec.java (compute(): walks -> RandomWalkProbabilities -> model
train); Node2VecModel.java (SGNS: trainSample :260-284 — sigmoid
gradient on center/context inner product, negativeSamplingRate negatives
per positive, linear learning-rate decay :128-135; embedding init
:160-186 uniform in +-bound, bound = 0.5/dim for NORMALIZED);
RandomWalkProbabilities.java (positive subsampling probability
(sqrt(f/s)+1)*(s/f) :91-108, negative distribution freq^0.75 cumulative
:110-120); PositiveSampleProducer.java (center/context pairs within an
asymmetric window — prefix ceil((w-1)/2), postfix floor((w-1)/2) —
counted over the SUBSAMPLE-FILTERED walk); defaults from
Node2VecBaseConfig.java (windowSize=10, negativeSamplingRate=5,
positiveSamplingFactor=0.001, negativeSamplingExponent=0.75, dim=128,
initialLearningRate=0.025, minLearningRate=1e-4, iterations=1).

Spark-first design (NOT the reference's shared-memory hogwild):

- Walks: `sources/sampling.py:biased_random_walks` — the (p,q) bias and
  roulette pick run inside array expressions, fully JVM-side, as the
  sampler's pick in the shared walk step on an in-memory PregelEngine:
  one adjacency join and one job per step.
- Pair generation: explode + per-walk row_number (window partitioned by
  walk_id) + a range self-join on walk rank — all Catalyst operators,
  subsampling decided by deterministic xxhash64.
- Training: the reference mutates two shared float matrices from many
  threads (hogwild). A shuffle engine can't share memory, so each
  epoch broadcasts the model, partitions train MINIBATCH SGD locally
  over their pair slice (vectorized numpy, immediate updates per chunk
  of 1024), and the per-row deltas are summed back — one big effective
  minibatch per partition, the standard parameter-combining scheme
  (same family as Spark MLlib Word2Vec). Loss is the reference's
  -log sigmoid objective summed over all samples.

Scale: TWO backends. The "driver" backend mirrors the reference's
in-heap ceiling — the model is 2 * n * dim float32, broadcast per
epoch, capped by `max_model_nodes` (default 2e6, ~2 GB at dim=128)
with a loud ValueError past the cap. The "sharded" backend
(operators/node2vec_sharded.py) removes the ceiling entirely: the
model lives in row-partitioned DataFrames, negatives come from a
distributed freq^0.75 slot table, and training is gather-join +
partition-local sequential SGD + mean-combined deltas — no O(n)
driver state anywhere ("auto" picks driver under the cap for its
better per-epoch convergence, sharded past it). The id map and
frequency table are computed distributed in both backends
(plans/ranking.distributed_row_index + an aggregated (row, cnt)
frame).
Embeddings are NOT oracle-portable (seeded-random init + float SGD);
correctness is asserted structurally (clique members embed closer than
non-members) like the reference's own cosine tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.plans.graph import Graph


def _apply_mean(mat: np.ndarray, idx: np.ndarray, upd: np.ndarray) -> None:
    """mat[row] += MEAN of upd rows targeting that row."""
    if len(idx) == 0:
        return
    uniq, inv = np.unique(idx, return_inverse=True)
    sums = np.zeros((len(uniq), mat.shape[1]), dtype=np.float32)
    np.add.at(sums, inv, upd)
    cnts = np.bincount(inv).astype(np.float32)[:, None]
    mat[uniq] += sums / cnts


@dataclass
class Node2VecResult:
    embeddings: DataFrame  # (vid, embedding array<float>)
    loss_per_iteration: list[float] = field(default_factory=list)


def _positive_pairs(
    walks: DataFrame, window_size: int, positive_sampling_factor: float, seed: int
) -> DataFrame:
    """(center, context) pairs. Nodes are subsampled per-occurrence with
    keep probability (sqrt(f/s)+1)*(s/f) (RandomWalkProbabilities
    :91-108); the window is counted over the FILTERED sequence
    (PositiveSampleProducer.setContextBoundaries skips filtered slots)."""
    tok = walks.select(
        "walk_id", F.posexplode("path").alias("pos", "node")
    )
    freq = tok.groupBy("node").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.count()
    s = positive_sampling_factor
    keep_p = freq.select(
        "node",
        (
            (F.sqrt((F.col("cnt") / F.lit(float(total))) / F.lit(s)) + 1.0)
            * (F.lit(s) / (F.col("cnt") / F.lit(float(total))))
        ).alias("keep_p"),
    )
    u = (
        F.pmod(
            F.abs(F.xxhash64(F.lit(seed + 7), F.col("walk_id"), F.col("pos"), F.col("node"))),
            F.lit(1 << 30),
        ).cast("double")
        / F.lit(float(1 << 30))
    )
    kept = (
        tok.join(F.broadcast(keep_p), "node")
        .filter(u < F.col("keep_p"))
        .withColumn(
            "rank", F.row_number().over(Window.partitionBy("walk_id").orderBy("pos"))
        )
        .select("walk_id", "rank", "node")
    )
    prefix = -(-(window_size - 1) // 2)  # ceil
    postfix = (window_size - 1) // 2
    a = kept.select("walk_id", F.col("rank").alias("r_c"), F.col("node").alias("center"))
    b = kept.select("walk_id", F.col("rank").alias("r_x"), F.col("node").alias("context"))
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("r_x") >= F.col("r_c") - prefix)
            & (F.col("r_x") <= F.col("r_c") + postfix)
            & (F.col("r_x") != F.col("r_c"))
        )
        .select("center", "context")
    )


def node2vec(
    graph: Graph,
    embedding_dimension: int = 128,
    walks_per_node: int = 10,
    walk_length: int = 80,
    return_factor: float = 1.0,
    in_out_factor: float = 1.0,
    window_size: int = 10,
    negative_sampling_rate: int = 5,
    positive_sampling_factor: float = 0.001,
    negative_sampling_exponent: float = 0.75,
    iterations: int = 1,
    initial_learning_rate: float = 0.025,
    min_learning_rate: float = 1e-4,
    random_seed: int = 42,
    batch_partitions: int | None = None,
    chunk_size: int = 256,
    max_model_nodes: int = 2_000_000,
    model_backend: str = "auto",
    minibatch_rounds: int = 4,
) -> Node2VecResult:
    """Full node2vec pipeline (Node2Vec.compute). Deterministic for a
    fixed (random_seed, batch_partitions): walks, subsampling and
    negative draws are hash-seeded; partition-local SGD uses a PRNG
    seeded by (random_seed, partition, iteration).

    model_backend: "driver" (partition-local sequential SGD against a
    broadcast model — best convergence per epoch, capped by
    max_model_nodes), "sharded" (model as row-partitioned DataFrames,
    synchronous minibatch SGD — no driver-resident O(n) state, see
    operators/node2vec_sharded.py), or "auto" (driver while the model
    fits under max_model_nodes, sharded past it).

    max_model_nodes: cap on the driver backend's node count — its SGNS
    model (2 * n * dim float32) is driver-resident and broadcast per
    epoch, the same in-heap ceiling as the reference's
    HugeObjectArrays; explicit model_backend="driver" past the cap
    raises loudly instead of OOM-ing mid-job.

    minibatch_rounds: sharded backend only — minibatch rounds per
    iteration (more rounds = more sequential SGD steps per epoch)."""
    from graph_data_science_spark.sources.sampling import biased_random_walks

    spark = graph.edges.sparkSession
    walks = biased_random_walks(
        graph,
        walks_per_node=walks_per_node,
        walk_length=walk_length - 1,  # path includes the start node
        return_factor=return_factor,
        in_out_factor=in_out_factor,
        seed=random_seed,
    ).persist()

    pairs = _positive_pairs(
        walks, window_size, positive_sampling_factor, random_seed
    ).persist()
    n_pairs = pairs.count()

    # id -> dense row index (model rows); node order = sorted vids, same
    # "stable id map" contract as the reference's toOriginalNodeId
    # seeding, built with the distributed two-phase rank (no O(n) driver
    # collect of raw ids, no Python dict)
    from graph_data_science_spark.plans.ranking import distributed_row_index

    idx_df = distributed_row_index(graph.nodes.select("vid"), ["vid"], index_col="row")
    n = idx_df.count()
    d = embedding_dimension
    backend = model_backend
    if backend == "auto":
        backend = "driver" if n <= max_model_nodes else "sharded"
    if backend == "driver" and n > max_model_nodes:
        raise ValueError(
            f"node2vec's driver backend holds the SGNS model in driver memory "
            f"(2 * n * dim float32, broadcast per epoch — the reference's "
            f"in-heap ceiling); got n={n} > max_model_nodes={max_model_nodes}. "
            f"Use model_backend='sharded' (or 'auto') for beyond-driver-scale "
            f"training, or raise the cap with driver memory to match"
        )

    freq_df = (
        walks.select(F.explode("path").alias("vid"))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(idx_df, "vid")
        .select("row", "cnt")
    )

    if backend == "sharded":
        from graph_data_science_spark.operators.node2vec_sharded import (
            sgns_train_sharded,
        )

        pairs_rows = (
            pairs.join(
                idx_df.select(F.col("vid").alias("center"), F.col("row").alias("c_row")),
                "center",
            )
            .join(
                idx_df.select(F.col("vid").alias("context"), F.col("row").alias("x_row")),
                "context",
            )
            .select("c_row", "x_row")
        )
        emb, losses = sgns_train_sharded(
            spark,
            pairs_rows,
            freq_df,
            n,
            d,
            iterations=iterations,
            negative_sampling_rate=negative_sampling_rate,
            negative_sampling_exponent=negative_sampling_exponent,
            initial_learning_rate=initial_learning_rate,
            min_learning_rate=min_learning_rate,
            random_seed=random_seed,
            minibatch_rounds=minibatch_rounds,
            num_partitions=batch_partitions,
            chunk_size=chunk_size,
        )
        embeddings = emb.join(idx_df, "row").select("vid", "embedding")
        walks.unpersist()
        pairs.unpersist()
        return Node2VecResult(embeddings=embeddings, loss_per_iteration=losses)

    # driver backend: negative-sampling cumulative distribution over
    # freq^exponent — pulled to a dense array (bounded by max_model_nodes)
    freq_pdf = freq_df.toPandas()
    freqs = np.zeros(n, dtype=np.float64)
    freqs[freq_pdf["row"].to_numpy()] = freq_pdf["cnt"].to_numpy().astype(np.float64)
    neg_cum = np.cumsum(freqs ** negative_sampling_exponent)
    if neg_cum[-1] <= 0:
        neg_cum = np.cumsum(np.ones(n))
    walks.unpersist()

    # embedding init (Node2VecModel:160-186, NORMALIZED bound)
    bound = 0.5 / d
    rng0 = np.random.default_rng(random_seed)
    center = rng0.uniform(-bound, bound, (n, d)).astype(np.float32)
    context = rng0.uniform(-bound, bound, (n, d)).astype(np.float32)

    p = batch_partitions or spark.sparkContext.defaultParallelism
    # map pair endpoints to dense rows once, repartition once, reuse per epoch
    pairs_rows = (
        pairs.join(
            F.broadcast(idx_df.select(F.col("vid").alias("center"),
                                      F.col("row").alias("c_row"))), "center")
        .join(
            F.broadcast(idx_df.select(F.col("vid").alias("context"),
                                      F.col("row").alias("x_row"))), "context")
        .select("c_row", "x_row")
        .repartition(p)
        .persist()
    )
    pairs_rows.count()
    pairs.unpersist()

    sc = spark.sparkContext
    alpha_step = (initial_learning_rate - min_learning_rate) / max(iterations, 1)
    losses: list[float] = []
    eps = 1e-10
    k_neg = negative_sampling_rate
    # minibatch size: smaller chunks = more sequential SGD steps per epoch
    # (closer to the reference's per-sample updates), larger = more
    # vectorization; 256 balances both at scale
    chunk = chunk_size

    for it in range(iterations):
        lr = np.float32(max(min_learning_rate, initial_learning_rate - it * alpha_step))
        b_center = sc.broadcast(center)
        b_context = sc.broadcast(context)
        b_negcum = sc.broadcast(neg_cum)
        it_seed = (random_seed * 1_000_003 + it) & 0x7FFFFFFF

        def train_partition(
            batches: Iterator[pd.DataFrame],
            _lr=lr, _it_seed=it_seed,
            _bc=b_center, _bx=b_context, _bn=b_negcum,
        ) -> Iterator[pd.DataFrame]:
            from pyspark.taskcontext import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            c = _bc.value.copy()
            x = _bx.value.copy()
            cum = _bn.value
            rng = np.random.default_rng(_it_seed ^ (pid * 2_654_435_761))
            loss = 0.0
            touched_c: set[int] = set()
            touched_x: set[int] = set()
            for pdf in batches:
                cr = pdf["c_row"].to_numpy()
                xr = pdf["x_row"].to_numpy()
                for lo in range(0, len(cr), chunk):
                    ci = cr[lo : lo + chunk]
                    xi = xr[lo : lo + chunk]
                    m = len(ci)
                    # negatives: k per positive, drawn from freq^0.75
                    draws = rng.random((m, k_neg)) * cum[-1]
                    ni = np.searchsorted(cum, draws, side="right").clip(0, len(cum) - 1)
                    cv = c[ci]  # (m, d)
                    # positive step: grad = -(1 - sigmoid(aff))
                    aff = np.einsum("ij,ij->i", cv, x[xi])
                    sig = 1.0 / (1.0 + np.exp(-aff))
                    loss -= float(np.sum(np.log(sig + eps)))
                    g = (_lr * (1.0 - sig)).astype(np.float32)[:, None]
                    dc = g * x[xi]
                    dx_pos = g * cv
                    # negative steps: grad = sigmoid(aff_neg)
                    xv = x[ni]  # (m, k, d)
                    aff_n = np.einsum("ij,ikj->ik", cv, xv)
                    sig_n = 1.0 / (1.0 + np.exp(-aff_n))
                    loss -= float(np.sum(np.log(1.0 - sig_n + eps)))
                    gn = (-_lr * sig_n).astype(np.float32)[..., None]
                    dc += np.sum(gn * xv, axis=1)
                    dx_neg = (gn * cv[:, None, :]).reshape(-1, c.shape[1])
                    # apply the MEAN update per distinct row: a hot row can
                    # collect hundreds of same-chunk gradients computed at
                    # the chunk-start value — summing them overshoots
                    # (measured divergence on small vocabularies); the mean
                    # bounds the step at one sample's magnitude
                    _apply_mean(x, np.concatenate([xi, ni.ravel()]),
                                np.concatenate([dx_pos, dx_neg]))
                    _apply_mean(c, ci, dc)
                    touched_c.update(np.unique(ci).tolist())
                    touched_x.update(np.unique(xi).tolist())
                    touched_x.update(np.unique(ni).tolist())
            out = []
            tc = np.fromiter(touched_c, dtype=np.int64) if touched_c else np.empty(0, np.int64)
            tx = np.fromiter(touched_x, dtype=np.int64) if touched_x else np.empty(0, np.int64)
            if len(tc):
                out.append(pd.DataFrame({
                    "row": tc, "which": 0,
                    "delta": list((c[tc] - _bc.value[tc]).astype(float)),
                    "loss": 0.0,
                }))
            if len(tx):
                out.append(pd.DataFrame({
                    "row": tx, "which": 1,
                    "delta": list((x[tx] - _bx.value[tx]).astype(float)),
                    "loss": 0.0,
                }))
            out.append(pd.DataFrame(
                {"row": [-1], "which": [-1], "delta": [np.zeros(c.shape[1])], "loss": [loss]}
            ))
            yield pd.concat(out, ignore_index=True)

        delta_df = pairs_rows.mapInPandas(
            train_partition, "row long, which int, delta array<double>, loss double"
        )
        rows = delta_df.collect()
        # parameter AVERAGING: new model = mean of partition-local models
        # = model + sum(deltas)/P (summing raw deltas against the stale
        # broadcast overshoots — measured divergence at P=4)
        scale = np.float32(1.0 / max(p, 1))
        it_loss = 0.0
        for r in rows:
            if r["which"] == -1:
                it_loss += r["loss"]
            elif r["which"] == 0:
                center[r["row"]] += scale * np.asarray(r["delta"], dtype=np.float32)
            else:
                context[r["row"]] += scale * np.asarray(r["delta"], dtype=np.float32)
        losses.append(it_loss)
        b_center.destroy()
        b_context.destroy()
        b_negcum.destroy()

    pairs_rows.unpersist()
    emb_pdf = pd.DataFrame(
        {"row": np.arange(n, dtype=np.int64), "embedding": list(center.astype(float))}
    )
    embeddings = (
        spark.createDataFrame(emb_pdf)
        .join(idx_df, "row")
        .select("vid", F.col("embedding").cast("array<float>").alias("embedding"))
    )
    return Node2VecResult(embeddings=embeddings, loss_per_iteration=losses)
