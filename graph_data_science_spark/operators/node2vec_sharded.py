"""Sharded SGNS training for node2vec — no driver-resident model.

The default node2vec backend (operators/node2vec.py) mirrors the
reference's in-heap ceiling: the 2 * n * dim float32 model lives on the
driver and is broadcast per epoch (Node2VecModel.java holds both
HugeObjectArrays in heap). That caps n at max_model_nodes. This module
removes the cap: the model IS a DataFrame.

Design (everything O(n) lives in row-partitioned DataFrames):

- **Model shard**: one frame (row, cvec, xvec) hash-partitioned on row
  — center and context vectors co-located per node. Updated per round
  by a co-partitioned join; lineage cut per round (plans/lineage); the
  loop runs under `pregel.loop_conf` (AQE and auto-broadcast off), so
  the preserved partitioning survives.
- **Negative sampling**: the classic word2vec unigram^0.75 table,
  built DISTRIBUTED — per-row slot counts proportional to freq^0.75
  (floor(w*T/W), min 1), laid out by a distributed exclusive prefix sum
  (plans/ranking), exploded to a (slot, row) table of ~table_factor*n
  rows. A draw is xxhash64(seed, iter, round, sample) mod total_slots
  joined against the slot table — uniform slots, skew-free join.
- **Training**: per iteration the positive pairs are split into
  minibatch rounds (hash on pair_id). Each round: explode k negatives,
  union with the positives as (c_row, t_row, label) samples, gather
  cvec/tvec by two row-joins against the shard, compute the SGNS
  gradient per sample in ONE vectorized mapInPandas (Arrow batches,
  numpy einsum — no per-row Python), shuffle the per-sample deltas by
  row, combine to a per-(row, side) MEAN (deterministic accumulation
  order via the sample id sort key), and apply with a co-partitioned
  left join + zip_with. The mean step bounds the update at one sample's
  magnitude — the same overshoot guard the driver backend measured.

Semantics vs the driver backend: this is synchronous minibatch SGD
(parameter-combining per round) instead of partition-local sequential
SGD with parameter averaging per epoch — the standard trade when state
is sharded; loss is the same -log sigmoid objective summed per
iteration. Embeddings remain non-oracle-portable (float SGD), gated
structurally like the reference's own cosine tests.

Reference: algo/src/main/java/org/neo4j/gds/embeddings/node2vec/
Node2VecModel.java:260-284 (trainSample gradient), :128-135 (linear lr
decay); RandomWalkProbabilities.java:110-120 (freq^0.75 negative
distribution).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import loop_conf
from graph_data_science_spark.plans.lineage import cut_lineage

_EPS = 1e-10


def _init_shard(
    spark: SparkSession, n: int, dim: int, seed: int, p: int
) -> DataFrame:
    """(row, cvec, xvec) — uniform init in ±0.5/dim (Node2VecModel
    :160-186 NORMALIZED bound), deterministic per row regardless of
    partitioning: each row draws from default_rng([seed, row])."""
    bound = 0.5 / dim

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = pdf["row"].to_numpy()
            cv, xv = [], []
            for r in rows:
                rng = np.random.default_rng([seed, int(r)])
                vals = rng.uniform(-bound, bound, 2 * dim)
                cv.append(vals[:dim])
                xv.append(vals[dim:])
            yield pd.DataFrame({"row": rows, "cvec": cv, "xvec": xv})

    base = spark.range(0, n, 1, p).select(F.col("id").alias("row"))
    shard = base.mapInPandas(gen, "row long, cvec array<double>, xvec array<double>")
    return cut_lineage(shard.repartition(p, "row"))


def negative_slot_table(
    freq: DataFrame,
    n: int,
    exponent: float = 0.75,
    table_factor: int = 4,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """(slot, row) sampling table + total slot count. Row i gets
    max(1, floor(cnt_i^exponent * T / W)) consecutive slots (T =
    table_factor * n), positioned by a distributed prefix sum — drawing
    a uniform slot reproduces the freq^exponent distribution to 1/T."""
    from graph_data_science_spark.plans.ranking import (
        distributed_exclusive_prefix_sum,
    )

    spark = freq.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    t_target = max(table_factor * n, 1 << 16)
    w = freq.select("row", F.pow(F.col("cnt").cast("double"), F.lit(exponent)).alias("w"))
    total_w = w.agg(F.sum("w")).collect()[0][0] or 1.0
    slots = w.select(
        "row",
        F.greatest(
            F.lit(1), F.floor(F.col("w") * F.lit(float(t_target)) / F.lit(total_w))
        ).cast("long").alias("slots"),
    )
    pre = distributed_exclusive_prefix_sum(slots, "row", "slots", "start", p)
    table = (
        pre.select(
            "row",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.col("slots") - 1)
            ).alias("slot"),
        )
        .select("slot", "row")
        .repartition(p, "slot")
        .persist()
    )
    total_slots = table.count()
    return table, total_slots


def sgns_train_sharded(
    spark: SparkSession,
    pairs: DataFrame,
    freq: DataFrame,
    n: int,
    dim: int,
    iterations: int = 1,
    negative_sampling_rate: int = 5,
    negative_sampling_exponent: float = 0.75,
    initial_learning_rate: float = 0.025,
    min_learning_rate: float = 1e-4,
    random_seed: int = 42,
    minibatch_rounds: int = 4,
    num_partitions: int | None = None,
    table_factor: int = 4,
    chunk_size: int = 256,
) -> tuple[DataFrame, list[float]]:
    """Train SGNS over (c_row, x_row) positive pairs with both embedding
    matrices sharded as DataFrames. Returns ((row, embedding) center
    embeddings, loss per iteration). Driver state: scalars only (loss,
    slot count) — no O(n) or O(pairs) collect anywhere."""
    p = num_partitions or spark.sparkContext.defaultParallelism
    k_neg = negative_sampling_rate
    rounds = max(1, minibatch_rounds)

    # stable per-pair id for the negative-draw hash and the deterministic
    # combine order; checkpoint freezes monotonically_increasing_id
    pairs_id = cut_lineage(
        pairs.select(
            F.monotonically_increasing_id().alias("pair_id"), "c_row", "x_row"
        ).repartition(p, "pair_id")
    )

    table, total_slots = negative_slot_table(
        freq, n, negative_sampling_exponent, table_factor, p
    )
    shard = _init_shard(spark, n, dim, random_seed, p)

    alpha_step = (initial_learning_rate - min_learning_rate) / max(iterations, 1)
    losses: list[float] = []
    with loop_conf(spark):
        for it in range(iterations):
            lr = float(
                max(min_learning_rate, initial_learning_rate - it * alpha_step)
            )
            it_loss = 0.0
            for rd in range(rounds):
                batch = pairs_id.filter(
                    F.pmod(F.col("pair_id"), F.lit(rounds)) == rd
                )
                # sample id: deterministic accumulation-order key AND the
                # negative-draw hash input (0 = the positive, 1..k = negs)
                pos = batch.select(
                    (F.col("pair_id") * (k_neg + 1)).alias("sid"),
                    "c_row",
                    F.col("x_row").alias("t_row"),
                    F.lit(1).alias("label"),
                )
                negs = (
                    batch.select(
                        "pair_id", "c_row",
                        F.explode(F.sequence(F.lit(1), F.lit(k_neg))).alias("j"),
                    )
                    .withColumn(
                        "slot",
                        F.pmod(
                            F.xxhash64(
                                F.lit(random_seed), F.lit(it), F.lit(rd),
                                F.col("pair_id"), F.col("j"),
                            ),
                            F.lit(total_slots),
                        ),
                    )
                    .join(table, "slot")
                    .select(
                        (F.col("pair_id") * (k_neg + 1) + F.col("j")).alias("sid"),
                        "c_row",
                        F.col("row").alias("t_row"),
                        F.lit(0).alias("label"),
                    )
                )
                samples = pos.unionByName(negs)
                gathered = samples.join(
                    shard.select(F.col("row").alias("c_row"), "cvec"), "c_row"
                ).join(
                    shard.select(
                        F.col("row").alias("t_row"), F.col("xvec").alias("tvec")
                    ),
                    "t_row",
                )

                def grad(
                    batches: Iterator[pd.DataFrame], _lr=lr, _chunk=chunk_size
                ) -> Iterator[pd.DataFrame]:
                    """Partition-local sequential SGD over the GATHERED
                    vectors (the driver backend's chunked scheme, without
                    the broadcast model): each partition keeps one evolving
                    copy per distinct row IT TOUCHES — memory is
                    O(touched rows x dim), tunable via minibatch_rounds —
                    and emits delta = final - gathered per touched row.
                    Within a chunk the per-row MEAN guard bounds the step
                    at one sample's magnitude (same overshoot fix as the
                    driver backend)."""
                    from pyspark.taskcontext import TaskContext

                    pid = (
                        TaskContext.get().partitionId() if TaskContext.get() else 0
                    )
                    cstate: dict[int, np.ndarray] = {}
                    xstate: dict[int, np.ndarray] = {}
                    corig: dict[int, np.ndarray] = {}
                    xorig: dict[int, np.ndarray] = {}
                    loss = 0.0
                    for pdf in batches:
                        if len(pdf) == 0:
                            continue
                        pdf = pdf.sort_values("sid", kind="stable")
                        crs = pdf["c_row"].to_numpy()
                        trs = pdf["t_row"].to_numpy()
                        labs = pdf["label"].to_numpy()
                        for key_arr, vec_col, state, orig in (
                            (crs, "cvec", cstate, corig),
                            (trs, "tvec", xstate, xorig),
                        ):
                            firsts = pdf.drop_duplicates(
                                subset=["c_row" if vec_col == "cvec" else "t_row"]
                            )
                            for r, v in zip(
                                firsts["c_row" if vec_col == "cvec" else "t_row"],
                                firsts[vec_col],
                            ):
                                r = int(r)
                                if r not in state:
                                    arr = np.asarray(v, dtype=np.float64).copy()
                                    state[r] = arr
                                    orig[r] = arr.copy()
                        for lo in range(0, len(pdf), _chunk):
                            ck = crs[lo : lo + _chunk]
                            tk = trs[lo : lo + _chunk]
                            lb = labs[lo : lo + _chunk]
                            cv = np.stack([cstate[int(r)] for r in ck])
                            tv = np.stack([xstate[int(r)] for r in tk])
                            aff = np.einsum("ij,ij->i", cv, tv)
                            sig = 1.0 / (1.0 + np.exp(-aff))
                            loss -= float(
                                np.sum(np.log(sig[lb == 1] + _EPS))
                            ) + float(np.sum(np.log(1.0 - sig[lb == 0] + _EPS)))
                            g = np.where(lb == 1, _lr * (1.0 - sig), -_lr * sig)
                            dc = g[:, None] * tv
                            dt = g[:, None] * cv
                            for keys, upd, state in (
                                (ck, dc, cstate),
                                (tk, dt, xstate),
                            ):
                                uniq, inv = np.unique(keys, return_inverse=True)
                                sums = np.zeros((len(uniq), upd.shape[1]))
                                np.add.at(sums, inv, upd)
                                cnts = np.bincount(inv).astype(np.float64)
                                for j, r in enumerate(uniq):
                                    state[int(r)] += sums[j] / cnts[j]
                    rows_o: list[int] = []
                    sides_o: list[int] = []
                    deltas_o: list[np.ndarray] = []
                    for r, v in cstate.items():
                        rows_o.append(r)
                        sides_o.append(0)
                        deltas_o.append(v - corig[r])
                    for r, v in xstate.items():
                        rows_o.append(r)
                        sides_o.append(1)
                        deltas_o.append(v - xorig[r])
                    rows_o.append(-1)
                    sides_o.append(-1)
                    deltas_o.append(np.zeros(dim))
                    yield pd.DataFrame(
                        {
                            "row": rows_o,
                            "side": sides_o,
                            "sid": [pid] * len(rows_o),
                            "delta": deltas_o,
                            "loss": [0.0] * (len(rows_o) - 1) + [loss],
                        }
                    )

                deltas = gathered.mapInPandas(
                    grad,
                    "row long, side int, sid long, delta array<double>, loss double",
                )

                def combine(
                    batches: Iterator[pd.DataFrame],
                ) -> Iterator[pd.DataFrame]:
                    """Per-partition (rows co-located): MEAN delta per
                    (row, side), summed loss. Sort by (row, side, sid)
                    first so float accumulation order is deterministic."""
                    acc: dict[tuple[int, int], tuple[np.ndarray, int]] = {}
                    loss = 0.0
                    for pdf in batches:
                        if len(pdf) == 0:
                            continue
                        loss += float(pdf["loss"].sum())
                        pdf = pdf[pdf["row"] >= 0]
                        if len(pdf) == 0:
                            continue
                        pdf = pdf.sort_values(["row", "side", "sid"], kind="stable")
                        rows = pdf["row"].to_numpy()
                        sides = pdf["side"].to_numpy()
                        mats = np.stack(pdf["delta"].to_numpy())
                        # vectorized group-sum within this Arrow batch
                        keys = rows * 2 + sides
                        uniq, inv, cnts = np.unique(
                            keys, return_inverse=True, return_counts=True
                        )
                        sums = np.zeros((len(uniq), mats.shape[1]))
                        np.add.at(sums, inv, mats)
                        for u, s, c in zip(uniq, sums, cnts):
                            key = (int(u // 2), int(u % 2))
                            if key in acc:
                                prev, pc = acc[key]
                                acc[key] = (prev + s, pc + int(c))
                            else:
                                acc[key] = (s, int(c))
                    # one output row per model row with both sides' means
                    by_row: dict[int, dict[int, np.ndarray]] = {}
                    for (r, s), (tot, c) in acc.items():
                        by_row.setdefault(r, {})[s] = tot / c
                    rows_out = sorted(by_row)
                    yield pd.DataFrame(
                        {
                            "row": rows_out + [-1],
                            "uc": [by_row[r].get(0) for r in rows_out] + [None],
                            "ux": [by_row[r].get(1) for r in rows_out] + [None],
                            "loss": [0.0] * len(rows_out) + [loss],
                        }
                    )

                upd = cut_lineage(
                    deltas.repartition(p, "row").mapInPandas(
                        combine,
                        "row long, uc array<double>, ux array<double>, loss double",
                    )
                )
                it_loss += upd.agg(F.sum("loss")).collect()[0][0] or 0.0
                new_shard = (
                    shard.join(upd.filter(F.col("row") >= 0), "row", "left")
                    .select(
                        "row",
                        F.when(F.col("uc").isNull(), F.col("cvec"))
                        .otherwise(
                            F.zip_with("cvec", "uc", lambda a, b: a + b)
                        ).alias("cvec"),
                        F.when(F.col("ux").isNull(), F.col("xvec"))
                        .otherwise(
                            F.zip_with("xvec", "ux", lambda a, b: a + b)
                        ).alias("xvec"),
                    )
                )
                shard = cut_lineage(new_shard)
            losses.append(it_loss)
    table.unpersist()
    emb = shard.select(
        "row", F.col("cvec").cast("array<float>").alias("embedding")
    )
    return emb, losses
