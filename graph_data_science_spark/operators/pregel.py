"""BSP superstep driver — the Spark answer to the reference's Pregel loop.

Reference: pregel/src/main/java/org/neo4j/gds/beta/pregel/Pregel.java:178-216
runs iterations over shared-memory huge arrays with a messenger and vote
bits. On Spark there is no shared memory across executors, so:

  - per-node state        -> a state DataFrame (vid + value columns)
  - messages + combiner   -> a shuffle: groupBy(dst).agg(...) with
                             Catalyst's partial (map-side) aggregation
                             playing the ReducingMessenger role
                             (ReducingMessenger.java:80-85)
  - vote-to-halt bits     -> a `halted` boolean column; the step filter
                             over it is predicate-pushed into the
                             checkpointed parquet scan
  - masterCompute         -> driver code between supersteps (the
                             `converged` callback over per-superstep stats)
  - iteration memory      -> one eager cut_lineage per superstep cuts
                             the lineage and resets Catalyst's size
                             estimate; a durable parquet/Iceberg snapshot
                             replaces it every `checkpoint_interval`
                             supersteps for resume (our addition; reference
                             is in-memory only)

The engine is algorithm-agnostic: an algorithm provides
  step(state, superstep) -> new state DataFrame
  stats_exprs            -> aggregate Columns observed on the new state
  converged(stats)       -> bool, the masterCompute hook

Every superstep is exactly ONE Spark job: the stats ride the action that
materializes the new state (`observe` on the cut_lineage checkpoint or
on the snapshot write), so convergence is checked after every superstep
at no extra job. `loop_conf` holds the run's plan policy: AQE off and
auto-broadcast joins off, so each step's gather join is a sort-merge
join between the cached edge table and the checkpointed state, both
already hash-partitioned and sorted on the join key — no Exchange on
either side and no broadcast job. The engine owns the lineage policy
(plans/lineage.py): a step never cuts for lineage, however often it
references its state.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession

from graph_data_science_spark.plans.lineage import cut_lineage, release
from graph_data_science_spark.streaming.checkpoint import CheckpointManager


@dataclass
class PregelResult:
    state: DataFrame
    ran_iterations: int
    did_converge: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)


class PregelEngine:
    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_interval: int = 5,
    ):
        """checkpoint_dir=None disables durable snapshots (pure in-memory,
        like the reference). checkpoint_interval governs durable snapshots
        only: with a checkpoint_dir, every k-th superstep of a run and the
        final one are written as snapshots. Every superstep's lineage is
        cut either way."""
        self.spark = spark
        self.checkpoint_interval = checkpoint_interval
        self.manager = CheckpointManager(checkpoint_dir, spark) if checkpoint_dir else None

    def run(
        self,
        initial_state: DataFrame | None,
        step: Callable[[DataFrame, int], DataFrame],
        stats_exprs: list[Column],
        converged: Callable[[dict[str, Any]], bool],
        max_iterations: int,
        resume: bool = False,
    ) -> PregelResult:
        """Drive supersteps until convergence or max_iterations.

        Iteration counting mirrors the reference exactly
        (Pregel.java:186-216: `for (; iteration < max; iteration++) {...;
        if (didConverge) break; }` then ranIterations = iteration): when
        convergence is detected after superstep s, ran_iterations = s (the
        converging superstep is not counted); on exhaustion it equals
        max_iterations. converged(stats) is evaluated after each superstep
        (the masterCompute position).

        Each superstep runs one job: `step(...).observe(stats)` is either
        cut with cut_lineage (eager) or, on snapshot supersteps, written by
        the CheckpointManager; the observation fills from that one action.
        A run that converges between snapshots writes one final snapshot
        from the checkpointed state. Each superstep appends one metrics
        record (stats + superstep + wall_sec); with a checkpoint_dir the
        record also goes to metrics.jsonl and, on snapshots, _lineage.json.
        """
        start_superstep = 0
        state = initial_state
        metrics: list[dict[str, Any]] = []

        if resume:
            if self.manager is None:
                raise ValueError("resume=True requires a checkpoint_dir")
            loaded = self.manager.load()
            if loaded is not None:
                state, last = loaded
                start_superstep = last + 1
                metrics = [m for m in self.manager.metrics() if m.get("superstep", -1) <= last]

        if state is None:
            raise ValueError("no initial state and nothing to resume from")

        local_cut: DataFrame | None = None  # this run's previous in-memory cut
        did_converge = False
        ran = start_superstep
        t0 = time.time()
        with loop_conf(self.spark):
            for s in range(start_superstep, max_iterations):
                obs = Observation()
                new_state = step(state, s).observe(obs, *stats_exprs)
                stats: dict[str, Any] = {}

                def observed() -> dict[str, Any]:
                    # called once the superstep's job has filled `obs`
                    stats.update(_plain(obs.get), superstep=s, wall_sec=time.time() - t0)
                    return {"stats": stats}

                snapshot = self.manager is not None and (
                    s == max_iterations - 1
                    or (s - start_superstep + 1) % self.checkpoint_interval == 0
                )
                if snapshot:
                    stats["checkpointed"] = True
                    new_state = self.manager.save(new_state, s, extra=observed)
                else:
                    new_state = cut_lineage(new_state)
                    observed()
                t0 = time.time()
                is_converged = converged(stats)
                # reference counting: converging superstep not counted
                ran = s if is_converged else s + 1

                if local_cut is not None:
                    release(local_cut)  # its successor is materialized
                local_cut = None if snapshot else new_state
                if is_converged and self.manager is not None and not snapshot:
                    # converged between snapshots: persist the final state too
                    stats["checkpointed"] = True
                    new_state = self.manager.save(new_state, s, extra={"stats": stats})
                    release(local_cut)
                if self.manager is not None:
                    self.manager.log_metrics(stats)
                metrics.append(stats)

                state = new_state
                if is_converged:
                    did_converge = True
                    break

        return PregelResult(state=state, ran_iterations=ran, did_converge=did_converge, metrics=metrics)


# AQE re-plans (and re-submits) stage by stage, which serializes the
# superstep chain on the driver: measured 2.6x wall inflation and a
# ~2.1 s/superstep driver gap with AQE on vs ~0.5 s with it off
# (tools/stage_profile.py, 8.4M edges, local[8]). The iterative loop has
# a FIXED, known shape — partition counts are chosen up front — so
# runtime re-planning buys nothing here (AQE stays on for one-shot
# analytics queries, where skew-splitting/coalescing do help).
# Auto-broadcast is off for the same reason: the steps cache their edge
# table hash-partitioned and sorted on the join key, and below the
# session's 64 MB threshold the planner would broadcast that cached
# table every superstep — a collect job, a driver-built hash relation
# and a broadcast per step, where a co-partitioned merge join needs no
# exchange at all. Measured on perfbench pr_hub_durable (958,748 edges,
# 20 supersteps, local[4]): 48 -> 23 jobs, driver gap 8.9 -> 5.1 s,
# driver old-gen peak 1312 -> 634 MB, solve_s median 32.6 -> 25.2 s.
# Explicit F.broadcast hints still apply. Every iterative loop in the
# package (the engine, louvain, leiden, maxkcut, sharded node2vec) runs
# under this policy; two more failures it avoids, measured in louvain:
# a broadcast scheduled inside a materializing job can deadlock a straggler;
# AQE's sizeInBytes re-estimation across a join chain blows up in BigInteger.
LOOP_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@contextmanager
def loop_conf(spark: SparkSession) -> Iterator[None]:
    """Run the body under LOOP_CONF; the caller's values come back even
    when the body raises."""
    conf = spark.conf
    saved = {k: conf.get(k) for k in LOOP_CONF}
    for k, v in LOOP_CONF.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def cache_on(df: DataFrame, key: str) -> DataFrame:
    """df hash-partitioned on `key` (spark.sql.shuffle.partitions ways),
    sorted within partitions and cached, so a step's join on `key` reads
    it in place. Planned under LOOP_CONF: with AQE on, the cached
    relation would report no partitioning until its first use has
    materialized it, and the first superstep would shuffle it once more.
    The caller unpersists it."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with loop_conf(df.sparkSession):
        return df.repartition(n_part, key).sortWithinPartitions(key).persist()


def _plain(d: dict[str, Any]) -> dict[str, Any]:
    """JSON-safe copy of a stats dict."""
    out = {}
    for k, v in d.items():
        if hasattr(v, "item"):
            v = v.item()
        out[k] = v
    return out
