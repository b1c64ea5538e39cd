"""Speaker-Listener Label Propagation (SLLPA) — gds.sllpa (overlapping
communities).

Reference: algo/src/main/java/org/neo4j/gds/sllpa/SpeakerListenerLPA.java
(Xie, Szymanski, Liu — SLPA, public literature): every node keeps a
label MEMORY initialized with its own id; per iteration each neighbor
SPEAKS one label sampled from its memory proportionally to counts, the
listener adopts the most frequent label heard (ties to the smaller
label) and adds it to its memory; after maxIterations, labels whose
frequency in a node's memory >= minAssociationStrength form that node's
(possibly several) communities.

Spark-first determinism: the reference samples with a Random; a shuffle
engine derives the spoken label from xxhash64(seed, iteration, vid)
folded over the cumulative memory counts — same distribution family,
deterministic and partition-invariant. Memory is an array<struct<label,
cnt>> column bounded by the iteration count; speaking and the
most-frequent-heard reduction are pure Column expressions + one
shuffle per iteration, run as PregelEngine supersteps.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.influence import _md5_u32
from graph_data_science_spark.operators.pregel import PregelEngine, cache_on
from graph_data_science_spark.plans.graph import Graph


@dataclass
class SllpaResult:
    communities: DataFrame  # (vid, community_ids: array<long>)
    ran_iterations: int
    metrics: list[dict[str, Any]] = field(default_factory=list)


def _spoken_label(mem, h):
    """Pick a label from memory proportionally to counts, driven by the
    deterministic hash h: fold cumulative counts until r < cum."""
    total = F.aggregate(mem, F.lit(0).cast("long"), lambda a, e: a + e["cnt"])
    r = F.pmod(h, total)
    picked = F.aggregate(
        mem,
        F.struct(r.alias("rem"), F.lit(None).cast("long").alias("lbl")),
        lambda acc, e: F.when(
            acc["lbl"].isNotNull(), acc
        ).when(
            acc["rem"] < e["cnt"],
            F.struct(acc["rem"].alias("rem"), e["label"].alias("lbl")),
        ).otherwise(
            F.struct((acc["rem"] - e["cnt"]).alias("rem"),
                     F.lit(None).cast("long").alias("lbl"))
        ),
    )
    return picked["lbl"]


def sllpa(
    graph: Graph,
    max_iterations: int = 10,
    min_association_strength: float = 0.2,
    seed: int = 42,
    coin: str = "xxhash64",
) -> SllpaResult:
    """coin="md5" swaps the spoken-label hash for the engine-portable md5
    coin family (operators/influence._md5_u32) — the graph_sllpa DuckDB
    oracle replays the identical per-iteration memory evolution."""
    spark = graph.edges.sparkSession
    edges = cache_on(graph.edges.selectExpr("src AS speaker", "dst AS listener"), "speaker")
    mem0 = F.array(F.struct(F.col("vid").alias("label"), F.lit(1).cast("long").alias("cnt")))
    state0 = graph.nodes.select("vid", mem0.alias("mem"))

    def step(state: DataFrame, it: int) -> DataFrame:
        if coin == "md5":
            h = _md5_u32(F.lit("sl"), F.lit(str(seed)), F.lit(str(it)), F.col("vid"))
        else:
            h = F.xxhash64(F.lit(seed), F.lit(it), F.col("vid"))
        spoken = state.select(
            F.col("vid").alias("speaker"), _spoken_label(F.col("mem"), h).alias("lbl")
        )
        heard = (
            edges.join(spoken, "speaker")
            .groupBy(F.col("listener").alias("vid"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            heard.groupBy("vid")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("neg"))).alias("m"))
            .select("vid", (-F.col("m.neg")).alias("new_lbl"))
        )
        # add new_lbl to memory: bump its count or append
        has = F.exists("mem", lambda e: e["label"] == F.col("new_lbl"))
        bumped = F.transform(
            "mem",
            lambda e: F.when(
                e["label"] == F.col("new_lbl"),
                F.struct(e["label"].alias("label"), (e["cnt"] + 1).alias("cnt")),
            ).otherwise(e),
        )
        appended = F.concat(
            "mem",
            F.array(F.struct(F.col("new_lbl").alias("label"), F.lit(1).cast("long").alias("cnt"))),
        )
        new_mem = (
            F.when(F.col("new_lbl").isNull(), F.col("mem"))
            .when(has, bumped)
            .otherwise(appended)
        )
        return state.join(best, "vid", "left").select("vid", new_mem.alias("mem"))

    result = PregelEngine(spark).run(  # the reference runs all maxIterations
        initial_state=state0,
        step=step,
        stats_exprs=[F.max(F.size("mem")).alias("max_memory_labels")],
        converged=lambda st: False,
        max_iterations=max_iterations,
    )
    edges.unpersist()

    total = F.aggregate("mem", F.lit(0).cast("long"), lambda a, e: a + e["cnt"])
    comm = result.state.select(
        "vid",
        F.array_sort(
            F.transform(
                F.filter(
                    "mem",
                    lambda e: e["cnt"].cast("double") / total
                    >= F.lit(min_association_strength),
                ),
                lambda e: e["label"],
            )
        ).alias("community_ids"),
    )
    return SllpaResult(comm, result.ran_iterations, result.metrics)
