"""Per-partition CSR blocks + vectorized gather-scatter (SpMV) messages.

This module supplies only the message kernel of `page_rank(...,
backend="csr")`: `build_csr_blocks` is the cached input and
`csr_messages` turns senders(vid, contrib) into msgs(vid, msg_sum).
The PageRank state machine itself (init, update, vote bits, stats,
convergence, normalization, scaler) lives once, in
operators/pagerank.py, and is shared with the sql backend.

This is the north-rule architecture for the PageRank superstep at
10^9..10^12-edge scale:

  - Edges are compacted ONCE into per-partition CSR blocks
    (block, src_vids sorted, indptr, dst_vids, weights) — the Spark
    analogue of the reference's compressed adjacency pages
    (core/.../loading/AdjacencyBuffer, DeltaVarLongCompressor.java);
    compression is unnecessary in-flight (Arrow) and at rest (Parquet
    encodings), plain int64 numpy beats varlong decode on vectorized
    math.
  - Block assignment = pmod(xxhash64(src [, salt]), P): explicit hash
    partitioning on source vertex. High-degree hub sources are SALTED
    across ceil(deg/hub_threshold) blocks so no single task owns a
    whole hub adjacency — groupBy-side skew AQE cannot fix
    (AQE splits join skew, not hot groupBy keys).
  - Per superstep: the (small) active vertex state is routed to the
    blocks that contain each vertex (routes table, built once), then a
    cogrouped applyInPandas runs the block-local SpMV in numpy: multi-
    range gather of adjacency slices, per-edge multiply, block-local
    segmented reduce (np.bincount) — the COMBINER, so each block emits
    at most one partial per distinct dst. A final groupBy(dst).sum()
    completes the segmented reduce (at most P partials per dst — no
    skew regardless of in-degree).
  - The blocks DataFrame is persisted ALREADY hash-partitioned by
    block, so the per-superstep cogroup shuffles only the state side
    (Catalyst reuses the existing HashPartitioning for the big side).

The reference's equivalent inner loop is the Pregel fan-out
(pregel/.../context/ComputeContext.java:145-171) over CSR cursors;
here a whole block's fan-out is one batched numpy kernel (no per-row
Python, per BASELINE.json input_hint).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pregel import cache_on
from graph_data_science_spark.plans.graph import Graph

_BLOCK_SCHEMA = (
    "block int, src_vids array<long>, indptr array<long>, "
    "dst_vids array<long>, weights array<double>"
)


@dataclass
class CsrGraph:
    blocks: DataFrame  # persisted, hash-partitioned by block
    routes: DataFrame  # (vid, block) distinct, persisted
    num_blocks: int

    def unpersist(self):
        self.blocks.unpersist()
        self.routes.unpersist()


def build_csr_blocks(
    graph: Graph,
    num_blocks: int | None = None,
    hub_threshold: int | None = None,
) -> CsrGraph:
    """Compact edges into CSR blocks.

    hub_threshold: sources with out-degree above it are salted over
    ceil(degree / hub_threshold) blocks. Defaults to
    max(4096, 4 * edge_count / num_blocks / 16) — i.e. no source may
    occupy more than ~1/4 of an average block.
    """
    spark = graph.edges.sparkSession
    if num_blocks is None:
        num_blocks = spark.sparkContext.defaultParallelism
    edges = graph.edges

    if hub_threshold is None:
        m = edges.count()
        hub_threshold = max(4096, m // (num_blocks * 4) or 1)

    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    e = edges.join(deg, "src")
    n_salts = F.greatest(F.lit(1), F.ceil(F.col("out_deg") / F.lit(hub_threshold)))
    # deterministic per-edge salt: spreads a hub's edges uniformly over
    # its salt range without needing a global row_number
    salt = F.pmod(F.xxhash64(F.lit(0x5A17), F.col("dst")), n_salts)
    e = e.withColumn("block", F.pmod(F.xxhash64(F.col("src"), salt), F.lit(num_blocks)).cast("int"))

    def build_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {"block": [], "src_vids": [], "indptr": [], "dst_vids": [], "weights": []}
            )
        block_id = int(pdf["block"].iloc[0])
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        w = pdf["weight"].to_numpy(np.float64)
        order = np.lexsort((dst, src))  # sorted adjacency, reference contract
        src, dst, w = src[order], dst[order], w[order]
        src_vids, counts = np.unique(src, return_counts=True)
        indptr = np.zeros(len(src_vids) + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])
        return pd.DataFrame(
            {
                "block": [block_id],
                "src_vids": [src_vids],
                "indptr": [indptr],
                "dst_vids": [dst],
                "weights": [w],
            }
        )

    blocks = (
        e.select("block", "src", "dst", "weight")
        .groupBy("block")
        .applyInPandas(build_block, schema=_BLOCK_SCHEMA)
        # keep blocks hash-partitioned by block so the per-superstep
        # cogroup needs no exchange on the (big) CSR side
        .repartition(num_blocks, "block")
        .persist()
    )
    # cached on vid, like the engine's state, so the per-superstep route
    # join is a co-partitioned merge join
    routes = cache_on(e.select("src", "block").distinct().withColumnRenamed("src", "vid"), "vid")
    blocks.count()  # materialize
    routes.count()
    return CsrGraph(blocks=blocks, routes=routes, num_blocks=num_blocks)


def _make_scatter(weighted: bool):
    """Block-local SpMV kernel for cogrouped applyInPandas."""

    def scatter(block_pdf: pd.DataFrame, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(block_pdf) == 0 or len(state_pdf) == 0:
            return pd.DataFrame({"vid": pd.Series([], dtype="int64"),
                                 "m": pd.Series([], dtype="float64")})
        src_vids = np.asarray(block_pdf["src_vids"].iloc[0], dtype=np.int64)
        indptr = np.asarray(block_pdf["indptr"].iloc[0], dtype=np.int64)
        dst_vids = np.asarray(block_pdf["dst_vids"].iloc[0], dtype=np.int64)
        act_vid = state_pdf["vid"].to_numpy(np.int64)
        act_contrib = state_pdf["contrib"].to_numpy(np.float64)

        pos = np.searchsorted(src_vids, act_vid)
        ok = (pos < len(src_vids)) & (src_vids[np.minimum(pos, len(src_vids) - 1)] == act_vid)
        pos, contrib = pos[ok], act_contrib[ok]
        if len(pos) == 0:
            return pd.DataFrame({"vid": pd.Series([], dtype="int64"),
                                 "m": pd.Series([], dtype="float64")})
        starts = indptr[pos]
        counts = indptr[pos + 1] - starts
        total = int(counts.sum())
        if total == 0:
            return pd.DataFrame({"vid": pd.Series([], dtype="int64"),
                                 "m": pd.Series([], dtype="float64")})
        # multi-range gather: indices of all adjacency slices, no Python loop
        within = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(counts) - counts, counts)
        idx = np.repeat(starts, counts) + within
        msgs = np.repeat(contrib, counts)
        if weighted:
            weights = np.asarray(block_pdf["weights"].iloc[0], dtype=np.float64)
            msgs = msgs * weights[idx]
        dsts = dst_vids[idx]
        # block-local combiner (segmented reduce)
        uniq, inv = np.unique(dsts, return_inverse=True)
        sums = np.bincount(inv, weights=msgs)
        return pd.DataFrame({"vid": uniq, "m": sums})

    return scatter


def csr_messages(csr: CsrGraph, active: DataFrame, weighted: bool) -> DataFrame:
    """active(vid, contrib) -> msgs(vid, msg_sum): route → block SpMV →
    final segmented reduce."""
    routed = active.join(csr.routes, "vid")
    cog = csr.blocks.groupBy("block").cogroup(routed.groupBy("block"))
    partials = cog.applyInPandas(_make_scatter(weighted), schema="vid long, m double")
    return partials.groupBy("vid").agg(F.sum("m").alias("msg_sum"))
