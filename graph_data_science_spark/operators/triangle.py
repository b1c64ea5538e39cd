"""Triangle counting, triangle streaming, local clustering coefficient.

Reference: algo/src/main/java/org/neo4j/gds/triangle/:
  - Requires an UNDIRECTED projection (TriangleCountBaseConfig.java:50-58).
  - Node-iterator with sorted-adjacency intersection emitting each
    triangle once as c < b < a (GraphIntersect.java:53-125); parallel-edge
    duplicates skipped (:134-146).
  - Per-node count: each triangle increments its 3 corners; global =
    number of triangles (IntersectingTriangleCount.java:150-155).
  - maxDegree filter: nodes with degree > maxDegree are excluded and
    report -1 (IntersectingTriangleCount.java:55,139-143, config
    TriangleCountBaseConfig.java:43).
  - LCC: C(v) = 2·t(v) / (deg(v)·(deg(v)−1)), 0 when degree < 2; degree
    counted without parallel edges
    (LocalClusteringCoefficient.java:85-135).

Spark plan: canonicalize the undirected edge set to src < dst (dedup =
parallel-edge skipping), then count triangles with a two-hop self-join
closed by a third join:
    e1(a,b) ⋈ e2(b,c) on b, with a<b<c  ⋈ e3(a,c)
All three sides are the same deduped canonical edge table — Catalyst
reuses the exchange; AQE handles residual skew. The degree-ordered
orientation trick (orient each edge from lower- to higher-degree
endpoint) is applied first, which bounds per-vertex fan-out to O(sqrt(m))
on power-law graphs — the standard scalable formulation — while
preserving exact counts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph_data_science_spark.plans.graph import Graph, Orientation
from graph_data_science_spark.plans.lineage import cut_lineage


@dataclass
class TriangleCountResult:
    per_node: DataFrame  # (vid, triangles)  -1 for maxDegree-excluded nodes
    global_count: int


def _canonical_edges(graph: Graph) -> DataFrame:
    """Undirected simple-edge view: src < dst, deduped, self-loops dropped."""
    e = graph.edges
    if graph.orientation != Orientation.UNDIRECTED:
        e = e.select("src", "dst").unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    else:
        e = e.select("src", "dst")
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _degrees(edges: DataFrame) -> DataFrame:
    """(vid, d): degree over the canonical edges, parallel edges counted once."""
    return (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _triangles(edges: DataFrame, max_degree: int | None) -> DataFrame:
    """Triangles (a, b, c), a < b < c, of canonical `edges`, each counted
    once; nodes of degree > max_degree take part in none."""
    if max_degree is not None:
        keep = _degrees(edges).filter(F.col("d") <= max_degree).select("vid")
        edges = (
            edges.join(keep.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )

    # degree-ordered orientation: from lower (degree, id) to higher —
    # bounds wedge fan-out on skewed graphs; counts are unchanged
    deg = _degrees(edges)
    e_ranked = (
        edges.join(deg.withColumnRenamed("vid", "src").withColumnRenamed("d", "ds"), "src")
        .join(deg.withColumnRenamed("vid", "dst").withColumnRenamed("d", "dd"), "dst")
        .select(
            F.when(
                (F.col("ds") < F.col("dd"))
                | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
            )
            .otherwise(F.struct(F.col("dst").alias("u"), F.col("src").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )
    e1 = e_ranked.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e_ranked.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b").select("a", "b", "c").filter(F.col("a") != F.col("c"))
    closing = edges.select(
        F.col("src").alias("x"), F.col("dst").alias("y")
    )
    tri = wedges.join(
        closing,
        (F.least("a", "c") == F.col("x")) & (F.greatest("a", "c") == F.col("y")),
        "left_semi",
    )
    out = tri.select(
        F.least(F.least("a", "b"), "c").alias("ta"),
        F.expr("a + b + c - least(a, least(b, c)) - greatest(a, greatest(b, c))").alias("tb"),
        F.greatest(F.greatest("a", "b"), "c").alias("tc"),
    ).select(F.col("ta").alias("a"), F.col("tb").alias("b"), F.col("tc").alias("c"))
    return out


def triangles(graph: Graph, max_degree: int | None = None) -> DataFrame:
    """Stream distinct triangles as rows (a, b, c) with a < b < c.

    Mirrors gds.triangles (TriangleStream.java:52,96-148; reference emits
    c<b<a — same set, fixed corner order)."""
    return _triangles(_canonical_edges(graph), max_degree)


def _node_triangles(graph: Graph, edges: DataFrame, max_degree: int | None) -> DataFrame:
    """(vid, triangles) over the canonical `edges`: per-node corner counts,
    0 for nodes in no triangle, -1 for maxDegree-excluded nodes."""
    corners = (
        _triangles(edges, max_degree)
        .select(F.explode(F.array("a", "b", "c")).alias("vid"))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    per_node = graph.nodes.select("vid").join(corners, "vid", "left").select(
        "vid", F.coalesce("t", F.lit(0)).alias("triangles")
    )
    if max_degree is not None:
        # excluded nodes report -1 (IntersectingTriangleCount.java:139-143)
        per_node = per_node.join(_degrees(edges), "vid", "left").select(
            "vid",
            F.when(F.coalesce("d", F.lit(0)) > max_degree, F.lit(-1))
            .otherwise(F.col("triangles"))
            .alias("triangles"),
        )
    return per_node


def triangle_count(graph: Graph, max_degree: int | None = None) -> TriangleCountResult:
    """per_node is materialized once (cut_lineage); the global count is
    observed in the same job as sum(per-node counts) / 3."""
    edges = _canonical_edges(graph).persist()
    # observed at the plan's root: the optimizer drops an empty join side,
    # and an observation inside it with it. Nodes reporting -1 are in no
    # triangle, so the sum ignores them.
    obs = Observation()
    per_node = cut_lineage(
        _node_triangles(graph, edges, max_degree).observe(
            obs, F.sum(F.greatest("triangles", F.lit(0))).alias("corners")
        )
    )
    edges.unpersist()
    return TriangleCountResult(per_node=per_node, global_count=(obs.get["corners"] or 0) // 3)


def local_clustering_coefficient(graph: Graph) -> DataFrame:
    """(vid, coefficient): C(v) = 2·t(v) / (deg(v)·(deg(v)−1)), 0 if deg<2
    (LocalClusteringCoefficient.java:125-135; degree without parallel
    edges). Triangles and degrees share one cached canonical edge set,
    materialized (cut_lineage) before it is released."""
    edges = _canonical_edges(graph).persist()
    lcc = cut_lineage(
        _node_triangles(graph, edges, None)
        .join(_degrees(edges), "vid", "left")
        .select(
            "vid",
            F.when(
                F.coalesce("d", F.lit(0)) >= 2,
                2.0 * F.col("triangles") / (F.col("d") * (F.col("d") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("coefficient"),
        )
    )
    edges.unpersist()
    return lcc


def average_clustering_coefficient(graph: Graph) -> float:
    lcc = local_clustering_coefficient(graph)
    return lcc.agg(F.avg("coefficient")).collect()[0][0] or 0.0
