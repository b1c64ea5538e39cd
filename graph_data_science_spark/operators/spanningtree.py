"""Spanning trees — gds.spanningTree / gds.kSpanningTree.

Reference: algo/src/main/java/org/neo4j/gds/spanningtree/Prim.java
(sequential Prim from a start node over the UNDIRECTED weighted view,
min or max objective; result = per-node parent + cost arrays) and
KSpanningTree.java (split the spanning tree into k trees by pruning the
k-1 most expensive tree edges).

Spark-first: Prim's frontier heap is inherently sequential, so the
distributed formulation is BORUVKA (public classic): every component
selects its lightest outgoing edge (deterministic total order on
(weight, src, dst) breaks ties, which makes the forest unique), selected
edges merge components via a min-label fixpoint on the component graph,
repeat — O(log n) rounds, each a join + groupBy + small WCC. For a
connected graph Boruvka and Prim produce spanning trees of IDENTICAL
total weight (the MST weight is unique; with the total order the edge
SET is unique too). Parent pointers for the reference's result shape
come from one BFS parent fixpoint over the forest, rooted at the start
node.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.graph import Graph, Orientation
from graph_data_science_spark.plans.lineage import cut_lineage


@dataclass
class SpanningTreeResult:
    # (vid, parent, weight) — parent NULL for the root / unreached nodes
    tree: DataFrame
    edges: DataFrame  # forest edges (src, dst, weight), canonical src<dst
    total_weight: float
    effective_node_count: int


def _canonical(graph: Graph) -> DataFrame:
    e = graph.edges
    if graph.orientation == Orientation.UNDIRECTED:
        return e.filter(F.col("src") < F.col("dst")).select("src", "dst", "weight")
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "weight",
        )
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
    )


def minimum_spanning_forest(
    graph: Graph, objective: str = "minimum", max_rounds: int = 40
) -> tuple[DataFrame, DataFrame]:
    """Boruvka. Returns (forest_edges(src,dst,weight), comp(vid, component))."""
    from graph_data_science_spark.operators.wcc import wcc as _wcc

    sign = 1.0 if objective == "minimum" else -1.0
    edges = _canonical(graph).select(
        "src", "dst", "weight", (F.col("weight") * sign).alias("key_w")
    ).persist()
    comp = graph.nodes.select("vid", F.col("vid").alias("component"))
    comp = cut_lineage(comp)
    forest = None
    for _round in range(max_rounds):
        cu = comp.select(F.col("vid").alias("src"), F.col("component").alias("cs"))
        cv = comp.select(F.col("vid").alias("dst"), F.col("component").alias("cd"))
        ec = edges.join(cu, "src").join(cv, "dst").filter(F.col("cs") != F.col("cd"))
        # lightest outgoing edge per component, deterministic total order
        pick = F.struct("key_w", "src", "dst", "weight", "cs", "cd")
        cand = ec.select(F.col("cs").alias("comp"), pick.alias("e")).unionByName(
            ec.select(F.col("cd").alias("comp"), pick.alias("e"))
        )
        sel = cand.groupBy("comp").agg(F.min("e").alias("e")).select(
            F.col("e.src").alias("src"), F.col("e.dst").alias("dst"),
            F.col("e.weight").alias("weight"),
            F.col("e.cs").alias("cs"), F.col("e.cd").alias("cd"),
        ).dropDuplicates(["src", "dst"]).persist()
        if sel.isEmpty():
            sel.unpersist()
            break
        new_forest_edges = sel.select("src", "dst", "weight")
        forest = (
            new_forest_edges if forest is None
            else forest.unionByName(new_forest_edges)
        )
        forest = cut_lineage(forest)
        # merge components: WCC over the selected component-graph edges
        comp_edges = sel.select(
            F.col("cs").alias("src"), F.col("cd").alias("dst"), F.lit(1.0).alias("weight")
        )
        cg = Graph.from_edges(comp_edges)
        mapping = _wcc(cg).components.select(
            F.col("vid").alias("component"), F.col("component").alias("new_c")
        )
        comp = cut_lineage(
            comp.join(mapping, "component", "left").select(
                "vid", F.coalesce("new_c", "component").alias("component")
            )
        )
        sel.unpersist()
    edges.unpersist()
    if forest is None:
        forest = graph.edges.sparkSession.createDataFrame(
            [], "src long, dst long, weight double"
        )
    return forest, comp


def spanning_tree(
    graph: Graph, start_node: int, objective: str = "minimum", max_rounds: int = 40
) -> SpanningTreeResult:
    """gds.spanningTree: the spanning tree of start_node's component,
    rooted at start_node (per-node parent + edge weight)."""
    forest, comp = minimum_spanning_forest(graph, objective, max_rounds)
    forest = forest.persist()
    # restrict to the start node's component
    start_comp = comp.filter(F.col("vid") == start_node).select("component")
    members = comp.join(start_comp, "component", "left_semi").select("vid")
    tree_edges = (
        forest.join(members.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(members.withColumnRenamed("vid", "dst"), "dst", "left_semi")
        .persist()
    )
    # root the tree: BFS parent fixpoint over undirected forest edges
    from graph_data_science_spark.operators.dijkstra import _parent_fixpoint

    tg = Graph.from_edges(
        tree_edges.select("src", "dst", F.lit(1.0).alias("weight")),
        nodes=members,
        orientation=Orientation.UNDIRECTED,
    )
    state, _ran, _conv, _m = _parent_fixpoint(tg, start_node, 10_000, None)
    # attach the tree edge weight to each (vid, parent)
    ew = tree_edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"), "weight"
    )
    tree = (
        state.filter(F.col("dist") < float("inf"))
        .select("vid", "parent")
        .join(
            ew,
            (F.least("vid", "parent") == F.col("a"))
            & (F.greatest("vid", "parent") == F.col("b")),
            "left",
        )
        .select("vid", "parent", "weight")
    )
    total = tree.agg(F.sum("weight")).collect()[0][0] or 0.0
    count = tree.count()
    forest.unpersist()
    return SpanningTreeResult(
        tree=tree,
        edges=tree_edges.select("src", "dst", "weight"),
        total_weight=float(total),
        effective_node_count=count,
    )


def k_spanning_tree(
    graph: Graph, start_node: int, k: int, objective: str = "minimum"
) -> DataFrame:
    """gds.kSpanningTree: cut the spanning tree into k trees by removing
    the k-1 most expensive (min objective) tree edges; returns
    (vid, component) where component = min member vid of each subtree."""
    res = spanning_tree(graph, start_node, objective)
    sign = F.desc("weight") if objective == "minimum" else F.asc("weight")
    cut = res.edges.orderBy(sign, F.asc("src"), F.asc("dst")).limit(k - 1)
    kept = res.edges.join(cut, ["src", "dst"], "left_anti")
    from graph_data_science_spark.operators.wcc import wcc as _wcc

    members = res.tree.select("vid")
    g = Graph.from_edges(
        kept.select("src", "dst", F.lit(1.0).alias("weight")),
        nodes=members,
        orientation=Orientation.UNDIRECTED,
    )
    return _wcc(g).components.select("vid", "component")
