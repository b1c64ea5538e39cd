"""Tests for the breadth operators: modularityOptimization, kmeans,
sllpa, maxkcut, spanningTree/kSpanningTree, dfs, collapsePath, cnarw."""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.plans.graph import Graph, Orientation


def _two_cliques(spark, bridge_weight=1.0):
    rows = []
    for base in (0, 5):
        for i in range(5):
            for j in range(i + 1, 5):
                rows.append((base + i, base + j, 1.0))
    rows.append((0, 5, bridge_weight))
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    return Graph.from_edges(e, orientation=Orientation.UNDIRECTED)


def test_modularity_optimization_two_cliques(spark):
    from graph_data_science_spark.operators.louvain import modularity_optimization

    res = modularity_optimization(_two_cliques(spark))
    comm = {r["vid"]: r["community"] for r in res.communities.collect()}
    assert {comm[i] for i in range(5)} == {0}
    assert {comm[i] for i in range(5, 10)} == {5}
    assert res.modularity > 0.3
    assert res.did_converge


def test_kmeans_separated_clusters(spark):
    from graph_data_science_spark.operators.kmeans import kmeans

    rows = [(i, [0.0 + i * 0.01, 0.0]) for i in range(20)] + [
        (100 + i, [10.0 + i * 0.01, 10.0]) for i in range(20)
    ]
    nodes = spark.createDataFrame(rows, "vid long, emb array<double>")
    res = kmeans(nodes, "emb", k=2, max_iterations=8)
    a = {r["vid"]: r["community"] for r in res.assignments.collect()}
    g1 = {a[i] for i in range(20)}
    g2 = {a[100 + i] for i in range(20)}
    assert len(g1) == 1 and len(g2) == 1 and g1 != g2
    assert res.ran_iterations >= 1


def test_sllpa_two_cliques(spark):
    from graph_data_science_spark.operators.sllpa import sllpa

    # two DISCONNECTED 5-cliques (the deterministic min-label tie-break
    # would otherwise leak the global min label across a bridge)
    rows = []
    for base in (0, 5):
        for i in range(5):
            for j in range(5):
                if i != j:
                    rows.append((base + i, base + j, 1.0))
    g = Graph.from_edges(spark.createDataFrame(rows, "src long, dst long, weight double"))
    res = sllpa(g, max_iterations=20, min_association_strength=0.3)
    assert res.ran_iterations == 20
    assert [m["superstep"] for m in res.metrics] == list(range(20))
    comm = {r["vid"]: set(r["community_ids"]) for r in res.communities.collect()}
    dom1 = set.intersection(*[comm[i] for i in range(5)])
    dom2 = set.intersection(*[comm[i] for i in range(5, 10)])
    assert dom1 and dom2 and dom1 != dom2
    # overlapping-output contract: arrays, possibly several labels
    assert all(isinstance(v, set) and len(v) >= 1 for v in comm.values())


def test_maxkcut_bipartite_recovers_cut(spark):
    from graph_data_science_spark.operators.maxkcut import approx_max_k_cut

    # complete bipartite K3,3: max cut = all 9 edges
    rows = [(i, 3 + j, 1.0) for i in range(3) for j in range(3)]
    g = Graph.from_edges(
        spark.createDataFrame(rows, "src long, dst long, weight double"),
        orientation=Orientation.UNDIRECTED,
    )
    res = approx_max_k_cut(g, k=2, iterations=4)
    assert res.cut_cost == 9.0
    a = {r["vid"]: r["community"] for r in res.assignments.collect()}
    assert len({a[i] for i in range(3)}) == 1
    assert len({a[3 + i] for i in range(3)}) == 1


def test_spanning_tree_line_weights(spark):
    from graph_data_science_spark.operators.spanningtree import spanning_tree

    # triangle with one heavy edge: MST drops it
    rows = [(0, 1, 1.0), (1, 2, 2.0), (0, 2, 10.0)]
    g = Graph.from_edges(
        spark.createDataFrame(rows, "src long, dst long, weight double"),
        orientation=Orientation.UNDIRECTED,
    )
    res = spanning_tree(g, start_node=0)
    assert res.total_weight == 3.0
    assert res.effective_node_count == 3
    tree = {(r["vid"], r["parent"]) for r in res.tree.collect()}
    assert (0, None) in tree and (1, 0) in tree and (2, 1) in tree


def test_spanning_tree_matches_known_mst(spark):
    from graph_data_science_spark.operators.spanningtree import spanning_tree

    # classic fixture: MST weight = 1+2+2+3 = 8... compute by hand:
    # edges: 0-1:1, 0-2:4, 1-2:2, 1-3:6, 2-3:3, 3-4:2
    rows = [(0, 1, 1.0), (0, 2, 4.0), (1, 2, 2.0), (1, 3, 6.0), (2, 3, 3.0), (3, 4, 2.0)]
    g = Graph.from_edges(
        spark.createDataFrame(rows, "src long, dst long, weight double"),
        orientation=Orientation.UNDIRECTED,
    )
    res = spanning_tree(g, start_node=0)
    assert res.total_weight == 1.0 + 2.0 + 3.0 + 2.0
    assert res.effective_node_count == 5


def test_k_spanning_tree_splits(spark):
    from graph_data_science_spark.operators.spanningtree import k_spanning_tree

    # path 0-1-2-3 with a heavy middle edge: k=2 cuts it
    rows = [(0, 1, 1.0), (1, 2, 9.0), (2, 3, 1.0)]
    g = Graph.from_edges(
        spark.createDataFrame(rows, "src long, dst long, weight double"),
        orientation=Orientation.UNDIRECTED,
    )
    comp = {r["vid"]: r["component"] for r in k_spanning_tree(g, 0, k=2).collect()}
    assert comp[0] == comp[1] and comp[2] == comp[3] and comp[0] != comp[2]


def test_dfs_order_and_guard(spark):
    from graph_data_science_spark.operators.traversal import dfs

    # 0 -> 1,2 ; 1 -> 3 ; DFS from 0 visits 0,1,3,2 (ascending nbr order)
    rows = [(0, 1, 1.0), (0, 2, 1.0), (1, 3, 1.0)]
    g = Graph.from_edges(spark.createDataFrame(rows, "src long, dst long, weight double"))
    order = {r["vid"]: r["visit_order"] for r in dfs(g, source=0).collect()}
    assert order == {0: 0, 1: 1, 3: 2, 2: 3}


def test_collapse_path(spark):
    from graph_data_science_spark.operators.traversal import collapse_path

    e1 = spark.createDataFrame([(0, 1), (5, 6)], "src long, dst long")
    e2 = spark.createDataFrame([(1, 2), (6, 0)], "src long, dst long")
    out = {(r["src"], r["dst"]) for r in collapse_path([e1, e2]).collect()}
    assert out == {(0, 2), (5, 0)}


def test_sample_cnarw(spark):
    from graph_data_science_spark.sources.generator import random_graph
    from graph_data_science_spark.sources.sampling import sample_cnarw

    g = random_graph(spark, 300, 6, seed=5)
    starts = spark.createDataFrame([(0,), (1,)], "vid long")
    sub = sample_cnarw(g, starts, walk_length=6, walks_per_node=3)
    n = sub.nodes.count()
    assert 0 < n < 300
    # sampled edges only touch sampled nodes
    bad = (
        sub.edges.join(sub.nodes.withColumnRenamed("vid", "src"), "src", "left_anti").count()
        + sub.edges.join(sub.nodes.withColumnRenamed("vid", "dst"), "dst", "left_anti").count()
    )
    assert bad == 0
    # determinism
    sub2 = sample_cnarw(g, starts, walk_length=6, walks_per_node=3)
    assert sub2.nodes.count() == n
