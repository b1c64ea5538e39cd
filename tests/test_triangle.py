"""Triangle count / LCC parity vs
algo/src/test/java/org/neo4j/gds/triangle/IntersectingTriangleCountTest.java."""

import pytest
from pyspark import StorageLevel

from graph_data_science_spark.operators.triangle import (
    _canonical_edges,
    average_clustering_coefficient,
    local_clustering_coefficient,
    triangle_count,
    triangles,
)
from graph_data_science_spark.plans.graph import Graph, Orientation
from tests.fixtures import adjacent_triangles_graph, clique5_graph, line_graph


def per_node(result):
    return {r["vid"]: r["triangles"] for r in result.per_node.collect()}


def test_line_no_triangles(spark):
    # IntersectingTriangleCountTest.java:44-61
    res = triangle_count(line_graph(spark))
    assert res.global_count == 0
    assert per_node(res) == {0: 0, 1: 0, 2: 0}


def test_clique5(spark):
    # IntersectingTriangleCountTest.java:81-104 — global 10, 6 per node
    res = triangle_count(clique5_graph(spark))
    assert res.global_count == 10
    assert per_node(res) == {v: 6 for v in range(5)}


def test_clique5_with_parallel_edges(spark):
    # parallel-edge duplicates are skipped (GraphIntersect.java:134-146)
    rows = [(a, b, 1.0) for a in range(5) for b in range(a + 1, 5)]
    rows += [(0, 1, 1.0), (1, 0, 1.0), (2, 3, 1.0)]  # duplicates both ways
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = Graph.from_edges(edges, orientation=Orientation.UNDIRECTED)
    res = triangle_count(g)
    assert res.global_count == 10
    assert per_node(res) == {v: 6 for v in range(5)}


def test_two_adjacent_triangles(spark):
    g = adjacent_triangles_graph(spark)
    res = triangle_count(g)
    assert res.global_count == 2
    assert per_node(res) == {0: 2, 1: 1, 2: 1, 3: 1, 4: 1}
    # triangle_count releases the edge cache it made
    assert _canonical_edges(g).storageLevel == StorageLevel.NONE


def test_max_degree_filter(spark):
    # clique5 with maxDegree 3: all nodes have degree 4 -> all excluded,
    # sentinel -1 (IntersectingTriangleCount.java:55,139-143)
    res = triangle_count(clique5_graph(spark), max_degree=3)
    assert res.global_count == 0
    assert per_node(res) == {v: -1 for v in range(5)}


def test_triangle_stream_rows(spark):
    # TriangleStream.java:96-148 — each triangle exactly once, a < b < c
    g = adjacent_triangles_graph(spark)
    tris = sorted(tuple(r) for r in triangles(g).collect())
    assert tris == [(0, 1, 2), (0, 3, 4)]
    assert _canonical_edges(g).storageLevel == StorageLevel.NONE  # nothing left cached


def test_lcc_clique5(spark):
    lcc = {r["vid"]: r["coefficient"] for r in
           local_clustering_coefficient(clique5_graph(spark)).collect()}
    assert lcc == {v: pytest.approx(1.0) for v in range(5)}
    assert average_clustering_coefficient(clique5_graph(spark)) == pytest.approx(1.0)


def test_lcc_line_zero(spark):
    lcc = {r["vid"]: r["coefficient"] for r in
           local_clustering_coefficient(line_graph(spark)).collect()}
    assert lcc == {0: 0.0, 1: 0.0, 2: 0.0}


def test_directed_input_treated_undirected(spark):
    # engine canonicalizes to the undirected simple graph
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(edges)  # NATURAL orientation input
    res = triangle_count(g)
    assert res.global_count == 1


def test_no_edges_under_aqe(spark):
    # the optimizer drops an empty relation's subtree; the global count's
    # observation must survive it (AQE on, as one-shot queries run)
    edges = spark.createDataFrame([], "src long, dst long, weight double")
    nodes = spark.createDataFrame([(0,), (1,)], "vid long")
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        res = triangle_count(Graph.from_edges(edges, nodes=nodes), max_degree=1)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert res.global_count == 0
    assert per_node(res) == {0: 0, 1: 0}
