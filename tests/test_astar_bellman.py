"""A* + Bellman-Ford fixtures transcribed from the reference
algo/src/test/java/org/neo4j/gds/paths/astar/AStarTest.java:60-123
(17-waypoint shipping route, haversine heuristic) and
algo/src/test/java/org/neo4j/gds/paths/bellmanford/BellmanFordTest.java
:48-201 (negative weights, negative-cycle loop graph, javatpoint
example graph)."""

import math

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.astar import astar, haversine_nm
from graph_data_science_spark.operators.bellmanford import bellman_ford, cycle_costs
from graph_data_science_spark.plans.graph import Graph

# AStarTest DB_CYPHER: nA..nX = 0..16
ASTAR_NODES = [
    (0, 1.304444, 103.717373), (1, 1.1892, 103.4689),
    (2, 8.83055556, 111.8725), (3, 10.82916667, 113.9722222),
    (4, 11.9675, 115.2366667), (5, 16.0728, 119.6128),
    (6, 20.5325, 121.845), (7, 29.32611111, 131.2988889),
    (8, -2.0428, 108.6225), (9, -8.3256, 115.8872),
    (10, -8.5945, 116.6867), (11, -8.2211, 125.2411),
    (12, -1.8558, 126.5572), (13, 3.96861111, 128.3052778),
    (14, 12.76305556, 131.2980556), (15, 22.32027778, 134.7),
    (16, 35.562222, 140.059187),
]
ASTAR_EDGES = [
    (0, 1, 29.0), (1, 2, 694.0), (2, 3, 172.0), (3, 4, 101.0),
    (4, 5, 357.0), (5, 6, 299.0), (6, 7, 740.0), (7, 16, 587.0),
    (1, 8, 389.0), (8, 9, 584.0), (9, 10, 82.0), (10, 11, 528.0),
    (11, 12, 391.0), (12, 13, 364.0), (13, 14, 554.0), (14, 15, 603.0),
    (15, 16, 847.0),
]


def _astar_graph(spark):
    nodes = spark.createDataFrame(
        ASTAR_NODES, "vid long, latitude double, longitude double"
    )
    edges = spark.createDataFrame(ASTAR_EDGES, "src long, dst long, weight double")
    return Graph.from_edges(edges, nodes=nodes)


def test_astar_source_target(spark):
    """AStarTest.sourceTarget:102-123 — nA -> nX goes north through the
    strait chain with costs [0, 29, 723, 895, 996, 1353, 1652, 2392,
    2979]."""
    res = astar(_astar_graph(spark), source=0, target=16)
    rows = res.paths.collect()
    assert len(rows) == 1
    p = rows[0]
    assert p["node_ids"] == [0, 1, 2, 3, 4, 5, 6, 7, 16]
    assert p["costs"] == [0.0, 29.0, 723.0, 895.0, 996.0, 1353.0, 2392.0 - 740.0, 2392.0, 2979.0]
    assert p["total_cost"] == 2979.0


def test_astar_missing_property_raises(spark):
    g = _astar_graph(spark)
    g2 = Graph(nodes=g.nodes.drop("latitude"), edges=g.edges, orientation=g.orientation)
    with pytest.raises(ValueError, match="latitude"):
        astar(g2, source=0, target=16)


def test_haversine_matches_reference_formula(spark):
    """HaversineHeuristic.distance — spot value: Singapore -> Chiba."""
    df = spark.range(1).select(
        haversine_nm(F.lit(1.304444), F.lit(103.717373),
                     F.lit(35.562222), F.lit(140.059187)).alias("d")
    )
    got = df.collect()[0]["d"]
    # reference formula in plain python
    km_to_nm = 0.539957
    r = 6371 * km_to_nm
    lat1, lon1, lat2, lon2 = map(math.radians, (1.304444, 103.717373, 35.562222, 140.059187))
    a = math.sin((lat2 - lat1) / 2) ** 2 + math.sin((lon2 - lon1) / 2) ** 2 * math.cos(lat1) * math.cos(lat2)
    want = 2 * r * math.asin(math.sqrt(a))
    assert abs(got - want) < 1e-9


def _bf_graph(spark, edges):
    return Graph.from_edges(
        spark.createDataFrame(edges, "src long, dst long, weight double")
    )


def test_bellman_ford_negative_weights_no_cycle(spark):
    """BellmanFordTest.shouldComputeShortestPathsWithoutLoops:107-140."""
    g = _bf_graph(spark, [
        (0, 1, 1.0), (0, 2, -1.0), (0, 3, 10.0), (3, 4, -8.0), (1, 4, 3.0),
    ])
    res = bellman_ford(g, source=0)
    assert not res.contains_negative_cycle
    assert res.did_converge
    got = {r["target_node"]: (r["total_cost"], list(r["node_ids"])) for r in res.paths.collect()}
    assert got == {
        0: (0.0, [0]), 1: (1.0, [0, 1]), 2: (-1.0, [0, 2]),
        3: (10.0, [0, 3]), 4: (2.0, [0, 3, 4]),
    }


def test_bellman_ford_javatpoint_example(spark):
    """BellmanFordTest.shouldUpdateBasedOnNegativeCorrectly:163-200 —
    A=0 B=1 C=2 D=3 E=4 F=5."""
    g = _bf_graph(spark, [
        (0, 1, 6.0), (0, 2, 4.0), (0, 3, 5.0), (1, 4, -1.0), (2, 1, -2.0),
        (2, 4, 3.0), (3, 2, -2.0), (3, 5, -1.0), (4, 5, 3.0),
    ])
    res = bellman_ford(g, source=0)
    assert not res.contains_negative_cycle
    got = {r["target_node"]: (r["total_cost"], list(r["node_ids"])) for r in res.paths.collect()}
    assert got == {
        0: (0.0, [0]),
        1: (1.0, [0, 3, 2, 1]),
        2: (3.0, [0, 3, 2]),
        3: (5.0, [0, 3]),
        4: (0.0, [0, 3, 2, 1, 4]),
        5: (3.0, [0, 3, 2, 1, 4, 5]),
    }
    assert len(got) == 6


LOOP_EDGES = [(0, 1, 1.0), (0, 2, 10.0), (2, 3, -8.0), (3, 4, -4.0), (4, 2, 1.0)]


@pytest.mark.parametrize("tail", [[], [(4, 5, 1.0)]], ids=["loop", "loop_with_tail"])
def test_bellman_ford_negative_cycle(spark, tail):
    """BellmanFordTest.shouldTrackNegativeCycles:143-150 — loop graph
    a2->a3->a4->a2 sums to -11. With a tail edge 4->5, node 5 overflows
    too, but its predecessor walk never returns to it: no cycle row."""
    g = _bf_graph(spark, LOOP_EDGES + tail)
    res = bellman_ford(g, source=0)
    assert res.contains_negative_cycle
    assert res.paths.count() == 0  # shortest paths empty on cycle
    cyc = cycle_costs(res.negative_cycles, g).collect()
    assert len(cyc) >= 1
    for c in cyc:
        ids = list(c["node_ids"])
        assert ids[0] == ids[-1] == c["source_node"]
        assert set(ids) <= {2, 3, 4}
        assert c["total_cost"] == -11.0


def test_bellman_ford_no_track_cycles(spark):
    """BellmanFordTest.shouldNotTrackNegativeCycles:153-160."""
    g = _bf_graph(spark, [
        (0, 1, 1.0), (0, 2, 10.0), (2, 3, -8.0), (3, 4, -4.0), (4, 2, 1.0),
    ])
    res = bellman_ford(g, source=0, track_negative_cycles=False)
    assert res.contains_negative_cycle
    assert res.negative_cycles.count() == 0
    assert res.paths.count() == 0


def test_bellman_ford_matches_dijkstra_on_positive_weights(spark):
    """BellmanFordTest.shouldGiveSameResultsAsDijkstra:236-284 analogue
    on a small deterministic positive-weight graph."""
    from graph_data_science_spark.operators.dijkstra import dijkstra

    edges = [
        (u, v, float((u * 7 + v * 13) % 9 + 1))
        for u in range(12) for v in range(12)
        if u != v and (u * 31 + v * 17) % 5 == 0
    ]
    g = _bf_graph(spark, edges)
    bf = bellman_ford(g, source=0)
    dj = dijkstra(g, source=0)
    bd = {r["vid"]: r["distance"] for r in bf.distances.collect() if r["distance"] < float("inf")}
    dd = {r["vid"]: r["distance"] for r in dj.distances.collect() if r["distance"] < float("inf")}
    assert bd == dd
