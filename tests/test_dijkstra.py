"""Dijkstra/Yens fixtures transcribed from the reference:
algo/src/test/java/org/neo4j/gds/paths/dijkstra/DijkstraTest.java:78-143
(a..f graph, path a->f = [a,c,e,d,f] costs [0,2,5,9,20]) and
algo/src/test/java/org/neo4j/gds/paths/yens/YensTest.java:67-140
(the classic c..h Yen graph, k shortest c->h)."""

from pyspark.sql import functions as F

from graph_data_science_spark.operators.dijkstra import dijkstra, yens
from graph_data_science_spark.plans.graph import Graph

# a=0 b=1 c=2 d=3 e=4 f=5
DIJ_EDGES = [
    (0, 1, 4.0), (0, 2, 2.0), (1, 2, 5.0), (1, 3, 10.0),
    (2, 4, 3.0), (3, 5, 11.0), (4, 3, 4.0),
]

# c=0 d=1 e=2 f=3 g=4 h=5 z=6
YENS_EDGES = [
    (0, 1, 3.0), (0, 2, 2.0), (1, 3, 4.0), (2, 1, 1.0), (2, 3, 2.0),
    (2, 4, 3.0), (3, 4, 2.0), (3, 5, 1.0), (4, 5, 2.0),
]


def _graph(spark, rows, n):
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vid long")
    return Graph.from_edges(edges, nodes=nodes)


def test_dijkstra_source_target(spark):
    g = _graph(spark, DIJ_EDGES, 6)
    res = dijkstra(g, source=0, targets=[5])
    rows = res.paths.collect()
    assert len(rows) == 1
    p = rows[0]
    # DijkstraTest:123 — a,c,e,d,f with cumulative costs 0,2,5,9,20
    assert p["node_ids"] == [0, 2, 4, 3, 5]
    assert p["costs"] == [0.0, 2.0, 5.0, 9.0, 20.0]
    assert p["total_cost"] == 20.0
    assert p["source_node"] == 0 and p["target_node"] == 5


def test_dijkstra_all_targets(spark):
    g = _graph(spark, DIJ_EDGES, 6)
    res = dijkstra(g, source=0)
    rows = {r["target_node"]: r for r in res.paths.collect()}
    # singleSourceFromDisconnectedNode-style: every reachable node gets a path
    assert set(rows) == {0, 1, 2, 3, 4, 5}
    assert rows[0]["node_ids"] == [0] and rows[0]["total_cost"] == 0.0
    assert rows[1]["node_ids"] == [0, 1] and rows[1]["total_cost"] == 4.0
    assert rows[4]["node_ids"] == [0, 2, 4] and rows[4]["total_cost"] == 5.0
    # index is cost-ordered
    ordered = sorted(rows.values(), key=lambda r: r["index"])
    costs = [r["total_cost"] for r in ordered]
    assert costs == sorted(costs)


def test_dijkstra_unreachable_excluded(spark):
    g = _graph(spark, [(0, 1, 1.0)], 3)  # node 2 isolated
    res = dijkstra(g, source=0)
    assert {r["target_node"] for r in res.paths.collect()} == {0, 1}
    d = {r["vid"]: r["distance"] for r in res.distances.collect()}
    assert d[2] == float("inf")


def test_yens_k3(spark):
    g = _graph(spark, YENS_EDGES, 7)
    out = yens(g, source=0, target=5, k=3).collect()
    got = [(tuple(r["node_ids"]), r["total_cost"]) for r in out]
    # YensTest pathInput() k=3: c,e,f,h (5) / c,e,g,h (7) / c,d,f,h (8)
    assert got == [
        ((0, 2, 3, 5), 5.0),
        ((0, 2, 4, 5), 7.0),
        ((0, 1, 3, 5), 8.0),
    ]
    # cumulative costs of the first path match the reference exactly
    assert out[0]["costs"] == [0.0, 2.0, 4.0, 5.0]


def test_yens_k1_equals_dijkstra(spark):
    g = _graph(spark, YENS_EDGES, 7)
    y = yens(g, source=0, target=5, k=1).collect()
    d = dijkstra(g, source=0, targets=[5]).paths.collect()
    assert [tuple(r["node_ids"]) for r in y] == [tuple(r["node_ids"]) for r in d]


def test_deep_chain_pointer_doubling(spark):
    """A 60-hop chain forces the pointer-doubling reconstruction path
    (max_rounds > _DOUBLING_THRESHOLD): the full path must come back in
    order with per-hop cumulative costs."""
    from graph_data_science_spark.operators.dijkstra import dijkstra

    n = 61
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(edges)
    res = dijkstra(g, source=0, targets=[n - 1], max_iterations=80)
    assert res.did_converge
    rows = res.paths.collect()
    assert len(rows) == 1
    assert list(rows[0]["node_ids"]) == list(range(n))
    assert list(rows[0]["costs"]) == [float(i) for i in range(n)]
    assert rows[0]["total_cost"] == float(n - 1)


# _reconstruct's jobs beyond one per walk superstep: the path ranking's
# two checkpoints and its offset collect, plus the caller's collect
_WALK_OVERHEAD_JOBS = 6


def test_linear_walk_is_one_job_per_hop(spark):
    from graph_data_science_spark.operators.dijkstra import _reconstruct

    hops = 12
    parents = spark.createDataFrame(
        [(v, float(v), v - 1 if v else None) for v in range(hops + 1)],
        "vid long, dist double, parent long",
    )
    targets = spark.createDataFrame([(hops,)], "vid long")
    sc = spark.sparkContext
    sc.setJobGroup("linear-walk", "linear walk job count")
    try:
        rows = _reconstruct(parents, 0, targets, max_rounds=hops).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [list(r["node_ids"]) for r in rows] == [list(range(hops + 1))]
    assert rows[0]["total_cost"] == float(hops)
    jobs = len(sc.statusTracker().getJobIdsForGroup("linear-walk"))
    assert jobs <= hops + 1 + _WALK_OVERHEAD_JOBS


def test_walk_leaves_a_durable_engine_to_the_fixpoint(spark, tmp_ckpt):
    from graph_data_science_spark.operators.pregel import PregelEngine

    g = _graph(spark, DIJ_EDGES, 6)
    eng = PregelEngine(spark, checkpoint_dir=tmp_ckpt)
    res = dijkstra(g, source=0, targets=[5], engine=eng)
    assert res.paths.collect()[0]["node_ids"] == [0, 2, 4, 3, 5]
    supersteps = [m["superstep"] for m in res.metrics]
    assert [m["superstep"] for m in eng.manager.metrics()] == supersteps
    assert eng.manager.latest_superstep() == supersteps[-1]
