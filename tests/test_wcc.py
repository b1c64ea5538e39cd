"""WCC parity vs algo/src/test/java/org/neo4j/gds/wcc/WccTest.java."""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.wcc import wcc, wcc_stats
from graph_data_science_spark.plans.graph import Graph
from tests.fixtures import WCC_SET_SIZE, WCC_SETS_COUNT, wcc_chain_graph


def comp_dict(result):
    return {r["vid"]: r["component"] for r in result.components.collect()}


def test_16_chains_exact(spark):
    # WccTest.java:63-91 — componentId = min vid of the chain (union-by-min)
    g = wcc_chain_graph(spark)
    res = wcc(g)
    got = comp_dict(res)
    assert len(got) == WCC_SETS_COUNT * WCC_SET_SIZE
    for v, c in got.items():
        assert c == (v // WCC_SET_SIZE) * WCC_SET_SIZE, v
    assert res.did_converge


def test_component_count_and_sizes(spark):
    g = wcc_chain_graph(spark)
    res = wcc(g)
    stats = wcc_stats(res).collect()
    assert len(stats) == WCC_SETS_COUNT
    assert all(r["size"] == WCC_SET_SIZE for r in stats)


def test_directed_equals_undirected(spark):
    # WCC ignores direction (propagates over the undirected view)
    g = wcc_chain_graph(spark)
    res_nat = wcc(g)
    res_und = wcc(g.to_undirected())
    assert comp_dict(res_nat) == comp_dict(res_und)


def test_weight_threshold(spark):
    # WccBaseConfig.java:30-46: union only edges with weight > threshold.
    # chain 0-1-2 with weights 1.0, 0.4: threshold 0.5 splits {0,1} and {2}
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 0.4)], "src long, dst long, weight double"
    )
    nodes = spark.createDataFrame([(i,) for i in range(3)], "vid long")
    g = Graph.from_edges(edges, nodes=nodes)
    got = comp_dict(wcc(g, threshold=0.5))
    assert got == {0: 0, 1: 0, 2: 2}


def test_seeded_incremental(spark):
    # HugeAtomicDisjointSetStruct.java:129-146: seeded components keep the
    # seed id; unseeded components get ids > maxSeed.
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (2, 3, 1.0), (4, 5, 1.0)], "src long, dst long, weight double"
    )
    nodes = spark.createDataFrame(
        [(0, 42), (1, None), (2, 7), (3, None), (4, None), (5, None)],
        "vid long, seed long",
    )
    g = Graph.from_edges(edges, nodes=nodes)
    got = comp_dict(wcc(g, seed_col="seed"))
    assert got[0] == 42 and got[1] == 42
    assert got[2] == 7 and got[3] == 7
    assert got[4] == got[5] and got[4] > 42


def test_isolated_node_is_own_component(spark):
    edges = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, weight double")
    nodes = spark.createDataFrame([(0,), (1,), (9,)], "vid long")
    g = Graph.from_edges(edges, nodes=nodes)
    got = comp_dict(wcc(g))
    assert got == {0: 0, 1: 0, 9: 9}


def test_star_contraction_chain_logarithmic(spark):
    """A 10k-node chain needs ~10k min-propagation supersteps plain, but
    O(log n) with star contraction — and the same fixed point."""
    n = 10_000
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(edges)
    res = wcc(g, max_iterations=40, star_contraction=True)
    assert res.did_converge, "star contraction should converge in O(log n)"
    assert res.ran_iterations <= 32
    comps = res.components.select("component").distinct().collect()
    assert [r["component"] for r in comps] == [0]


def test_star_contraction_same_components(spark):
    """Same components with and without the shortcut on a mixed graph."""
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(30)] + [(100, 101, 1.0), (101, 102, 1.0)],
        "src long, dst long, weight double",
    )
    g = Graph.from_edges(edges)
    plain = wcc(g, max_iterations=60).components
    short = wcc(g, max_iterations=60, star_contraction=True).components
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, short.collect()))
