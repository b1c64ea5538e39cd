import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.graph import Graph
from graph_data_science_spark.sources.sampling import (
    biased_random_walks,
    random_walks,
    sample_cnarw,
    sample_rwr,
)
from tests.fixtures import pagerank_graph


def test_random_walks_follow_edges(spark):
    g = pagerank_graph(spark)
    edge_set = {(r["src"], r["dst"]) for r in g.edges.collect()}
    walks = random_walks(g, walks_per_node=2, walk_length=4, seed=42).collect()
    assert len(walks) == 11 * 2
    for r in walks:
        path = r["path"]
        assert path[0] == r["start"]
        for a, b in zip(path, path[1:]):
            assert (a, b) in edge_set


def test_random_walks_deterministic(spark):
    g = pagerank_graph(spark)
    a = sorted((r["walk_id"], tuple(r["path"])) for r in
               random_walks(g, 1, 5, seed=42).collect())
    b = sorted((r["walk_id"], tuple(r["path"])) for r in
               random_walks(g, 1, 5, seed=42).collect())
    assert a == b
    c = sorted((r["walk_id"], tuple(r["path"])) for r in
               random_walks(g, 1, 5, seed=43).collect())
    assert a != c


def test_walks_stop_at_sinks(spark):
    edges = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, weight double")
    g = Graph.from_edges(edges)
    walks = {r["start"]: r["path"] for r in random_walks(g, 1, 3).collect()}
    assert walks[0] == [0, 1]  # stops at sink 1
    assert walks[1] == [1]


def test_sample_rwr_induced_subgraph(spark):
    g = pagerank_graph(spark)
    starts = spark.createDataFrame([(4,)], "vid long")  # node e
    sub = sample_rwr(g, starts, restart_probability=0.2, walk_length=8, walks_per_node=4)
    sub_nodes = {r["vid"] for r in sub.nodes.collect()}
    assert 4 in sub_nodes
    assert 0 < len(sub_nodes) <= 11
    # induced edges only among sampled nodes
    for r in sub.edges.collect():
        assert r["src"] in sub_nodes and r["dst"] in sub_nodes


# captured from the hand-written step loops the shared walk step replaced
_PINNED_UNIFORM = {
    "0_0": [0], "0_1": [0], "10_0": [10, 4, 1, 2, 1, 2], "10_1": [10, 4, 1, 2, 1, 2],
    "1_0": [1, 2, 1, 2, 1, 2], "1_1": [1, 2, 1, 2, 1, 2], "2_0": [2, 1, 2, 1, 2, 1],
    "2_1": [2, 1, 2, 1, 2, 1], "3_0": [3, 1, 2, 1, 2, 1], "3_1": [3, 0],
    "4_0": [4, 5, 4, 5, 4, 1], "4_1": [4, 5, 1, 2, 1, 2], "5_0": [5, 4, 1, 2, 1, 2],
    "5_1": [5, 1, 2, 1, 2, 1], "6_0": [6, 1, 2, 1, 2, 1], "6_1": [6, 4, 5, 1, 2, 1],
    "7_0": [7, 4, 5, 4, 3, 1], "7_1": [7, 4, 3, 0], "8_0": [8, 1, 2, 1, 2, 1],
    "8_1": [8, 4, 3, 1, 2, 1], "9_0": [9, 4, 1, 2, 1, 2], "9_1": [9, 4, 5, 1, 2, 1],
}
_PINNED_BIASED = {
    "0_0": [0], "0_1": [0], "10_0": [10, 4, 3, 1, 2, 1], "10_1": [10, 4, 3, 1, 2, 1],
    "1_0": [1, 2, 1, 2, 1, 2], "1_1": [1, 2, 1, 2, 1, 2], "2_0": [2, 1, 2, 1, 2, 1],
    "2_1": [2, 1, 2, 1, 2, 1], "3_0": [3, 0], "3_1": [3, 0], "4_0": [4, 3, 0],
    "4_1": [4, 5, 4, 5, 1, 2], "5_0": [5, 1, 2, 1, 2, 1], "5_1": [5, 1, 2, 1, 2, 1],
    "6_0": [6, 1, 2, 1, 2, 1], "6_1": [6, 1, 2, 1, 2, 1], "7_0": [7, 1, 2, 1, 2, 1],
    "7_1": [7, 1, 2, 1, 2, 1], "8_0": [8, 1, 2, 1, 2, 1], "8_1": [8, 1, 2, 1, 2, 1],
    "9_0": [9, 4, 1, 2, 1, 2], "9_1": [9, 4, 5, 4, 5, 4],
}


def _paths(walks: DataFrame) -> dict:
    return {r["walk_id"]: r["path"] for r in walks.collect()}


def test_walk_paths_are_pinned(spark):
    # neither walker has a hash-exact gate entry (graph_node2vec is
    # rows-only), so exact paths are pinned here
    g = pagerank_graph(spark)
    assert _paths(random_walks(g, 2, 5, seed=42)) == _PINNED_UNIFORM
    assert _paths(biased_random_walks(
        g, walks_per_node=2, walk_length=5, return_factor=0.5, in_out_factor=2.0, seed=42,
    )) == _PINNED_BIASED


@pytest.mark.parametrize("walker", [random_walks, biased_random_walks])
def test_walks_on_edgeless_graph_and_zero_length(spark, walker):
    nodes = spark.createDataFrame([(0,), (1,)], "vid long")
    edges = spark.createDataFrame([], "src long, dst long, weight double")
    edgeless = Graph.from_edges(edges, nodes=nodes)
    assert _paths(walker(edgeless, walks_per_node=1, walk_length=3)) == {"0_0": [0], "1_0": [1]}
    g = pagerank_graph(spark)
    assert _paths(walker(g, walks_per_node=1, walk_length=0)) == {
        f"{v}_0": [v] for v in range(11)}


def _scanned_rdds(df: DataFrame) -> set:
    """ids of the checkpointed RDDs that df's plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaf.rdd().id()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }


_SAMPLERS = {
    "random_walks": lambda g, starts: random_walks(g, 2, 4),
    "biased_random_walks": lambda g, starts: biased_random_walks(g, 2, 4, 0.5, 2.0),
    "sample_rwr": lambda g, starts: sample_rwr(g, starts, walk_length=4),
    "sample_cnarw": lambda g, starts: sample_cnarw(g, starts, walk_length=4),
}


@pytest.mark.parametrize("sampler", sorted(_SAMPLERS))
def test_samplers_leave_only_the_cut_their_output_reads(spark, sampler):
    g = pagerank_graph(spark)
    starts = g.nodes.filter(F.col("vid") == 4)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    out = _SAMPLERS[sampler](g, starts)
    frames = [out.nodes, out.edges] if isinstance(out, Graph) else [out]
    left = set(persistent().keys()) - before
    assert left <= set().union(*map(_scanned_rdds, frames)), left
    for f in frames:
        f.count()  # the output still reads
