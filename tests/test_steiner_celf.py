"""steinerTree + CELF fixtures.

Steiner: transcribed from the reference
algo/src/test/java/org/neo4j/gds/steiner/
ShortestPathsSteinerAlgorithmTest.java:46-100 (10-node graph, source a0,
terminals {a4,a7,a8}, expected parent/cost arrays and totalCost 6.0).
CELF: structural fixtures (hub dominance at p=1 is deterministic
regardless of the sampling estimator) — the reference's own CELFTest
asserts spread values of its MC estimator, which are estimator-specific;
see operators/influence.py for the documented divergence.
"""

from graph_data_science_spark.operators.influence import celf
from graph_data_science_spark.operators.steiner import PRUNED, ROOT_NODE, steiner_tree
from graph_data_science_spark.plans.graph import Graph

STEINER_EDGES = [
    (0, 1, 1.0), (0, 2, 1.0), (0, 3, 1.0), (0, 9, 2.0),
    (1, 5, 1.0), (2, 6, 1.0), (3, 4, 1.0),
    (6, 7, 1.0), (6, 8, 1.0), (9, 6, 1.0),
]


def _graph(spark, edges):
    return Graph.from_edges(
        spark.createDataFrame(edges, "src long, dst long, weight double")
    )


def test_steiner_reference_fixture(spark):
    """ShortestPathsSteinerAlgorithmTest.shouldWorkCorrectly:60-100."""
    res = steiner_tree(_graph(spark, STEINER_EDGES), source=0, terminals=[4, 7, 8])
    rows = {r["vid"]: (r["parent"], r["parent_cost"]) for r in res.parents.collect()}
    assert rows == {
        0: (ROOT_NODE, 0.0),
        1: (PRUNED, float(PRUNED)),
        2: (0, 1.0),
        3: (0, 1.0),
        4: (3, 1.0),
        5: (PRUNED, float(PRUNED)),
        6: (2, 1.0),
        7: (6, 1.0),
        8: (6, 1.0),
        9: (PRUNED, float(PRUNED)),
    }
    assert res.total_cost == 6.0
    assert res.effective_node_count == 7  # {0, 2, 3, 4, 6, 7, 8}
    assert res.terminals_reached == 3


def test_steiner_unreachable_terminal(spark):
    """An unreachable terminal stays PRUNED; the rest still connect."""
    edges = STEINER_EDGES + [(100, 101, 1.0)]  # disconnected island
    res = steiner_tree(_graph(spark, edges), source=0, terminals=[4, 101])
    rows = {r["vid"]: r["parent"] for r in res.parents.collect()}
    assert rows[101] == PRUNED
    assert rows[4] == 3
    assert res.terminals_reached == 1


def test_steiner_shares_tree_paths(spark):
    """Second terminal connects to the TREE, not the source: chain
    0-1-2 with terminal 2, then terminal 3 hanging off 2 — total cost
    must be 3 (sharing), not 1+... re-walked from source."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0), (0, 3, 5.0)]
    res = steiner_tree(_graph(spark, edges), source=0, terminals=[2, 3])
    assert res.total_cost == 3.0
    rows = {r["vid"]: r["parent"] for r in res.parents.collect()}
    assert rows[3] == 2  # via the tree, not the direct 5.0 edge


def test_steiner_uneven_branch_depths(spark):
    """Regression: a short branch's terminal settles first; after merging
    it, the next continuation can converge at the first stats check while
    the LONG branch's already-settled parent chain is much deeper than
    that continuation's ran_iterations. The backward walk must be bounded
    by CUMULATIVE supersteps, or it leaves `active` undrained and crashes.
    Source 0 with a 3-hop branch to terminal B(103) and a 20-hop branch to
    terminal A(120)."""
    edges = [(0, 101, 1.0), (101, 102, 1.0), (102, 103, 1.0)]
    edges += [(0, 1, 1.0)] + [(i, i + 1, 1.0) for i in range(1, 20)]
    res = steiner_tree(
        _graph(spark, edges), source=0, terminals=[103, 20]
    )
    assert res.terminals_reached == 2
    assert res.total_cost == 23.0
    rows = {r["vid"]: r["parent"] for r in res.parents.collect()}
    assert rows[103] == 102 and rows[20] == 19
    assert res.effective_node_count == 24  # 0, 101..103, 1..20


def test_celf_hub_first_deterministic(spark):
    """Two stars (hub 0 -> 1..8, hub 10 -> 11..14) with p=1: spread is
    deterministic (all edges live), so greedy must pick hub 0 (spread 9)
    then hub 10 (marginal 5)."""
    edges = [(0, i, 1.0) for i in range(1, 9)] + [(10, i, 1.0) for i in range(11, 15)]
    g = _graph(spark, edges)
    res = celf(g, seed_set_size=2, propagation_probability=1.0,
               monte_carlo_simulations=10, rr_per_simulation=20, random_seed=7)
    rows = sorted((r["rank"], r["vid"]) for r in res.seeds.collect())
    assert rows == [(0, 0), (1, 10)]
    spreads = {r["rank"]: r["spread"] for r in res.seeds.collect()}
    # p=1: true spread of {0} = 9 nodes, of {0,10} = 14; RIS estimate
    # converges to n*coveredFraction — allow sampling slack
    assert abs(spreads[0] - 9.0) < 2.0
    assert abs(spreads[1] - 14.0) < 2.0


def test_celf_deterministic_same_seed(spark):
    edges = [(u, v, 1.0) for u in range(6) for v in range(6) if u != v and (u + v) % 3]
    g = _graph(spark, edges)
    a = celf(g, 3, propagation_probability=0.3, monte_carlo_simulations=5,
             rr_per_simulation=10, random_seed=11).seeds.collect()
    b = celf(g, 3, propagation_probability=0.3, monte_carlo_simulations=5,
             rr_per_simulation=10, random_seed=11).seeds.collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
