"""PageRank parity vs the reference's own fixture
(algo/src/test/java/org/neo4j/gds/pagerank/PageRankTest.java)."""

import math

import numpy as np
import pytest

from graph_data_science_spark.operators.pagerank import eigenvector, page_rank
from tests.fixtures import (
    PR_EDGES,
    PR_EXPECTED,
    PR_EXPECTED_PERSONALIZED_AE,
    PR_EXPECTED_PERSONALIZED_KB,
    pagerank_graph,
    vid,
)

SCORE_PRECISION = 1e-5  # PageRankTest.java:62


def scores_dict(result):
    return {r["vid"]: r["score"] for r in result.scores.collect()}


def test_without_tolerance(spark):
    g = pagerank_graph(spark)
    res = page_rank(g, tolerance=0, max_iterations=41)
    got = scores_dict(res)
    for name, expected in PR_EXPECTED.items():
        assert got[vid(name)] == pytest.approx(expected, abs=SCORE_PRECISION), name


@pytest.mark.parametrize("tolerance,expected_iterations", [(0.5, 2), (0.1, 13)])
def test_with_tolerance_iteration_count(spark, tolerance, expected_iterations):
    # PageRankTest.java:124-137
    g = pagerank_graph(spark)
    res = page_rank(g, tolerance=tolerance, max_iterations=40)
    assert res.ran_iterations == expected_iterations
    assert res.did_converge


@pytest.mark.parametrize(
    "sources,expected",
    [(["a", "e"], PR_EXPECTED_PERSONALIZED_AE), (["k", "b"], PR_EXPECTED_PERSONALIZED_KB)],
)
def test_personalized(spark, sources, expected):
    # PageRankTest.java:139-166
    g = pagerank_graph(spark)
    res = page_rank(g, tolerance=0, max_iterations=41, source_nodes=[vid(s) for s in sources])
    got = scores_dict(res)
    for name, exp in expected.items():
        assert got[vid(name)] == pytest.approx(exp, abs=SCORE_PRECISION), name


def numpy_pagerank_oracle(n, edges, d=0.85, iters=200):
    """Dense power iteration with reference semantics (no dangling
    redistribution, unnormalized): r_{k+1} = (1-d)·1 + d·Aᵀ D⁻¹ r_k."""
    deg = np.zeros(n)
    for s, _t in edges:
        deg[s] += 1
    r = np.full(n, 1 - d)
    for _ in range(iters):
        msgs = np.zeros(n)
        for s, t in edges:
            msgs[t] += r[s] / deg[s]
        r = (1 - d) + d * msgs
    return r


def test_vs_numpy_oracle_1e6(spark):
    """north rule: per-vertex scores allclose at 1e-6 vs oracle."""
    g = pagerank_graph(spark)
    res = page_rank(g, tolerance=1e-9, max_iterations=200)
    got = scores_dict(res)
    edges = [(vid(s), vid(t)) for s, t in PR_EDGES]
    oracle = numpy_pagerank_oracle(11, edges)
    for i in range(11):
        assert got[i] == pytest.approx(oracle[i], abs=1e-6)


def test_dangling_node_score_is_alpha(spark):
    # isolated / in-degree-0 node score = 1 - d = 0.15 (no redistribution,
    # PageRankComputation.java:91-98, PageRankTest.java:78-82)
    g = pagerank_graph(spark)
    res = page_rank(g, tolerance=0, max_iterations=41)
    got = scores_dict(res)
    for name in "ghijk":
        assert got[vid(name)] == pytest.approx(0.15, abs=1e-12)


def test_weighted_uniform_weights_match_unweighted(spark):
    g = pagerank_graph(spark)
    res_w = page_rank(g, tolerance=0, max_iterations=41, weighted=True)
    got = scores_dict(res_w)
    for name, expected in PR_EXPECTED.items():
        assert got[vid(name)] == pytest.approx(expected, abs=SCORE_PRECISION)


def test_normalized_mode_sums_to_one(spark):
    g = pagerank_graph(spark)
    res = page_rank(g, tolerance=1e-6, max_iterations=60, normalized=True)
    total = sum(scores_dict(res).values())
    assert total == pytest.approx(1.0, abs=1e-3)


def test_scaler_l1norm(spark):
    g = pagerank_graph(spark)
    res = page_rank(g, tolerance=0, max_iterations=41, scaler="l1norm")
    got = scores_dict(res)
    assert sum(abs(v) for v in got.values()) == pytest.approx(1.0, abs=1e-9)


def test_eigenvector_l2_normalized(spark):
    g = pagerank_graph(spark)
    res = eigenvector(g, tolerance=1e-8, max_iterations=60)
    got = scores_dict(res)
    assert math.sqrt(sum(v * v for v in got.values())) == pytest.approx(1.0, abs=1e-6)
    # b and c dominate the only cycle -> largest scores
    top = sorted(got, key=got.get, reverse=True)[:2]
    assert set(top) == {vid("b"), vid("c")}
