"""CSR-block backend: equality with the SQL backend and with the
reference fixture; salting correctness."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.pagerank import page_rank
from graph_data_science_spark.plans.csr import build_csr_blocks, csr_messages
from graph_data_science_spark.plans.graph import Graph
from tests.fixtures import PR_EXPECTED, pagerank_graph, vid


def test_csr_blocks_cover_all_edges(spark):
    g = pagerank_graph(spark)
    csr = build_csr_blocks(g, num_blocks=4)
    rows = csr.blocks.collect()
    edge_set = set()
    for r in rows:
        src_vids, indptr, dsts = r["src_vids"], r["indptr"], r["dst_vids"]
        for i, s in enumerate(src_vids):
            for d in dsts[indptr[i]:indptr[i + 1]]:
                edge_set.add((s, d))
    expected = {(r["src"], r["dst"]) for r in g.edges.collect()}
    assert edge_set == expected
    csr.unpersist()


def test_csr_pagerank_matches_reference_fixture(spark):
    g = pagerank_graph(spark)
    res = page_rank(g, tolerance=0, max_iterations=41, backend="csr")
    got = {r["vid"]: r["score"] for r in res.scores.collect()}
    for name, expected in PR_EXPECTED.items():
        assert got[vid(name)] == pytest.approx(expected, abs=1e-5), name


@pytest.mark.parametrize(
    "kwargs",
    [
        pytest.param({}, id="default"),
        pytest.param({"normalized": True}, id="normalized"),
        pytest.param({"mode": "articlerank"}, id="articlerank"),
        pytest.param({"source_nodes": [vid("d"), vid("e")]}, id="personalized"),
        pytest.param({"weighted": True}, id="weighted"),
    ],
)
def test_csr_matches_sql_backend(spark, kwargs):
    """Both backends share one state machine and differ only in the
    message kernel, so every option must give the same scores."""
    g = pagerank_graph(spark)
    # non-uniform weights, so the weighted case differs from the unweighted one
    g = Graph.from_edges(
        g.edges.withColumn("weight", 1.0 + (F.col("src") + F.col("dst")) % 3), nodes=g.nodes
    )
    sql = page_rank(g, tolerance=1e-8, max_iterations=60, **kwargs)
    csr = page_rank(g, tolerance=1e-8, max_iterations=60, backend="csr", **kwargs)
    sql_scores = {r["vid"]: r["score"] for r in sql.scores.collect()}
    csr_scores = {r["vid"]: r["score"] for r in csr.scores.collect()}
    assert csr_scores.keys() == sql_scores.keys()
    for v in sql_scores:
        assert csr_scores[v] == pytest.approx(sql_scores[v], abs=1e-9), v
    assert csr.ran_iterations == sql.ran_iterations


def test_salting_splits_hub_and_preserves_messages(spark):
    # star graph: one hub with 100 out-edges, hub_threshold 10 -> the hub
    # appears in several blocks; message sums must be unchanged
    edges = spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, 101)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(edges)
    csr = build_csr_blocks(g, num_blocks=8, hub_threshold=10)
    hub_blocks = csr.routes.filter(F.col("vid") == 0).count()
    assert hub_blocks > 1  # hub was salted across blocks

    active = spark.createDataFrame([(0, 2.0)], "vid long, contrib double")
    msgs = csr_messages(csr, active, weighted=False).collect()
    got = {r["vid"]: r["msg_sum"] for r in msgs}
    assert got == {i: pytest.approx(2.0) for i in range(1, 101)}
    csr.unpersist()


def test_weighted_csr_messages(spark):
    edges = spark.createDataFrame(
        [(0, 1, 0.5), (0, 2, 2.0), (3, 1, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(edges)
    csr = build_csr_blocks(g, num_blocks=2)
    active = spark.createDataFrame([(0, 1.0), (3, 10.0)], "vid long, contrib double")
    got = {r["vid"]: r["msg_sum"] for r in csr_messages(csr, active, weighted=True).collect()}
    assert got == {1: pytest.approx(0.5 + 10.0), 2: pytest.approx(2.0)}
    csr.unpersist()
