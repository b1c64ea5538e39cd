"""LPA parity vs algo/src/test/java/org/neo4j/gds/labelpropagation/LabelPropagationTest.java."""

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators.lpa import label_propagation
from graph_data_science_spark.plans.graph import Graph
from tests.fixtures import LPA_EXPECTED_SEEDED, LPA_EXPECTED_UNSEEDED, lpa_graph


def labels_dict(result):
    return {r["vid"]: r["label"] for r in result.labels.collect()}


def test_unseeded(spark):
    # LabelPropagationTest.java:101-112 — [1, 1, 3, 4, 4, 1].
    # The reference result is ONE asynchronous in-place pass
    # (maxIterations=1 in the test); async_serial replicates it exactly.
    g = lpa_graph(spark)
    res = label_propagation(g, max_iterations=1, mode="async_serial")
    assert labels_dict(res) == LPA_EXPECTED_UNSEEDED


def test_sync_mode_is_deterministic(spark):
    g = lpa_graph(spark)
    a = labels_dict(label_propagation(g, max_iterations=10))
    b = labels_dict(label_propagation(g, max_iterations=10))
    assert a == b


def test_seeded(spark):
    # LabelPropagationTest.java:124-134 — [2, 2, 3, 4, 4, 2]
    g = lpa_graph(spark, with_seeds=True)
    res = label_propagation(g, max_iterations=1, seed_col="seed", mode="async_serial")
    assert labels_dict(res) == LPA_EXPECTED_SEEDED


def test_tie_breaks_to_smaller_label(spark):
    # ComputeStepConsumer.java:64-77: equal vote mass -> smaller label wins.
    # node 0 has out-edges to 1 and 2 with equal weight
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0)], "src long, dst long, weight double"
    )
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "vid long")
    g = Graph.from_edges(edges, nodes=nodes)
    res = label_propagation(g, max_iterations=5)
    assert labels_dict(res)[0] == 1


def test_weighted_votes(spark):
    # heavier edge dominates the vote
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 5.0)], "src long, dst long, weight double"
    )
    nodes = spark.createDataFrame([(0,), (1,), (2,)], "vid long")
    g = Graph.from_edges(edges, nodes=nodes)
    res = label_propagation(g, max_iterations=5)
    assert labels_dict(res)[0] == 2


def test_node_weight_property(spark):
    # votes[label(nbr)] += relWeight × nodeWeight(nbr)
    # (LabelPropagation.java:82-89)
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (0, 2, 1.0)], "src long, dst long, weight double"
    )
    nodes = spark.createDataFrame(
        [(0, 1.0), (1, 1.0), (2, 10.0)], "vid long, w double"
    )
    g = Graph.from_edges(edges, nodes=nodes)
    res = label_propagation(g, max_iterations=5, node_weight_col="w")
    assert labels_dict(res)[0] == 2


def test_no_out_neighbors_keeps_label(spark):
    edges = spark.createDataFrame([(0, 1, 1.0)], "src long, dst long, weight double")
    nodes = spark.createDataFrame([(0,), (1,), (7,)], "vid long")
    g = Graph.from_edges(edges, nodes=nodes)
    res = label_propagation(g, max_iterations=3)
    got = labels_dict(res)
    assert got[7] == 7  # isolated keeps own label
    assert got[1] == 1  # sink keeps own label
    assert got[0] == 1  # adopts its only out-neighbor's label


def test_lpa_block_async_kills_two_cycle_oscillation(spark):
    # a<->b two-cycle: sync oscillates forever; block-async settles
    from graph_data_science_spark.operators.lpa import label_propagation
    from graph_data_science_spark.plans.graph import Graph

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0)], "src long, dst long, weight double"
    )
    g = Graph.from_edges(edges)
    sync = label_propagation(g, max_iterations=6, mode="sync")
    assert not sync.did_converge  # oscillates by construction
    ba = label_propagation(g, max_iterations=10, mode="block_async", blocks=4)
    assert ba.did_converge
    labels = {r["vid"]: r["label"] for r in ba.labels.collect()}
    # async semantics: the first-processed node adopts its neighbor's
    # label and the pair settles on it (same outcome as the reference's
    # in-place loop: a takes b's label 1, b then sees 1 and stays)
    assert labels[0] == labels[1]


def test_lpa_block_async_matches_reference_fixture(spark):
    # the stable reference fixture (LabelPropagationTest.java:94-135 style)
    # where sync and async agree: two directed triangles
    from graph_data_science_spark.operators.lpa import label_propagation
    from graph_data_science_spark.plans.graph import Graph

    tri = [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3)]
    rows = [(a, b, 1.0) for a, b in tri] + [(b, a, 1.0) for a, b in tri]
    g = Graph.from_edges(spark.createDataFrame(rows, "src long, dst long, weight double"))
    # blocks=1 degenerates to the exact async_serial schedule (one block,
    # ascending vid, in-place) -> bit-identical labels
    sc = spark.sparkContext
    sc.setJobGroup("lpa-block-async", "block_async job count")
    try:
        ba1 = label_propagation(g, max_iterations=20, mode="block_async", blocks=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ser = label_propagation(g, max_iterations=20, mode="async_serial")
    assert ba1.did_converge and ser.did_converge
    # one engine superstep per job and per metrics record; the converging
    # superstep is not counted
    assert len(ba1.metrics) == ba1.ran_iterations + 1
    assert len(sc.statusTracker().getJobIdsForGroup("lpa-block-async")) == len(ba1.metrics)
    la = {r["vid"]: r["label"] for r in ba1.labels.collect()}
    ls = {r["vid"]: r["label"] for r in ser.labels.collect()}
    assert la == ls
    # multi-block schedule converges too (possibly to another fixed point)
    ba3 = label_propagation(g, max_iterations=20, mode="block_async", blocks=3)
    assert ba3.did_converge


def test_lpa_block_async_honours_engine_and_resume(spark, tmp_ckpt):
    import os

    from graph_data_science_spark.operators.pregel import PregelEngine
    from graph_data_science_spark.sources.generator import random_graph

    g = random_graph(spark, 40, 3, seed=5)
    full = label_propagation(g, max_iterations=3, mode="block_async", blocks=4)
    eng = PregelEngine(spark, checkpoint_dir=tmp_ckpt)
    part = label_propagation(g, max_iterations=1, mode="block_async", blocks=4, engine=eng)
    assert os.path.exists(os.path.join(tmp_ckpt, "metrics.jsonl"))
    assert len(eng.manager.metrics()) == len(part.metrics) == 1
    resumed = label_propagation(
        g, max_iterations=3, mode="block_async", blocks=4,
        engine=PregelEngine(spark, checkpoint_dir=tmp_ckpt), resume=True,
    )
    assert labels_dict(resumed) == labels_dict(full)
    assert resumed.ran_iterations == full.ran_iterations


def test_lpa_async_serial_scale_guard(spark):
    import pytest as _pytest
    from graph_data_science_spark.operators.lpa import label_propagation
    from graph_data_science_spark.plans.graph import Graph
    from pyspark.sql import functions as F

    big = spark.range(1_100_000).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 1_100_000).alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    g = Graph.from_edges(big)
    with _pytest.raises(ValueError, match="async_serial"):
        label_propagation(g, max_iterations=1, mode="async_serial")
