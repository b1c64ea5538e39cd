"""Engine-level tests: checkpointing, resume, lineage, metrics.

Resumability is the north-rule addition over the reference's in-memory
Pregel loop (Pregel.java:178-216): kill after superstep k, resume from
the durable snapshot, identical final results.
"""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.operators import leiden as leiden_mod
from graph_data_science_spark.operators import louvain as louvain_mod
from graph_data_science_spark.operators import maxkcut as maxkcut_mod
from graph_data_science_spark.operators import node2vec_sharded
from graph_data_science_spark.operators.hits import hits
from graph_data_science_spark.operators.kcore import k_core_decomposition
from graph_data_science_spark.operators.lpa import label_propagation
from graph_data_science_spark.operators.pagerank import eigenvector, page_rank
from graph_data_science_spark.operators.paths import bfs
from graph_data_science_spark.operators.pregel import LOOP_CONF, PregelEngine
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.plans.graph import Graph
from graph_data_science_spark.sources.generator import random_graph
from graph_data_science_spark.sources.sampling import biased_random_walks, random_walks, sample_rwr
from tests.fixtures import pagerank_graph, wcc_chain_graph


def test_resume_matches_uninterrupted(spark, tmp_ckpt):
    g = pagerank_graph(spark)
    # uninterrupted run
    full = page_rank(g, tolerance=0, max_iterations=30)
    # interrupted: stop after 10 supersteps, then resume to 30
    eng = PregelEngine(spark, checkpoint_dir=tmp_ckpt, checkpoint_interval=5)
    page_rank(g, tolerance=0, max_iterations=10, engine=eng)
    eng2 = PregelEngine(spark, checkpoint_dir=tmp_ckpt, checkpoint_interval=5)
    resumed = page_rank(g, tolerance=0, max_iterations=30, engine=eng2, resume=True)

    full_scores = {r["vid"]: r["score"] for r in full.scores.collect()}
    res_scores = {r["vid"]: r["score"] for r in resumed.scores.collect()}
    for v in full_scores:
        assert res_scores[v] == pytest.approx(full_scores[v], abs=1e-12)


def test_checkpoint_lineage_and_metrics(spark, tmp_ckpt):
    g = wcc_chain_graph(spark)
    eng = PregelEngine(spark, checkpoint_dir=tmp_ckpt, checkpoint_interval=2)
    res = wcc(g, engine=eng)
    assert res.did_converge

    latest = eng.manager.latest_superstep()
    assert latest is not None
    lineage = eng.manager.lineage(latest)
    assert lineage["superstep"] == latest
    assert lineage["num_partitions"] >= 1
    assert any(f == "_SUCCESS" for f in lineage["files"])

    metrics = eng.manager.metrics()
    assert len(metrics) == len(res.metrics)
    assert all("changed_count" in m and "wall_sec" in m for m in metrics)
    # convergence metrics are monotone for WCC min-propagation
    changed = [m["changed_count"] for m in metrics]
    assert changed[-1] == 0


def test_durable_snapshot_is_atomic(spark, tmp_ckpt):
    # a snapshot without _lineage.json (simulated crash mid-write) is ignored
    g = wcc_chain_graph(spark)
    eng = PregelEngine(spark, checkpoint_dir=tmp_ckpt, checkpoint_interval=1)
    wcc(g, engine=eng)
    latest = eng.manager.latest_superstep()
    bogus = os.path.join(tmp_ckpt, f"superstep={latest + 1}")
    os.makedirs(bogus)
    with open(os.path.join(bogus, "part-00000.parquet"), "w") as fh:
        fh.write("garbage")
    assert eng.manager.latest_superstep() == latest


def _cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_in_memory_superstep_is_one_job(spark):
    sc = spark.sparkContext
    state0 = spark.range(100).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    k = 6
    cached_before = _cached_rdds(spark)
    sc.setJobGroup("pregel-one-job", "PregelEngine job count")
    try:
        res = PregelEngine(spark).run(
            initial_state=state0,
            step=lambda st, s: st.select("vid", (F.col("x") + 1).alias("x")),
            stats_exprs=[F.max("x").alias("max_x"), F.count(F.lit(1)).alias("n")],
            converged=lambda st: False,
            max_iterations=k,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("pregel-one-job")) == k
    assert [(m["superstep"], m["max_x"], m["n"]) for m in res.metrics] == [
        (s, s + 1, 100) for s in range(k)
    ]
    assert all("wall_sec" in m for m in res.metrics)
    # superseded local checkpoints are released; only the final state stays
    assert _cached_rdds(spark) - cached_before <= 1
    assert res.state.agg(F.max("x")).collect()[0][0] == k


def _size_within_default(df) -> bool:
    """df's optimized-plan sizeInBytes <= spark.sql.defaultSizeInBytes.
    The JVM renders the size as decimal text: py4j would convert the
    BigInt to a Python int, and Python refuses ints over 4300 digits."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size = stats.productIterator().take(1).mkString()  # sizeInBytes
    default = str(df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes())
    return (len(size), size) <= (len(default), default)


def test_state_size_estimate_does_not_compound(spark):
    # the step references its state twice, as LPA's does: an estimate
    # kept across supersteps would square every superstep
    state0 = spark.range(100).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    res = PregelEngine(spark).run(
        initial_state=state0,
        step=lambda st, s: st.join(st.select("vid", F.col("x").alias("y")), "vid").select(
            "vid", (F.col("x") + F.col("y") + 1).alias("x")
        ),
        stats_exprs=[F.max("x").alias("max_x")],
        converged=lambda st: False,
        max_iterations=12,
    )
    assert _size_within_default(res.state)
    assert res.metrics[-1]["max_x"] == 2 ** 12 - 1


def test_lpa_labels_size_estimate_does_not_compound(spark):
    g = random_graph(spark, 300, 4, seed=3)
    assert _size_within_default(label_propagation(g, max_iterations=12).labels)


def test_ran_iterations_exact_between_intervals(spark):
    # BFS down an 8-node chain: superstep s reaches node s + 1, superstep 7
    # changes nothing, so the reference counts 7 iterations
    n = 8
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)], "src long, dst long, weight double"
    )
    res = bfs(Graph.from_edges(edges), [0])
    assert res.did_converge
    assert res.ran_iterations == n - 1
    assert len(res.metrics) == n
    assert [m["changed_count"] for m in res.metrics] == [1] * (n - 1) + [0]


def test_snapshot_lineage_stats_match_metrics(spark, tmp_ckpt):
    g = wcc_chain_graph(spark)
    interval = 2
    eng = PregelEngine(spark, checkpoint_dir=tmp_ckpt, checkpoint_interval=interval)
    res = wcc(g, engine=eng)
    assert res.did_converge

    records = {m["superstep"]: m for m in eng.manager.metrics()}
    assert sorted(records) == list(range(len(res.metrics)))
    last = len(res.metrics) - 1
    snapshots = sorted(
        int(name.split("=", 1)[1]) for name in os.listdir(tmp_ckpt)
        if name.startswith("superstep=")
    )
    assert snapshots == sorted({s for s in records if (s + 1) % interval == 0} | {last})
    for s in snapshots:
        assert eng.manager.lineage(s)["stats"] == records[s]
        assert records[s]["checkpointed"] is True


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pagerank_superstep_is_one_job(spark):
    # no broadcast job per superstep: the step's joins run inside the
    # engine's one materializing job
    g = pagerank_graph(spark)
    jobs = {
        k: _jobs_in_group(
            spark, f"pr-jobs-{k}",
            lambda: page_rank(g, tolerance=0, max_iterations=k).scores.collect(),
        )
        for k in (3, 6)
    }
    assert jobs[6] - jobs[3] == 3


def test_random_walk_step_is_one_job(spark):
    # walkers on the 1 <-> 2 cycle never stop, so every step runs
    g = pagerank_graph(spark)
    jobs = {
        k: _jobs_in_group(spark, f"rw-jobs-{k}", lambda: random_walks(g, 1, k).collect())
        for k in (3, 6)
    }
    assert jobs[6] - jobs[3] == 3


def test_loop_conf_restored_when_a_step_raises(spark):
    conf = spark.conf
    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    before = {k: conf.get(k) for k in keys}
    conf.set("spark.sql.autoBroadcastJoinThreshold", "12345")
    seen = {}

    def step(state, s):
        seen.update({k: conf.get(k) for k in keys})
        raise RuntimeError("boom")

    try:
        with pytest.raises(RuntimeError, match="boom"):
            PregelEngine(spark).run(
                initial_state=spark.range(3).select(F.col("id").alias("vid")),
                step=step,
                stats_exprs=[F.count(F.lit(1)).alias("n")],
                converged=lambda st: False,
                max_iterations=2,
            )
        assert seen == {"spark.sql.adaptive.enabled": "false",
                        "spark.sql.autoBroadcastJoinThreshold": "-1"}
        assert conf.get("spark.sql.autoBroadcastJoinThreshold") == "12345"
        assert conf.get("spark.sql.adaptive.enabled") == before["spark.sql.adaptive.enabled"]
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", before["spark.sql.autoBroadcastJoinThreshold"])


def _loops(spark) -> dict:
    """name -> (module, first call of the loop body, run)."""
    g = random_graph(spark, 50, 3, seed=3).to_undirected()
    pairs = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "c_row long, x_row long")
    freq = spark.createDataFrame([(0, 1), (1, 2), (2, 2), (3, 1)], "row long, cnt long")
    return {
        "louvain": (louvain_mod, "_local_move", lambda: louvain_mod.louvain(g)),
        "modularity_optimization": (
            louvain_mod, "_local_move", lambda: louvain_mod.modularity_optimization(g)),
        "leiden": (leiden_mod, "_local_move", lambda: leiden_mod.leiden(g)),
        "approx_max_k_cut": (maxkcut_mod, "color_edges", lambda: maxkcut_mod.approx_max_k_cut(g)),
        "sgns_train_sharded": (
            node2vec_sharded, "cut_lineage",
            lambda: node2vec_sharded.sgns_train_sharded(spark, pairs, freq, n=4, dim=4)),
    }


@pytest.mark.parametrize("loop", ["approx_max_k_cut", "leiden", "louvain",
                                  "modularity_optimization", "sgns_train_sharded"])
def test_loop_conf_restored_when_a_loop_raises(spark, monkeypatch, loop):
    module, name, run = _loops(spark)[loop]
    real = getattr(module, name)
    conf = spark.conf
    saved = {k: conf.get(k) for k in LOOP_CONF}
    seen = {}

    def first_loop_call(*args, **kwargs):
        # sharded node2vec also cuts its pairs and model shard before the
        # loop; the loop's first cut is the round's update (column `uc`)
        if loop == "sgns_train_sharded" and "uc" not in args[0].columns:
            return real(*args, **kwargs)
        seen.update({k: conf.get(k) for k in LOOP_CONF})
        raise RuntimeError("loop body failed")

    monkeypatch.setattr(module, name, first_loop_call)
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "1234567")
    try:
        with pytest.raises(RuntimeError, match="loop body failed"):
            run()
        assert seen == LOOP_CONF
        assert conf.get("spark.sql.adaptive.enabled") == "true"
        assert conf.get("spark.sql.autoBroadcastJoinThreshold") == "1234567"
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def _plan_tree(description: str) -> list[tuple[int, str]]:
    """(indent, node name) per line of a formatted physical plan's tree."""
    tree = description.split("\n\n")[0].splitlines()[1:]  # under "== Physical Plan =="
    nodes = []
    for line in tree:
        indent = re.match(r"[ :+\-]*", line).end()
        nodes.append((indent, line[indent:].lstrip("* ").split(" ")[0]))
    return nodes


def _edge_join_inputs(description: str) -> list[list[str]]:
    """For each cached-table scan that feeds a join: the nodes between the
    scan and that join."""
    nodes = _plan_tree(description)
    chains = []
    for i, (indent, name) in enumerate(nodes):
        if name != "InMemoryTableScan":
            continue
        chain, level = [], indent
        for j in range(i - 1, -1, -1):
            if nodes[j][0] >= level:
                continue
            level, parent = nodes[j]
            if parent.endswith("Join"):
                chains.append(chain)
                break
            if parent.endswith(("Aggregate", "Window", "CollectMetrics")):
                break
            chain.append(parent)
    return chains


_OPS = {
    "page_rank": lambda g: page_rank(g, tolerance=0, max_iterations=3),
    "wcc": lambda g: wcc(g, max_iterations=3),
    "wcc_star": lambda g: wcc(g, max_iterations=3, star_contraction=True),
    "label_propagation": lambda g: label_propagation(g, max_iterations=3),
    "lpa_block_async": lambda g: label_propagation(g, max_iterations=3, mode="block_async", blocks=4),
    "k_core_decomposition": lambda g: k_core_decomposition(g, max_iterations=3),
    "hits": lambda g: hits(g, hits_iterations=3, tolerance=0),
    "eigenvector": lambda g: eigenvector(g, max_iterations=3, tolerance=0),
    "bfs": lambda g: bfs(g, [0], max_iterations=3),
    "random_walks": lambda g: random_walks(g, 1, 3),
    "sample_rwr": lambda g: sample_rwr(g, g.nodes.filter(F.col("vid") < 30), walk_length=3),
    "biased_random_walks": lambda g: biased_random_walks(g, 1, 3, 0.5, 2.0),
}


@pytest.mark.parametrize("op", sorted(_OPS))
def test_engine_steps_never_move_the_edge_table(spark, op):
    # every gather join reads its cached edge table in place: no
    # BroadcastExchange, and no Exchange or Sort between the edge scan
    # and the merge join
    g = random_graph(spark, 300, 4, seed=3)
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        seq = store.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    last_id = max((e.executionId() for e in executions()), default=-1)
    _OPS[op](g)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() > last_id]
    assert not any("BroadcastExchange" in p for p in plans)
    chains = [c for p in plans for c in _edge_join_inputs(p)]
    assert chains, "no join over a cached edge table was planned"
    assert all(not {"Exchange", "Sort"} & set(c) for c in chains), chains
