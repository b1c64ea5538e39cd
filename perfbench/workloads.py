"""The workloads: inputs, timed operator calls, and oracle checks.

A workload makes its inputs from a seed (`generate`), writes them to
parquet (`write`) and loads them (`load`) during set-up. An op is the
sequence of operator calls in `steps()`; each call runs inside a span
named after its layer and ends with its result materialized. After the
timed region `verify` compares every result with the oracle.

Only the stable public arguments of the operators are used, so the
benchmark measures what a library caller gets with the defaults.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable


from perfbench import gen, oracles


@dataclass
class Sizes:
    """Input sizes; `tiny()` shrinks them for the benchmark's own tests."""

    nodes: int = 0
    files: int = 0
    repos: int = 0

    def tiny(self) -> "Sizes":
        return Sizes(max(self.nodes // 100, 50), max(self.files // 100, 60),
                     max(self.repos // 20, 3))


@dataclass
class Op:
    """What one op left behind: outputs per step, and steps that raised."""

    outputs: dict[str, Any] = field(default_factory=dict)
    raised: dict[str, str] = field(default_factory=dict)
    keep: list = field(default_factory=list)  # DataFrames to unpersist

    def materialize(self, df):
        df = df.persist()
        df.count()
        self.keep.append(df)
        return df

    def release(self) -> None:
        for df in self.keep:
            df.unpersist()
        self.keep.clear()


Step = tuple[str, Callable[[Any, Any, Op, str], None]]


class Workload:
    name = ""
    sizes = Sizes()

    def generate(self, seed: int, sizes: Sizes):
        raise NotImplementedError

    def write(self, inputs, directory: str) -> None:
        raise NotImplementedError

    def load(self, spark, directory: str):
        raise NotImplementedError

    def expected(self, inputs) -> dict[str, Any]:
        raise NotImplementedError

    def steps(self) -> list[Step]:
        raise NotImplementedError

    def verify(self, inputs, expected: dict[str, Any], op: Op) -> dict[str, list[str]]:
        raise NotImplementedError

    def work(self, inputs, op: Op) -> dict[str, float]:
        """Units of work one op did: graph edges times supersteps, and
        files (graph nodes: every node of a link graph is a file)."""
        raise NotImplementedError


# ----------------------------------------------------------------------
# PageRank with durable snapshots
# ----------------------------------------------------------------------

class PrHubDurable(Workload):
    name = "pr_hub_durable"
    sizes = Sizes(nodes=100_000)
    avg_degree = 8.0
    damping = 0.85
    tolerance = 0.0  # a fixed superstep count
    max_iterations = 20
    checkpoint_interval = 5
    hub_share = 0.1

    def generate(self, seed: int, sizes: Sizes) -> gen.EdgeList:
        return gen.powerlaw_graph(seed, sizes.nodes, self.avg_degree, self.hub_share)

    def write(self, inputs: gen.EdgeList, directory: str) -> None:
        gen.write_edges(inputs, os.path.join(directory, "edges"))
        gen.write_nodes(inputs.n, os.path.join(directory, "nodes"))

    def load(self, spark, directory: str):
        from graph_data_science_spark import Graph

        g = Graph.from_edges(spark.read.parquet(os.path.join(directory, "edges")),
                             nodes=spark.read.parquet(os.path.join(directory, "nodes")))
        g.persist()
        g.edges.count()
        g.nodes.count()
        return g

    def expected(self, inputs: gen.EdgeList) -> dict[str, Any]:
        return {"pagerank": oracles.pagerank_replay(
            inputs.n, inputs.src, inputs.dst, self.damping, self.tolerance, self.max_iterations)}

    def steps(self) -> list[Step]:
        def pagerank(spark, g, op: Op, op_dir: str) -> None:
            from graph_data_science_spark import PregelEngine
            from graph_data_science_spark.operators.pagerank import page_rank

            engine = PregelEngine(spark, checkpoint_dir=os.path.join(op_dir, "checkpoints"),
                                  checkpoint_interval=self.checkpoint_interval)
            res = page_rank(g, damping_factor=self.damping, tolerance=self.tolerance,
                            max_iterations=self.max_iterations, engine=engine)
            op.outputs["pagerank"] = res
            op.outputs["pagerank.scores"] = op.materialize(res.scores)

        return [("pagerank", pagerank)]

    def verify(self, inputs, expected, op: Op) -> dict[str, list[str]]:
        res = op.outputs["pagerank"]
        pdf = op.outputs["pagerank.scores"].toPandas()
        return {"pagerank": oracles.check_pagerank(
            expected["pagerank"], pdf["vid"].to_numpy(), pdf["score"].to_numpy(),
            res.ran_iterations)}

    def work(self, inputs: gen.EdgeList, op: Op) -> dict[str, float]:
        steps = len(op.outputs["pagerank"].metrics)
        return {"edge_supersteps": float(inputs.src.size * steps), "files": float(inputs.n)}


# ----------------------------------------------------------------------
# Corpus pipeline
# ----------------------------------------------------------------------

class CorpusPipeline(Workload):
    name = "corpus_pipeline"
    sizes = Sizes(files=10_000, repos=100)

    def generate(self, seed: int, sizes: Sizes) -> gen.Corpus:
        return gen.corpus(seed, sizes.files, sizes.repos)

    def write(self, inputs: gen.Corpus, directory: str) -> None:
        gen.write_corpus(inputs, os.path.join(directory, "corpus"))

    def load(self, spark, directory: str):
        # the scan itself is part of the op: set-up only resolves the table
        return spark.read.parquet(os.path.join(directory, "corpus"))

    def expected(self, inputs: gen.Corpus) -> dict[str, Any]:
        n = len(inputs.repo)
        vid_of_row, src, dst = oracles.corpus_graph(inputs.repo, inputs.path, inputs.imports)
        return {
            "graph": (vid_of_row, src, dst),
            "wcc": oracles.min_label_components(n, src, dst),
            "lpa": oracles.lpa_replay(n, src, dst),
            "triangles": oracles.triangle_counts(n, src, dst),
        }

    def steps(self) -> list[Step]:
        def extract(spark, corpus, op: Op, op_dir: str) -> None:
            from graph_data_science_spark.sources.extract import build_import_graph

            g = build_import_graph(corpus)
            g.nodes = op.materialize(g.nodes)
            g.edges = op.materialize(g.edges)
            op.outputs["graph"] = g

        def wcc(spark, corpus, op: Op, op_dir: str) -> None:
            from graph_data_science_spark.operators.wcc import wcc as run

            res = run(op.outputs["graph"])
            op.outputs["wcc"] = res
            op.outputs["wcc.components"] = op.materialize(res.components)

        def lpa(spark, corpus, op: Op, op_dir: str) -> None:
            from graph_data_science_spark.operators.lpa import label_propagation

            res = label_propagation(op.outputs["graph"])
            op.outputs["lpa"] = res
            op.outputs["lpa.labels"] = op.materialize(res.labels)

        def triangles(spark, corpus, op: Op, op_dir: str) -> None:
            from graph_data_science_spark.operators.triangle import triangle_count

            res = triangle_count(op.outputs["graph"].to_undirected())
            op.outputs["triangles"] = res
            op.outputs["triangles.per_node"] = op.materialize(res.per_node)

        return [("extract", extract), ("wcc", wcc), ("lpa", lpa), ("triangles", triangles)]

    def verify(self, inputs: gen.Corpus, expected, op: Op) -> dict[str, list[str]]:
        n = len(inputs.repo)
        vid_of_row, src, dst = expected["graph"]
        g = op.outputs["graph"]
        edges = g.edges.select("src", "dst").toPandas()
        nodes = g.nodes.select("vid", "content_sha256").toPandas()
        out = {"extract": oracles.check_extraction(
            src, dst, n, edges["src"].to_numpy(), edges["dst"].to_numpy(),
            vid_of_row, inputs.content, nodes["vid"].to_numpy(),
            nodes["content_sha256"].tolist())}
        if "wcc" in op.outputs:
            comp = op.outputs["wcc.components"].toPandas()
            out["wcc"] = oracles.check_labels("wcc", expected["wcc"], comp["vid"].to_numpy(),
                                              comp["component"].to_numpy())
        if "lpa" in op.outputs:
            want, want_ran = expected["lpa"]
            lab = op.outputs["lpa.labels"].toPandas()
            out["lpa"] = (oracles.check_iterations("lpa", op.outputs["lpa"].ran_iterations, want_ran)
                          + oracles.check_labels("lpa", want, lab["vid"].to_numpy(),
                                                 lab["label"].to_numpy()))
        if "triangles" in op.outputs:
            res = op.outputs["triangles"]
            per = op.outputs["triangles.per_node"].toPandas()
            out["triangles"] = oracles.check_triangles(
                expected["triangles"], res.global_count, per["vid"].to_numpy(),
                per["triangles"].to_numpy())
        return out

    def work(self, inputs: gen.Corpus, op: Op) -> dict[str, float]:
        edges = sum(len(t) for t in inputs.imports)
        steps = sum(len(op.outputs[k].metrics) for k in ("wcc", "lpa") if k in op.outputs)
        return {"edge_supersteps": float(edges * steps), "files": float(len(inputs.repo))}


WORKLOADS = {w.name: w for w in (CorpusPipeline(), PrHubDurable())}


def clear_dir(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
