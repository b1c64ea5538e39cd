"""spark-submit entry point — the north-rule shipping path:

    tools/package_pyfiles.sh               # -> dist/gds_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/gds_spark.zip \\
        tools/submit_job.py \\
        --edges s3://bucket/edges.parquet --algo pagerank \\
        --output /out/scores --checkpoint-dir /ckpt/run1

The script depends on the package ONLY through the --py-files archive
(no repo checkout on the executors or the driver), reads an edge table
(src long, dst long, weight double — or generates the seeded benchmark
graph with --generate-nodes), runs the requested algorithm to
convergence with per-superstep checkpoint/lineage/metrics, and writes
the result parquet plus a one-line metrics JSON. Resumable: rerun with
the same --checkpoint-dir and --resume after an interruption
(tests/test_submit.py drives the whole flow through a real spark-submit
subprocess on a local-cluster master)."""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--edges", help="parquet path with (src, dst[, weight])")
    p.add_argument("--generate-nodes", type=int, default=0,
                   help="instead of --edges: seeded power-law graph size")
    p.add_argument("--algo", default="pagerank",
                   choices=["pagerank", "wcc", "lpa", "triangle_count"])
    p.add_argument("--output", required=True, help="result parquet path")
    p.add_argument("--metrics", default=None, help="metrics JSON path (default: <output>_metrics.json)")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--tolerance", type=float, default=1e-6)
    p.add_argument("--max-iterations", type=int, default=100)
    args = p.parse_args()

    # The SparkSession comes from spark-submit's conf (master, executors,
    # memory); we do NOT build our own master here.
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName(f"gds-spark-{args.algo}").getOrCreate()

    from graph_data_science_spark.operators.pregel import PregelEngine
    from graph_data_science_spark.plans.graph import Graph

    if args.generate_nodes:
        from graph_data_science_spark.sources.generator import random_graph

        graph = random_graph(spark, args.generate_nodes, 8, seed=42)
    else:
        if not args.edges:
            print("need --edges or --generate-nodes", file=sys.stderr)
            return 2
        e = spark.read.parquet(args.edges)
        if "weight" not in e.columns:
            e = e.withColumn("weight", F.lit(1.0))
        graph = Graph.from_edges(e.select("src", "dst", "weight"))

    engine = (
        PregelEngine(spark, checkpoint_dir=args.checkpoint_dir)
        if args.checkpoint_dir else None
    )
    t0 = time.time()
    meta: dict = {"algo": args.algo}
    if args.algo == "pagerank":
        from graph_data_science_spark.operators.pagerank import page_rank

        r = page_rank(
            graph, damping_factor=args.damping, tolerance=args.tolerance,
            max_iterations=args.max_iterations, engine=engine,
            resume=args.resume,
        )
        meta.update({"ranIterations": r.ran_iterations,
                     "didConverge": r.did_converge})
        out = r.scores
    elif args.algo == "wcc":
        from graph_data_science_spark.operators.wcc import wcc

        r = wcc(graph, engine=engine, max_iterations=args.max_iterations)
        meta.update({"ranIterations": r.ran_iterations, "didConverge": r.did_converge})
        out = r.components
    elif args.algo == "lpa":
        from graph_data_science_spark.operators.lpa import label_propagation

        r = label_propagation(graph, max_iterations=args.max_iterations, engine=engine)
        meta.update({"ranIterations": r.ran_iterations, "didConverge": r.did_converge})
        out = r.labels
    else:
        from graph_data_science_spark.operators.triangle import triangle_count

        out = triangle_count(graph).per_node

    out.write.mode("overwrite").parquet(args.output)
    meta["wall_sec"] = round(time.time() - t0, 3)
    meta["rows"] = spark.read.parquet(args.output).count()
    metrics_path = args.metrics or (args.output.rstrip("/") + "_metrics.json")
    with open(metrics_path, "w") as f:
        json.dump(meta, f)
    print("METRICS " + json.dumps(meta))
    return 0


if __name__ == "__main__":
    sys.exit(main())
