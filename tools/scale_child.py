"""One scaling measurement: PageRank, fixed supersteps, one parallelism
level. Usage: python tools/scale_child.py <spec> <backend> <nodes> [supersteps]
  spec = <cores> (local[N]) or lc<execs>x<cores> (local-cluster: REAL
  separate executor JVMs — the faithful stand-in for N vs 4N executors).
Prints one RESULT json line with total AND steady-state throughput.

Steady-state = supersteps after the first one (the first superstep
pays one-time costs: edge repartition+cache build, JIT warmup, first
shuffle-file creation). The per-superstep walls come from PregelEngine's
own metrics (superstep checkpoint/convergence metrics, north-rule item), so
the measurement is the engine's own bookkeeping, not an external timer.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_data_science_spark.operators.pagerank import page_rank
from graph_data_science_spark.sources.generator import random_graph
from graph_data_science_spark.session import get_spark


def build_spark(spec: str):
    if spec.startswith("lc"):
        n_exec, per = (int(x) for x in spec[2:].split("x"))
        total = n_exec * per
        from pyspark.sql import SparkSession

        exec_mem_mb = int(os.environ.get("EXEC_MEM_MB", "12288"))
        # knobs for scaling experiments: SHUFFLE_PARTS overrides the
        # partition count; EXTRA_CONF is a comma-separated k=v list
        # applied verbatim. Default = 4 tasks per core: with one task
        # per core every superstep barrier waits on the slowest single
        # task (no overlap to hide a straggler), and on the shared host
        # that is the dominant loss — measured r4 (scaling_runs.jsonl
        # tag=r4_parts/r4_waves): lc4x2 steady throughput 4.3M -> 8.0M
        # e·s/s and lc1x2 2.0M -> 2.9M moving from 1 to 4 waves.
        shuffle_parts = int(os.environ.get("SHUFFLE_PARTS", str(4 * total)))
        builder = (
            SparkSession.builder.master(f"local-cluster[{n_exec},{per},{exec_mem_mb}]")
            .appName(f"scaling-{spec}")
            .config("spark.sql.shuffle.partitions", str(shuffle_parts))
            .config("spark.default.parallelism", str(total))
            .config("spark.driver.memory", "8g")
            .config("spark.executor.memory", f"{exec_mem_mb}m")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        )
        for kv in os.environ.get("EXTRA_CONF", "").split(","):
            if "=" in kv:
                k, v = kv.split("=", 1)
                builder = builder.config(k.strip(), v.strip())
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        return spark, total
    cores = int(spec)
    return (
        get_spark(app_name=f"scaling-{cores}", cores=cores,
                  shuffle_partitions=cores, driver_memory="40g"),
        cores,
    )


def main():
    spec, backend, nodes = sys.argv[1], sys.argv[2], int(sys.argv[3])
    supersteps = int(sys.argv[4]) if len(sys.argv) > 4 else 20
    spark, cores = build_spark(spec)
    g = random_graph(spark, nodes, 8, seed=42)
    g.edges.persist()
    m = g.edges.count()
    g.nodes.persist()
    g.nodes.count()
    t0 = time.time()
    res = page_rank(g, tolerance=0, max_iterations=supersteps, backend=backend)
    res.scores.count()
    wall = time.time() - t0
    # steady state: drop the first superstep (cache build + JIT)
    walls = [m_["wall_sec"] for m_ in res.metrics]
    steady_wall = sum(walls[1:]) if len(walls) > 1 else wall
    steady_ss = supersteps - 1 if len(walls) > 1 else supersteps
    print("RESULT " + json.dumps({
        "tag": os.environ.get("TAG", ""),
        "cores": cores, "spec": spec, "backend": backend,
        "wall_sec": round(wall, 2), "edges": m, "supersteps": supersteps,
        "throughput": round(m * supersteps / wall, 1),
        "steady_wall_sec": round(steady_wall, 2),
        "steady_supersteps": steady_ss,
        "steady_throughput": round(m * steady_ss / steady_wall, 1),
    }))


if __name__ == "__main__":
    main()
