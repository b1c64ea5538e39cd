"""N-vs-4N scaling benchmark (the north-rule two-cluster-size criterion,
evidenced in this sandbox by two parallelism levels on identical input).

Runs PageRank-to-convergence at local[N] and local[4N] in separate
subprocesses (fresh JVM each, no cache bleed), computes
    efficiency = throughput(4N) / (4 * throughput(N))
and writes BENCH/scaling_bench.md + BENCH/scaling.json (BASELINE.md is
hand-maintained from these — this tool must NOT overwrite it; the
richer local-cluster campaign lives in scale_child/scale_collect).

Usage: python tools/bench_scaling.py [N] (default 8 -> compares 8 vs 32)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from graph_data_science_spark.session import get_spark
from graph_data_science_spark.operators.pagerank import page_rank
from graph_data_science_spark.sources.generator import random_graph

cores = int(sys.argv[1]); backend = sys.argv[2]
nodes = int(sys.argv[3]); avg_deg = int(sys.argv[4])
spark = get_spark(app_name=f"scaling-{cores}", cores=cores,
                  shuffle_partitions=cores, driver_memory="40g")
g = random_graph(spark, nodes, avg_deg, seed=42)
g.edges.persist(); m = g.edges.count(); g.nodes.persist(); g.nodes.count()
t0 = time.time()
# fixed work (20 supersteps, no early exit): scaling efficiency compares
# identical computation at two parallelism levels; supersteps-to-
# convergence is measured by bench.py separately
res = page_rank(g, tolerance=0, max_iterations=20, backend=backend)
res.scores.count()
wall = time.time() - t0
supersteps = 20
print("RESULT " + json.dumps({
    "cores": cores, "backend": backend, "wall_sec": wall,
    "supersteps": res.ran_iterations, "edges": m,
    "throughput": m * max(supersteps, 1) / wall,
}))
"""


def run_child(cores: int, backend: str, nodes: int, avg_deg: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", CHILD % {"repo": REPO}, str(cores), backend,
         str(nodes), str(avg_deg)],
        capture_output=True, text=True, cwd=REPO, timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"child failed (cores={cores}):\n{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}")


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    nodes = int(os.environ.get("BENCH_NODES", "2000000"))
    avg_deg = int(os.environ.get("BENCH_AVG_DEG", "8"))
    results = {}
    for backend in ("csr", "sql"):
        lo = run_child(n, backend, nodes, avg_deg)
        hi = run_child(4 * n, backend, nodes, avg_deg)
        eff = hi["throughput"] / (4.0 * lo["throughput"])
        results[backend] = {"lo": lo, "hi": hi, "efficiency": eff}
        print(f"{backend}: {n}c {lo['throughput']:.0f} e/s, {4*n}c "
              f"{hi['throughput']:.0f} e/s, efficiency {eff:.3f}")

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    lines = [
        "# BENCH/scaling_bench.md — raw local[N] vs local[4N] legs",
        "",
        f"Generated {time.strftime('%Y-%m-%d %H:%M:%S')} by tools/bench_scaling.py.",
        "",
        f"Input: seeded power-law import graph (seed 42), {nodes:,} nodes, "
        f"avg degree {avg_deg} (~{results['csr']['lo']['edges']:,} edges) — "
        "identical bytes at both parallelism levels (hash-derived edges, "
        "no RNG state).",
        "",
        "PageRank, damping 0.85, fixed 20 supersteps (identical work at "
        "both levels). Throughput = edges x supersteps / "
        "iterate wall-clock. N-vs-4N executors evidenced by local[N] vs "
        "local[4N] per the sandbox protocol.",
        "",
        "| backend | cores | wall (s) | supersteps | edges/s | scaling efficiency |",
        "|---|---|---|---|---|---|",
    ]
    for backend, r in results.items():
        lines.append(
            f"| {backend} | {r['lo']['cores']} | {r['lo']['wall_sec']:.1f} | "
            f"{r['lo']['supersteps']} | {r['lo']['throughput']:.0f} | — |"
        )
        lines.append(
            f"| {backend} | {r['hi']['cores']} | {r['hi']['wall_sec']:.1f} | "
            f"{r['hi']['supersteps']} | {r['hi']['throughput']:.0f} | "
            f"**{r['efficiency']:.3f}** |"
        )
    lines += [
        "",
        "Target: efficiency >= 0.8 (north rule). See BASELINE.md for the "
        "full measurement protocol.",
    ]
    with open(os.path.join(REPO, "BENCH", "scaling_bench.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as fh:
        json.dump(results, fh, indent=2)


if __name__ == "__main__":
    main()
