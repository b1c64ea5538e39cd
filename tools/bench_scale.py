"""Two-size headline-operator bench — the 10x scale column.

Round-4 verdict ask #1: the per-query bench had only ever run at sf0.1
scale (100k-node graph / 5k docs / 2k vecs); PageRank alone had a
one-size-up number. This tool measures the SAME operator suite at two
sizes in one session so every headline operator's scale behavior is
measured, not argued:

  small: 100k nodes / ~810k edges,  5k docs,   2k vecs  (sf0.1 scale)
  big:     1M nodes / ~8.4M edges, 500k docs, 200k vecs (10x graph,
           100x docs/vecs — the doc/vec suite is overhead-bound at
           sf0.1, so 10x would still measure job floors, not data path)

Inputs are the same deterministic generators the bench protocol uses:
the seeded power-law graph (sources/generator.py — identical bytes at
any parallelism) and hash-derived documents/embeddings (pure Column
expressions, no RNG state, no external data). Iteration-bounded configs
(lpa 5 sync rounds, pagerank 10 supersteps, louvain/leiden 2 levels,
knn 3 NN-descent rounds, betweenness 16 sampled sources) so both sizes
do the same work per edge and the ratio is a data-path measurement.

Usage:
  SPARK_GRAFT_CPUS=32 python tools/bench_scale.py [small big | big]
Appends one JSON line per (size, query) to BENCH/scaling_runs.jsonl
(kind=query_scale_r5) and prints a two-column summary table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graph_data_science_spark.session import get_spark

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCH", "scaling_runs.jsonl")

SIZES = {
    "small": {"nodes": 100_000, "avg_deg": 8, "docs": 5_000, "vecs": 2_000,
              "events": 50_000},
    "big": {"nodes": 1_000_000, "avg_deg": 8, "docs": 500_000,
            "vecs": 200_000, "events": 5_000_000},
}

_VOCAB = [  # retained for reference docs realism (unused by synth_docs now)
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "plan", "join", "shuffle", "cache", "disk", "node", "edge",
    "graph", "rank", "walk", "label", "prop", "vote", "tree", "path",
]
EMB_DIM = 64


def synth_docs(spark, n: int, seed: int = 42):
    """Deterministic documents: 40 tokens per doc drawn from a 100k-token
    hash space (distinct docs share almost no tokens, so LSH candidate
    volume stays linear in the PLANTED duplicate population — a fixed
    40-word vocabulary makes every token-set near-identical and the
    bucket join quadratic, the bench.py sf0.1 caveat).
    id%20==7 -> exact copy of id-7 (exact-dedup signal, 5%);
    id%30==11 -> one token perturbed vs id-11 (near-dup signal, ~3.3%)."""
    tok_space = 100_000
    base = (
        F.when(F.col("id") % 20 == 7, F.col("id") - 7)
        .when(F.col("id") % 30 == 11, F.col("id") - 11)
        .otherwise(F.col("id"))
    )

    def tok(p):
        return F.concat(
            F.lit("t"),
            F.pmod(F.xxhash64(F.lit(seed), base, p), F.lit(tok_space)).cast("string"),
        )

    toks = F.transform(F.sequence(F.lit(0), F.lit(39)), tok)
    # near-dup rows swap token position 6 for a token derived from their OWN id
    perturbed = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda p: F.when(
            p == 6,
            F.concat(
                F.lit("t"),
                F.pmod(
                    F.xxhash64(F.lit(seed + 1), F.col("id")), F.lit(tok_space)
                ).cast("string"),
            ),
        ).otherwise(tok(p)),
    )
    text = F.array_join(F.when(F.col("id") % 30 == 11, perturbed).otherwise(toks), " ")
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), (F.col("id") % 5).cast("string")).alias("source"),
        F.length(text).alias("n_chars"),
    )


def synth_vecs(spark, n: int, dim: int = EMB_DIM, seed: int = 7):
    """Deterministic embeddings: hash-uniform floats in [-1, 1];
    id%100==1 -> copy of id-1 with coordinate 0 nudged +0.05 (a bounded
    near-dup population: ~n/100 true pairs, no quadratic cluster)."""
    base = F.when(F.col("id") % 100 == 1, F.col("id") - 1).otherwise(F.col("id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (
            (F.pmod(F.xxhash64(F.lit(seed), base, j), F.lit(2001)) - 1000) / 1000.0
        ).cast("float"),
    )
    nudged = F.transform(
        vec, lambda v, j: F.when(j == 0, (v + F.lit(0.05)).cast("float")).otherwise(v)
    )
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") % 100 == 1, nudged).otherwise(vec).alias("embedding"),
        (F.col("id") % 10).cast("int").alias("label"),
    )


def synth_events(spark, n: int, seed: int = 13):
    """Deterministic event log with a SCALE-INVARIANT session shape:
    user_id = id % users (users = n/100, so per-user volume is constant
    and the KEY COUNT scales — per-key window state stays O(1)); a
    user's k-th event (k = id // users) lands at t(k) = 60k seconds
    plus a 3600-s jump every 20th event, so every user has exactly five
    20-event sessions under the 30-min gap rule at ANY n. Timestamps
    are monotone in event_id (batch/time order holds); value/type are
    hash-derived."""
    users = max(n // 100, 1)
    k = F.floor(F.col("id") / users)
    ts = F.timestamp_seconds(
        F.lit(1704067200) + k * 60 + F.floor(k / 20) * 3600
    ).cast("timestamp_ntz")
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        ts.alias("ts"),
        F.pmod(F.col("id"), F.lit(users)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("signup"), F.lit("error")),
            (F.pmod(F.xxhash64(F.lit(seed + 2), F.col("id")), F.lit(5)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64(F.lit(seed + 3), F.col("id")), F.lit(10000)) / 100.0)
        .alias("value"),
        F.lit("{}").alias("props"),
    )


def node_props(nodes, dim: int = 8, seed: int = 11):
    """8-wide hash-float property vector per node (knn input)."""
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.pmod(F.xxhash64(F.lit(seed), F.col("vid"), j), F.lit(2001)) - 1000)
        / 1000.0,
    )
    return nodes.select("vid", vec.alias("props"))


def build_queries():
    from graph_data_science_spark.operators import (
        ann, dedup as dd, events as ev, text as tx,
    )
    from graph_data_science_spark.operators.betweenness import betweenness
    from graph_data_science_spark.operators.degree import degree_centrality
    from graph_data_science_spark.operators.dijkstra import dijkstra
    from graph_data_science_spark.operators.leiden import leiden
    from graph_data_science_spark.operators.louvain import louvain
    from graph_data_science_spark.operators.lpa import label_propagation
    from graph_data_science_spark.operators.modularity import modularity
    from graph_data_science_spark.operators.pagerank import page_rank
    from graph_data_science_spark.operators.similarity import knn_nn_descent
    from graph_data_science_spark.operators.triangle import triangle_count
    from graph_data_science_spark.operators.wcc import wcc

    return {
        "pagerank_10step": lambda c: page_rank(
            c["g"], damping_factor=0.85, tolerance=1e-12, max_iterations=10,
        ).scores.count(),
        "wcc": lambda c: wcc(c["g"]).components.count(),
        "lpa_5sync": lambda c: label_propagation(
            c["g"], max_iterations=5
        ).labels.count(),
        "triangle_per_node": lambda c: triangle_count(c["g"]).per_node.count(),
        "degree": lambda c: degree_centrality(c["g"]).count(),
        "modularity": lambda c: modularity(
            c["g"],
            c["g"].nodes.select("vid", (F.col("vid") % 1000).alias("community")),
        ).count(),
        "sssp_paths": lambda c: dijkstra(
            c["g"], source=0, max_iterations=60
        ).paths.count(),
        "betweenness_16src": lambda c: betweenness(
            c["g"], sampling_size=16, batch_size=16
        ).scores.count(),
        "louvain_2level": lambda c: louvain(
            c["g"], max_levels=2, max_iterations=3
        ).communities.count(),
        "leiden_2level": lambda c: leiden(
            c["g"], max_levels=2, max_sweeps=3
        ).communities.count(),
        "knn_3round": lambda c: knn_nn_descent(
            c["props"], "props", k=8, max_iterations=3
        ).count(),
        "dedup_exact": lambda c: dd.exact_duplicates(c["docs"]).count(),
        "dedup_minhash_lsh": lambda c: dd.minhash_lsh_duplicates(
            c["docs"], num_hashes=8, bands=2, threshold=0.5
        ).count(),
        "text_quality": lambda c: tx.quality_score(c["docs"]).count(),
        "text_langid": lambda c: tx.language_id(c["docs"]).count(),
        "ann_topk_cosine": lambda c: ann.brute_force_topk(
            c["vecs"], c["vecs"].filter(F.col("vec_id") < 10), k=5
        ).count(),
        # planes=None -> auto_planes: the bucket count MUST scale with n
        # (fixed planes=6 at 200k vecs = ~3k-row buckets = ~625M wide
        # candidate pairs = >200 GB spill, measured 2026-08-18)
        "ann_embedding_neardup": lambda c: ann.embedding_near_duplicates(
            c["vecs"], dim=EMB_DIM, threshold=0.35, planes=None, tables=2
        ).count(),
        "events_sessions": lambda c: ev.session_stats(
            c["events"], gap_minutes=30
        ).count(),
        "events_rollup": lambda c: ev.event_rollup(
            c["events"], bucket_minutes=60
        ).count(),
    }


def main():
    sizes = sys.argv[1:] or ["small", "big"]
    spark = get_spark(
        app_name="gds-bench-scale", cores=CPUS, shuffle_partitions=CPUS,
        driver_memory=os.environ.get("BENCH_DRIVER_MEM", "48g"),
    )
    spark.sparkContext.setLogLevel("ERROR")
    from graph_data_science_spark.sources.generator import random_graph

    queries = build_queries()
    only = os.environ.get("SCALE_QUERIES")
    if only:
        queries = {k: v for k, v in queries.items() if k in only.split(",")}
    results: dict[str, dict[str, float]] = {}
    for size in sizes:
        cfg = SIZES[size]
        g = random_graph(spark, cfg["nodes"], cfg["avg_deg"], seed=42)
        g.edges.persist()
        edge_count = g.edges.count()
        g.nodes.persist().count()
        docs = synth_docs(spark, cfg["docs"]).persist()
        docs.count()
        vecs = synth_vecs(spark, cfg["vecs"]).persist()
        vecs.count()
        props = node_props(g.nodes).persist()
        props.count()
        events = synth_events(spark, cfg["events"]).persist()
        events.count()
        ctx = {"g": g, "docs": docs, "vecs": vecs, "props": props,
               "events": events}
        if size == sizes[0]:
            # one untimed warm-up (JIT/codegen/Arrow worker startup)
            next(iter(queries.values()))(ctx)
        results[size] = {}
        for name, fn in queries.items():
            t0 = time.time()
            try:
                n_out = fn(ctx)
                wall = round(time.time() - t0, 3)
            except Exception as e:  # noqa: BLE001 — record and continue
                wall, n_out = -1.0, -1
                print(f"# {size}/{name} FAILED: {e}", file=sys.stderr)
            results[size][name] = wall
            rec = {
                "kind": "query_scale_r5", "size": size, "query": name,
                "wall_sec": wall, "rows_out": n_out, "nodes": cfg["nodes"],
                "edges": edge_count, "docs": cfg["docs"], "vecs": cfg["vecs"],
                "cpus": CPUS,
            }
            with open(RUNS_PATH, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(json.dumps(rec), flush=True)
        for df in (g.edges, g.nodes, docs, vecs, props):
            df.unpersist()
    if len(results) == 2:
        a, b = sizes
        print(f"\n{'query':26s} {a:>9s} {b:>9s}  ratio")
        for name in queries:
            wa, wb = results[a][name], results[b][name]
            r = round(wb / wa, 2) if wa > 0 and wb > 0 else float("nan")
            print(f"{name:26s} {wa:9.2f} {wb:9.2f}  {r}")
    spark.stop()


if __name__ == "__main__":
    main()
