"""Local mimic of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01; compare
row-count, schema (column names), and an order-insensitive value hash.

Two levels of parallelism, neither of which touches determinism:

- WITHIN a process, the Spark side is the critical path (operators
  toggle session confs — AQE off inside iterative loops — so Spark
  queries must run one at a time per session). The DuckDB oracle +
  hash compare run PIPELINED on one worker thread: while Spark executes
  query i+1, the worker replays oracle i. ORACLE_SEQ=1 restores the
  fully sequential mode.
- ACROSS queries, a full-gate run shards the query list over
  ORACLE_PROCS worker processes (default 2), each with its OWN
  SparkSession + DuckDB — session-conf toggling stays per-process, and
  every query still runs exactly once. Bins are balanced by measured
  per-query walls (LPT greedy), so louvain/node2vec/leiden/steiner
  spread across workers. ORACLE_PROCS=1 restores one process.
  Explicitly-named queries (argv) always run in-process.

Usage: python tools/check_oracles.py [query ...]
"""

from __future__ import annotations

import hashlib
import os
import queue
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from graph_data_science_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Measured Spark seconds per query (round-5 full gate, local cores=8; the
# path, triangle, clustering and walk-sampler entries re-measured in a full
# gate on a 4-core host) —
# only used to BALANCE the process shards; unknown names default to 3 s.
_WEIGHTS = {
    "graph_yens": 99.6, "graph_sample_cnarw": 8.5, "graph_modopt": 31.3, "graph_louvain": 42.7, "graph_node2vec": 9.2, "graph_leiden": 29.3,
    "graph_steiner": 32.7, "graph_pagerank": 18.0, "graph_astar": 14.4,
    "graph_k_spanning_tree": 13.0, "graph_longest_path": 10.7,
    "graph_spanning_tree": 8.7, "graph_betweenness_tree": 8.5,
    "graph_maxkcut": 8.4, "graph_graphsage": 8.4, "graph_eigenvector": 7.5,
    "graph_triangle_per_node": 11.6, "graph_scc": 5.8, "graph_bellman": 6.2,
    "graph_sssp_paths": 8.5, "graph_hits": 4.9, "graph_fastrp": 4.9,
    "graph_sample_rwr": 3.0, "dedup_minhash_lsh": 4.6, "graph_closeness": 4.5,
    "graph_all_shortest_paths": 4.4, "graph_kcore": 4.2,
    "graph_triangle_global": 9.7, "graph_local_clustering": 9.1,
    "graph_harmonic": 3.9, "graph_celf": 3.8, "graph_topo_sort": 3.8,
    "graph_pagerank_weighted": 3.6, "multimodal_features": 3.3,
    "ann_lsh_topk": 3.2, "graph_lpa": 3.0, "graph_sllpa": 2.9,
    "graph_knn": 2.8, "graph_hashgnn": 2.8, "graph_wcc_threshold": 2.7,
    "graph_kmeans": 2.7, "graph_wcc": 2.4, "graph_modularity": 2.4,
    "graph_article_rank": 2.4, "graph_scale_rest": 2.4,
    "ann_neardup_exact_small": 2.3, "ann_ivf_topk": 2.3, "graph_bfs": 2.1,
    "ann_embedding_neardup": 1.9, "graph_k1coloring": 1.9, "dedup_simhash": 1.6,
    "graph_node_similarity": 1.6, "graph_dfs": 1.5, "dedup_ngram_jaccard": 1.4,
    "graph_node_similarity_filtered": 1.3, "graph_collapse_path": 1.2,
    "graph_conductance": 1.2, "graph_degree": 1.1, "graph_scale_minmax": 1.1,
    "graph_knn_filtered": 0.9, "graph_scale_stdscore": 0.9,
    "graph_scale_l2norm": 0.9, "graph_degree_weighted": 0.8,
    "ann_topk_cosine": 0.7, "docs_enrich": 0.6, "events_sessions": 2.5, "events_funnel": 1.5,
    "events_rollup": 0.8, "text_quality": 0.4,
    "dedup_exact": 0.3, "text_langid": 0.3, "text_token_count": 0.2,
    "text_fingerprint": 0.2,
}


def normalize(rows, cols):
    cols_sorted = sorted(cols)
    out = []
    for row in rows:
        d = dict(zip(cols, row)) if not hasattr(row, "asDict") else row.asDict()
        vals = []
        for c in cols_sorted:
            v = d[c]
            if isinstance(v, float):
                v = f"{v:.6g}"
            vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return hashlib.sha256("\n".join(out).encode()).hexdigest(), len(out), cols_sorted


def _diff_sample(srows, ssorted, orows, ocols, osorted):
    """First few rows present on only one side (for MISMATCH triage)."""
    sset = {}
    for r in srows:
        d = r.asDict()
        key = "|".join(str(d[c]) if not isinstance(d[c], float) else f"{d[c]:.6g}"
                       for c in ssorted)
        sset[key] = True
    oset = {}
    for row in orows:
        d = dict(zip(ocols, row))
        key = "|".join(str(d[c]) if not isinstance(d[c], float) else f"{d[c]:.6g}"
                       for c in osorted)
        oset[key] = True
    only_s = [k for k in sset if k not in oset][:5]
    only_o = [k for k in oset if k not in sset][:5]
    return only_s, only_o


def _compare_one(con, name, sql, srows, scols, spark_s, failures):
    """DuckDB replay + hash compare for one query (worker-thread body).

    Never raises: any error, on either side, is recorded as a failure, so
    the pipelined consumer thread keeps draining the bounded queue and
    the producer's `work.put` cannot block forever."""
    t0 = time.time()
    try:
        shash, scount, ssorted = normalize([tuple(r) for r in srows], scols)
        cur = con.execute(sql)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        ohash, ocount, osorted = normalize(orows, ocols)
        duck_s = time.time() - t0
        ok = (scount == ocount) and (ssorted == osorted) and (shash == ohash)
        status = "OK " if ok else "MISMATCH"
        print(f"[{status}] {name}: spark {scount} rows / oracle {ocount} rows, "
              f"cols {ssorted} vs {osorted}, hash {'=' if shash == ohash else '!='} "
              f"(spark {spark_s:.1f}s, duck {duck_s:.1f}s)", flush=True)
        if not ok:
            only_s, only_o = _diff_sample(srows, ssorted, orows, ocols, osorted)
            print("   spark-only:", only_s, flush=True)
            print("   oracle-only:", only_o, flush=True)
    except Exception as e:
        print(f"[COMPARE FAIL] {name}: {type(e).__name__}: {str(e)[:300]}",
              flush=True)
        ok = False
    if not ok:
        failures.append(name)


def run_queries(only: set[str] | None) -> list[str]:
    """Run (a subset of) the gate in THIS process; returns failures."""
    spark = get_spark(app_name="oracle-check", cores=8, shuffle_partitions=8,
                      driver_memory="8g")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures: list[str] = []

    pipelined = os.environ.get("ORACLE_SEQ", "0") != "1"
    work: queue.Queue = queue.Queue(maxsize=4)

    def consumer():
        while True:
            item = work.get()
            if item is None:
                return
            _compare_one(con, *item, failures)

    worker = threading.Thread(target=consumer, daemon=True) if pipelined else None
    if worker:
        worker.start()

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = sdf.collect()
        except Exception as e:
            print(f"[SPARK FAIL] {name}: {type(e).__name__}: {str(e)[:300]}",
                  flush=True)
            failures.append(name)
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"[rows-only ] {name}: {len(srows)} rows ({spark_s:.1f}s)",
                  flush=True)
            continue
        if worker:
            work.put((name, oracles[name], srows, scols, spark_s))
        else:
            _compare_one(con, name, oracles[name], srows, scols, spark_s,
                         failures)
    if worker:
        work.put(None)
        worker.join()
    return failures


def _lpt_bins(names: list[str], n: int) -> list[list[str]]:
    """Longest-processing-time greedy: heaviest query to the lightest bin."""
    bins: list[list[str]] = [[] for _ in range(n)]
    loads = [0.0] * n
    for name in sorted(names, key=lambda q: -_WEIGHTS.get(q, 3.0)):
        i = loads.index(min(loads))
        bins[i].append(name)
        loads[i] += _WEIGHTS.get(name, 3.0)
    return [b for b in bins if b]


def main():
    only = set(sys.argv[1:])
    wall0 = time.time()
    procs = int(os.environ.get("ORACLE_PROCS", "2"))
    child = os.environ.get("ORACLE_CHILD", "") == "1"

    if only or child or procs <= 1:
        failures = run_queries(only or None)
        if child:
            # parent aggregates via exit code + a machine-readable line
            print("CHILD FAILURES:", ",".join(failures) if failures else "-",
                  flush=True)
            return 1 if failures else 0
        print(f"GATE WALL: {time.time() - wall0:.1f}s")
        print("FAILURES:", failures if failures else "none")
        return 1 if failures else 0

    names = list(entrymod.queries())
    bins = _lpt_bins(names, procs)
    env = {**os.environ, "ORACLE_CHILD": "1"}
    children = [
        subprocess.Popen([sys.executable, os.path.abspath(__file__), *b], env=env)
        for b in bins
    ]
    rc = [p.wait() for p in children]
    print(f"GATE WALL: {time.time() - wall0:.1f}s ({len(bins)} workers)")
    print("FAILURES:", "none" if not any(rc)
          else f"see CHILD FAILURES lines above ({sum(1 for r in rc if r)} "
               f"worker(s) reported failures)")
    return 1 if any(rc) else 0


if __name__ == "__main__":
    sys.exit(main())
