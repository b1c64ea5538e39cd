"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship: PageRank over the part co-occurrence graph
                  derived from sf0.001 TPC-H tables, top-20 scores.
queries()       — one callable per implemented operator (SURVEY.md §2 +
                  the training-data pipeline suite).
oracle_sql()    — DuckDB-equivalent ANSI SQL per query (omitted only for
                  genuinely non-SQL-expressible ops; the driver records a
                  rows-only check for those).

All float outputs are rounded (4-6 dp) IDENTICALLY on both sides so the
order-insensitive value hash is stable across engines (sum order differs
between Spark and DuckDB at ~1e-13).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graph_data_science_spark.plans.graph import Aggregation, Graph
from graph_data_science_spark.operators.pagerank import page_rank
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.operators.lpa import label_propagation
from graph_data_science_spark.operators.triangle import triangle_count
from graph_data_science_spark.operators.degree import degree_centrality
from graph_data_science_spark.operators import dedup as dd
from graph_data_science_spark.operators import text as tx
from graph_data_science_spark.operators import ann as ann
from graph_data_science_spark.operators import multimodal as mm

SUPPLIER_OFFSET = 100000  # disjoint vid spaces for the bipartite graph
EMB_DIM = 64  # embeddings.parquet vector width at every sf
SSSP_UNROLLED = 10  # relaxation rounds mirrored in the DuckDB oracle

# number of rank-update iterations: Spark max_iterations=20 executes
# supersteps 0..19; superstep 0 only seeds messages, so ranks see 19
# delta-push updates == 19 unrolled power-iteration steps
PR_MAX_ITERATIONS = 20
PR_UNROLLED = PR_MAX_ITERATIONS - 1


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Derived graphs (same construction mirrored in the oracle SQL)
# ---------------------------------------------------------------------------
def _cs_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer -> supplier edges, weight = number of lineitems."""
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPPLIER_OFFSET).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part co-occurrence graph: directed both ways, one edge per
    distinct co-ordered pair (weight 1.0)."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    return (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .withColumn("weight", F.lit(1.0))
    )


_CS_EDGES_SQL = f"""
    SELECT o_custkey AS src, l_suppkey + {SUPPLIER_OFFSET} AS dst,
           CAST(count(*) AS DOUBLE) AS weight
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
"""

_CS_EDGES_SMALL_SQL = _CS_EDGES_SQL + " HAVING o_custkey < 300"

_PART_EDGES_SQL = """
    WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    prs AS (
        SELECT a.p AS pa, b.p AS pb
        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
    )
    SELECT pa AS src, pb AS dst, 1.0 AS weight FROM prs
    UNION ALL
    SELECT pb AS src, pa AS dst, 1.0 AS weight FROM prs
"""


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the part co-occurrence graph (sf0.001)."""
    sf_dir = "/root/testdata/sf0.001"
    g = Graph.from_edges(_part_edges(spark, sf_dir))
    res = page_rank(g, tolerance=0, max_iterations=PR_MAX_ITERATIONS)
    return (
        res.scores.select("vid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vid"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------
def _q_pagerank(spark, sf_dir):
    g = Graph.from_edges(_part_edges(spark, sf_dir))
    res = page_rank(g, tolerance=0, max_iterations=PR_MAX_ITERATIONS)
    return res.scores.select("vid", F.round("score", 5).alias("score"))


def _q_pagerank_weighted(spark, sf_dir):
    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    res = page_rank(g, tolerance=0, max_iterations=PR_MAX_ITERATIONS, weighted=True)
    return res.scores.select("vid", F.round("score", 5).alias("score"))


def _cs_edges_small(spark, sf_dir):
    """Restricted slice (custkey < 300) — keeps the DuckDB recursive-CTE
    WCC oracle tractable; the Spark side sees the identical subgraph."""
    return _cs_edges(spark, sf_dir).filter(F.col("src") < 300)


def _q_wcc(spark, sf_dir):
    g = Graph.from_edges(_cs_edges_small(spark, sf_dir))
    return wcc(g).components.select("vid", "component")


def _q_wcc_threshold(spark, sf_dir):
    g = Graph.from_edges(_cs_edges_small(spark, sf_dir))
    return wcc(g, threshold=1.5).components.select("vid", "component")


def _q_lpa(spark, sf_dir):
    """LPA run TO CONVERGENCE (the bipartite customer->supplier graph
    converges in one sync pass: suppliers have no out-edges so their
    labels are fixed points; the bound is just a safety cap)."""
    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    res = label_propagation(g, max_iterations=20)
    assert res.did_converge, "graph_lpa expected to converge"
    return res.labels.select("vid", "label")


def _q_triangle_per_node(spark, sf_dir):
    g = Graph.from_edges(_part_edges(spark, sf_dir))
    return triangle_count(g).per_node.select("vid", "triangles")


def _q_triangle_global(spark, sf_dir):
    g = Graph.from_edges(_part_edges(spark, sf_dir))
    res = triangle_count(g)
    return spark.createDataFrame([(res.global_count,)], "global_triangles long")


def _q_lcc(spark, sf_dir):
    """localClusteringCoefficient: C(v) = 2*t(v)/(d(v)*(d(v)-1)), 0 when
    d < 2, simple undirected degree (LocalClusteringCoefficient.java:
    85-135). Oracle replays triangles + degree relationally."""
    from graph_data_science_spark.operators.triangle import (
        local_clustering_coefficient,
    )

    g = Graph.from_edges(_part_edges(spark, sf_dir))
    return local_clustering_coefficient(g).select(
        "vid", F.round("coefficient", 6).alias("coefficient")
    )


def _q_collapse_path(spark, sf_dir):
    """gds.collapsePath: compose customer->supplier with its reverse —
    the collapsed edges connect customers sharing a supplier (the
    reference's silent-relationship-composition semantics: distinct
    endpoint pairs, self-loops dropped, weight 1.0)."""
    from graph_data_science_spark.operators.traversal import collapse_path

    cs = _cs_edges_small(spark, sf_dir)
    rev = cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return collapse_path([cs, rev]).select("src", "dst", "weight")


def _q_degree(spark, sf_dir):
    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    return degree_centrality(g).select("vid", "score")


def _q_degree_weighted(spark, sf_dir):
    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    return degree_centrality(g, weighted=True).select("vid", "score")


def _q_dedup_exact(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dd.exact_duplicates(docs).select("content_sha256", "keeper_id", "n_copies")


def _q_dedup_minhash(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dd.minhash_lsh_duplicates(docs, num_hashes=8, bands=2, threshold=0.5)


def _q_dedup_ngram(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return dd.ngram_jaccard_pairs(docs, n=5, threshold=0.3)


def _q_dedup_simhash(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dd.simhash(docs).select("doc_id", "simhash")


def _q_text_tokens(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return tx.token_count(docs).select("doc_id", "n_tokens", "n_chars_seen")


def _q_text_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return tx.quality_score(docs)


def _q_text_langid(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return tx.language_id(docs)


def _q_text_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return tx.fingerprint(docs)


def _q_ann_topk(spark, sf_dir):
    vecs = _read(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 10)
    return ann.brute_force_topk(vecs, queries_df, k=5)


def _q_ann_neardup(spark, sf_dir):
    """The SCALE path: LSH-bucketed near-duplicate pairs (no all-pairs
    join). The oracle replicates the identical hashlib-derived hyperplane
    constants, so the candidate set — and therefore the result — is
    hash-exact across engines."""
    vecs = _read(spark, sf_dir, "embeddings")
    return ann.embedding_near_duplicates(
        vecs, dim=EMB_DIM, threshold=0.35, planes=6, tables=2
    )


def _q_ann_neardup_exact_small(spark, sf_dir):
    """Brute-force exact near-dup on a bounded slice (vec_id < 300) —
    the recall oracle for the LSH path; quadratic, small-slice only."""
    vecs = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    base = vecs.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    other = vecs.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    from graph_data_science_spark.functions.similarity import cosine

    return (
        base.join(other, base["a"] < other["b"])
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= 0.35)
    )


def _q_ann_lsh_topk(spark, sf_dir):
    vecs = _read(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 5)
    return ann.lsh_topk(vecs, queries_df, dim=EMB_DIM, k=5, planes=6, tables=2)


_IVF_CENTROIDS = 8
_IVF_PROBE = 2
_IVF_SEED = 42


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN (the second scale path next to LSH):
    hash-seeded unit centroids, cosine-nearest cell assignment, n_probe
    nearest cells searched, exact cosine re-rank. The oracle inlines the
    identical centroid constants (Python repr doubles roundtrip exactly
    through DuckDB's parser) and replays assignment, probing, and
    re-rank — hash-exact."""
    vecs = _read(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 5)
    return ann.ivf_topk(vecs, queries_df, dim=EMB_DIM, k=5,
                        n_centroids=_IVF_CENTROIDS, n_probe=_IVF_PROBE,
                        seed=_IVF_SEED)


def _ann_ivf_topk_oracle_sql() -> str:
    rows = []
    for c in range(_IVF_CENTROIDS):
        comps = ann.centroid_components(c, EMB_DIM, _IVF_SEED)
        lit = "[" + ", ".join(repr(x) for x in comps) + "]"
        rows.append(f"({c}, {lit}::DOUBLE[])")
    cos = _COS_SQL.replace("ea.", "q.").replace("eb.", "n.")
    return f"""
    WITH cents(cell, cv) AS (VALUES {', '.join(rows)}),
    dots AS (
        SELECT e.vec_id, c.cell, list_dot_product(e.embedding, c.cv) AS dot
        FROM embeddings e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cell ASC) AS rn
            FROM dots) WHERE rn = 1
    ),
    probe AS (
        SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dot DESC, cell ASC) AS rn
            FROM dots WHERE vec_id < 5) WHERE rn <= {_IVF_PROBE}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN assign a ON a.cell = p.cell
        WHERE a.vec_id != p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id, {cos} AS sim
        FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
                    JOIN embeddings n ON n.vec_id = c.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4)::DOUBLE AS cosine_sim,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """


def _q_modularity(spark, sf_dir):
    from graph_data_science_spark.operators.modularity import modularity

    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    comm = g.nodes.select("vid", F.pmod(F.col("vid"), F.lit(7)).alias("community"))
    return modularity(g, comm).select(
        "community", F.round("modularity", 6).alias("modularity")
    )


def _q_conductance(spark, sf_dir):
    from graph_data_science_spark.operators.modularity import conductance

    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    comm = g.nodes.select("vid", F.pmod(F.col("vid"), F.lit(7)).alias("community"))
    return conductance(g, comm).select(
        "community", F.round("conductance", 6).alias("conductance")
    )


def _clique_ring_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic community structure from the customer table: per
    nation, a clique over the 6 smallest custkeys; consecutive nations
    bridged by one edge between their min custkeys. Louvain provably
    recovers the cliques (each member has 5 intra-clique edges against a
    single unit bridge), so the oracle is closed-form: community = min
    clique member. (Clique size 6, not 12: a k-clique forces k color
    classes in the k1-coloring sweep, and each color class is one
    materialized round — half the cliques, half the gate wall, identical
    recovery property.)"""
    cust = _read(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    sel = cust.select("c_custkey", "c_nationkey").withColumn(
        "rn", F.row_number().over(w)
    ).filter(F.col("rn") <= 6)
    a = sel.select(F.col("c_nationkey").alias("n"), F.col("c_custkey").alias("src"))
    b = sel.select(F.col("c_nationkey").alias("n"), F.col("c_custkey").alias("dst"))
    clique = a.join(b, "n").filter(F.col("src") < F.col("dst")).select("src", "dst")
    mins = sel.groupBy("c_nationkey").agg(F.min("c_custkey").alias("m"))
    w2 = Window.orderBy("c_nationkey")
    bridges = (
        mins.withColumn("nxt", F.lead("m").over(w2))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("m").alias("src"), F.col("nxt").alias("dst"))
    )
    return clique.unionByName(bridges).withColumn("weight", F.lit(1.0))


_CLIQUE_RING_SQL = """
    WITH sel AS (
        SELECT c_custkey, c_nationkey,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
        FROM customer
    ),
    s AS (SELECT c_custkey, c_nationkey FROM sel WHERE rn <= 6)
"""


def _q_louvain(spark, sf_dir):
    from graph_data_science_spark.operators.louvain import louvain
    from graph_data_science_spark.plans.graph import Orientation

    g = Graph.from_edges(
        _clique_ring_edges(spark, sf_dir), orientation=Orientation.UNDIRECTED
    )
    res = louvain(g)
    return res.communities.select("vid", "community")


def _q_leiden(spark, sf_dir):
    """Leiden on the same clique-ring as graph_louvain: cliques of 6 per
    nationkey, single bridges between consecutive min custkeys. Leiden
    provably recovers the cliques; community ids are normalized to the
    min member vid so the oracle is the same closed form as louvain's."""
    from graph_data_science_spark.operators.leiden import leiden
    from graph_data_science_spark.plans.graph import Orientation

    g = Graph.from_edges(
        _clique_ring_edges(spark, sf_dir), orientation=Orientation.UNDIRECTED
    )
    res = leiden(g, random_seed=19)
    norm = res.communities.groupBy("community").agg(F.min("vid").alias("c2"))
    return res.communities.join(norm, "community").select(
        "vid", F.col("c2").alias("community")
    )


def _tree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-level directed tree: region -> nation -> (8 customers) ->
    (3 orders each), with offsets keeping the id spaces disjoint.
    Unique shortest paths => Brandes betweenness has the closed form
    anc(v) * desc(v)."""
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    rn_edges = nation.select(
        (F.col("n_regionkey") + 1_000_000).alias("src"),
        (F.col("n_nationkey") + 2_000_000).alias("dst"),
    )
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    csel = cust.select("c_custkey", "c_nationkey").withColumn(
        "rn", F.row_number().over(w)
    ).filter(F.col("rn") <= 8)
    nc_edges = csel.select(
        (F.col("c_nationkey") + 2_000_000).alias("src"), F.col("c_custkey").alias("dst")
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    osel = orders.select("o_orderkey", "o_custkey").withColumn(
        "rn", F.row_number().over(wo)
    ).filter(F.col("rn") <= 3)
    co_edges = osel.join(
        csel.select(F.col("c_custkey").alias("o_custkey")), "o_custkey", "left_semi"
    ).select(F.col("o_custkey").alias("src"), (F.col("o_orderkey") + 3_000_000).alias("dst"))
    return rn_edges.unionByName(nc_edges).unionByName(co_edges).withColumn(
        "weight", F.lit(1.0)
    )


_TREE_SQL = """
    WITH csel AS (
        SELECT c_custkey, c_nationkey,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
        FROM customer
    ),
    cs AS (SELECT c_custkey, c_nationkey FROM csel WHERE rn <= 8),
    osel AS (
        SELECT o_orderkey, o_custkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        FROM orders
    ),
    os AS (SELECT o_orderkey, o_custkey FROM osel WHERE rn <= 3
           AND o_custkey IN (SELECT c_custkey FROM cs)),
    te AS (
        SELECT n_regionkey + 1000000 AS src, n_nationkey + 2000000 AS dst FROM nation
        UNION ALL
        SELECT c_nationkey + 2000000, c_custkey FROM cs
        UNION ALL
        SELECT o_custkey, o_orderkey + 3000000 FROM os
    )
"""


def _q_betweenness_tree(spark, sf_dir):
    from graph_data_science_spark.operators.betweenness import betweenness

    g = Graph.from_edges(_tree_edges(spark, sf_dir))
    # one batch covering all ~830 sources: exact mode's cost on this
    # shallow (depth-3) tree is driver job count, not data; with the
    # O(1)-size plan expressions in _forward the batch width is free
    res = betweenness(g, batch_size=1024)
    return res.scores.select("vid", F.round("score", 4).alias("score"))


def _q_sssp_paths(spark, sf_dir):
    """Dijkstra with path reconstruction over the UNDIRECTED weighted
    customer->supplier graph restricted to custkey < 300; source = min
    custkey. Weights are lineitem counts (integral doubles), so distance
    arithmetic is float-exact in both engines. Path rendered as a '->'
    string (engine-portable value compare)."""
    from graph_data_science_spark.operators.dijkstra import dijkstra
    from graph_data_science_spark.plans.graph import Orientation

    edges = _cs_edges_small(spark, sf_dir)
    src = edges.agg(F.min("src")).collect()[0][0]
    g = Graph.from_edges(edges, orientation=Orientation.UNDIRECTED)
    res = dijkstra(g, source=int(src), max_iterations=SSSP_UNROLLED)
    # loud failure instead of silent row-set divergence vs the oracle: if
    # SSSP_UNROLLED rounds ever stop sufficing (data/SF change), walks would
    # end at a null parent mid-chain while the oracle's `w.cur = b.sid`
    # filter silently drops them
    assert res.did_converge, (
        f"sssp did not converge in {SSSP_UNROLLED} rounds - raise SSSP_UNROLLED"
    )
    return res.paths.select(
        "source_node", "target_node",
        F.round("total_cost", 4).alias("total_cost"),
        F.array_join("node_ids", "->").alias("path"),
    )


def _q_bellman(spark, sf_dir):
    """Bellman-Ford distances over the same UNDIRECTED weighted graph as
    graph_sssp_paths (non-negative weights -> identical distances; the
    oracle is the unrolled relaxation chain). Distances only: parent
    tie-breaks are relaxation-order artifacts in both engines, so the
    tree is pytest-verified (tests/test_astar_bellman.py), values here."""
    from graph_data_science_spark.operators.bellmanford import bellman_ford
    from graph_data_science_spark.plans.graph import Orientation

    edges = _cs_edges_small(spark, sf_dir)
    src = edges.agg(F.min("src")).collect()[0][0]
    g = Graph.from_edges(edges, orientation=Orientation.UNDIRECTED)
    res = bellman_ford(g, source=int(src), max_iterations=SSSP_UNROLLED)
    assert not res.contains_negative_cycle
    assert res.did_converge, "bellman did not converge - raise SSSP_UNROLLED"
    return res.distances.filter(F.col("distance") < float("inf")).select(
        "vid", F.round("distance", 4).alias("distance")
    )


ASTAR_UNROLLED = 36  # BF convergence = 32 rounds (measured offline); oracle mirrors


def _geo_edges(spark, sf_dir):
    """Deterministic geo graph: customers with custkey < 200 get synthetic
    (lat, lon); edges = ring (k -> k+1) + chords (k -> k+13), weight =
    round(haversine_nm * 1.02) + 1 (INTEGRAL doubles -> float-exact sums;
    >= haversine, so the straight-line heuristic stays admissible)."""
    from graph_data_science_spark.operators.astar import haversine_nm

    cust = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    nodes = cust.select(
        F.col("c_custkey").alias("vid"),
        (F.col("c_custkey") % 179 - 89 + 0.5).cast("double").alias("latitude"),
        ((F.col("c_custkey") * 7) % 359 - 179 + 0.5).cast("double").alias("longitude"),
    )
    a = nodes.select(F.col("vid").alias("src"), F.col("latitude").alias("la"),
                     F.col("longitude").alias("lo"))
    b = nodes.select(F.col("vid").alias("dst"), F.col("latitude").alias("lb"),
                     F.col("longitude").alias("lb2"))
    # two equi-joins (dst = src + k), not a cartesian-with-filter
    pairs = a.join(b, F.col("dst") == F.col("src") + 1).unionByName(
        a.join(b, F.col("dst") == F.col("src") + 13)
    )
    edges = pairs.select(
        "src", "dst",
        (F.round(haversine_nm(F.col("la"), F.col("lo"), F.col("lb"), F.col("lb2"))
                 * 1.02, 0) + 1.0).alias("weight"),
    )
    return nodes, edges


def _q_astar(spark, sf_dir):
    """A* from custkey 1 to 199 over the synthetic geo graph; emits the
    single (source, target, cost) row. The full path fixture is
    pytest-verified (parent ties are order artifacts); the COST is
    engine-portable and the oracle recomputes it by unrolled relaxation."""
    from graph_data_science_spark.operators.astar import astar
    from graph_data_science_spark.plans.graph import Orientation

    nodes, edges = _geo_edges(spark, sf_dir)
    g = Graph.from_edges(edges, nodes=nodes, orientation=Orientation.UNDIRECTED)
    res = astar(g, source=1, target=199, max_iterations=ASTAR_UNROLLED)
    assert res.did_converge, "astar did not converge - raise ASTAR_UNROLLED"
    return res.paths.select(
        "source_node", "target_node", F.round("total_cost", 4).alias("total_cost")
    )


def _q_steiner(spark, sf_dir):
    """steinerTree on the directed 4-level tree (unique paths -> the
    greedy result is the exact Steiner tree and fully deterministic).
    Rows-only in the driver (greedy trees are not SQL-expressible);
    fixture parity in tests/test_steiner_celf.py."""
    from graph_data_science_spark.operators.steiner import steiner_tree

    edges = _tree_edges(spark, sf_dir).withColumn("weight", F.lit(1.0))
    g = Graph.from_edges(edges)
    # root = the smallest REGION node; terminals = the 5 smallest order
    # leaves actually under it (min(src) would be a raw customer key,
    # whose descendants don't include the global-min orders)
    root = edges.filter(F.col("src") >= 1_000_000).agg(F.min("src")).collect()[0][0]
    lvl1 = edges.filter(F.col("src") == root).select(F.col("dst").alias("n"))
    lvl2 = edges.join(lvl1, edges["src"] == lvl1["n"]).select(F.col("dst").alias("c"))
    lvl3 = edges.join(lvl2, edges["src"] == lvl2["c"]).select("dst")
    terminals = [r["dst"] for r in lvl3.orderBy("dst").limit(5).collect()]
    res = steiner_tree(g, source=int(root), terminals=terminals)
    return res.parents.filter(F.col("parent") != -2).select(
        "vid", "parent", F.round("parent_cost", 4).alias("parent_cost")
    )


_CELF_K = 5
_CELF_P = 0.2
_CELF_R = 200          # 10 simulations x 20 RR samples
_CELF_SEED = 7
_CELF_BFS_UNROLL = 3   # reverse-BFS depth bound in the oracle (bipartite: 1)


def _q_celf(spark, sf_dir):
    """CELF seeds over the customer->supplier graph. coin="md5" makes
    every random choice (root pick + per-(sample, edge) liveness) an
    engine-portable md5 coin, so the DuckDB oracle replays the IDENTICAL
    RR sampling and greedy max-coverage — hash-exact, not rows-only."""
    from graph_data_science_spark.operators.influence import celf

    edges = _cs_edges_small(spark, sf_dir)
    g = Graph.from_edges(edges)
    res = celf(g, seed_set_size=_CELF_K, propagation_probability=_CELF_P,
               monte_carlo_simulations=10, rr_per_simulation=20,
               random_seed=_CELF_SEED, coin="md5")
    return res.seeds.select("rank", "vid", F.round("spread", 2).alias("spread"))


def _celf_oracle_sql() -> str:
    """DuckDB replay of _q_celf: identical md5 coins (the simhash-oracle
    hex recipe), unrolled reverse BFS over per-sample live edges, and the
    unrolled greedy max-coverage with CELF's (count desc, vid asc) order."""
    p32 = int(_CELF_P * (1 << 32))
    sd = _CELF_SEED
    ctes = [
        f"e AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "ed AS MATERIALIZED (SELECT DISTINCT src, dst FROM e)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        "ranked AS MATERIALIZED (SELECT vid, row_number() OVER (ORDER BY vid) - 1 AS rk FROM nodes)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        f"""roots AS MATERIALIZED (
            SELECT s.sample, r.vid AS node
            FROM (SELECT unnest(generate_series(0, {_CELF_R - 1})) AS sample) s
            CROSS JOIN nn
            JOIN ranked r ON r.rk =
                ('0x' || substr(md5('{sd}#r#' || s.sample::VARCHAR), 1, 8))::BIGINT % nn.n
        )""",
        "m0 AS MATERIALIZED (SELECT sample, node FROM roots)",
    ]
    for k in range(_CELF_BFS_UNROLL):
        ctes.append(f"""m{k + 1} AS MATERIALIZED (
            SELECT sample, node FROM m{k}
            UNION
            SELECT m.sample, ed.src AS node
            FROM m{k} m JOIN ed ON ed.dst = m.node
            WHERE ('0x' || substr(md5('{sd}#e#' || m.sample::VARCHAR || '#'
                   || ed.src::VARCHAR || '#' || ed.dst::VARCHAR), 1, 8))::BIGINT
                  < {p32}
        )""")
    rr = f"m{_CELF_BFS_UNROLL}"
    ctes.append(f"rr0 AS MATERIALIZED (SELECT sample, node FROM {rr})")
    for i in range(_CELF_K):
        ctes.append(f"""g{i} AS MATERIALIZED (
            SELECT node, count(*) AS cnt FROM rr{i}
            GROUP BY node ORDER BY cnt DESC, node ASC LIMIT 1
        )""")
        if i < _CELF_K - 1:
            ctes.append(f"""rr{i + 1} AS MATERIALIZED (
                SELECT r.sample, r.node FROM rr{i} r
                ANTI JOIN (SELECT DISTINCT x.sample FROM rr{i} x
                           JOIN g{i} USING (node)) c USING (sample)
            )""")
    selects = []
    for i in range(_CELF_K):
        cum = " + ".join(f"(SELECT cnt FROM g{j})" for j in range(i + 1))
        selects.append(
            f"SELECT {i}::INTEGER AS rank, (SELECT node FROM g{i})::BIGINT AS vid, "
            f"ROUND((SELECT n FROM nn) * ({cum}) / {float(_CELF_R)}, 2)::DOUBLE AS spread"
        )
    return f"WITH {','.join(ctes)} " + " UNION ALL ".join(selects)


_ASP_SRC_BOUND = 60    # allShortestPaths sources: custkeys < 60
_ASP_UNROLLED = 8      # BFS relaxation rounds in the oracle


def _q_all_shortest_paths(spark, sf_dir):
    """allShortestPaths.stream (MS-BFS hop distances) from the custkey<60
    sources over the UNDIRECTED customer-supplier graph — every reachable
    (source, target) pair."""
    from graph_data_science_spark.operators.paths import all_shortest_paths_stream
    from graph_data_science_spark.plans.graph import Orientation

    edges = _cs_edges_small(spark, sf_dir)
    g = Graph.from_edges(edges, orientation=Orientation.UNDIRECTED)
    srcs = (
        g.nodes.select("vid").filter(F.col("vid") < _ASP_SRC_BOUND)
    )
    res = all_shortest_paths_stream(g, sources=srcs, batch_size=128)
    return res.select(
        "source_node", "target_node", F.col("distance").cast("double").alias("distance")
    )


def _asp_oracle_sql() -> str:
    """Unrolled all-pairs min-relaxation over (source, target) pair state —
    BFS depth bounded by _ASP_UNROLLED (diameter of the restricted
    bipartite graph is well under it; a too-small unroll diverges loudly)."""
    K = _ASP_UNROLLED
    ctes = [
        f"e AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "eu AS MATERIALIZED (SELECT src, dst FROM e "
        "UNION SELECT dst, src FROM e)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        f"srcs AS MATERIALIZED (SELECT vid FROM nodes WHERE vid < {_ASP_SRC_BOUND})",
        "p0 AS MATERIALIZED (SELECT vid AS s, vid AS t, 0.0 AS d FROM srcs)",
    ]
    for k in range(1, K + 1):
        ctes.append(f"""p{k} AS MATERIALIZED (
            SELECT s, t, MIN(d) AS d FROM (
                SELECT s, t, d FROM p{k - 1}
                UNION ALL
                SELECT p.s, eu.dst AS t, p.d + 1.0 AS d
                FROM p{k - 1} p JOIN eu ON eu.src = p.t
            ) GROUP BY s, t
        )""")
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT s AS source_node, t AS target_node, d::DOUBLE AS distance FROM p{K}"
    )


_LP_PART_BOUND = 100   # part co-occurrence DAG: l_partkey < 100 (depth 9 at sf0.01)
_LP_UNROLLED = 14      # max-relaxation rounds in the oracle (depth + headroom)


def _q_longest_path(spark, sf_dir):
    """dag.longestPath over the part co-occurrence DAG (edges oriented
    pa < pb => acyclic; weight = co-occurrence count, integral doubles so
    distance arithmetic is float-exact in both engines). Path rendered as
    a '->' string like graph_sssp_paths."""
    from graph_data_science_spark.operators.paths import longest_path

    li = (
        _read(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .filter(F.col("p") < _LP_PART_BOUND)
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    g = Graph.from_edges(edges)
    res = longest_path(g)
    return res.select(
        "source_node", "target_node",
        F.round("total_cost", 4).alias("total_cost"),
        F.concat_ws(
            "->", F.transform("node_ids", lambda x: x.cast("string"))
        ).alias("path"),
    )


def _longest_path_oracle_sql() -> str:
    """Unrolled MAX-relaxation (valid on the DAG), deterministic parent =
    min predecessor achieving the max distance (the operator's tie rule),
    recursive parent walk; source per path = the walk's terminal node."""
    K = _LP_UNROLLED
    ctes = [
        "lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
        f"FROM lineitem WHERE l_partkey < {_LP_PART_BOUND})",
        """e AS MATERIALIZED (
            SELECT a.p AS src, b.p AS dst, CAST(count(*) AS DOUBLE) AS weight
            FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2
        )""",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        """d0 AS MATERIALIZED (
            SELECT vid, CASE WHEN vid NOT IN (SELECT dst FROM e)
                             THEN 0.0 ELSE -1e18 END AS d
            FROM nodes
        )""",
    ]
    for k in range(1, K + 1):
        ctes.append(f"""d{k} AS MATERIALIZED (
            SELECT p.vid, GREATEST(p.d, COALESCE(m.md, -1e18)) AS d
            FROM d{k - 1} p LEFT JOIN (
                SELECT e.dst AS vid, MAX(s.d + e.weight) AS md
                FROM e JOIN d{k - 1} s ON s.vid = e.src
                WHERE s.d > -1e17 GROUP BY e.dst
            ) m ON m.vid = p.vid
        )""")
    inner = f"""
        WITH {','.join(ctes)},
        parent AS MATERIALIZED (
            SELECT e.dst AS vid, MIN(e.src) AS parent
            FROM e JOIN d{K} s ON s.vid = e.src JOIN d{K} t ON t.vid = e.dst
            WHERE s.d + e.weight = t.d AND s.d > -1e17
            GROUP BY e.dst
        )
        SELECT t.vid, t.d, p.parent
        FROM d{K} t LEFT JOIN parent p ON p.vid = t.vid
        WHERE t.d > -1e17
    """
    return f"""
    WITH RECURSIVE base AS MATERIALIZED ({inner}),
    walk(target, cur, path) AS (
        SELECT vid, vid, CAST(vid AS VARCHAR) FROM base
        UNION ALL
        SELECT w.target, b.parent, CAST(b.parent AS VARCHAR) || '->' || w.path
        FROM walk w JOIN base b ON b.vid = w.cur AND b.parent IS NOT NULL
    )
    SELECT w.cur AS source_node, w.target AS target_node,
           ROUND(b2.d, 4)::DOUBLE AS total_cost, w.path AS path
    FROM walk w
    JOIN base b2 ON b2.vid = w.target
    JOIN base broot ON broot.vid = w.cur AND broot.parent IS NULL
    """


_HGNN_N = 200          # nodes: vec_id < 200 from embeddings.parquet
_HGNN_BITS = 16        # binary feature dimension
_HGNN_K = 4            # embedding_density (hash rounds per iteration)
_HGNN_ITERS = 2
_HGNN_SEED = 42
_HGNN_PLANE_TABLE = 9  # plane_signs table id (disjoint from the LSH queries)


def _hgnn_feature_bits_spark(vec_col):
    """bit f set iff <embedding, plane_signs(f)> >= 0 — the same
    engine-portable ±1-hyperplane family the LSH oracles already use."""
    from graph_data_science_spark.operators.ann import plane_signs

    slots = []
    for f in range(_HGNN_BITS):
        plane = F.array(*[F.lit(s) for s in plane_signs(f, EMB_DIM, _HGNN_PLANE_TABLE)])
        dot = F.aggregate(
            F.zip_with(vec_col, plane, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        slots.append(F.when(dot >= 0, F.lit(f)).otherwise(F.lit(None)).cast("int"))
    return F.filter(F.array(*slots), lambda x: x.isNotNull())


def _q_hashgnn(spark, sf_dir):
    """HashGNN binary embeddings over a deterministic 2-out ring graph on
    embeddings.parquet vec_ids (< 200): v -> (v+1) % 200, v -> (v+7) % 200.
    Input bits = hyperplane signs of the stored vectors; 2 iterations x 4
    min-hash rounds. Output exploded to (vid, bit) rows — engine-portable
    because the hash triples are driver-derived integers inlined into the
    DuckDB oracle (the simhash/LSH oracle pattern)."""
    from graph_data_science_spark.operators.hashgnn import hashgnn

    vecs = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _HGNN_N)
    feats = vecs.select(
        F.col("vec_id").alias("vid"),
        _hgnn_feature_bits_spark(F.col("embedding")).alias("bits"),
    )
    ids = vecs.select(F.col("vec_id").alias("vid"))
    edges = ids.select(
        F.col("vid").alias("src"), ((F.col("vid") + 1) % _HGNN_N).alias("dst")
    ).unionByName(
        ids.select(F.col("vid").alias("src"), ((F.col("vid") + 7) % _HGNN_N).alias("dst"))
    ).withColumn("weight", F.lit(1.0))
    g = Graph.from_edges(edges)
    res = hashgnn(
        g, iterations=_HGNN_ITERS, embedding_density=_HGNN_K,
        neighbor_influence=1.0, feature_df=feats, seed=_HGNN_SEED,
    )
    return (
        res.embeddings.select(
            "vid", F.posexplode("embedding").alias("bit", "val")
        )
        .filter(F.col("val") == 1.0)
        .select("vid", F.col("bit").cast("int").alias("bit"))
    )


def _hashgnn_oracle_sql() -> str:
    """DuckDB mirror of _q_hashgnn: identical ±1 hyperplanes for the input
    bits and identical integer hash triples (same seeded numpy generator as
    operators/hashgnn._triples), unrolled for 2 iterations. Ties break on
    (hash, bit) in both engines (Spark: array_min/min on struct(h, bit);
    here: row_number ordered by h, bit)."""
    import numpy as np

    from graph_data_science_spark.operators.ann import plane_signs
    from graph_data_science_spark.operators.hashgnn import _triples

    bit_selects = []
    for f in range(_HGNN_BITS):
        arr = "[" + ",".join(
            f"{s:.1f}" for s in plane_signs(f, EMB_DIM, _HGNN_PLANE_TABLE)
        ) + "]"
        bit_selects.append(
            f"SELECT vec_id AS vid, {f} AS bit FROM embeddings "
            f"WHERE vec_id < {_HGNN_N} AND list_dot_product(embedding, {arr}) >= 0"
        )
    emb0 = " UNION ALL ".join(bit_selects)

    ctes = [
        f"nodes AS (SELECT vec_id AS vid FROM embeddings WHERE vec_id < {_HGNN_N})",
        f"""edges AS (
            SELECT vid AS src, (vid + 1) % {_HGNN_N} AS dst FROM nodes
            UNION ALL SELECT vid, (vid + 7) % {_HGNN_N} FROM nodes
        )""",
        f"emb0 AS MATERIALIZED ({emb0})",
    ]
    for it in range(_HGNN_ITERS):
        ts = _triples(
            np.random.default_rng((_HGNN_SEED, it)), _HGNN_K, 1.0
        )
        rows = ", ".join(
            f"({k}, {t[0]}, {t[1]}, {t[2]}, {t[3]}, {t[4]}, {t[5]}, {t[6]}, {t[7]}, {t[8]})"
            for k, t in enumerate(ts)
        )
        ctes.append(
            f"t{it}(k, na, nb, nc, sa, sb, sc, pa, pb, pc) AS (VALUES {rows})"
        )
        ctes.append(f"""selfr{it} AS (
            SELECT e.vid, t.k, e.bit,
                   (CAST(e.bit AS BIGINT) * t.sa + t.sb) % t.sc AS h,
                   row_number() OVER (
                       PARTITION BY e.vid, t.k
                       ORDER BY (CAST(e.bit AS BIGINT) * t.sa + t.sb) % t.sc, e.bit
                   ) AS rn
            FROM emb{it} e CROSS JOIN t{it} t
        )""")
        ctes.append(f"""prer{it} AS (
            SELECT e.vid, t.k, e.bit,
                   row_number() OVER (
                       PARTITION BY e.vid, t.k
                       ORDER BY (CAST(e.bit AS BIGINT) * t.pa + t.pb) % t.pc, e.bit
                   ) AS rn
            FROM emb{it} e CROSS JOIN t{it} t
        )""")
        ctes.append(f"""nbrr{it} AS (
            SELECT ed.src AS vid, p.k, p.bit,
                   (CAST(p.bit AS BIGINT) * t.na + t.nb) % t.nc AS h,
                   row_number() OVER (
                       PARTITION BY ed.src, p.k
                       ORDER BY (CAST(p.bit AS BIGINT) * t.na + t.nb) % t.nc, p.bit
                   ) AS rn
            FROM edges ed
            JOIN (SELECT vid, k, bit FROM prer{it} WHERE rn = 1) p ON p.vid = ed.dst
            JOIN t{it} t ON t.k = p.k
        )""")
        ctes.append(f"""emb{it + 1} AS MATERIALIZED (
            SELECT DISTINCT g.vid,
                   CASE WHEN nm.h IS NOT NULL AND (sm.h IS NULL OR nm.h < sm.h)
                        THEN nm.bit ELSE sm.bit END AS bit
            FROM (SELECT n.vid, t.k FROM nodes n CROSS JOIN t{it} t) g
            LEFT JOIN (SELECT vid, k, bit, h FROM selfr{it} WHERE rn = 1) sm
                   ON sm.vid = g.vid AND sm.k = g.k
            LEFT JOIN (SELECT vid, k, bit, h FROM nbrr{it} WHERE rn = 1) nm
                   ON nm.vid = g.vid AND nm.k = g.k
            WHERE CASE WHEN nm.h IS NOT NULL AND (sm.h IS NULL OR nm.h < sm.h)
                       THEN nm.bit ELSE sm.bit END IS NOT NULL
        )""")
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT vid, bit::INTEGER AS bit FROM emb{_HGNN_ITERS}"
    )


def _q_multimodal_features(spark, sf_dir):
    media = mm.synthesize_media(spark, n=64)
    return mm.extract_features(media, dim=8).select("media_id", "kind", "n_bytes")


# ---------------------------------------------------------------------------
# round-4 oracle extensions: the formerly pytest-only operators
# ---------------------------------------------------------------------------
_NS_CUST_BOUND = 120   # nodeSimilarity slice: custkey < 120 bounds the
                       # shared-neighbor self-join (sum indeg^2) in BOTH engines
_CS_EDGES_NS_SQL = _CS_EDGES_SQL + f" HAVING o_custkey < {_NS_CUST_BOUND}"


def _q_node_similarity(spark, sf_dir):
    """gds.nodeSimilarity (Jaccard over OUT-neighbor sets, topK=10) on the
    custkey<120 customer->supplier slice. similarity = |A∩B| / |A∪B| is a
    ratio of integers — float-EXACT in both engines, so the topK tie
    order (similarity desc, node2 asc) is engine-portable."""
    from graph_data_science_spark.operators.similarity import node_similarity

    g = Graph.from_edges(_cs_edges(spark, sf_dir).filter(F.col("src") < _NS_CUST_BOUND))
    out = node_similarity(g, top_k=10)
    return out.select("node1", "node2", F.round("similarity", 6).alias("similarity"))


def _node_similarity_oracle_sql() -> str:
    return f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({_CS_EDGES_NS_SQL})),
    deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
    inter AS MATERIALIZED (
        SELECT a.src AS node1, b.src AS node2, count(*) AS i
        FROM e a JOIN e b ON a.dst = b.dst AND a.src <> b.src GROUP BY 1, 2
    ),
    scored AS (
        SELECT node1, node2, CAST(i AS DOUBLE) / (d1.deg + d2.deg - i) AS sim
        FROM inter JOIN deg d1 ON d1.src = inter.node1
                   JOIN deg d2 ON d2.src = inter.node2
    ),
    ranked AS (
        SELECT node1, node2, sim,
               row_number() OVER (PARTITION BY node1
                                  ORDER BY sim DESC, node2 ASC) AS rn
        FROM scored WHERE sim >= 1e-42
    )
    SELECT node1, node2, ROUND(sim, 6)::DOUBLE AS similarity
    FROM ranked WHERE rn <= 10
    """


def _pivot_list(spark, sf_dir):
    """The closeness/harmonic pivot set: every graph node with vid <
    _ASP_SRC_BOUND — identical to the allShortestPaths source set, so the
    oracle reuses the same unrolled-BFS pair table."""
    from graph_data_science_spark.plans.graph import Orientation

    g = Graph.from_edges(
        _cs_edges_small(spark, sf_dir), orientation=Orientation.UNDIRECTED
    )
    pivots = [
        r["vid"]
        for r in g.nodes.filter(F.col("vid") < _ASP_SRC_BOUND).orderBy("vid").collect()
    ]
    return g, pivots


def _q_closeness(spark, sf_dir):
    """Pivot-exact closeness (Wasserman-Faust: reached/Σd within the
    explicit pivot set) — the score is a ratio of integers, float-exact."""
    from graph_data_science_spark.operators.closeness import closeness_centrality

    g, pivots = _pivot_list(spark, sf_dir)
    res = closeness_centrality(g, pivots=pivots)
    return res.scores.select("vid", F.round("score", 6).alias("score"))


def _q_harmonic(spark, sf_dir):
    from graph_data_science_spark.operators.closeness import harmonic_centrality

    g, pivots = _pivot_list(spark, sf_dir)
    res = harmonic_centrality(g, pivots=pivots)
    return res.scores.select("vid", F.round("score", 6).alias("score"))


def _pivot_centrality_oracle_sql(kind: str) -> str:
    """Aggregate the allShortestPaths unrolled-BFS pair table per target:
    closeness = reached/Σd, harmonic = Σ(1/d)/k (d>0 finite only)."""
    K = _ASP_UNROLLED
    ctes = [
        f"e AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "eu AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        f"srcs AS MATERIALIZED (SELECT vid FROM nodes WHERE vid < {_ASP_SRC_BOUND})",
        "p0 AS MATERIALIZED (SELECT vid AS s, vid AS t, 0.0 AS d FROM srcs)",
    ]
    for k in range(1, K + 1):
        ctes.append(f"""p{k} AS MATERIALIZED (
            SELECT s, t, MIN(d) AS d FROM (
                SELECT s, t, d FROM p{k - 1}
                UNION ALL
                SELECT p.s, eu.dst AS t, p.d + 1.0 AS d
                FROM p{k - 1} p JOIN eu ON eu.src = p.t
            ) GROUP BY s, t
        )""")
    if kind == "closeness":
        agg = (
            "CASE WHEN COUNT(*) FILTER (WHERE d > 0) > 0 "
            "THEN (COUNT(*) FILTER (WHERE d > 0))::DOUBLE "
            "/ SUM(d) FILTER (WHERE d > 0) ELSE 0.0 END"
        )
    else:
        agg = "COALESCE(SUM(1.0 / d) FILTER (WHERE d > 0), 0.0) / (SELECT count(*) FROM srcs)"
    return f"""
    WITH {','.join(ctes)},
    agg AS (SELECT t AS vid, {agg} AS score FROM p{K} GROUP BY t)
    SELECT n.vid, ROUND(COALESCE(a.score, 0.0), 6)::DOUBLE AS score
    FROM nodes n LEFT JOIN agg a ON a.vid = n.vid
    """


def _q_scc(spark, sf_dir):
    """gds.scc (Orzan coloring, component = max vid in SCC) on the
    customer->supplier slice plus reverse edges where (src+dst)%3==0 —
    deterministic cycles, so SCCs are non-trivial."""
    from graph_data_science_spark.operators.scc import scc

    base = _cs_edges_small(spark, sf_dir)
    rev = base.filter(F.pmod(F.col("src") + F.col("dst"), F.lit(3)) == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    g = Graph.from_edges(base.unionByName(rev))
    res = scc(g)
    assert res.did_converge, "scc round budget exhausted"
    return res.components.select("vid", "component")


def _scc_oracle_sql() -> str:
    """SCC(v) = forward-reachable(v) ∩ backward-reachable(v); component =
    MAX member vid (the coloring root is the max ancestor inside the SCC)."""
    return f"""
    WITH RECURSIVE e0 AS MATERIALIZED ({_CS_EDGES_SMALL_SQL}),
    ed AS MATERIALIZED (
        SELECT src, dst FROM e0
        UNION
        SELECT dst AS src, src AS dst FROM e0 WHERE (src + dst) %% 3 = 0
    ),
    nodes AS MATERIALIZED (SELECT src AS vid FROM ed UNION SELECT dst FROM ed),
    f(v, r) AS (
        SELECT vid, vid FROM nodes
        UNION
        SELECT f.v, ed.dst FROM f JOIN ed ON ed.src = f.r
    ),
    b(v, r) AS (
        SELECT vid, vid FROM nodes
        UNION
        SELECT b.v, ed.src FROM b JOIN ed ON ed.dst = b.r
    )
    SELECT f.v AS vid, MAX(f.r) AS component
    FROM f JOIN b ON b.v = f.v AND b.r = f.r
    GROUP BY f.v
    """ % ()


EV_K = 8  # eigenvector power iterations (tolerance=0 => exactly EV_K steps)


def _q_eigenvector(spark, sf_dir):
    """Eigenvector centrality ((A+I)x with per-superstep global L2
    normalization) on the part co-occurrence graph, EV_K fixed steps."""
    from graph_data_science_spark.operators.pagerank import eigenvector

    g = Graph.from_edges(_part_edges(spark, sf_dir))
    res = eigenvector(g, tolerance=0.0, max_iterations=EV_K)
    return res.scores.select("vid", F.round("score", 5).alias("score"))


def _eigenvector_oracle_sql() -> str:
    ctes = [
        f"e AS MATERIALIZED ({_PART_EDGES_SQL})",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes)",
        "r0 AS MATERIALIZED (SELECT vid, 1.0 / sqrt((SELECT n FROM nn)) AS score FROM nodes)",
    ]
    for k in range(1, EV_K + 1):
        ctes.append(f"""raw{k} AS MATERIALIZED (
            SELECT n.vid, r.score + COALESCE(s.inflow, 0) AS raw
            FROM nodes n JOIN r{k - 1} r ON r.vid = n.vid LEFT JOIN (
                SELECT e.dst AS vid, SUM(r2.score) AS inflow
                FROM e JOIN r{k - 1} r2 ON r2.vid = e.src GROUP BY e.dst
            ) s ON s.vid = n.vid
        )""")
        ctes.append(
            f"r{k} AS MATERIALIZED (SELECT vid, raw / "
            f"(SELECT sqrt(SUM(raw * raw)) FROM raw{k}) AS score FROM raw{k})"
        )
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT vid, ROUND(score, 5)::DOUBLE AS score FROM r{EV_K}"
    )


HITS_K = 6  # HITS iterations (tolerance=0 => exactly HITS_K steps)


def _q_hits(spark, sf_dir):
    """HITS hubs/authorities on the bipartite customer->supplier graph
    (customers are pure hubs, suppliers pure authorities)."""
    from graph_data_science_spark.operators.hits import hits

    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    res = hits(g, hits_iterations=HITS_K, tolerance=0.0)
    return res.scores.select(
        "vid", F.round("hub", 5).alias("hub"), F.round("authority", 5).alias("authority")
    )


def _hits_oracle_sql() -> str:
    ctes = [
        f"e AS MATERIALIZED ({_CS_EDGES_SQL})",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        "s0 AS MATERIALIZED (SELECT vid, 1.0 AS hub, 1.0 AS auth FROM nodes)",
    ]
    for k in range(1, HITS_K + 1):
        ctes.append(f"""ar{k} AS MATERIALIZED (
            SELECT n.vid, COALESCE(x.s, 0) AS araw, p.hub AS hub
            FROM nodes n JOIN s{k - 1} p ON p.vid = n.vid LEFT JOIN (
                SELECT e.dst AS vid, SUM(p2.hub) AS s
                FROM e JOIN s{k - 1} p2 ON p2.vid = e.src GROUP BY e.dst
            ) x ON x.vid = n.vid
        )""")
        ctes.append(f"""an{k} AS MATERIALIZED (
            SELECT vid, araw / (SELECT CASE WHEN sqrt(SUM(araw * araw)) = 0
                                THEN 1.0 ELSE sqrt(SUM(araw * araw)) END
                                FROM ar{k}) AS auth, hub
            FROM ar{k}
        )""")
        ctes.append(f"""hr{k} AS MATERIALIZED (
            SELECT n.vid, COALESCE(x.s, 0) AS hraw, a.auth AS auth
            FROM nodes n JOIN an{k} a ON a.vid = n.vid LEFT JOIN (
                SELECT e.src AS vid, SUM(a2.auth) AS s
                FROM e JOIN an{k} a2 ON a2.vid = e.dst GROUP BY e.src
            ) x ON x.vid = n.vid
        )""")
        ctes.append(f"""s{k} AS MATERIALIZED (
            SELECT vid, hraw / (SELECT CASE WHEN sqrt(SUM(hraw * hraw)) = 0
                                THEN 1.0 ELSE sqrt(SUM(hraw * hraw)) END
                                FROM hr{k}) AS hub, auth
            FROM hr{k}
        )""")
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT vid, ROUND(hub, 5)::DOUBLE AS hub, "
        f"ROUND(auth, 5)::DOUBLE AS authority FROM s{HITS_K}"
    )


KCORE_UNROLLED = 10  # h-operator rounds mirrored in the oracle


def _q_kcore(spark, sf_dir):
    """K-core decomposition (distributed h-operator, converges to exact
    coreness) on the undirected customer-supplier slice."""
    from graph_data_science_spark.operators.kcore import k_core_decomposition
    from graph_data_science_spark.plans.graph import Orientation

    g = Graph.from_edges(
        _cs_edges_small(spark, sf_dir), orientation=Orientation.UNDIRECTED
    )
    res = k_core_decomposition(g, max_iterations=KCORE_UNROLLED)
    assert res.did_converge, "kcore did not converge - raise KCORE_UNROLLED"
    return res.cores.select("vid", "core")


def _kcore_oracle_sql() -> str:
    """Unrolled h-operator: c0 = degree; c_{k}(v) = min(c_{k-1}(v),
    h-index of neighbor bounds). Monotone non-increasing, so extra rounds
    past convergence are no-ops — the unroll only needs to be >= the
    measured convergence round count (asserted on the Spark side)."""
    K = KCORE_UNROLLED
    ctes = [
        f"e0 AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "eu AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0) WHERE src <> dst)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM eu UNION SELECT dst FROM eu)",
        "c0 AS MATERIALIZED (SELECT n.vid, COALESCE(d.deg, 0) AS c FROM nodes n "
        "LEFT JOIN (SELECT src, count(*) AS deg FROM eu GROUP BY src) d ON d.src = n.vid)",
    ]
    for k in range(1, K + 1):
        ctes.append(f"""c{k} AS MATERIALIZED (
            SELECT p.vid, LEAST(p.c, COALESCE(h.h, p.c)) AS c
            FROM c{k - 1} p LEFT JOIN (
                SELECT src AS vid, MAX(LEAST(rn, nc)) AS h FROM (
                    SELECT eu.src, cb.c AS nc,
                           row_number() OVER (PARTITION BY eu.src
                                              ORDER BY cb.c DESC) AS rn
                    FROM eu JOIN c{k - 1} cb ON cb.vid = eu.dst
                ) GROUP BY src
            ) h ON h.vid = p.vid
        )""")
    return f"WITH {','.join(ctes)} SELECT vid, c AS core FROM c{K}"


_KM_N = 256   # kmeans: embeddings vec_id < 256
_KM_K = 4     # clusters; seed centroids = vectors of vec_id 0..3
_KM_ITERS = 3


def _q_kmeans(spark, sf_dir):
    """Lloyd k-means with explicit seed centroids (the reference's
    seedCentroids option) — both engines start from the vectors of
    vec_id 0..3 and run _KM_ITERS full iterations (delta_threshold=0)."""
    from graph_data_science_spark.operators.kmeans import kmeans

    vecs = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _KM_N)
    init = [
        list(r["embedding"])
        for r in vecs.filter(F.col("vec_id") < _KM_K).orderBy("vec_id").collect()
    ]
    res = kmeans(
        vecs.select(F.col("vec_id").alias("vid"), "embedding"), "embedding",
        max_iterations=_KM_ITERS, delta_threshold=0.0, initial_centroids=init,
    )
    return res.assignments.select(
        "vid", "community", F.round("distance_from_centroid", 4).alias("distance")
    )


def _kmeans_oracle_sql() -> str:
    """Unrolled Lloyd: assignment = argmin squared distance (ties to the
    lower cluster index, Spark's strict-< scan order), update = per-pos
    mean; clusters that lose all members keep their previous centroid.
    Distances use the SAME elementwise (a-b)^2 formulation as the engine
    (kmeans._dist_sq) — the earlier dot-product expansion is algebraically
    equal but not IEEE-identical, leaving argmin/rounding fragile on
    near-ties; term-identical sums differ only by summation order."""
    d2 = (
        "list_sum(list_transform(list_zip(e.v, ct.vec), "
        "x -> (x[1] - x[2]) * (x[1] - x[2])))"
    )
    ctes = [
        f"emb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v "
        f"FROM embeddings WHERE vec_id < {_KM_N})",
        f"ct0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS c, "
        f"embedding::DOUBLE[] AS vec FROM embeddings WHERE vec_id < {_KM_K})",
        "pos_x AS MATERIALIZED (SELECT vec_id, generate_subscripts(v, 1) AS pos, "
        "unnest(v) AS x FROM emb)",
    ]
    for i in range(1, _KM_ITERS + 1):
        ctes.append(f"""a{i} AS MATERIALIZED (
            SELECT vec_id, c FROM (
                SELECT e.vec_id, ct.c,
                       row_number() OVER (PARTITION BY e.vec_id
                                          ORDER BY {d2}, ct.c) AS rn
                FROM emb e CROSS JOIN ct{i - 1} ct
            ) WHERE rn = 1
        )""")
        ctes.append(f"""ct{i} AS MATERIALIZED (
            SELECT p.c, COALESCE(nv.vec, p.vec) AS vec
            FROM ct{i - 1} p LEFT JOIN (
                SELECT a.c, list(m ORDER BY pos) AS vec FROM (
                    SELECT a.c, t.pos, avg(t.x) AS m
                    FROM a{i} a JOIN pos_x t USING (vec_id)
                    GROUP BY a.c, t.pos
                ) a GROUP BY a.c
            ) nv ON nv.c = p.c
        )""")
    return f"""
    WITH {','.join(ctes)}
    SELECT a.vec_id AS vid, CAST(a.c AS INT) AS community,
           ROUND(sqrt(greatest({d2}, 0)), 4)::DOUBLE AS distance
    FROM a{_KM_ITERS} a JOIN emb e ON e.vec_id = a.vec_id
                        JOIN ct{_KM_ITERS} ct ON ct.c = a.c
    """


_FRP_DIM = 16
_FRP_SEED = 11


def _q_fastrp(spark, sf_dir):
    """fastRP embeddings (very-sparse random projection + two neighbor-
    mean/normalize iterations, weights [0,1,1]) over the deterministic
    2-out ring on embeddings vec_ids, with the engine-portable md5 coin
    family so the oracle replays IDENTICAL base vectors."""
    from graph_data_science_spark.operators.fastrp import fast_rp

    ids = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _HGNN_N)
        .select(F.col("vec_id").alias("vid"))
    )
    edges = ids.select(
        F.col("vid").alias("src"), ((F.col("vid") + 1) % _HGNN_N).alias("dst")
    ).unionByName(
        ids.select(F.col("vid").alias("src"), ((F.col("vid") + 7) % _HGNN_N).alias("dst"))
    ).withColumn("weight", F.lit(1.0))
    g = Graph.from_edges(edges)
    emb = fast_rp(g, embedding_dimension=_FRP_DIM, seed=_FRP_SEED, coin="md5")
    # + 0.0 canonicalizes -0.0 -> +0.0 (IEEE); DuckDB's parallel SUM
    # returns -0.0 or +0.0 depending on scan order, and the driver's
    # value hash formats them differently ("-0" vs "0")
    #
    # Known hash-flake risk (accepted): the operator's posexplode+SUM
    # neighbor mean accumulates floats in partition order, so a value
    # sitting exactly on a 5-decimal rounding boundary could round
    # differently than DuckDB's scan-order sum. Stable at 16/32
    # partitions on this fixture; if a flake ever appears, sum over a
    # sorted (vid, pos, src) ordering in fastrp.py or widen the rounding.
    return emb.select("vid", F.posexplode("embedding").alias("pos", "val")).select(
        "vid", "pos", (F.round("val", 5) + F.lit(0.0)).alias("val")
    )


def _fastrp_oracle_sql() -> str:
    import math

    val = repr(math.sqrt(3) / math.sqrt(_FRP_DIM))
    n = _HGNN_N
    md5h = (
        f"('0x' || substr(md5('{_FRP_SEED}#' || vid::VARCHAR || '#' || pos::VARCHAR), "
        f"1, 8))::BIGINT % 6"
    )
    ctes = [
        f"ids AS MATERIALIZED (SELECT vec_id AS vid FROM embeddings WHERE vec_id < {n})",
        f"e AS MATERIALIZED (SELECT vid AS src, (vid + 1) % {n} AS dst FROM ids "
        f"UNION ALL SELECT vid, (vid + 7) % {n} FROM ids)",
        f"""base AS MATERIALIZED (
            SELECT vid, pos,
                   CASE {md5h} WHEN 0 THEN {val} WHEN 1 THEN -{val} ELSE 0.0 END AS x
            FROM ids CROSS JOIN (SELECT unnest(generate_series(0, {_FRP_DIM - 1})) AS pos) j
        )""",
        """b0 AS MATERIALIZED (
            SELECT vid, pos, CASE WHEN nrm > 0 THEN x / nrm ELSE x END AS x
            FROM (SELECT vid, pos, x,
                         sqrt(SUM(x * x) OVER (PARTITION BY vid)) AS nrm FROM base)
        )""",
    ]
    prev = "b0"
    for it in (1, 2):
        ctes.append(f"""g{it} AS MATERIALIZED (
            SELECT e.src AS vid, b.pos, SUM(b.x) / COUNT(*) AS x
            FROM e JOIN {prev} b ON b.vid = e.dst GROUP BY 1, 2
        )""")
        ctes.append(f"""v{it} AS MATERIALIZED (
            SELECT vid, pos, CASE WHEN nrm > 0 THEN x / nrm ELSE x END AS x
            FROM (SELECT vid, pos, x,
                         sqrt(SUM(x * x) OVER (PARTITION BY vid)) AS nrm FROM g{it})
        )""")
        prev = f"v{it}"
    return f"""
    WITH {','.join(ctes)}
    SELECT v1.vid, v1.pos, (ROUND(v1.x + v2.x, 5) + 0.0)::DOUBLE AS val
    FROM v1 JOIN v2 ON v2.vid = v1.vid AND v2.pos = v1.pos
    """


_KST_K = 3


def _q_k_spanning_tree(spark, sf_dir):
    """gds.kSpanningTree on the undirected 4-level tree: cut the k-1
    most expensive tree edges (deterministic total order: weight desc,
    src asc, dst asc — unit weights make it pure id order) and label
    each resulting subtree by its min member vid."""
    from graph_data_science_spark.operators.spanningtree import k_spanning_tree
    from graph_data_science_spark.plans.graph import Orientation

    edges = _tree_edges(spark, sf_dir)
    root = edges.filter(F.col("src") >= 1_000_000).agg(F.min("src")).collect()[0][0]
    g = Graph.from_edges(edges, orientation=Orientation.UNDIRECTED)
    return k_spanning_tree(g, start_node=int(root), k=_KST_K).select(
        "vid", "component"
    )


def _k_spanning_tree_oracle_sql() -> str:
    """Replay: tree edges of the root's component in canonical
    (least, greatest) form; drop the k-1 edges first in (weight desc,
    src asc, dst asc) order; components = min-reachable vid over the
    remainder (the WCC union-by-min fixed point)."""
    inner = f"""
        {_TREE_SQL},
        root AS (SELECT MIN(src) AS r FROM te WHERE src >= 1000000),
        allrows AS (
            SELECT te.dst AS vid, te.src AS parent FROM te
            UNION ALL
            SELECT r, NULL FROM root
        )
        SELECT vid, parent FROM allrows
    """
    return f"""
    WITH RECURSIVE base AS MATERIALIZED ({inner}),
    walk(vid) AS (
        SELECT vid FROM base WHERE parent IS NULL
        UNION
        SELECT b.vid FROM walk w JOIN base b ON b.parent = w.vid
    ),
    members AS MATERIALIZED (SELECT DISTINCT vid FROM walk),
    tre AS MATERIALIZED (
        SELECT LEAST(b.vid, b.parent) AS src, GREATEST(b.vid, b.parent) AS dst,
               1.0 AS weight
        FROM base b JOIN members m ON m.vid = b.vid
        WHERE b.parent IS NOT NULL
    ),
    cut AS MATERIALIZED (
        SELECT src, dst FROM tre
        ORDER BY weight DESC, src ASC, dst ASC LIMIT {_KST_K - 1}
    ),
    kept AS MATERIALIZED (
        SELECT t.src, t.dst FROM tre t ANTI JOIN cut c
        ON c.src = t.src AND c.dst = t.dst
    ),
    ku AS MATERIALIZED (SELECT src, dst FROM kept UNION SELECT dst, src FROM kept),
    reach(v, m) AS (
        SELECT vid, vid FROM members
        UNION
        SELECT ku.dst, r.m FROM reach r JOIN ku ON ku.src = r.v
    )
    SELECT v AS vid, MIN(m) AS component FROM reach GROUP BY v
    """


def _q_docs_enrich(spark, sf_dir):
    """The streaming document pipeline's enrichment stage on its batch
    path (streaming/docs.enrich_documents composes the SAME Column
    expressions): content sha256 + quality + language per document."""
    from graph_data_science_spark.streaming.docs import enrich_documents

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", F.current_timestamp().alias("event_time")
    )
    return enrich_documents(docs).select(
        "doc_id", "content_sha256", "n_tokens", "quality", "pred_lang"
    )


def _docs_enrich_oracle_sql() -> str:
    return f"""
    WITH f AS (
        SELECT doc_id, {_TOK} AS toks,
               len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   / CAST(greatest(len(text), 1) AS DOUBLE) AS alpha,
               sha256(text) AS content_sha256
        FROM documents
    ),
    g AS (
        SELECT doc_id, content_sha256, len(toks) AS n_tokens, alpha,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(toks, t -> list_contains({_SW_EN}, t))) AS DOUBLE)
                         / len(toks) END AS stop_ratio
        FROM f
    ),
    l AS (
        SELECT doc_id,
               len(list_filter({_TOK}, x -> list_contains({_SW_EN}, x))) AS hits_en,
               len(list_filter({_TOK}, x -> list_contains({_SW_DE}, x))) AS hits_de,
               len(list_filter({_TOK}, x -> list_contains({_SW_FR}, x))) AS hits_fr
        FROM documents
    )
    SELECT g.doc_id, g.content_sha256, g.n_tokens,
           ROUND(least(1.0, g.n_tokens / 20.0) * g.alpha
                 * least(1.0, g.stop_ratio * 5.0 + 0.5), 4)::DOUBLE AS quality,
           CASE WHEN greatest(l.hits_en, l.hits_de, l.hits_fr) = 0 THEN 'und'
                WHEN l.hits_en = greatest(l.hits_en, l.hits_de, l.hits_fr) THEN 'en'
                WHEN l.hits_de = greatest(l.hits_en, l.hits_de, l.hits_fr) THEN 'de'
                ELSE 'fr' END AS pred_lang
    FROM g JOIN l ON l.doc_id = g.doc_id
    """


def _q_events_sessions(spark, sf_dir):
    """Gap-based sessionization over the events stream table
    (operators/events.session_stats, 30-min gap): per-session event
    count, start, duration, value total. Session math is exact integer
    micros (unix_micros vs epoch_us) — engine-portable, no float epoch."""
    from graph_data_science_spark.operators.events import session_stats

    ev = _read(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30)


def _events_sessions_oracle_sql() -> str:
    return """
    WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events
    ), flags AS (
        SELECT user_id, event_id, us, value,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
        SELECT user_id, us, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_idx
        FROM flags
    )
    SELECT user_id, session_idx, COUNT(*)::BIGINT AS n_events,
           MIN(us) AS start_us, MAX(us) - MIN(us) AS duration_us,
           ROUND(SUM(value), 5) + 0.0 AS total_value
    FROM sess GROUP BY user_id, session_idx
    """


def _q_events_funnel(spark, sf_dir):
    """First-touch ordered-conversion funnel view -> click -> purchase
    (operators/events.funnel): n_users converting through each prefix."""
    from graph_data_science_spark.operators.events import funnel

    ev = _read(spark, sf_dir, "events")
    return funnel(ev, steps=["view", "click", "purchase"])


def _events_funnel_oracle_sql() -> str:
    return """
    WITH f AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t0,
               MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t1,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t2
        FROM events GROUP BY user_id
    ), c AS (
        SELECT CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS c0,
               CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                    THEN 1 ELSE 0 END AS c1,
               CASE WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
                         AND t2 IS NOT NULL AND t2 > t1
                    THEN 1 ELSE 0 END AS c2
        FROM f
    )
    SELECT 0::BIGINT AS step_idx, 'view' AS step, SUM(c0)::BIGINT AS n_users FROM c
    UNION ALL SELECT 1::BIGINT, 'click', SUM(c1)::BIGINT FROM c
    UNION ALL SELECT 2::BIGINT, 'purchase', SUM(c2)::BIGINT FROM c
    """


def _q_events_rollup(spark, sf_dir):
    """Tumbling 60-min rollup per event type (operators/events.
    event_rollup): integer-modulo bucket starts in micros, pure groupBy."""
    from graph_data_science_spark.operators.events import event_rollup

    ev = _read(spark, sf_dir, "events")
    return event_rollup(ev, bucket_minutes=60)


def _events_rollup_oracle_sql() -> str:
    return """
    SELECT epoch_us(ts) - (epoch_us(ts) % 3600000000) AS bucket_us,
           event_type, COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(value), 5) + 0.0 AS total_value
    FROM events GROUP BY 1, 2
    """


def _q_yens(spark, sf_dir):
    """gds.shortestPath.yens k=5 loopless shortest paths over the
    custkey<60 undirected slice, source=min / target=max custkey.
    Tie-free weights via the md5-coin convention (weight = lineitem
    count + md5(src#dst)%997 / 99700 — unique fractions, so the k-path
    SET and order are engine-deterministic). The oracle enumerates ALL
    simple paths with cost <= 6 and <= 4 hops and takes the k cheapest;
    that enumeration is complete for the top-k iff every returned cost
    is < 5.0 (a 5-hop path costs >= 5 since every weight >= 1) — the
    assert makes a silent divergence impossible."""
    from graph_data_science_spark.operators.dijkstra import yens
    from graph_data_science_spark.operators.influence import _md5_u32
    from graph_data_science_spark.plans.graph import Orientation

    edges = _cs_edges(spark, sf_dir).filter(F.col("src") < 60).withColumn(
        "weight",
        F.col("weight") + (_md5_u32(F.col("src"), F.col("dst")) % 997) / 99700.0,
    )
    src_t = edges.agg(F.min("src"), F.max("src")).collect()[0]
    g = Graph.from_edges(edges, orientation=Orientation.UNDIRECTED)
    res = yens(g, source=int(src_t[0]), target=int(src_t[1]), k=5)
    rows = res.select(
        "index",
        F.array_join(F.transform("node_ids", lambda v: v.cast("string")), "->")
        .alias("path"),
        (F.round("total_cost", 4) + F.lit(0.0)).alias("total_cost"),
    )
    out = rows.collect()
    assert len(out) == 5 and all(r["total_cost"] < 5.0 for r in out), (
        "yens oracle enumeration bound violated - widen the oracle's "
        "cost/hop caps")
    return rows


def _yens_oracle_sql() -> str:
    return """
    WITH RECURSIVE base AS MATERIALIZED (
      SELECT o_custkey AS src, l_suppkey + 100000 AS dst,
             CAST(count(*) AS DOUBLE)
             + (('0x' || substr(md5(o_custkey::VARCHAR || '#'
                 || (l_suppkey + 100000)::VARCHAR), 1, 8))::BIGINT % 997)
               / 99700.0 AS weight
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
      HAVING o_custkey < 60
    ),
    arcs AS MATERIALIZED (
      SELECT src, dst, weight FROM base
      UNION ALL SELECT dst AS src, src AS dst, weight FROM base
    ),
    ep AS (SELECT MIN(src) AS s, MAX(src) AS t FROM base),
    walks AS (
      SELECT s AS cur, [s] AS visited, 0.0::DOUBLE AS cost FROM ep
      UNION ALL
      SELECT a.dst, list_append(w.visited, a.dst), w.cost + a.weight
      FROM walks w JOIN arcs a ON a.src = w.cur
      WHERE NOT list_contains(w.visited, a.dst)
        AND w.cost + a.weight <= 6.0
        AND len(w.visited) <= 5
        AND w.cur <> (SELECT t FROM ep)
    ),
    ranked AS (
      SELECT visited, cost,
             row_number() OVER (ORDER BY cost) - 1 AS index
      FROM walks WHERE cur = (SELECT t FROM ep)
      ORDER BY cost LIMIT 5
    )
    SELECT index, list_aggregate(visited, 'string_agg', '->') AS path,
           ROUND(cost, 4) + 0.0 AS total_cost
    FROM ranked
    """


def _q_bfs(spark, sf_dir):
    """gds.bfs hop distances from the min custkey over the undirected
    customer-supplier slice (level semantics; unreachable rows dropped)."""
    from graph_data_science_spark.operators.paths import bfs
    from graph_data_science_spark.plans.graph import Orientation

    edges = _cs_edges_small(spark, sf_dir)
    src = edges.agg(F.min("src")).collect()[0][0]
    g = Graph.from_edges(edges, orientation=Orientation.UNDIRECTED)
    res = bfs(g, [int(src)], max_iterations=SSSP_UNROLLED)
    assert res.did_converge, "bfs did not converge - raise SSSP_UNROLLED"
    return res.distances.filter(F.col("distance") < float("inf")).select(
        "vid", F.col("distance").cast("double").alias("distance")
    )


def _bfs_oracle_sql() -> str:
    ctes = [
        f"e AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "eu AS MATERIALIZED (SELECT src, dst, 1.0 AS weight FROM e "
        "UNION ALL SELECT dst, src, 1.0 FROM e)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        "s AS MATERIALIZED (SELECT MIN(src) AS sid FROM e)",
        "d0 AS MATERIALIZED (SELECT vid, CASE WHEN vid = (SELECT sid FROM s) "
        "THEN 0.0 ELSE 1e18 END AS d FROM nodes)",
    ] + _relax_ctes(SSSP_UNROLLED)
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT vid, d::DOUBLE AS distance FROM d{SSSP_UNROLLED} WHERE d < 1e17"
    )


def _lp_dag_edges(spark, sf_dir):
    """The part co-occurrence DAG (same construction as graph_longest_path)."""
    li = (
        _read(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .filter(F.col("p") < _LP_PART_BOUND)
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def _q_topo_sort(spark, sf_dir):
    """gds.dag.topologicalSort with longest-path layering on the part
    co-occurrence DAG: layer = longest HOP path from any source."""
    from graph_data_science_spark.operators.paths import topological_sort

    g = Graph.from_edges(_lp_dag_edges(spark, sf_dir))
    return topological_sort(g).select("vid", F.col("layer").cast("long").alias("layer"))


def _topo_sort_oracle_sql() -> str:
    """Unrolled MAX-relaxation with unit weights on the DAG: layer(v) =
    max over in-edges (layer(u) + 1), sources at 0."""
    K = _LP_UNROLLED
    ctes = [
        "lp AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
        f"FROM lineitem WHERE l_partkey < {_LP_PART_BOUND})",
        """e AS MATERIALIZED (
            SELECT a.p AS src, b.p AS dst
            FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2
        )""",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        """l0 AS MATERIALIZED (
            SELECT vid, CASE WHEN vid NOT IN (SELECT dst FROM e)
                             THEN 0 ELSE -1000000 END AS l
            FROM nodes
        )""",
    ]
    for k in range(1, K + 1):
        ctes.append(f"""l{k} AS MATERIALIZED (
            SELECT p.vid, GREATEST(p.l, COALESCE(m.ml, -1000000)) AS l
            FROM l{k - 1} p LEFT JOIN (
                SELECT e.dst AS vid, MAX(s.l + 1) AS ml
                FROM e JOIN l{k - 1} s ON s.vid = e.src
                WHERE s.l >= 0 GROUP BY e.dst
            ) m ON m.vid = p.vid
        )""")
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT vid, l::BIGINT AS layer FROM l{K}"
    )


def _q_dfs(spark, sf_dir):
    """gds.dfs preorder from the smallest region root over the directed
    4-level tree; neighbors visited in ascending id order."""
    from graph_data_science_spark.operators.traversal import dfs

    edges = _tree_edges(spark, sf_dir)
    root = edges.filter(F.col("src") >= 1_000_000).agg(F.min("src")).collect()[0][0]
    g = Graph.from_edges(edges)
    return dfs(g, int(root)).select("vid", "visit_order")


def _dfs_oracle_sql() -> str:
    """On a tree with ascending-sibling traversal, DFS preorder equals
    the lexicographic order of root->node paths (prefix-first list
    comparison — exactly DuckDB's list ordering)."""
    inner = f"""
        {_TREE_SQL}
        SELECT src, dst FROM te
    """
    return f"""
    WITH RECURSIVE base AS MATERIALIZED ({inner}),
    rootv AS MATERIALIZED (SELECT MIN(src) AS r FROM base WHERE src >= 1000000),
    walk(vid, path) AS (
        SELECT r, [r] FROM rootv
        UNION ALL
        SELECT b.dst, list_append(w.path, b.dst)
        FROM walk w JOIN base b ON b.src = w.vid
    )
    SELECT vid, row_number() OVER (ORDER BY path) - 1 AS visit_order FROM walk
    """


def _q_scale_minmax(spark, sf_dir):
    """gds.scaleProperties (MinMax.java) over the degree scores of the
    customer->supplier graph: (v - min) / (max - min)."""
    from graph_data_science_spark.operators.scaling import apply_scaler

    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    scores = degree_centrality(g).select("vid", "score")
    return apply_scaler(scores, "score", "minmax").select(
        "vid", F.round("score", 6).alias("score")
    )


def _scale_minmax_oracle_sql() -> str:
    return f"""
    WITH e AS MATERIALIZED ({_CS_EDGES_SQL}),
    nodes AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
    deg AS (
        SELECT n.vid, COALESCE(d.c, 0.0) AS score
        FROM nodes n LEFT JOIN
             (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY src) d
        ON d.src = n.vid
    ),
    stats AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM deg)
    SELECT vid, ROUND((score - (SELECT mn FROM stats))
                      / ((SELECT mx FROM stats) - (SELECT mn FROM stats)), 6)::DOUBLE
               AS score
    FROM deg
    """


def _q_scale_stdscore(spark, sf_dir):
    """gds.scaleProperties (StdScore.java): (v - avg) / stddev_pop.
    Signed output -> + 0.0 canonicalizes -0.0 after rounding."""
    from graph_data_science_spark.operators.scaling import apply_scaler

    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    scores = degree_centrality(g).select("vid", "score")
    return apply_scaler(scores, "score", "stdscore").select(
        "vid", (F.round("score", 6) + F.lit(0.0)).alias("score")
    )


def _q_scale_l2norm(spark, sf_dir):
    """gds.scaleProperties (L2Norm.java): v / sqrt(sum(v^2))."""
    from graph_data_science_spark.operators.scaling import apply_scaler

    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    scores = degree_centrality(g).select("vid", "score")
    return apply_scaler(scores, "score", "l2norm").select(
        "vid", F.round("score", 6).alias("score")
    )


_SCALE_DEG_SQL = f"""
    e AS MATERIALIZED ({_CS_EDGES_SQL}),
    nodes AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
    deg AS (
        SELECT n.vid, COALESCE(d.c, 0.0) AS score
        FROM nodes n LEFT JOIN
             (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY src) d
        ON d.src = n.vid
    )
"""


def _scale_stdscore_oracle_sql() -> str:
    return f"""
    WITH {_SCALE_DEG_SQL},
    stats AS (SELECT AVG(score) AS m, STDDEV_POP(score) AS sd FROM deg)
    SELECT vid, ROUND((score - (SELECT m FROM stats))
                      / (SELECT sd FROM stats), 6)::DOUBLE + 0.0 AS score
    FROM deg
    """


def _scale_l2norm_oracle_sql() -> str:
    return f"""
    WITH {_SCALE_DEG_SQL},
    stats AS (SELECT SQRT(SUM(score * score)) AS nrm FROM deg)
    SELECT vid, ROUND(score / (SELECT nrm FROM stats), 6)::DOUBLE AS score
    FROM deg
    """


def _q_scale_rest(spark, sf_dir):
    """gds.scaleProperties — the remaining scaler family in one gate row
    (L1Norm / Max / Mean / Center / LogScaler / 'none' identity), each
    applied to the same degree-score column via apply_scaler. Signed
    outputs (mean, center) get + 0.0 to canonicalize -0.0 after
    rounding (repo convention)."""
    from graph_data_science_spark.operators.scaling import apply_scaler

    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    scores = degree_centrality(g).select("vid", "score")
    out = apply_scaler(scores, "score", "none").select("vid", F.col("score").alias("raw"))
    for name, scaler, offset, signed in (
        ("l1", "l1norm", 0.0, False),
        ("maxabs", "max", 0.0, False),
        ("meanv", "mean", 0.0, True),
        ("centered", "center", 0.0, True),
        ("logv", "log", 1.0, False),
    ):
        col = F.round("score", 6)
        if signed:
            col = col + F.lit(0.0)
        out = out.join(
            apply_scaler(scores, "score", scaler, log_offset=offset)
            .select("vid", col.alias(name)),
            "vid",
        )
    return out


def _scale_rest_oracle_sql() -> str:
    return f"""
    WITH {_SCALE_DEG_SQL},
    stats AS (
        SELECT SUM(ABS(score)) AS l1, MAX(ABS(score)) AS mxa,
               AVG(score) AS m, MIN(score) AS mn, MAX(score) AS mx
        FROM deg
    )
    SELECT vid,
           score AS raw,
           ROUND(score / (SELECT l1 FROM stats), 6)::DOUBLE AS l1,
           ROUND(score / (SELECT mxa FROM stats), 6)::DOUBLE AS maxabs,
           ROUND((score - (SELECT m FROM stats))
                 / ((SELECT mx FROM stats) - (SELECT mn FROM stats)), 6)::DOUBLE
               + 0.0 AS meanv,
           ROUND(score - (SELECT m FROM stats), 6)::DOUBLE + 0.0 AS centered,
           ROUND(LN(score + 1.0), 6)::DOUBLE AS logv
    FROM deg
    """


K1C_UNROLLED = 6  # coloring rounds mirrored in the oracle


def _q_k1coloring(spark, sf_dir):
    """gds.k1coloring on the undirected customer-supplier slice with the
    engine-portable md5 init coin; the oracle replays the identical
    color/validation rounds."""
    from graph_data_science_spark.operators.k1coloring import k1_coloring
    from graph_data_science_spark.plans.graph import Orientation

    g = Graph.from_edges(
        _cs_edges_small(spark, sf_dir), orientation=Orientation.UNDIRECTED
    )
    res = k1_coloring(g, max_iterations=K1C_UNROLLED, init_coin="md5")
    assert res.did_converge, "k1coloring did not converge - raise K1C_UNROLLED"
    return res.colors.select("vid", "color")


def _k1coloring_oracle_sql() -> str:
    """Round-by-round replay: md5 init over 8 colors; per round, vids in
    the conflict set take the smallest color not used by any neighbor
    (list_min over the filtered 0..len series — same first-free rule as
    the Spark expression), then the LARGER vid of each same-color edge
    re-colors next round. Rounds past convergence are no-ops."""
    ctes = [
        f"e0 AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "eb AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0) WHERE src <> dst)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM eb UNION SELECT dst FROM eb)",
        "c0 AS MATERIALIZED (SELECT vid, "
        "(('0x' || substr(md5('k1c#' || vid::VARCHAR), 1, 8))::BIGINT % 8) AS color "
        "FROM nodes)",
        """t0 AS MATERIALIZED (
            SELECT DISTINCT eb.src AS vid FROM eb
            JOIN c0 a ON a.vid = eb.src JOIN c0 b ON b.vid = eb.dst
            WHERE eb.src > eb.dst AND a.color = b.color
        )""",
    ]
    for r in range(1, K1C_UNROLLED + 1):
        ctes.append(f"""n{r} AS MATERIALIZED (
            SELECT eb.src AS vid,
                   list_sort(list(DISTINCT c.color)) AS nc
            FROM eb JOIN t{r - 1} t ON t.vid = eb.src
                    JOIN c{r - 1} c ON c.vid = eb.dst
            GROUP BY eb.src
        )""")
        ctes.append(f"""c{r} AS MATERIALIZED (
            SELECT p.vid,
                   COALESCE(
                       (SELECT list_min(list_filter(
                            generate_series(0, len(n.nc)),
                            x -> NOT list_contains(n.nc, x)))
                        FROM n{r} n WHERE n.vid = p.vid),
                       p.color) AS color
            FROM c{r - 1} p
        )""")
        ctes.append(f"""t{r} AS MATERIALIZED (
            SELECT DISTINCT eb.src AS vid FROM eb
            JOIN c{r} a ON a.vid = eb.src JOIN c{r} b ON b.vid = eb.dst
            WHERE eb.src > eb.dst AND a.color = b.color
        )""")
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT vid, color::BIGINT AS color FROM c{K1C_UNROLLED}"
    )


_SLLPA_ITERS = 5
_SLLPA_SEED = 42


def _q_sllpa(spark, sf_dir):
    """gds.sllpa (speaker-listener LPA) with the md5 coin: each node's
    label MEMORY is relational state — counts per (vid, label) with the
    append iteration as the array-order key — so the DuckDB oracle
    replays the spoken-label picks (cumulative-count walk), the
    most-frequent-heard adoption, and the memory bumps round by round.
    Output exploded to (vid, community_id) rows (>= 0.2 association)."""
    from graph_data_science_spark.operators.sllpa import sllpa
    from graph_data_science_spark.plans.graph import Orientation

    g = Graph.from_edges(
        _cs_edges_small(spark, sf_dir), orientation=Orientation.UNDIRECTED
    )
    res = sllpa(g, max_iterations=_SLLPA_ITERS, seed=_SLLPA_SEED, coin="md5")
    return res.communities.select(
        "vid", F.explode("community_ids").alias("community_id")
    )


def _sllpa_oracle_sql() -> str:
    """Round-by-round replay of sllpa's memory evolution. Memory =
    (vid, label, cnt, ord) rows, ord = iteration the label was appended
    (the Spark array's insertion order; at most one new label per
    iteration so ord is unique per (vid, label)). Spoken label = the
    unique row with cum_before <= r < cum_before + cnt where r =
    md5-coin % total (the fold in operators/sllpa._spoken_label).
    Heard winner = max count, ties to the smaller label."""
    K = _SLLPA_ITERS
    sd = _SLLPA_SEED
    ctes = [
        f"e0 AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "ed AS MATERIALIZED (SELECT src AS speaker, dst AS listener FROM e0 "
        "UNION ALL SELECT dst, src FROM e0)",
        "sln AS MATERIALIZED (SELECT src AS vid FROM e0 UNION SELECT dst FROM e0)",
        "m0 AS MATERIALIZED (SELECT vid, vid AS label, 1::BIGINT AS cnt, 0 AS ord FROM sln)",
    ]
    for it in range(K):
        h = f"('0x' || substr(md5('sl#{sd}#{it}#' || m.vid::VARCHAR), 1, 8))::BIGINT"
        ctes.append(f"""sp{it} AS MATERIALIZED (
            SELECT vid, label AS lbl FROM (
                SELECT m.vid, m.label, m.cnt,
                       SUM(m.cnt) OVER (PARTITION BY m.vid ORDER BY m.ord
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - m.cnt AS cum,
                       {h} % (SUM(m.cnt) OVER (PARTITION BY m.vid)) AS r
                FROM m{it} m
            ) WHERE r >= cum AND r < cum + cnt
        )""")
        ctes.append(f"""hd{it} AS MATERIALIZED (
            SELECT listener AS vid, lbl, count(*) AS c
            FROM ed JOIN sp{it} s ON s.vid = ed.speaker
            GROUP BY 1, 2
        )""")
        ctes.append(f"""bs{it} AS MATERIALIZED (
            SELECT vid, lbl FROM (
                SELECT vid, lbl,
                       row_number() OVER (PARTITION BY vid
                                          ORDER BY c DESC, lbl ASC) AS rn
                FROM hd{it}
            ) WHERE rn = 1
        )""")
        ctes.append(f"""m{it + 1} AS MATERIALIZED (
            SELECT m.vid, m.label,
                   m.cnt + CASE WHEN b.lbl IS NOT NULL THEN 1 ELSE 0 END AS cnt,
                   m.ord
            FROM m{it} m LEFT JOIN bs{it} b ON b.vid = m.vid AND b.lbl = m.label
            UNION ALL
            SELECT b.vid, b.lbl, 1::BIGINT, {it + 1}
            FROM bs{it} b ANTI JOIN m{it} m ON m.vid = b.vid AND m.label = b.lbl
        )""")
    return f"""
    WITH {','.join(ctes)},
    tot AS (SELECT vid, SUM(cnt) AS t FROM m{K} GROUP BY vid)
    SELECT m.vid, m.label AS community_id
    FROM m{K} m JOIN tot ON tot.vid = m.vid
    WHERE m.cnt::DOUBLE / tot.t >= 0.2
    """


_MKC_K = 2
_MKC_ITERS = 2
_MKC_SEED = 42
_MKC_COLOR_BOUND = 8  # geo graph degree <= 4 and 8 init colors => colors stay in 0..7


def _q_maxkcut(spark, sf_dir):
    """gds.maxkcut (approx max-2-cut via color-class best moves) on the
    geo ring+chord graph with the md5 coin family: the oracle replays
    the hash init, the k1-coloring rounds, and every color-class sweep
    round (min internal weight, ties to the smaller set)."""
    from graph_data_science_spark.operators.maxkcut import approx_max_k_cut

    _nodes, edges = _geo_edges(spark, sf_dir)
    g = Graph.from_edges(edges)
    res = approx_max_k_cut(g, k=_MKC_K, iterations=_MKC_ITERS, seed=_MKC_SEED,
                           coin="md5")
    return res.assignments.select("vid", "community")


def _maxkcut_oracle_sql() -> str:
    """Full replay: geo canonical edges (integral weights — w_in sums are
    float-exact), md5 init over k sets, the 5 k1-coloring rounds (same
    recipe as the k1coloring oracle), then iterations × colors 0..7
    sweep rounds — absent color classes are empty mover sets, a no-op in
    both engines, so unrolling the fixed 0..7 range replays the
    data-dependent color list exactly."""
    from graph_data_science_spark.operators.maxkcut import COLOR_ROUNDS

    ctes = [
        _GEO_CUST_CTE,
        _GEO_EDGE_CTE,
        "eb AS MATERIALIZED (SELECT src, dst, weight FROM e "
        "UNION ALL SELECT dst, src, weight FROM e)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM eb UNION SELECT dst FROM eb)",
        # k1-coloring replay (color_edges with init_coin=md5)
        "c0 AS MATERIALIZED (SELECT vid, "
        "(('0x' || substr(md5('k1c#' || vid::VARCHAR), 1, 8))::BIGINT % 8) AS color "
        "FROM nodes)",
        """t0 AS MATERIALIZED (
            SELECT DISTINCT eb.src AS vid FROM eb
            JOIN c0 a ON a.vid = eb.src JOIN c0 b ON b.vid = eb.dst
            WHERE eb.src > eb.dst AND a.color = b.color
        )""",
    ]
    for r in range(1, COLOR_ROUNDS + 1):
        ctes.append(f"""n{r} AS MATERIALIZED (
            SELECT eb.src AS vid, list_sort(list(DISTINCT c.color)) AS nc
            FROM eb JOIN t{r - 1} t ON t.vid = eb.src
                    JOIN c{r - 1} c ON c.vid = eb.dst
            GROUP BY eb.src
        )""")
        ctes.append(f"""c{r} AS MATERIALIZED (
            SELECT p.vid,
                   COALESCE(
                       (SELECT list_min(list_filter(
                            generate_series(0, len(n.nc)),
                            x -> NOT list_contains(n.nc, x)))
                        FROM n{r} n WHERE n.vid = p.vid),
                       p.color) AS color
            FROM c{r - 1} p
        )""")
        ctes.append(f"""t{r} AS MATERIALIZED (
            SELECT DISTINCT eb.src AS vid FROM eb
            JOIN c{r} a ON a.vid = eb.src JOIN c{r} b ON b.vid = eb.dst
            WHERE eb.src > eb.dst AND a.color = b.color
        )""")
    # hash init over k sets, then the sweep rounds
    ctes.append(
        f"a0 AS MATERIALIZED (SELECT vid, "
        f"(('0x' || substr(md5('mkc#{_MKC_SEED}#' || vid::VARCHAR), 1, 8))::BIGINT "
        f"% {_MKC_K}) AS community FROM nodes)"
    )
    r = 0
    for _it in range(_MKC_ITERS):
        for cid in range(_MKC_COLOR_BOUND):
            r += 1
            ctes.append(f"""w{r} AS MATERIALIZED (
                SELECT eb.src AS vid, a.community AS c, SUM(eb.weight) AS w_in
                FROM eb JOIN c{COLOR_ROUNDS} col ON col.vid = eb.src AND col.color = {cid}
                        JOIN a{r - 1} a ON a.vid = eb.dst
                GROUP BY 1, 2
            )""")
            ctes.append(f"""b{r} AS MATERIALIZED (
                SELECT vid, c AS new_community FROM (
                    SELECT mv.vid, s.c, COALESCE(w.w_in, 0.0) AS w_in,
                           row_number() OVER (PARTITION BY mv.vid
                                              ORDER BY COALESCE(w.w_in, 0.0) ASC,
                                                       s.c ASC) AS rn
                    FROM (SELECT vid FROM c{COLOR_ROUNDS} WHERE color = {cid}) mv
                    CROSS JOIN (SELECT unnest(generate_series(0, {_MKC_K - 1})) AS c) s
                    LEFT JOIN w{r} w ON w.vid = mv.vid AND w.c = s.c
                ) WHERE rn = 1
            )""")
            ctes.append(f"""a{r} AS MATERIALIZED (
                SELECT p.vid, COALESCE(b.new_community, p.community) AS community
                FROM a{r - 1} p LEFT JOIN b{r} b ON b.vid = p.vid
            )""")
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT vid, community::BIGINT AS community FROM a{r}"
    )


_RWR_SEED = 42
_RWR_LEN = 6
_RWR_WALKS = 3
_RWR_P = 0.1
_RWR_START_BOUND = 8


def _q_sample_rwr(spark, sf_dir):
    """gds.graph.sample.rwr with the md5 coin family: the oracle replays
    every restart decision and neighbor pick over the sorted adjacency
    lists, so the sampled node set is hash-exact."""
    from graph_data_science_spark.sources.sampling import sample_rwr

    g = Graph.from_edges(_cs_edges_small(spark, sf_dir))
    starts = g.nodes.filter(F.col("vid") < _RWR_START_BOUND)
    sub = sample_rwr(g, starts, restart_probability=_RWR_P,
                     walk_length=_RWR_LEN, walks_per_node=_RWR_WALKS,
                     seed=_RWR_SEED, coin="md5")
    return sub.nodes.select("vid")


def _sample_rwr_oracle_sql() -> str:
    """Walk replay: walkers = (start, w) pairs with walk_id
    '<start>_<w>'; per step, restart iff md5 coin < p*2^32, else step to
    nbrs[md5 coin % deg] over the ASCENDING-sorted adjacency (sinks
    restart). Sampled set = every node any walker stood on."""
    p32 = int(_RWR_P * (1 << 32))
    sd = _RWR_SEED
    ctes = [
        f"e0 AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "rn0 AS MATERIALIZED (SELECT src AS vid FROM e0 UNION SELECT dst FROM e0)",
        "adj AS MATERIALIZED (SELECT src AS vid, list_sort(list(dst)) AS nbrs, "
        "count(*) AS deg FROM e0 GROUP BY src)",
        f"""w0 AS MATERIALIZED (
            SELECT n.vid::VARCHAR || '_' || s.w::VARCHAR AS walk_id,
                   n.vid AS start, n.vid AS cur
            FROM rn0 n
            CROSS JOIN (SELECT unnest(generate_series(0, {_RWR_WALKS - 1})) AS w) s
            WHERE n.vid < {_RWR_START_BOUND}
        )""",
    ]
    for t in range(_RWR_LEN):
        rcoin = f"('0x' || substr(md5('rwr#r#{sd}#' || w.walk_id || '#{t}'), 1, 8))::BIGINT"
        icoin = f"('0x' || substr(md5('rwr#i#{sd}#' || w.walk_id || '#{t}'), 1, 8))::BIGINT"
        ctes.append(f"""w{t + 1} AS MATERIALIZED (
            SELECT w.walk_id, w.start,
                   CASE WHEN {rcoin} < {p32} THEN w.start
                        WHEN a.deg IS NOT NULL AND a.deg > 0
                        THEN a.nbrs[({icoin} % a.deg)::INT + 1]
                        ELSE w.start END AS cur
            FROM w{t} w LEFT JOIN adj a ON a.vid = w.cur
        )""")
    visited = " UNION ".join(f"SELECT cur AS vid FROM w{t}" for t in range(_RWR_LEN + 1))
    return f"WITH {','.join(ctes)} SELECT DISTINCT vid FROM ({visited})"


_CNARW_P, _CNARW_LEN, _CNARW_WALKS, _CNARW_SEED, _CNARW_START = 0.15, 5, 3, 7, 8
_CNARW_PART_BOUND = 120
_MODOPT_PART_BOUND = 120
_MODOPT_MAX_COLOR = 12  # sweep colors 0.._MODOPT_MAX_COLOR-1; asserted


def _q_modopt(spark, sf_dir):
    """gds.beta.modularityOptimization (one local-move sweep,
    max_iterations=1) on the partkey<120 co-occurrence graph with the
    md5 coloring coin. The oracle replays the k1-coloring rounds, then
    the best-move sweep color class by color class — every Delta-Q score
    is arithmetic over integral doubles (weights 2.0, k sums, m), so
    scores are bit-identical across engines — then the min-member
    relabel. The sweep order is ascending color; the oracle unrolls
    colors 0..11 (absent colors are no-ops), asserted sufficient here."""
    from graph_data_science_spark.operators.k1coloring import color_edges
    from graph_data_science_spark.operators.louvain import modularity_optimization

    edges = _part_edges(spark, sf_dir).filter(
        (F.col("src") < _MODOPT_PART_BOUND) & (F.col("dst") < _MODOPT_PART_BOUND)
    )
    g = Graph.from_edges(edges)
    # loud bound check for the oracle's static color unroll
    both = g.edges.select("src", "dst")
    max_color = color_edges(both, g.nodes.select("vid"), max_iterations=5,
                            init_coin="md5").colors.agg(F.max("color")).collect()[0][0]
    assert max_color < _MODOPT_MAX_COLOR, (
        f"coloring used color {max_color} - widen _MODOPT_MAX_COLOR")
    res = modularity_optimization(g, max_iterations=1, coloring_coin="md5")
    return res.communities.select("vid", "community")


def _modopt_oracle_sql() -> str:
    """Relational replay of one modularityOptimization sweep: k1-color
    init + 5 conflict rounds (identical to the k1coloring oracle, on
    this graph), then for each color 0..11 in order the movers'
    Delta-Q argmax (score desc, community asc; move iff score beats the
    stay score by >1e-12), then min-member relabel."""
    ctes = [
        f"""lp AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
            WHERE l_partkey < {_MODOPT_PART_BOUND}
        )""",
        """prs AS MATERIALIZED (
            SELECT a.p AS pa, b.p AS pb FROM lp a JOIN lp b
            ON a.o = b.o AND a.p < b.p GROUP BY 1, 2
        )""",
        # canonical undirected edges: both 1.0-arcs merge to weight 2.0
        "ce AS MATERIALIZED (SELECT pa AS src, pb AS dst, 2.0 AS weight FROM prs)",
        """barc AS MATERIALIZED (
            SELECT src, dst, weight FROM ce
            UNION ALL SELECT dst, src, weight FROM ce
        )""",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM barc GROUP BY 1)",
        "kk AS MATERIALIZED (SELECT src AS vid, SUM(weight) AS k FROM barc GROUP BY 1)",
        "mm AS MATERIALIZED (SELECT SUM(weight) AS m FROM ce)",
        "eb AS MATERIALIZED (SELECT DISTINCT src, dst FROM barc WHERE src <> dst)",
        "c0 AS MATERIALIZED (SELECT vid, "
        "(('0x' || substr(md5('k1c#' || vid::VARCHAR), 1, 8))::BIGINT % 8) AS color "
        "FROM nodes)",
        """t0 AS MATERIALIZED (
            SELECT DISTINCT eb.src AS vid FROM eb
            JOIN c0 a ON a.vid = eb.src JOIN c0 b ON b.vid = eb.dst
            WHERE eb.src > eb.dst AND a.color = b.color
        )""",
    ]
    for r in range(1, 6):
        ctes.append(f"""n{r} AS MATERIALIZED (
            SELECT eb.src AS vid, list_sort(list(DISTINCT c.color)) AS nc
            FROM eb JOIN t{r - 1} t ON t.vid = eb.src
                    JOIN c{r - 1} c ON c.vid = eb.dst
            GROUP BY eb.src
        )""")
        ctes.append(f"""c{r} AS MATERIALIZED (
            SELECT p.vid,
                   COALESCE(
                       (SELECT list_min(list_filter(
                            generate_series(0, len(n.nc)),
                            x -> NOT list_contains(n.nc, x)))
                        FROM n{r} n WHERE n.vid = p.vid),
                       p.color) AS color
            FROM c{r - 1} p
        )""")
        ctes.append(f"""t{r} AS MATERIALIZED (
            SELECT DISTINCT eb.src AS vid FROM eb
            JOIN c{r} a ON a.vid = eb.src JOIN c{r} b ON b.vid = eb.dst
            WHERE eb.src > eb.dst AND a.color = b.color
        )""")
    ctes.append("colors AS MATERIALIZED (SELECT vid, color FROM c5)")
    ctes.append("a0 AS MATERIALIZED (SELECT vid, vid AS community FROM nodes)")
    for ci in range(_MODOPT_MAX_COLOR):
        prev = f"a{ci}"
        ctes.append(f"""cand{ci} AS MATERIALIZED (
            SELECT vid, c, SUM(k_in) AS k_in FROM (
                SELECT b.src AS vid, a.community AS c, b.weight AS k_in
                FROM barc b
                JOIN colors mc ON mc.vid = b.src AND mc.color = {ci}
                JOIN {prev} a ON a.vid = b.dst
                UNION ALL
                SELECT a.vid, a.community AS c, 0.0 AS k_in
                FROM {prev} a JOIN colors mc ON mc.vid = a.vid
                WHERE mc.color = {ci}
            ) GROUP BY 1, 2
        )""")
        ctes.append(f"""best{ci} AS MATERIALIZED (
            SELECT vid, c, community, score,
                   MAX(CASE WHEN c = community THEN score END)
                       OVER (PARTITION BY vid) AS stay_score,
                   row_number() OVER (PARTITION BY vid
                                      ORDER BY score DESC, c ASC) AS rn
            FROM (
                SELECT cand.vid, cand.c, a.community,
                       cand.k_in - kk.k *
                           (cm.tot - CASE WHEN cand.c = a.community
                                          THEN kk.k ELSE 0.0 END)
                           / (2.0 * (SELECT m FROM mm)) AS score
                FROM cand{ci} cand
                JOIN {prev} a ON a.vid = cand.vid
                JOIN kk ON kk.vid = cand.vid
                JOIN (SELECT a.community, SUM(kk.k) AS tot
                      FROM {prev} a JOIN kk ON kk.vid = a.vid
                      GROUP BY 1) cm ON cm.community = cand.c
            )
        )""")
        ctes.append(f"""a{ci + 1} AS MATERIALIZED (
            SELECT a.vid,
                   COALESCE(
                       CASE WHEN b.c <> b.community
                                 AND b.score > b.stay_score + 1e-12
                            THEN b.c ELSE b.community END,
                       a.community) AS community
            FROM {prev} a
            LEFT JOIN (SELECT * FROM best{ci} WHERE rn = 1) b ON b.vid = a.vid
        )""")
    final = f"a{_MODOPT_MAX_COLOR}"
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT a.vid, r.new_c AS community FROM {final} a "
        f"JOIN (SELECT community, MIN(vid) AS new_c FROM {final} GROUP BY 1) r "
        f"ON r.community = a.community"
    )


def _q_sample_cnarw(spark, sf_dir):
    """gds.graph.sample.cnarw with the md5 coin family + integer
    roulette on the partkey<120 co-occurrence graph (one-mode, so the
    common-neighbor bias is nonzero — on bipartite graphs CNARW
    degenerates to uniform). The oracle replays every restart decision
    and every weighted pick via prefix sums over the (1+cn) integer
    weights."""
    from graph_data_science_spark.sources.sampling import sample_cnarw

    edges = _part_edges(spark, sf_dir).filter(
        (F.col("src") < _CNARW_PART_BOUND) & (F.col("dst") < _CNARW_PART_BOUND)
    )
    g = Graph.from_edges(edges)
    starts = g.nodes.filter(F.col("vid") < _CNARW_START)
    sub = sample_cnarw(g, starts, restart_probability=_CNARW_P,
                       walk_length=_CNARW_LEN, walks_per_node=_CNARW_WALKS,
                       seed=_CNARW_SEED, coin="md5")
    return sub.nodes.select("vid")


def _cnarw_oracle_sql() -> str:
    """Walk replay with the CN-biased integer roulette: adjw = per-arc
    weight 1 + common-out-neighbor count, cum = prefix sum over
    ascending dst; per step restart iff md5 coin < p*2^32, else step to
    the first neighbor whose cum exceeds md5 coin % total."""
    p32 = int(_CNARW_P * (1 << 32))
    sd = _CNARW_SEED
    b = _CNARW_PART_BOUND
    ctes = [
        f"""lp AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
            WHERE l_partkey < {b}
        )""",
        """prs AS MATERIALIZED (
            SELECT a.p AS pa, b.p AS pb FROM lp a JOIN lp b
            ON a.o = b.o AND a.p < b.p GROUP BY 1, 2
        )""",
        """e0 AS MATERIALIZED (
            SELECT pa AS src, pb AS dst FROM prs
            UNION ALL SELECT pb, pa FROM prs
        )""",
        """cn AS MATERIALIZED (
            SELECT l1.src AS u, l2.src AS v, count(*) AS c
            FROM e0 l1 JOIN e0 l2 ON l1.dst = l2.dst AND l1.src <> l2.src
            GROUP BY 1, 2
        )""",
        """adjw AS MATERIALIZED (
            SELECT e.src AS vid, e.dst, 1 + coalesce(c.c, 0) AS wt
            FROM e0 e LEFT JOIN cn c ON c.u = e.src AND c.v = e.dst
        )""",
        """cum AS MATERIALIZED (
            SELECT vid, dst, wt,
                   SUM(wt) OVER (PARTITION BY vid ORDER BY dst
                                 ROWS UNBOUNDED PRECEDING) AS cw
            FROM adjw
        )""",
        "tot AS MATERIALIZED (SELECT vid, SUM(wt) AS total FROM adjw GROUP BY vid)",
        f"""w0 AS MATERIALIZED (
            SELECT n.vid::VARCHAR || '_' || s.w::VARCHAR AS walk_id,
                   n.vid AS start, n.vid AS cur
            FROM (SELECT src AS vid FROM e0 UNION SELECT dst FROM e0) n
            CROSS JOIN (SELECT unnest(generate_series(0, {_CNARW_WALKS - 1})) AS w) s
            WHERE n.vid < {_CNARW_START}
        )""",
    ]
    for t in range(_CNARW_LEN):
        rcoin = f"('0x' || substr(md5('cnarw#r#{sd}#' || q.walk_id || '#{t}'), 1, 8))::BIGINT"
        icoin = f"('0x' || substr(md5('cnarw#i#{sd}#' || q.walk_id || '#{t}'), 1, 8))::BIGINT"
        ctes.append(f"""w{t + 1} AS MATERIALIZED (
            SELECT q.walk_id, q.start,
                   CASE WHEN {rcoin} < {p32} THEN q.start
                        WHEN q.total IS NULL THEN q.start
                        ELSE (SELECT MIN(c.dst) FROM cum c
                              WHERE c.vid = q.cur
                                AND c.cw > ({icoin} % q.total))
                        END AS cur
            FROM (SELECT w.walk_id, w.start, w.cur, t.total
                  FROM w{t} w LEFT JOIN tot t ON t.vid = w.cur) q
        )""")
    visited = " UNION ".join(
        f"SELECT cur AS vid FROM w{t}" for t in range(_CNARW_LEN + 1))
    return f"WITH {','.join(ctes)} SELECT DISTINCT vid FROM ({visited})"


def _q_node2vec_smoke(spark, sf_dir):
    """node2vec smoke (rows-only): tiny SGNS run on the 2-out ring;
    embeddings are seeded-random floats (documented non-portability), so
    the gate checks shape — one row per node, the configured dimension."""
    from graph_data_science_spark.operators.node2vec import node2vec

    ids = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(F.col("vec_id").alias("vid"))
    )
    n = 100
    edges = ids.select(
        F.col("vid").alias("src"), ((F.col("vid") + 1) % n).alias("dst")
    ).unionByName(
        ids.select(F.col("vid").alias("src"), ((F.col("vid") + 7) % n).alias("dst"))
    ).withColumn("weight", F.lit(1.0))
    g = Graph.from_edges(edges)
    res = node2vec(
        g, embedding_dimension=8, walks_per_node=2, walk_length=8,
        window_size=4, iterations=1, batch_partitions=8,
    )
    return res.embeddings.select("vid", F.size("embedding").alias("dim"))


def _q_graphsage_smoke(spark, sf_dir):
    """graphSage smoke (rows-only): 2-epoch train on the ring with simple
    derived features; checks the inductive plumbing end-to-end."""
    from graph_data_science_spark.operators.graphsage import graphsage_train

    ids = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(F.col("vec_id").alias("vid"))
    )
    n = 100
    edges = ids.select(
        F.col("vid").alias("src"), ((F.col("vid") + 1) % n).alias("dst")
    ).unionByName(
        ids.select(F.col("vid").alias("src"), ((F.col("vid") + 7) % n).alias("dst"))
    ).withColumn("weight", F.lit(1.0))
    g = Graph.from_edges(edges)
    feats = ids.select(
        "vid",
        F.array(
            (F.col("vid") % 7).cast("double") / 7.0,
            (F.col("vid") % 11).cast("double") / 11.0,
            (F.col("vid") % 13).cast("double") / 13.0,
        ).alias("feat"),
    )
    res = graphsage_train(
        g, feats, embedding_dimension=4, sample_sizes=[5], epochs=2,
        batch_size=64, seed=3,
    )
    return res.embeddings.select("vid", F.size("embedding").alias("dim"))


def _q_article_rank(spark, sf_dir):
    """ArticleRank (PageRank with denominator degree + averageDegree) on
    the weighted-ignored customer->supplier graph, PR_UNROLLED updates."""
    from graph_data_science_spark.operators.pagerank import article_rank

    g = Graph.from_edges(_cs_edges(spark, sf_dir))
    res = article_rank(g, tolerance=0, max_iterations=PR_MAX_ITERATIONS)
    return res.scores.select("vid", F.round("score", 5).alias("score"))


def _article_rank_oracle_sql() -> str:
    """PageRank unroll with r/(deg + avgDeg) contributions; avgDeg =
    edge_count / node_count (zero-out-degree nodes included) — an exact
    integer ratio in both engines."""
    ctes = [
        f"e AS MATERIALIZED ({_CS_EDGES_SQL})",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        "avgdeg AS MATERIALIZED (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM e) "
        "/ (SELECT count(*) FROM nodes) AS a)",
        "deg AS MATERIALIZED (SELECT src AS vid, CAST(count(*) AS DOUBLE) AS degree "
        "FROM e GROUP BY src)",
        "r0 AS (SELECT vid, 0.15 AS score FROM nodes)",
    ]
    for k in range(1, PR_UNROLLED + 1):
        ctes.append(
            f"r{k} AS (SELECT n.vid, 0.15 + 0.85 * COALESCE(s.inflow, 0) AS score "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS vid, SUM(r.score / (d.degree + (SELECT a FROM avgdeg))) AS inflow "
            f"FROM e JOIN r{k - 1} r ON r.vid = e.src JOIN deg d ON d.vid = e.src "
            f"GROUP BY e.dst) s ON s.vid = n.vid)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vid, ROUND(score, 5)::DOUBLE AS score FROM r{PR_UNROLLED}"
    )


_KNN_BOUND = 300  # brute-force kNN slice (every node is a query)


def _q_knn(spark, sf_dir):
    """gds.knn exact path: every node is a query, top-5 cosine neighbors
    (quadratic — bounded slice; the LSH path is ann_lsh_topk)."""
    from graph_data_science_spark.operators.similarity import knn_node_properties

    vecs = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _KNN_BOUND)
        .select(F.col("vec_id").alias("vid"), "embedding")
    )
    return knn_node_properties(vecs, "embedding", k=5, exact=True)


def _knn_oracle_sql() -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {_KNN_BOUND}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.embedding)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.embedding, e.embedding))) AS sim
        FROM q JOIN embeddings e
        ON e.vec_id <> q.query_id AND e.vec_id < {_KNN_BOUND}
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4)::DOUBLE AS cosine_sim,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """


_KNNF_SRC_MOD = 2  # filtered-knn sourceNodeFilter: vec_id % 2 == 0
_KNNF_TGT_MOD = 3  # filtered-knn targetNodeFilter: vec_id % 3 == 0


def _q_knn_filtered(spark, sf_dir):
    """gds.knn.filtered: queries restricted to even ids, candidate
    neighbors to ids % 3 == 0, filters pushed BEFORE topK (a query keeps
    its top-5 among ALLOWED targets only)."""
    from graph_data_science_spark.operators.similarity import filtered_knn

    vecs = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _KNN_BOUND)
        .select(F.col("vec_id").alias("vid"), "embedding")
    )
    src = vecs.filter(F.col("vid") % _KNNF_SRC_MOD == 0).select("vid")
    tgt = vecs.filter(F.col("vid") % _KNNF_TGT_MOD == 0).select("vid")
    return filtered_knn(
        vecs, "embedding", source_filter=src, target_filter=tgt, k=5, exact=True
    )


def _knn_filtered_oracle_sql() -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < {_KNN_BOUND} AND vec_id % {_KNNF_SRC_MOD} = 0),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.embedding)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.embedding, e.embedding))) AS sim
        FROM q JOIN embeddings e
        ON e.vec_id <> q.query_id AND e.vec_id < {_KNN_BOUND}
           AND e.vec_id % {_KNNF_TGT_MOD} = 0
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4)::DOUBLE AS cosine_sim,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """


_NSF_SRC_MOD = 2  # filtered nodeSimilarity sourceNodeFilter: node1 % 2 == 0
_NSF_TGT_MOD = 3  # filtered nodeSimilarity targetNodeFilter: node2 % 3 == 0


def _q_node_similarity_filtered(spark, sf_dir):
    """gds.nodeSimilarity.filtered on the same custkey<120 slice as
    graph_node_similarity: sources restricted to even ids, targets to
    ids % 3 == 0, BEFORE the topK window (a source keeps its top-10
    among allowed targets)."""
    from graph_data_science_spark.operators.similarity import filtered_node_similarity

    g = Graph.from_edges(_cs_edges(spark, sf_dir).filter(F.col("src") < _NS_CUST_BOUND))
    nodes = g.nodes
    src = nodes.filter(F.col("vid") % _NSF_SRC_MOD == 0)
    tgt = nodes.filter(F.col("vid") % _NSF_TGT_MOD == 0)
    out = filtered_node_similarity(g, source_filter=src, target_filter=tgt, top_k=10)
    return out.select("node1", "node2", F.round("similarity", 6).alias("similarity"))


def _node_similarity_filtered_oracle_sql() -> str:
    return f"""
    WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({_CS_EDGES_NS_SQL})),
    deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
    inter AS MATERIALIZED (
        SELECT a.src AS node1, b.src AS node2, count(*) AS i
        FROM e a JOIN e b ON a.dst = b.dst AND a.src <> b.src
        WHERE a.src % {_NSF_SRC_MOD} = 0 AND b.src % {_NSF_TGT_MOD} = 0
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT node1, node2, CAST(i AS DOUBLE) / (d1.deg + d2.deg - i) AS sim
        FROM inter JOIN deg d1 ON d1.src = inter.node1
                   JOIN deg d2 ON d2.src = inter.node2
    ),
    ranked AS (
        SELECT node1, node2, sim,
               row_number() OVER (PARTITION BY node1
                                  ORDER BY sim DESC, node2 ASC) AS rn
        FROM scored WHERE sim >= 1e-42
    )
    SELECT node1, node2, ROUND(sim, 6)::DOUBLE AS similarity
    FROM ranked WHERE rn <= 10
    """


def _q_spanning_tree(spark, sf_dir):
    """gds.spanningTree (Boruvka forest + BFS rooting) on the undirected
    4-level tree: the spanning tree of a tree is the tree itself, so the
    oracle is the edge table's own parent map, restricted to the start
    node's component (the smallest region's subtree)."""
    from graph_data_science_spark.operators.spanningtree import spanning_tree
    from graph_data_science_spark.plans.graph import Orientation

    edges = _tree_edges(spark, sf_dir)
    root = edges.filter(F.col("src") >= 1_000_000).agg(F.min("src")).collect()[0][0]
    g = Graph.from_edges(edges, orientation=Orientation.UNDIRECTED)
    res = spanning_tree(g, start_node=int(root))
    return res.tree.select(
        "vid",
        F.coalesce("parent", F.lit(-1)).alias("parent"),
        F.coalesce("weight", F.lit(0.0)).alias("weight"),
    )


def _spanning_tree_oracle_sql() -> str:
    inner = f"""
        {_TREE_SQL},
        root AS (SELECT MIN(src) AS r FROM te WHERE src >= 1000000),
        allrows AS (
            SELECT te.dst AS vid, te.src AS parent FROM te
            UNION ALL
            SELECT r, NULL FROM root
        )
        SELECT vid, parent FROM allrows
    """
    return f"""
    WITH RECURSIVE base AS MATERIALIZED ({inner}),
    walk(vid) AS (
        SELECT vid FROM base WHERE parent IS NULL
        UNION
        SELECT b.vid FROM walk w JOIN base b ON b.parent = w.vid
    )
    SELECT b.vid, COALESCE(b.parent, -1) AS parent,
           (CASE WHEN b.parent IS NULL THEN 0.0 ELSE 1.0 END)::DOUBLE AS weight
    FROM base b JOIN (SELECT DISTINCT vid FROM walk) w ON w.vid = b.vid
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "graph_pagerank": _q_pagerank,
        "graph_pagerank_weighted": _q_pagerank_weighted,
        "graph_wcc": _q_wcc,
        "graph_wcc_threshold": _q_wcc_threshold,
        "graph_lpa": _q_lpa,
        "graph_triangle_per_node": _q_triangle_per_node,
        "graph_triangle_global": _q_triangle_global,
        "graph_local_clustering": _q_lcc,
        "graph_collapse_path": _q_collapse_path,
        "graph_degree": _q_degree,
        "graph_degree_weighted": _q_degree_weighted,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash_lsh": _q_dedup_minhash,
        "dedup_ngram_jaccard": _q_dedup_ngram,
        "dedup_simhash": _q_dedup_simhash,
        "text_token_count": _q_text_tokens,
        "text_quality": _q_text_quality,
        "text_langid": _q_text_langid,
        "text_fingerprint": _q_text_fingerprint,
        "ann_topk_cosine": _q_ann_topk,
        "ann_embedding_neardup": _q_ann_neardup,
        "ann_neardup_exact_small": _q_ann_neardup_exact_small,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "multimodal_features": _q_multimodal_features,
        "graph_modularity": _q_modularity,
        "graph_conductance": _q_conductance,
        "graph_louvain": _q_louvain,
        "graph_leiden": _q_leiden,
        "graph_betweenness_tree": _q_betweenness_tree,
        "graph_bellman": _q_bellman,
        "graph_astar": _q_astar,
        "graph_steiner": _q_steiner,
        "graph_celf": _q_celf,
        "graph_sssp_paths": _q_sssp_paths,
        "graph_hashgnn": _q_hashgnn,
        "graph_longest_path": _q_longest_path,
        "graph_all_shortest_paths": _q_all_shortest_paths,
        "graph_node_similarity": _q_node_similarity,
        "graph_node_similarity_filtered": _q_node_similarity_filtered,
        "graph_closeness": _q_closeness,
        "graph_harmonic": _q_harmonic,
        "graph_scc": _q_scc,
        "graph_eigenvector": _q_eigenvector,
        "graph_hits": _q_hits,
        "graph_kcore": _q_kcore,
        "graph_kmeans": _q_kmeans,
        "graph_fastrp": _q_fastrp,
        "graph_article_rank": _q_article_rank,
        "graph_knn": _q_knn,
        "graph_knn_filtered": _q_knn_filtered,
        "graph_spanning_tree": _q_spanning_tree,
        "graph_bfs": _q_bfs,
        "graph_topo_sort": _q_topo_sort,
        "graph_dfs": _q_dfs,
        "graph_scale_minmax": _q_scale_minmax,
        "graph_scale_stdscore": _q_scale_stdscore,
        "graph_scale_l2norm": _q_scale_l2norm,
        "graph_scale_rest": _q_scale_rest,
        "graph_k1coloring": _q_k1coloring,
        "graph_sllpa": _q_sllpa,
        "graph_maxkcut": _q_maxkcut,
        "graph_sample_rwr": _q_sample_rwr,
        "graph_k_spanning_tree": _q_k_spanning_tree,
        "docs_enrich": _q_docs_enrich,
        "events_sessions": _q_events_sessions,
        "events_funnel": _q_events_funnel,
        "events_rollup": _q_events_rollup,
        "graph_yens": _q_yens,
        "graph_sample_cnarw": _q_sample_cnarw,
        "graph_modopt": _q_modopt,
        # rows-only (no DuckDB oracle — documented non-SQL-expressible)
        "graph_node2vec": _q_node2vec_smoke,
        "graph_graphsage": _q_graphsage_smoke,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------
def _pagerank_oracle_sql(edges_sql: str, weighted: bool) -> str:
    """Unrolled power iteration with reference semantics (unnormalized,
    no dangling redistribution): r_k = 0.15 + 0.85 * Σ_in r_{k-1}/deg."""
    if weighted:
        deg = "SELECT src AS vid, sum(weight) AS degree FROM e WHERE weight > 0 GROUP BY src"
        contrib = "r.score / d.degree * e.weight"
    else:
        deg = "SELECT src AS vid, CAST(count(*) AS DOUBLE) AS degree FROM e GROUP BY src"
        contrib = "r.score / d.degree"
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        f"deg AS MATERIALIZED ({deg})",
        "r0 AS (SELECT vid, 0.15 AS score FROM nodes)",
    ]
    for k in range(1, PR_UNROLLED + 1):
        prev = k - 1
        ctes.append(
            f"r{k} AS (SELECT n.vid, 0.15 + 0.85 * COALESCE(s.inflow, 0) AS score "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS vid, SUM({contrib}) AS inflow "
            f"FROM e JOIN r{prev} r ON r.vid = e.src JOIN deg d ON d.vid = e.src "
            f"GROUP BY e.dst) s ON s.vid = n.vid)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vid, ROUND(score, 5)::DOUBLE AS score FROM r{PR_UNROLLED}"
    )


def _wcc_oracle_sql(edges_sql: str, weight_filter: str = "") -> str:
    return f"""
    WITH RECURSIVE e AS MATERIALIZED ({edges_sql}),
    eu AS (
        SELECT src, dst FROM e {weight_filter}
        UNION SELECT dst, src FROM e {weight_filter}
    ),
    nodes AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
    reach(v, m) AS (
        SELECT vid, vid FROM nodes
        UNION
        SELECT eu.dst, r.m FROM reach r JOIN eu ON eu.src = r.v
    )
    SELECT v AS vid, MIN(m) AS component FROM reach GROUP BY v
    """


_TOK = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> len(t) > 0)"
_TOKSET = f"list_distinct({_TOK})"

_SW_EN = "['the','a','of','and','to','in','is','that','it','for']"
_SW_DE = "['der','die','das','und','ist','nicht','ein','mit','auf','zu']"
_SW_FR = "['le','la','les','et','est','un','une','dans','pour','que']"


def _minhash_oracle_sql() -> str:
    """Mirror of dedup.minhash_lsh_duplicates: 8 string-md5 minhashes,
    2 bands × 4 rows, md5 band buckets, exact token-set jaccard >= 0.5."""
    sig_cols = ", ".join(
        f"min(md5(CAST({h} AS VARCHAR) || '#' || tok)) AS h{h}" for h in range(8)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKSET}) AS tok FROM documents
    ),
    sigs AS (SELECT doc_id, {sig_cols} FROM toks GROUP BY doc_id),
    banded AS (
        SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS bucket FROM sigs
        UNION ALL
        SELECT doc_id, 1 AS band, md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS bucket FROM sigs
    ),
    cands AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket
        WHERE l.doc_id < r.doc_id
    ),
    sets AS (SELECT doc_id, {_TOKSET} AS toks FROM documents)
    SELECT c.a, c.b,
           ROUND(CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.toks, sb.toks))), 4)::DOUBLE AS jaccard
    FROM cands c JOIN sets sa ON sa.doc_id = c.a JOIN sets sb ON sb.doc_id = c.b
    WHERE ROUND(CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE)
                / len(list_distinct(list_concat(sa.toks, sb.toks))), 4) >= 0.5
    """


def _lsh_bucket_sql(vec_expr: str, dim: int, planes: int, table: int) -> str:
    """DuckDB expression for the LSH sign-pattern bucket — inlines the
    SAME hashlib-md5-derived ±1 hyperplanes as operators/ann.plane_signs,
    so both engines compute identical buckets."""
    from graph_data_science_spark.operators.ann import plane_signs

    terms = []
    for p in range(planes):
        arr = "[" + ",".join(f"{s:.1f}" for s in plane_signs(p, dim, table)) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}, {arr}) >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _lsh_cands_sql(planes: int, tables: int, where: str = "") -> str:
    """Candidate pairs (a < b) colliding in any LSH table."""
    parts = []
    for t in range(tables):
        b = _lsh_bucket_sql("embedding", 64, planes, t)
        parts.append(
            f"SELECT vec_id, {t} AS tbl, {b} AS bucket FROM embeddings {where}"
        )
    banded = " UNION ALL ".join(parts)
    return f"""
    banded AS MATERIALIZED ({banded}),
    cands AS (
        SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
        FROM banded l JOIN banded r ON l.tbl = r.tbl AND l.bucket = r.bucket
        WHERE l.vec_id < r.vec_id
    )
    """


_COS_SQL = (
    "list_dot_product(ea.embedding, eb.embedding) / "
    "(sqrt(list_dot_product(ea.embedding, ea.embedding)) * "
    "sqrt(list_dot_product(eb.embedding, eb.embedding)))"
)


def _ann_neardup_lsh_oracle_sql() -> str:
    return f"""
    WITH {_lsh_cands_sql(planes=6, tables=2)}
    SELECT c.a, c.b, ROUND({_COS_SQL}, 4)::DOUBLE AS cosine_sim
    FROM cands c JOIN embeddings ea ON ea.vec_id = c.a
                 JOIN embeddings eb ON eb.vec_id = c.b
    WHERE ROUND({_COS_SQL}, 4) >= 0.35
    """


def _ann_lsh_topk_oracle_sql() -> str:
    """lsh_topk mirror: query vecs are vec_id < 5; candidates collide in
    any table with the query; exact cosine re-rank, top-5."""
    return f"""
    WITH {_lsh_cands_sql(planes=6, tables=2)},
    pairs AS (
        SELECT a AS query_id, b AS neighbor_id FROM cands WHERE a < 5
        UNION
        SELECT b, a FROM cands WHERE b < 5
    ),
    scored AS (
        SELECT p.query_id, p.neighbor_id,
               {_COS_SQL.replace('ea.', 'q.').replace('eb.', 'n.')} AS sim
        FROM pairs p JOIN embeddings q ON q.vec_id = p.query_id
                     JOIN embeddings n ON n.vec_id = p.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4)::DOUBLE AS cosine_sim,
           CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """


def _simhash_oracle_sql(bits: int = 32) -> str:
    """Mirror of dedup.simhash: per-token 32-bit value = first 8 md5 hex
    chars; signature bit i = sign of sum over tokens of (+-1)."""
    b_cols = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(bits)
    )
    return f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKSET}) AS tok FROM documents),
    hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
    bits AS (SELECT doc_id, {b_cols} FROM hv GROUP BY doc_id)
    SELECT doc_id, ({sig})::BIGINT AS simhash FROM bits
    """


_MULTIMODAL_ORACLE_SQL = """
    SELECT id AS media_id,
           CASE WHEN id % 3 = 0 THEN 'image'
                WHEN id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(64 AS INT) AS n_bytes
    FROM range(64) t(id)
"""


def _ngram_oracle_sql() -> str:
    grams = ("list_distinct(list_transform(generate_series(1, greatest(len(text) - 4, 1)), "
             "i -> substr(text, i, 5)))")
    return f"""
    WITH sets AS (
        SELECT doc_id, {grams} AS g FROM documents WHERE doc_id < 120
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.g, b.g))), 4)::DOUBLE AS jaccard
    FROM sets a JOIN sets b ON a.doc_id < b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                / len(list_distinct(list_concat(a.g, b.g))), 4) >= 0.3
    """


def _relax_ctes(K: int) -> list:
    """d1..dK unrolled min-relaxation CTEs over tables `eu` (directed
    edge rows src,dst,weight) and `nodes`, starting from `d0`."""
    out = []
    for k in range(1, K + 1):
        p = k - 1
        out.append(
            f"d{k} AS MATERIALIZED (SELECT n.vid, LEAST(dp.d, COALESCE(r.cand, 1e18)) AS d "
            f"FROM nodes n JOIN d{p} dp ON dp.vid = n.vid LEFT JOIN ("
            f"SELECT eu.dst AS vid, MIN(dd.d + eu.weight) AS cand "
            f"FROM eu JOIN d{p} dd ON dd.vid = eu.src GROUP BY eu.dst) r "
            f"ON r.vid = n.vid)"
        )
    return out


def _bellman_dist_oracle_sql() -> str:
    """Same relaxation chain as the sssp oracle; distances only (the
    parent tree is order-dependent in both engines — pytest-verified)."""
    ctes = [
        f"e AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "eu AS MATERIALIZED (SELECT src, dst, weight FROM e "
        "UNION ALL SELECT dst, src, weight FROM e)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        "s AS MATERIALIZED (SELECT MIN(src) AS sid FROM e)",
        "d0 AS MATERIALIZED (SELECT vid, CASE WHEN vid = (SELECT sid FROM s) "
        "THEN 0.0 ELSE 1e18 END AS d FROM nodes)",
    ] + _relax_ctes(SSSP_UNROLLED)
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT vid, ROUND(d, 4)::DOUBLE AS distance FROM d{SSSP_UNROLLED} "
        f"WHERE d < 1e17"
    )


_GEO_HAV = (
    "2 * 6371 * 0.539957 * asin(sqrt("
    "pow(sin(radians(b.lat - a.lat) / 2), 2) + "
    "pow(sin(radians(b.lon - a.lon) / 2), 2) * cos(radians(a.lat)) * cos(radians(b.lat))))"
)

# The geo ring+chord graph (mirrors _geo_edges exactly, including the
# round(haversine*1.02)+1 integral weights) — single source of truth for
# every oracle that replays it (astar, maxkcut).
_GEO_CUST_CTE = (
    "cust AS MATERIALIZED (SELECT c_custkey AS vid, "
    "((c_custkey % 179) - 89 + 0.5)::DOUBLE AS lat, "
    "(((c_custkey * 7) % 359) - 179 + 0.5)::DOUBLE AS lon "
    "FROM customer WHERE c_custkey < 200)"
)
_GEO_EDGE_CTE = (
    f"e AS MATERIALIZED (SELECT a.vid AS src, b.vid AS dst, "
    f"ROUND({_GEO_HAV} * 1.02, 0) + 1 AS weight "
    f"FROM cust a JOIN cust b ON b.vid = a.vid + 1 OR b.vid = a.vid + 13)"
)


def _astar_oracle_sql() -> str:
    """Geo ring+chord graph (mirrors _geo_edges exactly, including the
    round(haversine*1.02)+1 integral weights), unrolled relaxation from
    vid 1, single target row 199."""
    ctes = [
        _GEO_CUST_CTE,
        _GEO_EDGE_CTE,
        "eu AS MATERIALIZED (SELECT src, dst, weight FROM e "
        "UNION ALL SELECT dst, src, weight FROM e)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        "d0 AS MATERIALIZED (SELECT vid, CASE WHEN vid = 1 "
        "THEN 0.0 ELSE 1e18 END AS d FROM nodes)",
    ] + _relax_ctes(ASTAR_UNROLLED)
    return (
        f"WITH {','.join(ctes)} "
        f"SELECT 1 AS source_node, 199 AS target_node, "
        f"ROUND(d, 4)::DOUBLE AS total_cost FROM d{ASTAR_UNROLLED} WHERE vid = 199"
    )


def _steiner_oracle_sql() -> str:
    """On a tree with unit weights the shortest-path Steiner tree is
    exactly the union of root->terminal ancestor chains, so the greedy
    result is SQL-expressible: parent map from the tree edges, the same
    5-terminal selection as _q_steiner, recursive ancestor closure."""
    inner = f"""
        {_TREE_SQL},
        root AS (SELECT MIN(src) AS r FROM te WHERE src >= 1000000),
        l1 AS (SELECT dst AS n FROM te WHERE src = (SELECT r FROM root)),
        l2 AS (SELECT te.dst AS c FROM te JOIN l1 ON te.src = l1.n),
        l3 AS (SELECT te.dst AS o FROM te JOIN l2 ON te.src = l2.c),
        term AS (SELECT o FROM l3 ORDER BY o LIMIT 5),
        allrows AS (
            -- top level of this nested WITH must be a plain SELECT:
            -- DuckDB loses the nested CTE scope on a top-level UNION ALL
            -- inside a WITH RECURSIVE host query
            SELECT te.dst AS vid, te.src AS parent,
                   (te.dst IN (SELECT o FROM term)) AS is_term
            FROM te
            UNION ALL
            SELECT r, NULL, FALSE FROM root
        )
        SELECT vid, parent, is_term FROM allrows
    """
    return f"""
    WITH RECURSIVE base AS MATERIALIZED ({inner}),
    walk(vid) AS (
        SELECT vid FROM base WHERE is_term
        UNION
        SELECT b.parent FROM walk w JOIN base b
        ON b.vid = w.vid AND b.parent IS NOT NULL
    )
    SELECT b.vid, COALESCE(b.parent, -1) AS parent,
           (CASE WHEN b.parent IS NULL THEN 0.0 ELSE 1.0 END)::DOUBLE AS parent_cost
    FROM base b JOIN (SELECT DISTINCT vid FROM walk) w ON w.vid = b.vid
    """


def _sssp_paths_oracle_sql() -> str:
    """Unrolled min-relaxation (SSSP_UNROLLED rounds) + deterministic
    parent tree (min optimal predecessor) + recursive parent walk."""
    ctes = [
        f"e AS MATERIALIZED ({_CS_EDGES_SMALL_SQL})",
        "eu AS MATERIALIZED (SELECT src, dst, weight FROM e "
        "UNION ALL SELECT dst, src, weight FROM e)",
        "nodes AS MATERIALIZED (SELECT src AS vid FROM e UNION SELECT dst FROM e)",
        "s AS MATERIALIZED (SELECT MIN(src) AS sid FROM e)",
        "d0 AS MATERIALIZED (SELECT vid, CASE WHEN vid = (SELECT sid FROM s) "
        "THEN 0.0 ELSE 1e18 END AS d FROM nodes)",
    ]
    # every CTE the recursive walk references must be MATERIALIZED, or
    # DuckDB re-inlines the whole chain per recursion step
    ctes.extend(_relax_ctes(SSSP_UNROLLED))
    K = SSSP_UNROLLED
    # NB: DuckDB 1.0 pathologically re-plans non-recursive CTEs that live
    # inside a WITH RECURSIVE clause (measured: the 0.3 s distance chain
    # blows past 250 s). So the entire distance/parent computation runs as
    # a plain WITH inside a subquery, and only the parent walk is
    # recursive, over one MATERIALIZED base table.
    inner = f"""
        WITH {','.join(ctes)},
        parent AS MATERIALIZED (
            SELECT eu.dst AS vid, MIN(eu.src) AS parent
            FROM eu JOIN d{K} ds ON ds.vid = eu.src JOIN d{K} dd ON dd.vid = eu.dst
            WHERE ds.d + eu.weight = dd.d AND dd.d < 1e17
              AND eu.dst <> (SELECT sid FROM s)
            GROUP BY eu.dst
        )
        SELECT dd.vid, dd.d, p.parent, (SELECT sid FROM s) AS sid
        FROM d{K} dd LEFT JOIN parent p ON p.vid = dd.vid
        WHERE dd.d < 1e17
    """
    return f"""
    WITH RECURSIVE base AS MATERIALIZED ({inner}),
    walk(target, cur, path) AS (
        SELECT vid, vid, CAST(vid AS VARCHAR) FROM base
        UNION ALL
        SELECT w.target, b.parent, CAST(b.parent AS VARCHAR) || '->' || w.path
        FROM walk w JOIN base b ON b.vid = w.cur AND b.parent IS NOT NULL
    )
    SELECT b.sid AS source_node, w.target AS target_node,
           ROUND(b2.d, 4)::DOUBLE AS total_cost, w.path AS path
    FROM walk w JOIN base b2 ON b2.vid = w.target, (SELECT DISTINCT sid FROM base) b
    WHERE w.cur = b.sid
    """


def oracle_sql() -> dict[str, str]:
    louvain_oracle = f"""
    {_CLIQUE_RING_SQL}
    SELECT c_custkey AS vid,
           MIN(c_custkey) OVER (PARTITION BY c_nationkey) AS community
    FROM s
    """

    betweenness_tree_oracle = f"""
    {_TREE_SQL},
    dcust AS (SELECT o_custkey AS vid, COUNT(*) AS d FROM os GROUP BY 1),
    dnat AS (
        SELECT c_nationkey AS n, COUNT(*) + SUM(COALESCE(dc.d, 0)) AS d
        FROM cs LEFT JOIN dcust dc ON dc.vid = cs.c_custkey
        GROUP BY 1
    ),
    nodes AS (SELECT src AS vid FROM te UNION SELECT dst FROM te)
    SELECT n.vid,
           ROUND(CASE
               WHEN n.vid >= 3000000 THEN 0.0
               WHEN n.vid >= 2000000 THEN
                   1.0 * COALESCE((SELECT d FROM dnat WHERE n = n.vid - 2000000), 0)
               WHEN n.vid >= 1000000 THEN 0.0
               ELSE 2.0 * COALESCE((SELECT d FROM dcust dc WHERE dc.vid = n.vid), 0)
           END, 4)::DOUBLE AS score
    FROM nodes n
    """
    lpa_oracle = f"""
    WITH e AS ({_CS_EDGES_SQL}),
    nodes AS (SELECT src AS vid FROM e UNION SELECT dst FROM e),
    votes AS (
        SELECT e.src AS vid, e.dst AS cand_label, SUM(e.weight) AS w
        FROM e GROUP BY 1, 2
    ),
    winner AS (
        SELECT vid, cand_label,
               ROW_NUMBER() OVER (PARTITION BY vid ORDER BY w DESC, cand_label ASC) AS rn
        FROM votes
    )
    SELECT n.vid, COALESCE(w.cand_label, n.vid) AS label
    FROM nodes n LEFT JOIN (SELECT vid, cand_label FROM winner WHERE rn = 1) w
    ON w.vid = n.vid
    """

    tri_base = f"""
    e AS MATERIALIZED ({_PART_EDGES_SQL}),
    ce AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM e WHERE src <> dst),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM ce e1 JOIN ce e2 ON e1.b = e2.a JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    """

    quality_oracle = f"""
    WITH f AS (
        SELECT doc_id,
               {_TOK} AS toks,
               len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   / CAST(greatest(len(text), 1) AS DOUBLE) AS alpha,
               text
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE list_sum(list_transform(toks, t -> len(t)))
                         / CAST(len(toks) AS DOUBLE) END AS mean_wl,
               alpha,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(toks, t -> list_contains({_SW_EN}, t))) AS DOUBLE)
                         / len(toks) END AS stop_ratio
        FROM f
    )
    SELECT doc_id, n_tokens,
           ROUND(mean_wl, 4)::DOUBLE AS mean_word_len,
           ROUND(alpha, 4)::DOUBLE AS alpha_ratio,
           ROUND(stop_ratio, 4)::DOUBLE AS stopword_ratio,
           ROUND(least(1.0, n_tokens / 20.0) * alpha
                 * least(1.0, stop_ratio * 5.0 + 0.5), 4)::DOUBLE AS quality
    FROM g
    """

    langid_oracle = f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    h AS (
        SELECT doc_id,
               len(list_filter(toks, x -> list_contains({_SW_EN}, x))) AS hits_en,
               len(list_filter(toks, x -> list_contains({_SW_DE}, x))) AS hits_de,
               len(list_filter(toks, x -> list_contains({_SW_FR}, x))) AS hits_fr
        FROM t
    )
    SELECT doc_id,
           CASE WHEN greatest(hits_en, hits_de, hits_fr) = 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_de, hits_fr) THEN 'en'
                WHEN hits_de = greatest(hits_en, hits_de, hits_fr) THEN 'de'
                ELSE 'fr' END AS pred_lang,
           greatest(hits_en, hits_de, hits_fr) AS stopword_hits
    FROM h
    """

    ann_topk_oracle = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.embedding)
               / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.embedding, e.embedding)))
                   AS sim
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, sim,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(sim, 4)::DOUBLE AS cosine_sim, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """

    ann_neardup_exact_oracle = """
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(list_dot_product(a.embedding, b.embedding)
                 / (sqrt(list_dot_product(a.embedding, a.embedding))
                    * sqrt(list_dot_product(b.embedding, b.embedding))), 4)::DOUBLE AS cosine_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 300 AND b.vec_id < 300
      AND ROUND(list_dot_product(a.embedding, b.embedding)
                / (sqrt(list_dot_product(a.embedding, a.embedding))
                   * sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.35
    """

    return {
        "graph_pagerank": _pagerank_oracle_sql(_PART_EDGES_SQL, weighted=False),
        "graph_pagerank_weighted": _pagerank_oracle_sql(_CS_EDGES_SQL, weighted=True),
        "graph_wcc": _wcc_oracle_sql(_CS_EDGES_SMALL_SQL),
        "graph_wcc_threshold": _wcc_oracle_sql(_CS_EDGES_SMALL_SQL, "WHERE weight > 1.5"),
        "graph_lpa": lpa_oracle,
        "graph_triangle_per_node": f"""
            WITH {tri_base},
            corners AS (
                SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
            ),
            nodes AS (SELECT src AS vid FROM e UNION SELECT dst FROM e)
            SELECT n.vid, COALESCE(c.cnt, 0) AS triangles
            FROM nodes n LEFT JOIN (SELECT vid, count(*) AS cnt FROM corners GROUP BY vid) c
            ON c.vid = n.vid
        """,
        "graph_triangle_global": f"WITH {tri_base} SELECT count(*) AS global_triangles FROM tri",
        "graph_local_clustering": f"""
            WITH {tri_base},
            corners AS (
                SELECT x AS vid FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
            ),
            t AS (SELECT vid, count(*) AS cnt FROM corners GROUP BY vid),
            deg AS (
                SELECT vid, count(*) AS d FROM (
                    SELECT a AS vid FROM ce UNION ALL SELECT b FROM ce
                ) GROUP BY vid
            ),
            nodes AS (SELECT src AS vid FROM e UNION SELECT dst FROM e)
            SELECT n.vid,
                   ROUND(CASE WHEN COALESCE(d.d, 0) >= 2
                              THEN 2.0 * COALESCE(t.cnt, 0) / (d.d * (d.d - 1))
                              ELSE 0.0 END, 6)::DOUBLE AS coefficient
            FROM nodes n LEFT JOIN deg d ON d.vid = n.vid
                         LEFT JOIN t ON t.vid = n.vid
        """,
        "graph_collapse_path": f"""
            WITH e AS ({_CS_EDGES_SMALL_SQL})
            SELECT DISTINCT a.src AS src, b.src AS dst, 1.0::DOUBLE AS weight
            FROM e a JOIN e b ON a.dst = b.dst
            WHERE a.src <> b.src
        """,
        "graph_degree": f"""
            WITH e AS ({_CS_EDGES_SQL}),
            nodes AS (SELECT src AS vid FROM e UNION SELECT dst FROM e)
            SELECT n.vid, COALESCE(d.c, 0.0) AS score
            FROM nodes n LEFT JOIN
                 (SELECT src, CAST(count(*) AS DOUBLE) AS c FROM e GROUP BY src) d
            ON d.src = n.vid
        """,
        "graph_degree_weighted": f"""
            WITH e AS ({_CS_EDGES_SQL}),
            nodes AS (SELECT src AS vid FROM e UNION SELECT dst FROM e)
            SELECT n.vid, COALESCE(d.c, 0.0) AS score
            FROM nodes n LEFT JOIN
                 (SELECT src, SUM(weight) AS c FROM e WHERE weight > 0 GROUP BY src) d
            ON d.src = n.vid
        """,
        "dedup_exact": """
            SELECT sha256(text) AS content_sha256, min(doc_id) AS keeper_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "dedup_minhash_lsh": _minhash_oracle_sql(),
        "dedup_ngram_jaccard": _ngram_oracle_sql(),
        "text_token_count": f"""
            SELECT doc_id, len({_TOK}) AS n_tokens, len(text) AS n_chars_seen
            FROM documents
        """,
        "text_quality": quality_oracle,
        "text_langid": langid_oracle,
        "text_fingerprint": f"""
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct({_TOK})), ' ')) AS fingerprint,
                   len(list_distinct({_TOK})) AS n_distinct_tokens
            FROM documents
        """,
        "ann_topk_cosine": ann_topk_oracle,
        "ann_embedding_neardup": _ann_neardup_lsh_oracle_sql(),
        "ann_neardup_exact_small": ann_neardup_exact_oracle,
        "ann_lsh_topk": _ann_lsh_topk_oracle_sql(),
        "ann_ivf_topk": _ann_ivf_topk_oracle_sql(),
        "dedup_simhash": _simhash_oracle_sql(),
        "multimodal_features": _MULTIMODAL_ORACLE_SQL,
        "graph_louvain": louvain_oracle,
        "graph_leiden": louvain_oracle,
        "graph_betweenness_tree": betweenness_tree_oracle,
        "graph_sssp_paths": _sssp_paths_oracle_sql(),
        "graph_bellman": _bellman_dist_oracle_sql(),
        "graph_astar": _astar_oracle_sql(),
        "graph_steiner": _steiner_oracle_sql(),
        "graph_hashgnn": _hashgnn_oracle_sql(),
        "graph_longest_path": _longest_path_oracle_sql(),
        "graph_all_shortest_paths": _asp_oracle_sql(),
        "graph_celf": _celf_oracle_sql(),
        "graph_node_similarity": _node_similarity_oracle_sql(),
        "graph_node_similarity_filtered": _node_similarity_filtered_oracle_sql(),
        "graph_closeness": _pivot_centrality_oracle_sql("closeness"),
        "graph_harmonic": _pivot_centrality_oracle_sql("harmonic"),
        "graph_scc": _scc_oracle_sql(),
        "graph_eigenvector": _eigenvector_oracle_sql(),
        "graph_hits": _hits_oracle_sql(),
        "graph_kcore": _kcore_oracle_sql(),
        "graph_kmeans": _kmeans_oracle_sql(),
        "graph_fastrp": _fastrp_oracle_sql(),
        "graph_article_rank": _article_rank_oracle_sql(),
        "graph_knn": _knn_oracle_sql(),
        "graph_knn_filtered": _knn_filtered_oracle_sql(),
        "graph_spanning_tree": _spanning_tree_oracle_sql(),
        "graph_bfs": _bfs_oracle_sql(),
        "graph_topo_sort": _topo_sort_oracle_sql(),
        "graph_dfs": _dfs_oracle_sql(),
        "graph_scale_minmax": _scale_minmax_oracle_sql(),
        "graph_scale_stdscore": _scale_stdscore_oracle_sql(),
        "graph_scale_l2norm": _scale_l2norm_oracle_sql(),
        "graph_scale_rest": _scale_rest_oracle_sql(),
        "graph_k1coloring": _k1coloring_oracle_sql(),
        "graph_sllpa": _sllpa_oracle_sql(),
        "graph_maxkcut": _maxkcut_oracle_sql(),
        "graph_sample_rwr": _sample_rwr_oracle_sql(),
        "graph_k_spanning_tree": _k_spanning_tree_oracle_sql(),
        "docs_enrich": _docs_enrich_oracle_sql(),
        "events_sessions": _events_sessions_oracle_sql(),
        "events_funnel": _events_funnel_oracle_sql(),
        "events_rollup": _events_rollup_oracle_sql(),
        "graph_yens": _yens_oracle_sql(),
        "graph_sample_cnarw": _cnarw_oracle_sql(),
        "graph_modopt": _modopt_oracle_sql(),
        "graph_modularity": f"""
            WITH e AS MATERIALIZED ({_CS_EDGES_SQL}),
            comm AS (SELECT vid, vid %% 7 AS community FROM
                     (SELECT src AS vid FROM e UNION SELECT dst FROM e)),
            tagged AS (
                SELECT e.weight, ca.community AS c_src, cb.community AS c_dst
                FROM e JOIN comm ca ON ca.vid = e.src JOIN comm cb ON cb.vid = e.dst
            ),
            m AS (SELECT SUM(weight) AS m FROM tagged),
            intra AS (SELECT c_src AS community, SUM(weight) AS e_c
                      FROM tagged WHERE c_src = c_dst GROUP BY 1),
            ends AS (
                SELECT c_src AS community, weight FROM tagged
                UNION ALL SELECT c_dst, weight FROM tagged
            ),
            degm AS (SELECT community, SUM(weight) AS d_c FROM ends GROUP BY 1)
            SELECT d.community,
                   ROUND(COALESCE(i.e_c, 0) / m.m - POW(d.d_c / (2 * m.m), 2), 6)::DOUBLE
                       AS modularity
            FROM degm d LEFT JOIN intra i ON i.community = d.community, m
        """ % (),
        "graph_conductance": f"""
            WITH e AS MATERIALIZED ({_CS_EDGES_SQL}),
            bidir AS (SELECT src, dst, weight FROM e
                      UNION ALL SELECT dst, src, weight FROM e),
            comm AS (SELECT vid, vid %% 7 AS community FROM
                     (SELECT src AS vid FROM e UNION SELECT dst FROM e)),
            tagged AS (
                SELECT b.weight, ca.community AS c_src, cb.community AS c_dst
                FROM bidir b JOIN comm ca ON ca.vid = b.src JOIN comm cb ON cb.vid = b.dst
            ),
            per AS (
                SELECT c_src AS community,
                       SUM(CASE WHEN c_src = c_dst THEN weight ELSE 0 END) AS internal,
                       SUM(CASE WHEN c_src <> c_dst THEN weight ELSE 0 END) AS external
                FROM tagged GROUP BY 1
            )
            SELECT community,
                   ROUND(CASE WHEN internal + external > 0
                              THEN external / (internal + external) END, 6)::DOUBLE
                       AS conductance
            FROM per
        """ % (),
    }
