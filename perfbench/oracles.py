"""Independent oracles: numpy replays and DuckDB counts.

Each `check_*` compares one operator result against its oracle and
returns a list of mismatch descriptions (empty when the answer is right).
They run outside the timed region.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pyarrow as pa

SCORE_TOL = 1e-9


def pagerank_replay(n: int, src: np.ndarray, dst: np.ndarray, damping: float,
                    tolerance: float, max_iterations: int) -> tuple[np.ndarray, int]:
    """Unweighted delta-push PageRank, superstep by superstep.

    Superstep 0 only sends the initial delta (1 - damping) from every node
    with out-edges. Superstep s >= 1: a node computes if it got a message
    or has not halted; then delta = damping * sum(messages), rank += delta,
    and it halts unless delta > tolerance; it sends delta / out_degree iff
    it computed, delta > tolerance and out_degree > 0. The run converges
    after a superstep in which nobody sent and everybody halted; that
    superstep is not counted. Returns (ranks, ran_iterations).
    """
    alpha = 1.0 - damping
    deg = np.bincount(src, minlength=n).astype(np.float64)
    rank = np.full(n, alpha)
    delta = np.full(n, alpha)
    halted = np.zeros(n, bool)
    send = deg > 0
    ran = 1
    for s in range(1, max_iterations):
        live = send[src]
        contrib = np.divide(delta, deg, out=np.zeros(n), where=deg > 0)
        msg = np.bincount(dst[live], weights=contrib[src[live]], minlength=n)
        got = np.bincount(dst[live], minlength=n) > 0
        computes = got | ~halted
        new_delta = np.where(computes, damping * msg, delta)
        rank = np.where(computes, rank + new_delta, rank)
        halted = np.where(computes, ~(new_delta > tolerance), halted)
        send = computes & (new_delta > tolerance) & (deg > 0)
        delta = new_delta
        if not send.any() and halted.all():
            return rank, s
        ran = s + 1
    return rank, ran


def min_label_components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Weakly connected components as the min-vid fixed point: every node
    takes the least label among itself and its undirected neighbours
    until nothing changes."""
    comp = np.arange(n, dtype=np.int64)
    a = np.concatenate([src, dst])
    b = np.concatenate([dst, src])
    while True:
        new = comp.copy()
        np.minimum.at(new, b, comp[a])
        new = new[new]  # pointer jumping only speeds the fixed point up
        if np.array_equal(new, comp):
            return comp
        comp = new


def lpa_replay(n: int, src: np.ndarray, dst: np.ndarray,
               max_iterations: int = 10) -> tuple[np.ndarray, int]:
    """Synchronous label propagation over out-neighbours, unit weights.

    Each superstep every node with out-edges takes the label with the most
    votes among its out-neighbours' labels, ties going to the smaller
    label. Converged after a superstep in which no label changed; that
    superstep is not counted. Returns (labels, ran_iterations)."""
    label = np.arange(n, dtype=np.int64)
    ran = 0
    for s in range(max_iterations):
        voter, vote = src, label[dst]
        order = np.lexsort((vote, voter))
        voter, vote = voter[order], vote[order]
        first = np.ones(voter.size, bool)
        first[1:] = (voter[1:] != voter[:-1]) | (vote[1:] != vote[:-1])
        starts = np.flatnonzero(first)
        counts = np.diff(np.append(starts, voter.size))
        g_voter, g_vote = voter[starts], vote[starts]
        # per voter: most votes, then smallest label
        best = np.lexsort((g_vote, -counts, g_voter))
        g_voter, g_vote = g_voter[best], g_vote[best]
        lead = np.ones(g_voter.size, bool)
        lead[1:] = g_voter[1:] != g_voter[:-1]
        new = label.copy()
        new[g_voter[lead]] = g_vote[lead]
        changed = int((new != label).sum())
        label = new
        if changed == 0:
            return label, s
        ran = s + 1
    return label, ran


def triangle_counts(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[int, np.ndarray]:
    """(global triangle count, per-node counts) of the undirected simple
    graph, counted by DuckDB."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    con = duckdb.connect()
    try:
        con.register("raw", pa.table({"a": lo[keep], "b": hi[keep]}))
        con.execute("CREATE TABLE e AS SELECT DISTINCT a, b FROM raw")
        con.execute("""CREATE TABLE t AS
            SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""")
        total = con.execute("SELECT count(*) FROM t").fetchone()[0]
        rows = con.execute("""SELECT v, count(*) FROM (
            SELECT x AS v FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
            GROUP BY v""").fetchall()
    finally:
        con.close()
    per_node = np.zeros(n, np.int64)
    for v, c in rows:
        per_node[v] = c
    return int(total), per_node


def corpus_graph(repo: list[str], path: list[str], imports: list[np.ndarray]
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The import graph the generator meant: dense vids in (repo, path)
    order, and one (src, dst) edge per resolved import.
    Returns (vid_of_row, src, dst)."""
    order = sorted(range(len(repo)), key=lambda i: (repo[i], path[i]))
    vid = np.empty(len(repo), np.int64)
    vid[order] = np.arange(len(repo))
    owner = np.repeat(np.arange(len(imports)), [len(t) for t in imports])
    targets = np.concatenate(imports) if imports else np.zeros(0, np.int64)
    return vid, vid[owner], vid[targets.astype(np.int64)]


# ----------------------------------------------------------------------
# Checks: each returns a list of mismatch descriptions
# ----------------------------------------------------------------------

def _dense(n: int, vid: np.ndarray, val: np.ndarray, what: str, errors: list[str]) -> np.ndarray | None:
    if vid.size != n or not np.array_equal(np.sort(vid), np.arange(n)):
        errors.append(f"{what}: {vid.size} rows, expected one per vid 0..{n - 1}")
        return None
    out = np.empty(n, val.dtype)
    out[vid] = val
    return out


def check_pagerank(expected: tuple[np.ndarray, int], vid: np.ndarray, score: np.ndarray,
                   ran_iterations: int) -> list[str]:
    want, want_ran = expected
    errors: list[str] = []
    if ran_iterations != want_ran:
        errors.append(f"pagerank: ran_iterations {ran_iterations}, oracle {want_ran}")
    got = _dense(want.size, vid, score, "pagerank", errors)
    if got is not None:
        diff = float(np.max(np.abs(got - want))) if want.size else 0.0
        if not diff <= SCORE_TOL:
            errors.append(f"pagerank: max score diff {diff:.3g} > {SCORE_TOL}")
    return errors


def check_labels(name: str, want: np.ndarray, vid: np.ndarray, label: np.ndarray) -> list[str]:
    errors: list[str] = []
    got = _dense(want.size, vid, label, name, errors)
    if got is not None:
        bad = int((got != want).sum())
        if bad:
            errors.append(f"{name}: {bad} of {want.size} labels differ from the oracle")
    return errors


def check_iterations(name: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{name}: ran_iterations {got}, oracle {want}"]


def check_triangles(expected: tuple[int, np.ndarray], global_count: int,
                    vid: np.ndarray, per_node: np.ndarray) -> list[str]:
    want_total, want_per_node = expected
    errors: list[str] = []
    if global_count != want_total:
        errors.append(f"triangles: global count {global_count}, oracle {want_total}")
    errors += check_labels("triangles per node", want_per_node, vid, per_node)
    return errors


def check_extraction(expected_src: np.ndarray, expected_dst: np.ndarray, n: int,
                     src: np.ndarray, dst: np.ndarray,
                     vid_of_row: np.ndarray, content: list[str],
                     vid: np.ndarray, sha: list[str]) -> list[str]:
    """The extracted edge multiset must equal the generator's resolved
    imports, and every vertex hash must equal hashlib's digest of its
    file's content."""
    errors: list[str] = []
    want = np.sort(expected_src * n + expected_dst)
    got = np.sort(src.astype(np.int64) * n + dst)
    if not np.array_equal(want, got):
        errors.append(f"extract: {got.size} edges, oracle {want.size}; multisets differ")
    by_vid = dict(zip(vid.tolist(), sha))
    if len(by_vid) != n:
        errors.append(f"extract: {len(by_vid)} vertices, oracle {n}")
    bad = sum(
        by_vid.get(int(v)) != hashlib.sha256(text.encode()).hexdigest()
        for v, text in zip(vid_of_row, content)
    )
    if bad:
        errors.append(f"extract: {bad} content_sha256 values differ from hashlib")
    return errors
