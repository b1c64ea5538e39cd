"""Oracles, checks and op accounting, without Spark.

Each numpy oracle is compared with a plain-loop version on small graphs,
and each check must count a perturbed result as a failed op.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracles  # noqa: E402
from perfbench.run import Tally  # noqa: E402


def small_graph(seed: int = 3, n: int = 60) -> gen.EdgeList:
    """A hub graph in which every third node links to nothing."""
    g = gen.powerlaw_graph(seed, n, 4, hub_share=0.1)
    keep = g.src % 3 != 0
    return gen.EdgeList(n, g.src[keep], g.dst[keep], g.in_hub, g.out_hub)


def loop_pagerank(n, edges, damping, tol, max_iter):
    out = {v: [] for v in range(n)}
    for u, v in edges:
        out[u].append(v)
    rank = [1 - damping] * n
    delta = [1 - damping] * n
    halted = [False] * n
    send = [len(out[v]) > 0 for v in range(n)]
    for s in range(1, max_iter):
        msg = [None] * n
        for u in range(n):
            if send[u]:
                for v in out[u]:
                    msg[v] = (msg[v] or 0.0) + delta[u] / len(out[u])
        for v in range(n):
            if msg[v] is not None or not halted[v]:
                delta[v] = damping * (msg[v] or 0.0)
                rank[v] += delta[v]
                halted[v] = not delta[v] > tol
                send[v] = delta[v] > tol and len(out[v]) > 0
            else:
                send[v] = False
        if not any(send) and all(halted):
            return rank, s
    return rank, max_iter


def test_pagerank_replay_matches_loop():
    g = small_graph()
    for tol, max_iter in ((1e-6, 100), (0.0, 7)):
        want, want_ran = loop_pagerank(g.n, zip(g.src.tolist(), g.dst.tolist()), 0.85, tol, max_iter)
        got, ran = oracles.pagerank_replay(g.n, g.src, g.dst, 0.85, tol, max_iter)
        assert ran == want_ran
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-12)


def test_components_match_union_find():
    g = small_graph(5, 80)
    parent = list(range(g.n))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for u, v in zip(g.src.tolist(), g.dst.tolist()):
        a, b = find(u), find(v)
        parent[max(a, b)] = min(a, b)
    want = [find(v) for v in range(g.n)]
    assert oracles.min_label_components(g.n, g.src, g.dst).tolist() == want


def test_lpa_replay_matches_loop():
    g = small_graph(7, 50)
    out = {v: [] for v in range(g.n)}
    for u, v in zip(g.src.tolist(), g.dst.tolist()):
        out[u].append(v)
    label = list(range(g.n))
    ran = 10
    for s in range(10):
        new = list(label)
        for v in range(g.n):
            if out[v]:
                votes = {}
                for w in out[v]:
                    votes[label[w]] = votes.get(label[w], 0) + 1
                new[v] = min(votes, key=lambda lab: (-votes[lab], lab))
        changed = new != label
        label = new
        if not changed:
            ran = s
            break
    got, got_ran = oracles.lpa_replay(g.n, g.src, g.dst)
    assert got.tolist() == label and got_ran == ran


def test_triangles_match_brute_force():
    g = small_graph(11, 40)
    und = {(min(u, v), max(u, v)) for u, v in zip(g.src.tolist(), g.dst.tolist())}
    per_node = [0] * g.n
    total = 0
    for a, b, c in itertools.combinations(range(g.n), 3):
        if (a, b) in und and (b, c) in und and (a, c) in und:
            total += 1
            for v in (a, b, c):
                per_node[v] += 1
    got_total, got_per_node = oracles.triangle_counts(g.n, g.src, g.dst)
    assert got_total == total and got_per_node.tolist() == per_node


def test_generators_are_seeded():
    a, b = small_graph(9), small_graph(9)
    assert np.array_equal(a.src, b.src) and np.array_equal(a.dst, b.dst)
    c1, c2 = gen.corpus(4, 50, 4), gen.corpus(4, 50, 4)
    assert c1.content == c2.content and all(np.array_equal(x, y) for x, y in zip(c1.imports, c2.imports))


def test_perturbed_pagerank_score_is_a_failed_op():
    g = small_graph()
    expected = oracles.pagerank_replay(g.n, g.src, g.dst, 0.85, 1e-6, 100)
    vid = np.arange(g.n)
    score = expected[0].copy()
    tally = Tally()
    tally.record({"pagerank": oracles.check_pagerank(expected, vid, score, expected[1])})
    assert (tally.attempted, tally.failed) == (1, 0)
    score[5] += 1e-6
    tally.record({"pagerank": oracles.check_pagerank(expected, vid, score, expected[1])})
    assert (tally.attempted, tally.failed) == (2, 1)
    tally.record({"pagerank": oracles.check_pagerank(expected, vid, expected[0], expected[1] + 1)})
    assert tally.failed == 2


def test_relabelled_component_is_a_failed_op():
    g = small_graph(5, 80)
    want = oracles.min_label_components(g.n, g.src, g.dst)
    comp = want.copy()
    comp[comp == comp[-1]] = g.n + 1  # one whole component gets another id
    tally = Tally()
    tally.record({"wcc": oracles.check_labels("wcc", want, np.arange(g.n), want),
                  "wcc again": oracles.check_labels("wcc", want, np.arange(g.n), comp)})
    assert (tally.attempted, tally.failed) == (2, 1)


def test_missing_rows_and_bad_hash_fail():
    want = np.arange(5)
    assert oracles.check_labels("x", want, np.arange(4), np.arange(4))
    c = gen.corpus(2, 30, 3)
    vid_of_row, src, dst = oracles.corpus_graph(c.repo, c.path, c.imports)
    sha = [hashlib.sha256(t.encode()).hexdigest() for t in c.content]
    args = (src, dst, len(c.repo), src, dst, vid_of_row, c.content, vid_of_row)
    assert oracles.check_extraction(*args, sha) == []
    assert oracles.check_extraction(*args, sha[:1] + ["0" * 64] + sha[2:])
    assert oracles.check_extraction(src, dst, len(c.repo), src[1:], dst[1:],
                                    vid_of_row, c.content, vid_of_row, sha)


@pytest.mark.parametrize("files,repos", [(200, 5), (1000, 20)])
def test_corpus_imports_are_what_the_extractor_resolves(files, repos):
    """Every import line names either an in-corpus module (recorded in
    `imports`) or a stdlib-style module that resolves to nothing."""
    import re

    c = gen.corpus(8, files, repos)
    modules = {f"pkg_r{r.split('_')[-1]}_m{p.split('_')[-1][:-3]}": i
               for i, (r, p) in enumerate(zip(c.repo, c.path))}
    pat = re.compile(r"(?m)^\s*(?:import\s+([A-Za-z_][\w.]*)|from\s+([A-Za-z_][\w.]*)\s+import)")
    for i, text in enumerate(c.content):
        names = [a or b for a, b in pat.findall(text)]
        resolved = sorted(modules[m] for m in names if m in modules)
        assert resolved == sorted(c.imports[i].tolist())
        assert all(m in modules or m in gen.STDLIB for m in names)
