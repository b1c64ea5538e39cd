"""Seeded input generators for the benchmark.

These are the benchmark's own generators, kept apart from the package's
`sources/generator.py` and `sources/corpus.py`, so that a change to those
modules cannot silently change a workload. Everything here is numpy and
pyarrow; Spark sees only the parquet tables written by `write_*`.

The same (seed, parameters) always give the same arrays and the same
parquet contents.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class EdgeList:
    """A directed simple graph over vids 0..n-1 (no self-loops, no
    parallel edges), plus the planted hubs (-1 when absent)."""

    n: int
    src: np.ndarray
    dst: np.ndarray
    in_hub: int = -1
    out_hub: int = -1

    def sizes(self) -> dict:
        out_deg = np.bincount(self.src, minlength=self.n)
        in_deg = np.bincount(self.dst, minlength=self.n)
        return {
            "nodes": self.n,
            "edges": int(self.src.size),
            "sinks": int((out_deg == 0).sum()),
            "max_in_degree": int(in_deg.max()),
            "max_out_degree": int(out_deg.max()),
            "in_hub_degree": int(in_deg[self.in_hub]) if self.in_hub >= 0 else 0,
            "out_hub_degree": int(out_deg[self.out_hub]) if self.out_hub >= 0 else 0,
        }


def _dedupe(n: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    keep = src != dst
    key = np.unique(src[keep].astype(np.int64) * n + dst[keep])
    return key // n, key % n


GAMMA = 2.5


def powerlaw_graph(seed: int, n: int, avg_degree: float, hub_share: float) -> EdgeList:
    """Directed graph with power-law (GAMMA) out-degrees, uniform targets.

    Every node draws a Pareto out-degree of at least 1, rescaled so the
    mean is about avg_degree. hub_share > 0 plants one in-hub and one
    out-hub, each on about that share of the edges.
    """
    rng = np.random.default_rng(seed)
    raw = rng.pareto(GAMMA - 1.0, n) + 1.0
    raw = np.minimum(raw, np.sqrt(n))
    deg = np.maximum(np.rint(raw * (avg_degree * n / raw.sum())), 1).astype(np.int64)
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    dst = rng.integers(0, n, src.size, dtype=np.int64)
    in_hub = out_hub = -1
    if hub_share > 0:
        in_hub, out_hub = (int(v) for v in rng.choice(n, 2, replace=False))
        h = min(int(hub_share * src.size), n)
        src = np.concatenate([src, rng.choice(n, h, replace=False), np.full(h, out_hub)])
        dst = np.concatenate([dst, np.full(h, in_hub), rng.choice(n, h, replace=False)])
    src, dst = _dedupe(n, src, dst)
    return EdgeList(n, src, dst, in_hub, out_hub)


PARTS = 8


def _write_parts(table: pa.Table, path: str) -> None:
    """Write `table` into a new directory as PARTS parquet files, so a
    scan has that many splits whatever the table's size."""
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, PARTS + 1).astype(np.int64)
    for k in range(PARTS):
        chunk = table.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(chunk, os.path.join(path, f"part-{k:03d}.parquet"))


def write_edges(edges: EdgeList, path: str) -> None:
    _write_parts(pa.table({"src": edges.src, "dst": edges.dst}), path)


def write_nodes(n: int, path: str) -> None:
    _write_parts(pa.table({"vid": np.arange(n, dtype=np.int64)}), path)


# ----------------------------------------------------------------------
# Source-code corpus
# ----------------------------------------------------------------------

STDLIB = ["os", "sys", "json", "re", "math", "typing", "collections", "itertools",
          "functools", "dataclasses", "pathlib", "logging", "numpy.linalg", "os.path"]
WORDS = ["value", "index", "count", "node", "edge", "graph", "state", "result", "item",
         "total", "buffer", "offset", "weight", "label", "score", "delta", "rank"]


@dataclass
class Corpus:
    """A table (repo, path, commit, lang, content) plus the generator's
    own record of which imports resolve: `imports[i]` holds the row
    indices that row i imports (in-corpus modules only)."""

    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]
    content: list[str]
    imports: list[np.ndarray]

    def sizes(self) -> dict:
        indeg = np.bincount(np.concatenate(self.imports), minlength=len(self.repo)) \
            if self.imports else np.zeros(0, np.int64)
        return {
            "files": len(self.repo),
            "repos": len(set(self.repo)),
            "content_mb": round(sum(len(c) for c in self.content) / 2**20, 3),
            "resolved_imports": int(sum(len(i) for i in self.imports)),
            "max_import_in_degree": int(indeg.max()) if indeg.size else 0,
        }


IMPORTS_PER_FILE = 4.0
CROSS_REPO_SHARE = 0.05
POPULAR_SHARE = 0.15
POPULAR_MODULES = 20
STDLIB_PER_FILE = 3.0
BODY_LINES = 40


def corpus(seed: int, files: int, repos: int) -> Corpus:
    """Seeded Python corpus whose imports mostly stay in their repo.

    Repos get power-law sizes. Every file imports about IMPORTS_PER_FILE
    in-corpus modules: POPULAR_SHARE of them one of POPULAR_MODULES
    heavily imported modules, CROSS_REPO_SHARE any file of the corpus,
    the rest a file of its own repo, uniformly. Every file also imports
    stdlib-style modules that resolve to nothing. Module naming matches
    the extractor's default rule: repo 'org/repo_R' and path
    'pkg/mod_M.py' define the module 'pkg_rR_mM'.
    """
    rng = np.random.default_rng(seed)
    weights = rng.pareto(1.5, repos) + 1.0
    per_repo = np.maximum(1, np.floor(weights / weights.sum() * files)).astype(np.int64)
    per_repo[np.argmax(per_repo)] += files - per_repo.sum()
    repo_of = np.repeat(np.arange(repos), per_repo)
    mod_of = np.concatenate([np.arange(k) for k in per_repo])
    starts = np.concatenate([[0], np.cumsum(per_repo)[:-1]])
    popular = rng.choice(files, min(POPULAR_MODULES, files), replace=False)

    # every random draw is made up front, in bulk, in a fixed order
    k = rng.poisson(IMPORTS_PER_FILE, files)
    owner = np.repeat(np.arange(files), k)
    kind = rng.random(owner.size)
    local = starts[repo_of[owner]] + (rng.random(owner.size) * per_repo[repo_of[owner]]).astype(np.int64)
    anywhere = rng.integers(0, files, owner.size)
    pop = popular[rng.integers(0, popular.size, owner.size)]
    target = np.where(kind < POPULAR_SHARE, pop,
                      np.where(kind < POPULAR_SHARE + CROSS_REPO_SHARE, anywhere, local))
    n_std = rng.poisson(STDLIB_PER_FILE, files)
    std = rng.integers(0, len(STDLIB), n_std.sum())
    n_body = rng.poisson(BODY_LINES, files)
    body = rng.integers(0, 4096, n_body.sum())
    style = rng.random(owner.size + std.size) < 0.5
    pool = _filler_lines(rng, 4096)
    module = [f"pkg_r{r}_m{m}" for r, m in zip(repo_of, mod_of)]

    imports, content = [], []
    t_off = s_off = b_off = st_off = 0
    for i in range(files):
        targets = np.unique(target[t_off:t_off + k[i]])
        targets = targets[targets != i]
        t_off += k[i]
        imports.append(targets)
        names = [module[t] for t in targets] + [STDLIB[j] for j in std[s_off:s_off + n_std[i]]]
        s_off += n_std[i]
        lines = [f'"""Module {mod_of[i]} of repo {repo_of[i]}."""']
        for j, name in enumerate(names):
            if style[st_off + j]:
                lines.append(f"import {name}")
            else:
                lines.append(f"from {name} import {WORDS[j % len(WORDS)]}")
        st_off += len(names)
        lines.extend(pool[j] for j in body[b_off:b_off + n_body[i]])
        b_off += n_body[i]
        content.append("\n".join(lines) + "\n")
    repo_col = [f"org/repo_{r}" for r in repo_of]
    path_col = [f"pkg/mod_{m}.py" for m in mod_of]
    commit_col = [hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in range(files)]
    lang_col = ["python"] * files
    return Corpus(repo_col, path_col, commit_col, lang_col, content, imports)


def _filler_lines(rng: np.random.Generator, count: int) -> list[str]:
    """Indented statement lines: body text that holds no import."""
    w = rng.integers(0, len(WORDS), (count, 3))
    v = rng.integers(0, 1000, count)
    return [f"    {WORDS[a]}_{WORDS[b]} = {WORDS[c]}({WORDS[a]}, {x})  # {WORDS[b]} {WORDS[c]}"
            for (a, b, c), x in zip(w.tolist(), v.tolist())]


def write_corpus(c: Corpus, path: str) -> None:
    table = pa.table({"repo": c.repo, "path": c.path, "commit": c.commit,
                      "lang": c.lang, "content": c.content})
    _write_parts(table, path)
