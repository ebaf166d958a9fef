"""Independent reference computations for every output the workloads write.

Each function works on plain numpy/pandas arrays built from the seeded
inputs; none of them imports the library under test. Node ids are dense
ints 0..n-1.
"""

from __future__ import annotations

import hashlib
import re

import networkx as nx
import numpy as np
import pandas as pd


def pagerank(n, src, dst, damping, tolerance, max_iterations, stats_interval):
    """numpy replay of the delta-push PageRank state machine.

    Init rank = delta = 1 - d; nodes with out-edges send in the first
    superstep. Superstep s >= 1: a node computes if it received a
    message or has not halted; new delta = d * sum(delta_u / deg_u)
    over sending in-neighbours u, rank += new delta, halt when
    new delta <= tolerance, send iff not halted and deg > 0.
    Convergence (nothing sent, nobody active) is tested only every
    ``stats_interval`` supersteps and on the last one; the converging
    superstep is not counted. Returns (rank, ran_iterations, converged).
    """
    deg = np.bincount(src, minlength=n).astype(np.float64)
    alpha = 1.0 - damping
    rank = np.full(n, alpha)
    delta = np.full(n, alpha)
    halted = np.zeros(n, dtype=bool)
    will_send = deg > 0
    ran = max_iterations
    for s in range(max_iterations):
        if s > 0:
            live = will_send[src]
            contrib = np.where(will_send, delta / np.maximum(deg, 1.0), 0.0)
            msg = np.bincount(dst[live], weights=contrib[src[live]], minlength=n)
            got = np.bincount(dst[live], minlength=n) > 0
            computes = got | ~halted
            new_delta = np.where(computes, damping * msg, delta)
            rank = np.where(computes, rank + new_delta, rank)
            halted = np.where(computes, ~(new_delta > tolerance), halted)
            will_send = computes & (new_delta > tolerance) & (deg > 0)
            delta = new_delta
        if stats_interval > 1 and (s + 1) % stats_interval != 0 and s != max_iterations - 1:
            continue
        if not will_send.any() and halted.all():
            return rank, s, True
        ran = s + 1
    return rank, ran, False


def components(n, src, dst):
    """Weakly connected components by union-find with union-by-min:
    every node is labelled with the smallest id in its component."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        pu, pv = parent[src], parent[dst]
        if (pu == pv).all():
            return parent
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:  # path compression to roots
            nxt = parent[parent]
            if (nxt == parent).all():
                break
            parent = nxt


def label_propagation(n, src, dst, iterations):
    """pandas replay of synchronous LPA: every node adopts the label with
    the most votes among its out-neighbours (ties -> smallest label);
    nodes without out-edges keep theirs. Stops early when nothing changes."""
    label = np.arange(n, dtype=np.int64)
    for _ in range(iterations):
        votes = (
            pd.DataFrame({"voter": src, "lab": label[dst]})
            .groupby(["voter", "lab"]).size().rename("votes").reset_index()
            .sort_values(["voter", "votes", "lab"], ascending=[True, False, True])
            .drop_duplicates("voter")
        )
        new = label.copy()
        new[votes["voter"].to_numpy()] = votes["lab"].to_numpy()
        if (new == label).all():
            break
        label = new
    return label


def triangles(n, src, dst):
    """Per-node triangle counts on the simple undirected graph."""
    g = nx.Graph()
    g.add_nodes_from(range(n))
    keep = src != dst
    g.add_edges_from(zip(src[keep].tolist(), dst[keep].tolist()))
    counts = nx.triangles(g)
    return np.array([counts[v] for v in range(n)], dtype=np.int64)


IMPORT_RE = re.compile(r"^\s*import\s+([A-Za-z_][A-Za-z0-9_.]*)", re.M)
FROM_IMPORT_RE = re.compile(r"^\s*from\s+([A-Za-z_][A-Za-z0-9_.]*)\s+import", re.M)
MODULE_RE = re.compile(r"repo_(\d+)$")
FILE_RE = re.compile(r"mod_(\d+)\.py$")


def import_edges(corpus: pd.DataFrame):
    """Re-parse the corpus with Python ``re``. Returns (src, dst, parsed)
    where src/dst are row positions of resolved imports (one per import
    statement, self-imports dropped) and parsed counts all statements."""
    module_row = {
        f"pkg_r{MODULE_RE.search(r).group(1)}_m{FILE_RE.search(p).group(1)}": i
        for i, (r, p) in enumerate(zip(corpus["repo"], corpus["path"]))
    }
    src, dst, parsed = [], [], 0
    for i, text in enumerate(corpus["content"]):
        mods = IMPORT_RE.findall(text) + FROM_IMPORT_RE.findall(text)
        parsed += len(mods)
        for mod in mods:
            j = module_row.get(mod)
            if j is not None and j != i:
                src.append(i)
                dst.append(j)
    return np.array(src, dtype=np.int64), np.array(dst, dtype=np.int64), parsed


def content_sha256(corpus: pd.DataFrame) -> list[str]:
    return [hashlib.sha256(c.encode()).hexdigest() for c in corpus["content"]]
