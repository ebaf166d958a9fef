"""Seeded benchmark inputs, written to parquet once per (workload, size, seed).

Inputs are generated here with numpy, not with the library's own
generators, so a change to the program can never change the bytes it is
measured on. Every run re-reads the parquet files and checks them
against the fingerprint recorded when they were written: the row count
plus an order-independent hash of every row.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# fixed file count, so Spark's input partitioning never depends on the host
FILES_PER_TABLE = 8


class InputMismatch(RuntimeError):
    """Cached inputs no longer match the fingerprint written with them."""


def powerlaw_graph(seed: int, nodes: int, avg_degree: int, gamma: float = 2.5):
    """Directed power-law graph as {"nodes", "edges"} DataFrames.

    Out-degrees are the n quantiles of a Pareto tail with minimum xm
    chosen so that the mean is close to avg_degree, capped at
    10*sqrt(n), dealt to the nodes in a seeded random order; targets are
    uniform over the other nodes. Parallel edges are kept. The degree
    sequence, and so the edge count and the hub sizes, is the same for
    every seed: seeds change which nodes are linked, not how much work
    the graph is.
    """
    rng = np.random.default_rng([seed, 1])
    xm = max(1.0, avg_degree * (gamma - 2.0) / (gamma - 1.0))
    u = (np.arange(nodes) + 0.5) / nodes
    deg = np.minimum(
        int(math.sqrt(nodes) * 10), np.ceil(xm * (1.0 - u) ** (-1.0 / (gamma - 1.0)))
    ).astype(np.int64)[rng.permutation(nodes)]
    src = np.repeat(np.arange(nodes, dtype=np.int64), deg)
    dst = rng.integers(0, nodes - 1, size=len(src), dtype=np.int64)
    dst += dst >= src  # skip self-loops
    return {
        "nodes": pd.DataFrame({"vid": np.arange(nodes, dtype=np.int64)}),
        "edges": pd.DataFrame({"src": src, "dst": dst, "weight": np.ones(len(src))}),
    }


STDLIB_IMPORTS = ("import os", "import sys", "from typing import Any", "from collections import deque")


def source_corpus(seed: int, repos: int, files_per_repo: int, avg_imports: int, max_imports: int):
    """Corpus table (repo, path, commit, lang, content) of Python-like files.

    File (r, m) is module ``pkg_r{r}_m{m}`` at repo ``org/repo_{r}``, path
    ``pkg/mod_{m}.py`` -- the naming the library's extractor resolves by
    default. Each file imports 1..max_imports other corpus modules (as
    ``import x`` or ``from x import f``, repeats allowed) and 0-2 standard
    library modules, which stay unresolved. The per-file import counts
    are the same multiset for every seed, dealt in a seeded order.
    """
    rng = np.random.default_rng([seed, 2])
    n = repos * files_per_repo
    spread = np.arange(n)
    n_imports = np.minimum(max_imports, 1 + spread % (2 * avg_imports))[rng.permutation(n)]
    n_stdlib = (spread % 3)[rng.permutation(n)]
    rows = []
    for fid in range(n):
        r, m = divmod(fid, files_per_repo)
        tgt = rng.integers(0, n - 1, size=n_imports[fid])
        tgt += tgt >= fid
        styles = rng.random(len(tgt)) < 0.5
        lines = [
            f"from pkg_r{t // files_per_repo}_m{t % files_per_repo} import f_{t}"
            if s else f"import pkg_r{t // files_per_repo}_m{t % files_per_repo}"
            for t, s in zip(tgt.tolist(), styles.tolist())
        ]
        lines += list(rng.choice(STDLIB_IMPORTS, size=n_stdlib[fid], replace=False))
        rng.shuffle(lines)
        content = (
            f'"""module pkg_r{r}_m{m}."""\n' + "\n".join(lines)
            + f"\n\n\ndef f_{fid}():\n    return {fid}\n"
        )
        rows.append((
            f"org/repo_{r}",
            f"pkg/mod_{m}.py",
            hashlib.sha1(f"{seed}:{r}".encode()).hexdigest(),
            "py",
            content,
        ))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def fingerprint(df: pd.DataFrame) -> dict:
    """Row count and an order-independent 64-bit hash of all rows."""
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return {"rows": len(df), "hash": f"{int(h.sum(dtype=np.uint64)):016x}"}


def write_table(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), FILES_PER_TABLE)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[part], preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def read_table(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def materialize(directory: str, build) -> dict[str, pd.DataFrame]:
    """Write the tables ``build()`` returns (name -> DataFrame) to
    ``directory`` once; on every call re-read them and assert their
    fingerprints. Returns the tables as read back."""
    manifest = os.path.join(directory, "fingerprint.json")
    if not os.path.exists(manifest):
        prints = {}
        for name, df in build().items():
            write_table(df, os.path.join(directory, name))
            prints[name] = fingerprint(read_table(os.path.join(directory, name)))
        tmp = manifest + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(prints, fh, indent=1, sort_keys=True)
        os.replace(tmp, manifest)  # written last: marks the inputs complete
    with open(manifest) as fh:
        expected = json.load(fh)
    out = {}
    for name, want in expected.items():
        out[name] = read_table(os.path.join(directory, name))
        got = fingerprint(out[name])
        if got != want:
            raise InputMismatch(f"{directory}/{name}: fingerprint {got} != {want}")
    return out
