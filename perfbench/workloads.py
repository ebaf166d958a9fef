"""The benchmark workloads: seeded inputs, one timed repetition through the
library's public API, and the output checks against perfbench.oracles.

A repetition starts at its first library call and ends when its last
result table is written to parquet. Each call into a layer sits inside a
tracer span named after the library module it enters.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np

from graph_data_science_spark.operators.lpa import label_propagation
from graph_data_science_spark.operators.pagerank import page_rank
from graph_data_science_spark.operators.pregel import PregelEngine
from graph_data_science_spark.operators.triangle import triangle_count
from graph_data_science_spark.operators.wcc import wcc
from graph_data_science_spark.plans.catalog import GraphCatalog
from graph_data_science_spark.plans.csr import build_csr_blocks, csr_page_rank
from graph_data_science_spark.plans.graph import Aggregation, Graph
from graph_data_science_spark.sources.extract import extract_import_edges
from pyspark.sql import functions as F

from perfbench import inputs, oracles

DAMPING = 0.85
TOLERANCE = 1e-6
STATS_INTERVAL = 5
SCORE_TOL = 1e-6  # rtol and atol of the PageRank score comparison


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _close(got: np.ndarray, want: np.ndarray) -> bool:
    return got.shape == want.shape and np.allclose(got, want, rtol=SCORE_TOL, atol=SCORE_TOL)


@dataclass
class Rep:
    """What one repetition measured, plus where its outputs are."""

    job_s: float
    pagerank_edge_steps: float  # PageRank edges x supersteps
    pagerank_s: float
    layer: dict  # per-layer metrics of this repetition
    windows: list  # pregel wall_sec per stats window
    out_dir: str


class PowerlawGraph:
    """In-memory SQL operators on a seeded power-law graph: PageRank's
    superstep loop, WCC and LPA (Pregel) and triangle counting (joins)."""

    name = "powerlaw_graph"
    sizes = {"full": 10000, "warmup": 200, "selftest": 400}
    avg_degree = 8
    pagerank_iterations = 10
    wcc_iterations = 100  # to convergence, checked every superstep
    lpa_iterations = 5  # one stats window

    def __init__(self, cache: str, seed: int, size: str):
        self.n = self.sizes[size]
        # every parameter the inputs or expected outputs depend on
        key = f"n{self.n}-d{self.avg_degree}-pr{self.pagerank_iterations}-lpa{self.lpa_iterations}"
        self.dir = os.path.join(cache, self.name, f"{key}-seed{seed}")
        self.tables = inputs.materialize(
            self.dir, lambda: inputs.powerlaw_graph(seed, self.n, self.avg_degree)
        )
        self.edges = len(self.tables["edges"])
        self.expected = self._expected()

    def _expected(self) -> dict:
        path = os.path.join(self.dir, "expected.npz")
        if not os.path.exists(path):
            e = self.tables["edges"]
            src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
            rank, ran, _ = oracles.pagerank(
                self.n, src, dst, DAMPING, TOLERANCE, self.pagerank_iterations, STATS_INTERVAL
            )
            tmp = path + ".tmp.npz"
            np.savez(
                tmp,
                rank=rank,
                ran=ran,
                component=oracles.components(self.n, src, dst),
                label=oracles.label_propagation(self.n, src, dst, self.lpa_iterations),
                triangles=oracles.triangles(self.n, src, dst),
            )
            os.replace(tmp, path)
        with np.load(path) as z:
            return {k: z[k] for k in z.files}

    def run(self, spark, tracer, out_dir: str, light: bool = False) -> Rep:
        """light=True is the warm-up: every call, each with its fewest
        supersteps (one stats window)."""
        pagerank_iterations = STATS_INTERVAL if light else self.pagerank_iterations
        layer: dict = {}
        t0 = time.time()
        with tracer.span("sources", "read"):
            g = Graph.from_edges(
                spark.read.parquet(os.path.join(self.dir, "edges")),
                nodes=spark.read.parquet(os.path.join(self.dir, "nodes")),
            ).persist()
            layer["sources.scan_rows"] = g.edges.count() + g.nodes.count()
        layer["sources.read_s"] = tracer.spans[-1].seconds

        with tracer.span("pagerank", "page_rank"):
            a = time.time()
            pr = page_rank(
                g, damping_factor=DAMPING, tolerance=TOLERANCE,
                max_iterations=pagerank_iterations, stats_interval=STATS_INTERVAL,
            )
            pagerank_s = time.time() - a
            pr.scores.write.parquet(os.path.join(out_dir, "pagerank"))
        with tracer.span("wcc", "wcc"):
            a = time.time()
            cc = wcc(g, max_iterations=2 if light else self.wcc_iterations)
            layer["wcc.iterate_s"] = time.time() - a
            cc.components.write.parquet(os.path.join(out_dir, "wcc"))
        with tracer.span("lpa", "label_propagation"):
            a = time.time()
            lp = label_propagation(
                g, max_iterations=self.lpa_iterations, stats_interval=self.lpa_iterations
            )
            layer["lpa.iterate_s"] = time.time() - a
            lp.labels.write.parquet(os.path.join(out_dir, "lpa"))
        with tracer.span("triangle", "triangle_count"):
            a = time.time()
            tc = triangle_count(g)
            layer["triangle.iterate_s"] = time.time() - a
            tc.per_node.write.parquet(os.path.join(out_dir, "triangle"))
        job_s = time.time() - t0
        g.unpersist()

        layer.update({
            "pagerank.iterate_s": pagerank_s,
            "pagerank.supersteps": pr.ran_iterations,
            "wcc.supersteps": cc.ran_iterations,
            "lpa.supersteps": lp.ran_iterations,
            "triangle.triangles": tc.global_count,
        })
        return Rep(
            job_s=job_s,
            pagerank_edge_steps=float(self.edges * pr.ran_iterations),
            pagerank_s=pagerank_s,
            layer=layer,
            windows=[m["wall_sec"] for r in (pr, cc, lp) for m in r.metrics],
            out_dir=out_dir,
        )

    def check(self, rep: Rep) -> list[str]:
        exp, bad = self.expected, []
        pr = inputs.read_table(os.path.join(rep.out_dir, "pagerank")).sort_values("vid")
        if not (np.array_equal(pr["vid"].to_numpy(), np.arange(self.n))
                and _close(pr["score"].to_numpy(), exp["rank"])):
            bad.append("pagerank scores differ from the numpy replay")
        if rep.layer["pagerank.supersteps"] != int(exp["ran"]):
            bad.append(f"pagerank ran {rep.layer['pagerank.supersteps']} supersteps, expected {int(exp['ran'])}")
        for name, col, want in (
            ("wcc", "component", exp["component"]),
            ("lpa", "label", exp["label"]),
            ("triangle", "triangles", exp["triangles"]),
        ):
            df = inputs.read_table(os.path.join(rep.out_dir, name)).sort_values("vid")
            if not (np.array_equal(df["vid"].to_numpy(), np.arange(self.n))
                    and np.array_equal(df[col].to_numpy(), want)):
                bad.append(f"{name} {col} differ from the reference")
        if rep.layer["triangle.triangles"] * 3 != int(exp["triangles"].sum()):
            bad.append("global triangle count differs from the reference")
        return bad


class CorpusPipeline:
    """The paper's end-to-end path on a seeded source-code corpus: import
    extraction, catalog projection (parquet writes), CSR blocks with the
    Arrow/pandas SpMV kernel, and durable checkpoint + resume."""

    name = "corpus_pipeline"
    sizes = {"full": (40, 100), "warmup": (2, 20), "selftest": (3, 40)}
    avg_imports = 4
    max_imports = 16
    first_iterations = 5  # the interrupted run
    total_iterations = 10  # the resumed run's limit

    def __init__(self, cache: str, seed: int, size: str):
        repos, files = self.sizes[size]
        key = f"r{repos}x{files}-i{self.avg_imports}-{self.max_imports}-pr{self.total_iterations}"
        self.dir = os.path.join(cache, self.name, f"{key}-seed{seed}")
        self.tables = inputs.materialize(
            self.dir,
            lambda: {"corpus": inputs.source_corpus(
                seed, repos, files, self.avg_imports, self.max_imports)},
        )
        self.expected = self._expected()
        self.edges = len(self.expected["pairs"])

    def _expected(self) -> dict:
        path = os.path.join(self.dir, "expected.npz")
        if not os.path.exists(path):
            corpus = self.tables["corpus"]
            n = len(corpus)
            src, dst, parsed = oracles.import_edges(corpus)
            pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
            rank, ran, _ = oracles.pagerank(
                n, pairs[:, 0], pairs[:, 1], DAMPING, TOLERANCE,
                self.total_iterations, STATS_INTERVAL,
            )
            tmp = path + ".tmp.npz"
            np.savez(
                tmp, sha=np.array(oracles.content_sha256(corpus)), pairs=pairs,
                resolved=len(src), parsed=parsed, rank=rank, ran=ran,
            )
            os.replace(tmp, path)
        with np.load(path) as z:
            return {k: z[k] for k in z.files}

    def run(self, spark, tracer, out_dir: str, light: bool = False) -> Rep:
        """light=True is the warm-up: every call, fewest supersteps (the
        resumed run still executes one CSR superstep)."""
        first, total = (1, 2) if light else (self.first_iterations, self.total_iterations)
        layer: dict = {}
        catalog_root = os.path.join(out_dir, "catalog")
        checkpoints = os.path.join(out_dir, "checkpoints")
        t0 = time.time()
        with tracer.span("sources", "read"):
            corpus = spark.read.parquet(os.path.join(self.dir, "corpus"))
            layer["sources.scan_rows"] = corpus.count()
        layer["sources.read_s"] = tracer.spans[-1].seconds
        with tracer.span("sources", "extract_import_edges"):
            vertices, edges = extract_import_edges(corpus)
            vertices, edges = vertices.persist(), edges.persist()
            layer["sources.edges_out"] = edges.count()
            vertices.count()
        layer["sources.extract_s"] = tracer.spans[-1].seconds
        layer["sources.resolved_ratio"] = layer["sources.edges_out"] / float(self.expected["parsed"])

        with tracer.span("plans", "from_edges"):
            projected = Graph.from_edges(edges, nodes=vertices, aggregation=Aggregation.SINGLE)
            projected.edges.persist().count()
        layer["plans.project_s"] = tracer.spans[-1].seconds
        with tracer.span("plans", "catalog_project"):
            g = GraphCatalog(spark, catalog_root).project(
                "imports", projected.edges, nodes=projected.nodes
            )
        layer["plans.catalog_write_s"] = tracer.spans[-1].seconds

        with tracer.span("csr", "build_csr_blocks"):
            csr = build_csr_blocks(g)
        layer["csr.build_s"] = tracer.spans[-1].seconds

        def pagerank_call(iterations: int, resume: bool):
            return csr_page_rank(
                g, damping_factor=DAMPING, tolerance=TOLERANCE, max_iterations=iterations,
                stats_interval=STATS_INTERVAL, csr=csr, resume=resume,
                engine=PregelEngine(spark, checkpoint_dir=checkpoints),
            )

        with tracer.span("pagerank", "csr_page_rank"):
            pagerank_call(first, resume=False)
        first_s = tracer.spans[-1].seconds
        with tracer.span("checkpoint", "csr_page_rank_resume"):
            a = time.time()
            pr = pagerank_call(total, resume=True)
            layer["checkpoint.resume_s"] = time.time() - a
            pr.scores.write.parquet(os.path.join(out_dir, "pagerank"))
        job_s = time.time() - t0

        block_edges = [r[0] for r in csr.blocks.select(F.size("dst_vids")).collect()]
        csr.unpersist()
        projected.edges.unpersist()
        vertices.unpersist()
        edges.unpersist()
        layer.update({
            "plans.catalog_write_mb": _dir_bytes(catalog_root) / 2**20,
            "csr.blocks": len(block_edges),
            "csr.block_skew": max(block_edges) / statistics.fmean(block_edges),
            "pagerank.iterate_s": first_s + layer["checkpoint.resume_s"],
            "pagerank.supersteps": pr.ran_iterations,
            "checkpoint.snapshots": sum(d.startswith("superstep=") for d in os.listdir(checkpoints)),
            "checkpoint.bytes": _dir_bytes(checkpoints),
        })
        return Rep(
            job_s=job_s,
            pagerank_edge_steps=float(self.edges * pr.ran_iterations),
            pagerank_s=layer["pagerank.iterate_s"],
            layer=layer,
            windows=[m["wall_sec"] for m in pr.metrics],
            out_dir=out_dir,
        )

    def check(self, rep: Rep) -> list[str]:
        exp, corpus, bad = self.expected, self.tables["corpus"], []
        row_of = {(r, p): i for i, (r, p) in enumerate(zip(corpus["repo"], corpus["path"]))}
        nodes = inputs.read_table(os.path.join(rep.out_dir, "catalog", "imports", "nodes"))
        rows = np.array([row_of.get((r, p), -1) for r, p in zip(nodes["repo"], nodes["path"])])
        if len(nodes) != len(corpus) or sorted(rows.tolist()) != list(range(len(corpus))):
            return ["catalog nodes are not one per corpus file"]
        row = np.full(int(nodes["vid"].max()) + 1, -1)
        row[nodes["vid"].to_numpy()] = rows
        if not (nodes["content_sha256"].to_numpy() == exp["sha"][rows]).all():
            bad.append("content_sha256 differs from hashlib over the corpus rows")
        if rep.layer["sources.edges_out"] != int(exp["resolved"]):
            bad.append(f"extracted {rep.layer['sources.edges_out']} edges, re-parse gives {int(exp['resolved'])}")
        e = inputs.read_table(os.path.join(rep.out_dir, "catalog", "imports", "edges"))
        pairs = np.unique(np.stack([row[e["src"].to_numpy()], row[e["dst"].to_numpy()]], axis=1), axis=0)
        if len(e) != len(exp["pairs"]) or not np.array_equal(pairs, exp["pairs"]):
            bad.append("catalog edges differ from the re-parsed import pairs")
        pr = inputs.read_table(os.path.join(rep.out_dir, "pagerank"))
        score = np.full(len(corpus), np.nan)
        score[row[pr["vid"].to_numpy()]] = pr["score"].to_numpy()
        if len(pr) != len(corpus) or not _close(score, exp["rank"]):
            bad.append("csr pagerank scores differ from the numpy replay")
        if rep.layer["pagerank.supersteps"] != int(exp["ran"]):
            bad.append(f"pagerank ran {rep.layer['pagerank.supersteps']} supersteps, expected {int(exp['ran'])}")
        return bad


WORKLOADS = {w.name: w for w in (PowerlawGraph, CorpusPipeline)}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
