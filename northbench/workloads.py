"""The timed north-rule jobs, their oracles and their checks.

A workload builds its input table and oracle once per set-up
(``make_inputs``), then ``job`` runs the timed calls in order and returns a
``JobRun``; ``check`` compares the run's outputs with the oracle after the
clock has stopped. Every public call in a job is one operation: it fails
when it raises or when its output differs from the oracle.

``WARM`` caps every iterative call for the warm-up pass in set-up, so
first-call code generation and Python worker start-up are paid there and
not in the timed job.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from northbench import inputs, oracles
from northbench.trace import Tracer
from webgraph_rs_spark.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from webgraph_rs_spark.driver import CheckpointStore, release_state
from webgraph_rs_spark.extract import build_graph_from_pages, extract_pages, verify_extraction
from webgraph_rs_spark.graph import from_edges

THRESHOLD = 1e-6  # the north rule's PageRank tolerance


@dataclass(frozen=True)
class Caps:
    """Iteration limits of one job."""

    pagerank: int
    kill_at: int  # pagerank-resume: iterations committed before the simulated kill
    cc: int
    lp: int


FULL = Caps(pagerank=200, kill_at=5, cc=200, lp=30)  # the engine's default limits
WARM = Caps(pagerank=1, kill_at=1, cc=1, lp=1)


@dataclass
class Oracle:
    n: int
    src: np.ndarray  # distinct arcs in the ids the engine assigns
    dst: np.ndarray
    ranks: np.ndarray
    cc: np.ndarray
    lp: np.ndarray
    lp_rounds: int
    triangles: int
    wedges: int


def make_oracle(n: int, src: np.ndarray, dst: np.ndarray, with_lp_triangles: bool) -> Oracle:
    src, dst = oracles.dedup(n, src, dst)
    lp, rounds, tri, wedges = None, 0, 0, 0
    if with_lp_triangles:
        lp, rounds = oracles.label_propagation(n, src, dst, FULL.lp)
        tri, wedges = oracles.triangles(n, src, dst)
    return Oracle(
        n, src, dst, oracles.pagerank(n, src, dst), oracles.components(n, src, dst),
        lp, rounds, tri, wedges,
    )


@dataclass
class Inputs:
    path: str
    oracle: Oracle
    rows: int = 0  # pages
    html_bytes: int = 0


@dataclass
class JobRun:
    ops: list[str]
    failed: set[str] = field(default_factory=set)
    seconds: dict[str, float] = field(default_factory=dict)  # wall time per call
    out: dict = field(default_factory=dict)  # results, read by check()
    frames: list[DataFrame] = field(default_factory=list)  # Spark state to release

    def call(self, name: str, fn):
        """Run one operation, timing it; a raise marks it failed and is re-raised."""
        t0 = time.monotonic()
        try:
            return fn()
        except Exception:
            self.failed.add(name)
            raise
        finally:
            self.seconds[name] = self.seconds.get(name, 0.0) + time.monotonic() - t0


def by_id(df: DataFrame, col: str, n: int) -> np.ndarray:
    pdf = df.toPandas()
    out = np.full(n, np.nan if col == "rank" else -1, dtype=float if col == "rank" else np.int64)
    out[pdf["id"].to_numpy(np.int64)] = pdf[col].to_numpy()
    return out


def walls(history: list[dict]) -> list[float]:
    return [m["wall_sec"] for m in history if "wall_sec" in m]


class Workload:
    name: str
    ops: list[str]

    def make_inputs(self, spark: SparkSession, seed: int, work: str, partitions: int, tr: Tracer) -> Inputs:
        raise NotImplementedError

    def job(self, spark: SparkSession, inp: Inputs, tr: Tracer, work: str, caps: Caps) -> JobRun:
        """Run the timed calls. Exceptions are reported, not raised: the
        failing call and every later one count as failed."""
        run = JobRun(list(self.ops))
        t0 = time.monotonic()
        try:
            with tr.span("job"):
                self._calls(spark, inp, tr, work, caps, run)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            if run.failed:
                first = self.ops.index(next(iter(run.failed)))
                run.failed.update(self.ops[first:])
            else:
                run.failed.update(self.ops)
        run.seconds["job"] = time.monotonic() - t0
        return run

    def _calls(self, spark, inp, tr, work, caps, run) -> None:
        raise NotImplementedError

    def pagerank_results(self, run: JobRun) -> list:
        raise NotImplementedError

    @staticmethod
    def checkpoint_stats(run: JobRun) -> dict[str, int]:
        """Commits and bytes in the run's checkpoint store, if it has one."""
        ckpt = run.out.get("ckpt")
        if not ckpt or not os.path.isdir(ckpt):
            return {"commits": 0, "bytes": 0}
        commits = len(CheckpointStore(ckpt, "pagerank").manifest())
        size = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(ckpt) for f in fs
        )
        return {"commits": commits, "bytes": size}

    def check(self, run: JobRun, oracle: Oracle) -> None:
        """Compare outputs with the oracle; mismatches mark the op failed."""
        for op in self.ops:
            if op in run.failed:
                continue
            try:
                ok = self._check(op, run, oracle)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                print(f"oracle mismatch: {self.name} {op}", file=sys.stderr)
                run.failed.add(op)

    def _check(self, op: str, run: JobRun, o: Oracle) -> bool:
        raise NotImplementedError

    @staticmethod
    def release(run: JobRun) -> None:
        """Free the run's cached tables and files."""
        for f in run.frames:
            release_state(f)
        run.frames.clear()
        if "graph" in run.out:
            run.out.pop("graph").unpersist()
        for key in ("edges_path", "ckpt"):
            if key in run.out:
                shutil.rmtree(run.out.pop(key), ignore_errors=True)

    @staticmethod
    def _graph_ok(run: JobRun, o: Oracle) -> bool:
        pdf = run.out["graph"].edges.toPandas()
        src, dst = oracles.dedup(o.n, pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64))
        return (
            run.out["graph"].num_nodes == o.n
            and run.out["graph"].num_arcs == len(o.src)  # the engine dedups arcs
            and np.array_equal(src, o.src)
            and np.array_equal(dst, o.dst)
        )

    @staticmethod
    def _ranks_ok(pr, o: Oracle) -> bool:
        ranks = by_id(pr.ranks, "rank", o.n)
        return pr.err <= THRESHOLD and bool(np.allclose(ranks, o.ranks, rtol=0, atol=THRESHOLD))


class CrawlPipeline(Workload):
    """pages -> verify -> edge table -> PageRank -> CC -> LP -> triangles."""

    name = "crawl-pipeline"
    ops = [
        "verify_extraction", "build_graph_from_pages", "from_edges", "pagerank",
        "connected_components", "label_propagation", "triangle_count",
    ]

    def make_inputs(self, spark, seed, work, partitions, tr):
        path = os.path.join(work, "pages")
        shape = inputs.CRAWL
        with tr.span("synthesize_pages"):
            src, dst = inputs.write_pages(spark, shape, seed, path, partitions)
        ids = inputs.url_ids(shape.nodes)
        rows, html_bytes = inputs.html_stats(path)
        return Inputs(
            path, make_oracle(shape.nodes, ids[src], ids[dst], with_lp_triangles=True),
            rows=rows, html_bytes=html_bytes,
        )

    def _calls(self, spark, inp, tr, work, caps, run):
        pages = spark.read.parquet(inp.path)
        with tr.span("verify_extraction"):
            run.out["violations"] = run.call(
                "verify_extraction", lambda: verify_extraction(pages).count()
            )
        if tr.enabled and caps is FULL:
            # traced only: extraction on its own, so its time is separable
            # from the graph build that repeats it
            with tr.span("extract_pages"):
                t0 = time.monotonic()
                row = extract_pages(pages).agg(
                    F.count(F.lit(1)).alias("pages"), F.sum(F.size("links")).alias("links")
                ).collect()[0]
                run.seconds["extract_pages"] = time.monotonic() - t0
                run.out["links"] = int(row["links"] or 0)

        def build():
            g, _ = build_graph_from_pages(spark, pages)
            g.edges.write.parquet(edges_path)
            return g.num_nodes

        def reload(n):
            g = from_edges(spark, spark.read.parquet(edges_path), num_nodes=n)
            g.persist()
            g.num_arcs  # materialize the persisted canonical edge table
            return g

        # the ingest ends with the canonical edge table written out; the
        # analytics read it back, as a separate job would
        edges_path = os.path.join(work, f"edges-{time.monotonic_ns()}")
        run.out["edges_path"] = edges_path
        with tr.span("build_graph_from_pages"):
            n = run.call("build_graph_from_pages", build)
        with tr.span("from_edges"):
            g = run.out["graph"] = run.call("from_edges", lambda: reload(n))
        with tr.span("pagerank"):
            pr = run.out["pagerank"] = run.call(
                "pagerank", lambda: pagerank(g, threshold=THRESHOLD, max_iter=caps.pagerank)
            )
        run.frames.append(pr.ranks)
        with tr.span("connected_components"):
            cc = run.out["cc"] = run.call(
                "connected_components",
                lambda: connected_components(g, max_iter=caps.cc),
            )
        run.frames.append(cc.labels)
        with tr.span("label_propagation"):
            lp = run.out["lp"] = run.call(
                "label_propagation",
                lambda: label_propagation(g, max_iter=caps.lp),
            )
        run.frames.append(lp.labels)
        with tr.span("triangle_count"):
            run.out["triangles"] = run.call("triangle_count", lambda: triangle_count(g))

    def pagerank_results(self, run):
        return [run.out["pagerank"]]

    def _check(self, op, run, o):
        if op == "verify_extraction":
            return run.out["violations"] == 0
        if op == "build_graph_from_pages":
            return True  # its output is checked through from_edges
        if op == "from_edges":
            return self._graph_ok(run, o)
        if op == "pagerank":
            return self._ranks_ok(run.out["pagerank"], o)
        if op == "connected_components":
            return np.array_equal(by_id(run.out["cc"].labels, "label", o.n), o.cc)
        if op == "label_propagation":
            lp = run.out["lp"]
            return lp.iterations == o.lp_rounds and np.array_equal(
                by_id(lp.labels, "label", o.n), o.lp
            )
        if op == "triangle_count":
            return run.out["triangles"] == o.triangles
        raise ValueError(op)


class PageRankResume(Workload):
    """edges -> graph -> PageRank killed after ``kill_at`` commits ->
    resumed PageRank to convergence -> CC."""

    name = "pagerank-resume"
    ops = ["from_edges", "pagerank_killed", "pagerank_resumed", "connected_components"]

    def make_inputs(self, spark, seed, work, partitions, tr):
        path = os.path.join(work, "edges")
        shape = inputs.RESUME
        src, dst = inputs.write_edges(spark, shape, seed, path, partitions)
        return Inputs(path, make_oracle(shape.nodes, src, dst, with_lp_triangles=False))

    def _calls(self, spark, inp, tr, work, caps, run):
        n = inp.oracle.n
        edges = spark.read.parquet(inp.path)

        def build():
            g = from_edges(spark, edges, num_nodes=n)
            g.persist()
            g.num_arcs  # materialize the persisted canonical edge table
            return g

        with tr.span("from_edges"):
            g = run.out["graph"] = run.call("from_edges", build)
        ckpt = os.path.join(work, f"ckpt-{time.monotonic_ns()}")
        run.out["ckpt"] = ckpt
        with tr.span("pagerank"):
            killed = run.out["killed"] = run.call(
                "pagerank_killed",
                lambda: pagerank(
                    g, threshold=THRESHOLD, checkpoint_dir=ckpt, checkpoint_every=1,
                    max_iter=caps.kill_at,
                ),
            )
        run.frames.append(killed.ranks)
        with tr.span("pagerank"):
            resumed = run.out["resumed"] = run.call(
                "pagerank_resumed",
                lambda: pagerank(
                    g, threshold=THRESHOLD, checkpoint_dir=ckpt, checkpoint_every=1,
                    resume=True, max_iter=caps.pagerank,
                ),
            )
        run.frames.append(resumed.ranks)
        with tr.span("connected_components"):
            cc = run.out["cc"] = run.call(
                "connected_components",
                lambda: connected_components(g, max_iter=caps.cc),
            )
        run.frames.append(cc.labels)

    def pagerank_results(self, run):
        return [run.out["killed"], run.out["resumed"]]

    def _check(self, op, run, o):
        if op == "from_edges":
            return self._graph_ok(run, o)
        if op == "pagerank_killed":
            return run.out["killed"].iterations == FULL.kill_at
        if op == "pagerank_resumed":
            res = run.out["resumed"]
            return res.resumed_from == FULL.kill_at and self._ranks_ok(res, o)
        if op == "connected_components":
            return np.array_equal(by_id(run.out["cc"].labels, "label", o.n), o.cc)
        raise ValueError(op)


WORKLOADS: dict[str, Workload] = {w.name: w for w in (CrawlPipeline(), PageRankResume())}
