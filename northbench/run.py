"""North-rule benchmark: one workload, one seed, one JSON result line.

    python3 northbench/run.py --workload crawl-pipeline --seed 1 --seconds 30 --trace 0

Run from the repository root. Set-up (timed as ``setup_s``) starts the
Spark session at ``local[nproc]``, writes the seeded input table, computes
the NumPy oracle and runs a warm-up pass of every timed call. Then the
north-rule job runs untraced, at least once and again while the next run is
expected to end within ``--seconds``; every output is checked against the
oracle. With ``--trace 1`` one untraced and one traced
job run instead, and the per-layer metrics of the traced one are reported.
``--workload all`` runs every workload in turn and prints a table.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the metric names of ``BENCHMARK.json``. Scratch files live under
``.northbench/`` in the working directory; traces are kept in
``.northbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

MAX_RUN_S = 150  # stop starting jobs past this, whatever --seconds says
PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the Spark JVM and its
    Python workers), sampled from /proc while ``active`` is set."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.active = threading.Event()
        self.done = threading.Event()
        self.peak = 0

    def run(self) -> None:
        me = os.getpid()
        while not self.done.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, sum(_rss_bytes(p) for p in _descendants(me)))

    def stop(self) -> None:
        self.done.set()
        self.join()


def start_session(nproc: int, work: str):
    from webgraph_rs_spark import get_spark

    return get_spark(
        app_name="northbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            # a fixed-size heap: peak RSS then does not depend on when the
            # JVM chose to grow it
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            # the tracer reads job and stage counts back after each span
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop the session, end the JVM and wait until it and its Python
    workers are gone."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and _state(p) != "Z"]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "Z"


def _p90(values: list[float]) -> float:
    values = sorted(values)
    return values[min(len(values) - 1, int(0.9 * len(values)))]


def _pagerank_seconds(run) -> float:
    return sum(v for k, v in run.seconds.items() if k.startswith("pagerank"))


def _pagerank_iterations(wl, run) -> int:
    """Iterations executed, the restored ones of a resumed call excluded."""
    return sum(r.iterations - (r.resumed_from or 0) for r in wl.pagerank_results(run))


def _pagerank_walls(wl, run) -> list[float]:
    """Wall time of each PageRank iteration the job executed."""
    from northbench.workloads import walls

    return [w for r in wl.pagerank_results(run) for w in walls(r.metrics_history)]


def end_to_end(wl, runs, setup_s: float, peak_rss: int) -> dict[str, float]:
    """Medians over the run's untraced jobs."""

    def med(f):
        return statistics.median(f(r) for r in runs)

    return {
        "setup_s": setup_s,
        "job_s": med(lambda r: r.seconds["job"]),
        "pagerank_converge_s": med(_pagerank_seconds),
        "pagerank_arcs_per_s": med(
            lambda r: r.out["graph"].num_arcs * _pagerank_iterations(wl, r) / _pagerank_seconds(r)
        ),
        "cc_s": med(lambda r: r.seconds["connected_components"]),
        "peak_rss_mb": peak_rss / 2**20,
    }


def workload_specific(run, inp) -> dict[str, float]:
    """Timings of calls only some workloads make; 0 where bypassed."""
    s = run.seconds
    ingest = s.get("build_graph_from_pages")
    return {
        "ingest_pages_per_s": inp.rows / ingest if ingest else 0.0,
        "resume_s": s.get("pagerank_resumed", 0.0),
        "labelprop_s": s.get("label_propagation", 0.0),
        "triangles_s": s.get("triangle_count", 0.0),
    }


SPANS = [
    "job", "get_spark", "synthesize_pages", "verify_extraction", "extract_pages",
    "build_graph_from_pages", "from_edges", "pagerank", "connected_components",
    "label_propagation", "triangle_count",
]


def per_layer(wl, run, inp, tr, setup: dict, untraced_job_s: float) -> dict[str, float]:
    """Layer metrics of one traced job; 0 for a layer the workload bypasses."""
    from northbench.workloads import by_id, walls

    o = inp.oracle
    s = run.seconds
    spans = tr.totals()
    g = run.out["graph"]
    prs = wl.pagerank_results(run)
    pr_walls = _pagerank_walls(wl, run)
    pr_iters = _pagerank_iterations(wl, run)
    pr_span = spans["pagerank"]
    final_pr = prs[-1]
    extract_s = s.get("extract_pages", 0.0)
    links = run.out.get("links", 0)
    ckpt = wl.checkpoint_stats(run)
    resumed_from = final_pr.resumed_from or 0
    after_resume = walls(final_pr.metrics_history) if resumed_from else []
    cc = run.out["cc"]
    lp = run.out.get("lp")
    lp_history = lp.metrics_history if lp else []
    tri = run.out.get("triangles", 0)
    # the standalone extraction call is extra work of the traced job, not tracing cost
    traced_job_s = s["job"] - extract_s
    out: dict[str, float] = {
        "session.start_s": setup["get_spark"],
        "pages.synthesize_s": setup["synthesize_pages"],
        "pages.rows": inp.rows,
        "pages.html_bytes": inp.html_bytes,
        **workload_specific(run, inp),
        "extract.s": extract_s,
        "extract.pages_per_s": inp.rows / extract_s if extract_s else 0.0,
        "extract.html_mb_per_s": inp.html_bytes / 2**20 / extract_s if extract_s else 0.0,
        "extract.verify_s": s.get("verify_extraction", 0.0),
        "extract.violations": run.out.get("violations", 0),
        "extract.links": links,
        "extract.links_resolved_frac": g.num_arcs / links if links else 0.0,
        "graph.build_s": s.get("build_graph_from_pages", 0.0) + s["from_edges"],
        "graph.arcs": g.num_arcs,
        "graph.nodes": g.num_nodes,
        "graph.dangling": o.n - len(np.unique(o.src)),
        "driver.ckpt_commits": ckpt["commits"],
        "driver.ckpt_bytes": ckpt["bytes"],
        "driver.resumed_from": resumed_from,
        # iterations the killed call ran past its last commit
        "driver.redone_iters": prs[0].iterations - resumed_from if resumed_from else 0,
        "driver.iter_s_first_after_resume": after_resume[0] if after_resume else 0.0,
        "pagerank.iters": pr_iters,
        "pagerank.iter_s_p50": statistics.median(pr_walls),
        "pagerank.iter_s_p90": _p90(pr_walls),
        "pagerank.pre_iter_s": _pagerank_seconds(run) - sum(pr_walls),
        "pagerank.jobs_per_iter": pr_span["jobs"] / pr_iters,
        "pagerank.stages_per_iter": pr_span["stages"] / pr_iters,
        "pagerank.tasks_per_iter": pr_span["tasks"] / pr_iters,
        "pagerank.max_abs_err": float(np.abs(by_id(final_pr.ranks, "rank", o.n) - o.ranks).max()),
        "components.rounds": cc.iterations,
        "components.round_s_p50": statistics.median(walls(cc.metrics_history)),
        "components.modified_total": sum(m.get("modified", 0) for m in cc.metrics_history),
        "components.jobs": spans["connected_components"]["jobs"],
        "labelprop.rounds": lp.iterations if lp else 0,
        "labelprop.round_s_p50": statistics.median(walls(lp_history)) if lp else 0.0,
        "labelprop.modified_total": sum(m.get("modified", 0) for m in lp_history),
        "labelprop.jobs": spans.get("label_propagation", {}).get("jobs", 0),
        "triangles.count": tri,
        "triangles.wedges": o.wedges,
        "triangles.closed_frac": tri / o.wedges if o.wedges else 0.0,
        "triangles.jobs": spans.get("triangle_count", {}).get("jobs", 0),
        "triangles.tasks": spans.get("triangle_count", {}).get("tasks", 0),
        "trace.job_s": traced_job_s,
        "trace.untraced_job_s": untraced_job_s,
        "trace.overhead_s": traced_job_s - untraced_job_s,
        "trace.bookkeeping_s": tr.bookkeeping_s,
    }
    for name in SPANS:
        t = spans.get(name, {})
        for key in ("jobs", "stages", "tasks", "self_s"):
            out[f"span.{name}.{key}"] = t.get(key, 0)
    return out


def run_one(args) -> int:
    try:
        import webgraph_rs_spark  # noqa: F401
    except ImportError as e:
        print(f"northbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from northbench.trace import Tracer
    from northbench.workloads import FULL, WARM, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"northbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".northbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Spark's scratch space, and the import path of its Python workers;
    # no JVM writes its /tmp/hsperfdata file
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    t_start = time.monotonic()
    sampler = RssSampler()
    sampler.start()
    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
    tr = Tracer(bool(args.trace), run_id)
    quiet = Tracer(False, run_id)
    spark = None
    runs = []  # every job, the warm-up included: all count as operations
    values: dict[str, float] = {}
    try:
        t0 = time.monotonic()
        with tr.span("get_spark"):
            spark = start_session(nproc, work)
        setup = {"get_spark": time.monotonic() - t0}
        tr.sc = spark.sparkContext
        t1 = time.monotonic()
        inp = wl.make_inputs(spark, args.seed, work, nproc, tr)
        setup["synthesize_pages"] = time.monotonic() - t1 if inp.rows else 0.0
        t2 = time.monotonic()
        runs.append(wl.job(spark, inp, quiet, work, WARM))
        wl.release(runs[-1])
        setup_s = time.monotonic() - t0
        setup.update(inputs_s=t2 - t1, warmup_s=time.monotonic() - t2)

        # untraced jobs, while the next one is expected to end within --seconds
        t_measure = time.monotonic()
        timed = []
        while not runs[-1].failed:
            sampler.active.set()
            run = wl.job(spark, inp, quiet, work, FULL)
            sampler.active.clear()
            wl.check(run, inp.oracle)
            runs.append(run)
            timed.append(run)
            elapsed = time.monotonic() - t_measure
            if args.trace or elapsed + run.seconds["job"] > args.seconds or time.monotonic() - t_start > MAX_RUN_S:
                break
            wl.release(run)
        ok = timed and not any(r.failed for r in runs)
        if ok and args.trace:
            wl.release(run)
            traced = wl.job(spark, inp, tr, work, FULL)
            wl.check(traced, inp.oracle)
            runs.append(traced)
            if not traced.failed:
                values = per_layer(wl, traced, inp, tr, setup, run.seconds["job"])
            wl.release(traced)
            trace_dir = os.path.join(ROOT, ".northbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tr.write(os.path.join(trace_dir, f"{run_id}.jsonl"))
        elif ok:
            values = end_to_end(wl, timed, setup_s, sampler.peak)
            extra = {k: statistics.median(workload_specific(r, inp)[k] for r in timed) for k in workload_specific(run, inp)}
            extra.update(setup)
            print(f"{wl.name} seed={args.seed} jobs={len(timed)} " + " ".join(f"{k}={v:.6g}" for k, v in extra.items()))
            wl.release(run)
    finally:
        sampler.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(len(r.ops) for r in runs)
    failed = sum(len(r.failed) for r in runs)
    metrics = {}
    if not failed:
        names = spec["per_layer" if args.trace else "end_to_end"]
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in turn, each in its own process, as a table."""
    from northbench.workloads import WORKLOADS

    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            rc = rc or proc.returncode or 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for line in lines[:-1]:
            print(f"  {line}")
        for metric, v in res["metrics"].items():
            print(f"  {metric:40s} {v['value']:>16.6g} {v['unit']}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
