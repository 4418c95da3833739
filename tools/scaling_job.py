"""One scaling-run of the north-rule job at a given parallelism level.

Usage: python tools/scaling_job.py <cores> [out_json]

Builds a deterministic synthetic graph (no external data): 2^21 nodes,
64 out-edges per node via affine hash formulas plus a planted hub (node 0
gets ~260k in-links => web-like skew), then measures:

- PageRank power iterations — per-iteration wall times; MIN is reported as
  the capability estimate because a shared host shows intermittent
  multi-second interference bursts;
- pages synthesis + link/text extraction over a 400k-page slice (the
  pandas-UDF ingestion frontend), 3 warm repetitions, min.

Prints one JSON line with per-segment seconds and throughput.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_NODES = int(os.environ.get("SCALING_N_NODES", 1 << 21))
# 64 out-edges/node (~134M arcs): one PageRank iteration is ~8 CPU-seconds
# of real parallel work, so the fixed per-iteration serial costs (Catalyst
# planning, job scheduling, the vertex-state checkpoint) amortize the way
# they do on a real cluster-sized input — the scaling criterion measures
# the JOB's scalability, not the constant overhead of a toy input.
OUT_DEG = int(os.environ.get("SCALING_OUT_DEG", 64))
# FIXED across parallelism levels by default (see the comment at get_spark
# below); override to probe whether partition count, not hardware, is the
# limiter at high core counts (the 8->32 leg diagnosis, RESULTS.md)
PARTITIONS = int(os.environ.get("SCALING_PARTITIONS", 16))
PAGES_NODES = 400_000
PR_WARMUP = 2
PR_TIMED = 8
EXTRACT_REPS = 3
# pandas-UDF stages peak at ~8 python workers per JVM (Arrow socket + fork
# contention past that); at higher core counts the
# extraction input is ALSO run coalesced to this many partitions to
# demonstrate the documented executor-sizing fix (4-8 cores/executor).
UDF_WORKER_CAP = 8


def main() -> int:
    cores = int(sys.argv[1])
    out_path = sys.argv[2] if len(sys.argv) > 2 else None

    from pyspark.sql import functions as F
    from webgraph_rs_spark.session import get_spark
    from webgraph_rs_spark.graph import LinkGraph, canonical_edge_layout
    from webgraph_rs_spark.algorithms import pagerank

    # FIXED partition count across parallelism levels: scaling the partition
    # count with cores would change the work decomposition itself (total
    # per-task overhead, partial-agg compaction), conflating it with the
    # parallelism variable. 16 partitions covers the 2..32-core sweep; AQE
    # coalescing is off for the same reason.
    spark = get_spark(
        app_name=f"scaling_{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=PARTITIONS,
        extra_conf={
            # 32g is ample (the 134M-arc edge cache is ~3 GB); a fatter heap
            # just raises host OOM-kill pressure on the shared box
            "spark.driver.memory": "32g",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )

    base = spark.range(N_NODES).select(F.col("id").alias("src"))
    ks = [(2 * k + 1, 40503 * (k + 1)) for k in range(OUT_DEG)]
    succ_cols = F.array(*[((F.col("src") * a + b) % N_NODES) for a, b in ks])
    edges = base.select("src", F.explode(succ_cols).alias("dst"))
    hub = (
        spark.range(0, N_NODES, 8)
        .select(F.col("id").alias("src"), F.lit(0).cast("long").alias("dst"))
    )
    edges = edges.unionByName(hub).filter(F.col("src") != F.col("dst"))
    t0 = time.monotonic()
    e = canonical_edge_layout(edges, num_partitions=PARTITIONS).persist()
    m = e.count()
    build_sec = time.monotonic() - t0
    g = LinkGraph(
        e, spark.range(N_NODES).select("id"), _num_nodes=N_NODES,
        src_layout=True,
    )

    res = pagerank(g, alpha=0.85, threshold=None, max_iter=PR_WARMUP + PR_TIMED)
    walls = sorted(m_["wall_sec"] for m_ in res.metrics_history[PR_WARMUP:])
    pr_iter_sec = walls[0]  # min = capability under interference

    # extraction segment over a page slice; warm python workers first
    from webgraph_rs_spark.pages import synthesize_pages
    from webgraph_rs_spark.extract import extract_pages

    sub = (
        e.filter(F.col("src") < PAGES_NODES)
        .filter(F.col("dst") < PAGES_NODES)
        .persist()
    )
    sub.count()
    pages = synthesize_pages(spark, sub, PAGES_NODES).persist()
    n_pages = pages.count()
    extract_pages(pages.limit(1000)).count()  # warm the python workers

    def _measure_extract(src):
        times = []
        for _ in range(EXTRACT_REPS):
            t0 = time.monotonic()
            extract_pages(src).agg(
                F.count(F.lit(1)), F.sum(F.length("text")), F.sum(F.size("links"))
            ).collect()
            times.append(time.monotonic() - t0)
        return times

    ex_times = _measure_extract(pages)
    extract_sec = min(ex_times)
    capped_times, capped_sec = [], None
    if cores > UDF_WORKER_CAP:
        capped = pages.coalesce(UDF_WORKER_CAP).persist()
        capped.count()
        capped_times = _measure_extract(capped)
        capped_sec = min(capped_times)
        capped.unpersist()

    out = {
        "cores": cores,
        "partitions": PARTITIONS,
        "nodes": N_NODES,
        "arcs": int(m),
        "graph_build_sec": round(build_sec, 2),
        "pagerank_iters": PR_TIMED,
        "pagerank_iter_walls": walls,
        "pagerank_sec_per_iter": round(pr_iter_sec, 3),
        "pagerank_edges_per_sec_per_iter": round(m / pr_iter_sec, 1),
        "pages": int(n_pages),
        "extract_walls": [round(t, 2) for t in ex_times],
        "extract_sec": round(extract_sec, 2),
        "pages_per_sec": round(n_pages / extract_sec, 1),
    }
    if capped_sec is not None:
        out["extract_capped_walls"] = [round(t, 2) for t in capped_times]
        out["extract_capped_sec"] = round(capped_sec, 2)
        out["pages_per_sec_capped"] = round(n_pages / capped_sec, 1)
        out["udf_worker_cap"] = UDF_WORKER_CAP
    line = json.dumps(out)
    print(line)
    if out_path:
        with open(out_path, "w", encoding="utf-8") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
