"""Python runs only in the Arrow UDFs.

A DataFrame built from a Python list (``spark.createDataFrame(<list>)``)
plans as a PythonRDD: it runs per-row Python, and its workers start with a
different environment than the Arrow UDFs' workers, so Spark forks a second
``pyspark.daemon`` pool for them. The engine builds such tables with
``session.local_table`` instead. These tests pin both halves: no PythonRDD in
the lineage of the engine's list-seeded results, and one worker pool for the
crawl pipeline's calls.
"""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark.sql import functions as F

from tests.oracles import canonical8
from webgraph_rs_spark.algorithms.bfs import bfs_distances
from webgraph_rs_spark.algorithms.topsort import topological_levels
from webgraph_rs_spark.extract import build_graph_from_pages, url_dictionary
from webgraph_rs_spark.graph import dense_ids, graph_from_pandas, ranked
from webgraph_rs_spark.pages import synthesize_pages_from_pairs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _lineage(df) -> str:
    """The executed RDD lineage, plus that of every RDD-backed leaf of the
    plan: a broadcast side runs as a separate RDD that ``toRdd`` omits."""
    qe = df._jdf.queryExecution()
    text = [qe.toRdd().toDebugString()]
    leaves = qe.optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getName().endswith("LogicalRDD"):
            text.append(leaf.rdd().toDebugString())
    return "\n".join(text)


def test_no_python_rdd_in_lineage(spark):
    keys = spark.range(200).select((F.col("id") * 37 % 211).alias("k"))
    n, edges = canonical8()
    pages = synthesize_pages_from_pairs(spark, edges, n)
    g = graph_from_pandas(spark, edges, n)
    cycle = graph_from_pandas(spark, [(0, 1), (1, 2), (2, 0)], 3)
    visit = bfs_distances(g, [0], events=True)
    frames = {
        "ranked": ranked(keys, ["k"], num_partitions=4),
        "dense_ids": dense_ids(keys.select(F.col("k").cast("string")), "k"),
        "url_dictionary": url_dictionary(pages),
        "build_graph_from_pages": build_graph_from_pages(spark, pages)[0].edges,
        "bfs.distances": visit.distances,
        "bfs.events": visit.events,
        "topsort": topological_levels(cycle).levels,
    }
    found = [name for name, df in frames.items() if "PythonRDD" in _lineage(df)]
    assert found == []


_ONE_POOL = """
import os
from pyspark import SparkContext
from pyspark.sql import functions as F
from webgraph_rs_spark.extract import build_graph_from_pages, verify_extraction
from webgraph_rs_spark.pages import synthesize_pages
from webgraph_rs_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
ids = spark.range(60)
edges = ids.select(F.col("id").alias("src"), ((F.col("id") * 7 + 1) % 60).alias("dst"))
pages = synthesize_pages(spark, edges, 60)
assert verify_extraction(pages).count() == 0
g, _ = build_graph_from_pages(spark, pages)
assert g.num_arcs == 60
jvm = SparkContext._gateway.proc.pid
daemons = []
for entry in os.listdir("/proc"):
    if not entry.isdigit():
        continue
    try:
        with open(f"/proc/{entry}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{entry}/cmdline", "rb") as f:
            cmd = f.read()
    except (OSError, IndexError, ValueError):
        continue
    if ppid == jvm and b"pyspark.daemon" in cmd:
        daemons.append(int(entry))
print("daemons", len(daemons))
spark.stop()
"""


def test_crawl_calls_share_one_python_worker_pool():
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    out = subprocess.run(
        [sys.executable, "-c", _ONE_POOL], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=240, check=True,
    ).stdout
    assert out.splitlines()[-1] == "daemons 1"
