"""Seeded benchmark inputs, built with the engine's public generators.

Every input is a parquet table written in set-up; the timed job reads only
that table. The planted arcs are also returned as NumPy arrays so the
oracles never go through the engine. The same seed gives the same table
content whatever the partition count (``content_hash``).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_rs_spark.generators import pref_attach_like
from webgraph_rs_spark.pages import synthesize_pages, url_for

@dataclass(frozen=True)
class GraphShape:
    nodes: int
    out_deg: int
    locality: int
    dangling_every: int  # one node in this many (seeded hash) keeps no out-links
    hub: bool  # plant node 0 as a hub linked from every 8th node


# Shapes on which PageRank, CC and LP take the same number of rounds for
# nearly every seed, so the seed changes the input but not the work.
CRAWL = GraphShape(nodes=2500, out_deg=8, locality=64, dangling_every=4, hub=False)
RESUME = GraphShape(nodes=30_000, out_deg=16, locality=64, dangling_every=8, hub=True)


def planted_edges(spark: SparkSession, shape: GraphShape, seed: int) -> DataFrame:
    """(src, dst) arcs, duplicates kept: pages repeat links too."""
    g = pref_attach_like(
        spark, shape.nodes, out_deg=shape.out_deg, seed=seed,
        locality=shape.locality, layout=False,
    )
    edges = g.edges
    if shape.hub:
        hub = spark.range(0, shape.nodes, 8).select(
            F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
        )
        edges = edges.unionByName(hub).filter(F.col("src") != F.col("dst"))
    dangling = F.pmod(
        F.xxhash64(F.lit(seed), F.lit("dangling"), F.col("src")), F.lit(shape.dangling_every)
    ) == 0
    return edges.filter(~dangling)


def _arrays(pdf) -> tuple[np.ndarray, np.ndarray]:
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


def write_pages(
    spark: SparkSession, shape: GraphShape, seed: int, path: str, partitions: int
) -> tuple[np.ndarray, np.ndarray]:
    """Render the planted graph as a pages table at ``path``; returns the
    planted arcs in node ids."""
    edges = planted_edges(spark, shape, seed).persist()
    try:
        synthesize_pages(spark, edges, shape.nodes).repartition(partitions).write.mode(
            "overwrite"
        ).parquet(path)
        return _arrays(edges.toPandas())
    finally:
        edges.unpersist()


def write_edges(
    spark: SparkSession, shape: GraphShape, seed: int, path: str, partitions: int
) -> tuple[np.ndarray, np.ndarray]:
    """Write the planted arcs as an edge table at ``path`` and read them
    back for the oracles."""
    planted_edges(spark, shape, seed).repartition(partitions).write.mode(
        "overwrite"
    ).parquet(path)
    return _arrays(pq.read_table(path).to_pandas())


def url_ids(n: int) -> np.ndarray:
    """Node -> the dense id ``build_graph_from_pages`` gives its url (the
    url's rank in sorted order)."""
    urls = [url_for(i) for i in range(n)]
    ids = np.empty(n, dtype=np.int64)
    ids[sorted(range(n), key=urls.__getitem__)] = np.arange(n)
    return ids


def html_stats(path: str) -> tuple[int, int]:
    """(pages, html bytes) of a pages table."""
    html = pq.read_table(path, columns=["html"]).column("html")
    return len(html), int(pc.sum(pc.binary_length(html)).as_py() or 0)


def content_hash(path: str, sort_by: list[str]) -> str:
    """SHA-256 over the table's rows in ``sort_by`` order."""
    table = pq.read_table(path)
    table = table.select(sorted(table.column_names)).sort_by(
        [(c, "ascending") for c in sort_by]
    )
    h = hashlib.sha256()
    for row in table.to_pylist():
        h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()
