"""Topological structure without DFS: iterative Kahn peeling.

The reference's acyclicity test and topological sort are DFS-based
(``algo/src/acyclicity.rs:20-42``, ``algo/src/top_sort.rs:22-52``) — no
Spark analogue (SURVEY.md §2.6). Re-derived as level-synchronous peeling:
repeatedly remove indegree-0 nodes; the round in which a node is removed is
its topological *level* (a valid topological order sorted by (level, id)),
and any nodes never removed lie on or downstream of a cycle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_rs_spark.driver import release_state
from webgraph_rs_spark.graph import LinkGraph
from webgraph_rs_spark.session import local_table


@dataclass
class TopSortResult:
    levels: DataFrame  # (id long, level long) — nodes on cycles excluded
    rounds: int
    acyclic: bool


def topological_levels(g: LinkGraph, max_rounds: int = 10_000) -> TopSortResult:
    """Peel indegree-0 layers; one semi/anti join pair per round."""
    spark = g.edges.sparkSession
    # localCheckpoint per round — same lineage-truncation rationale as bfs.py
    edges = g.edges.filter(F.col("src") != F.col("dst")).localCheckpoint()
    remaining_v = g.vertices.localCheckpoint()
    levels = local_table(spark, [], "id long, level long")
    rounds = 0
    n_remaining = remaining_v.count()
    while n_remaining > 0 and rounds < max_rounds:
        has_in = edges.select(F.col("dst").alias("id")).distinct()
        zero_in = remaining_v.join(has_in, "id", "left_anti").localCheckpoint()
        if zero_in.isEmpty():
            break  # everything left is on/behind a cycle
        old_levels, old_rv, old_edges = levels, remaining_v, edges
        levels = levels.unionByName(
            zero_in.withColumn("level", F.lit(rounds).cast("long"))
        ).localCheckpoint()
        remaining_v = remaining_v.join(zero_in, "id", "left_anti").localCheckpoint()
        edges = edges.join(
            zero_in.withColumnRenamed("id", "src"), "src", "left_anti"
        ).localCheckpoint()
        n_remaining = remaining_v.count()
        for old in (old_levels, old_rv, old_edges, zero_in):
            release_state(old)
        rounds += 1
    acyclic = n_remaining == 0
    return TopSortResult(levels, rounds, acyclic)


def is_acyclic(g: LinkGraph) -> bool:
    """Reference: ``algo/src/acyclicity.rs`` (DFS back-edge) re-derived."""
    return topological_levels(g).acyclic
