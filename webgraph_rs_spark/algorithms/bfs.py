"""Breadth-first visits as level-synchronous frontier joins.

The reference's parallel BFS (``webgraph/src/visits/breadth_first/par_fair.rs``)
is level-synchronous — Spark's BSP execution model *is* that model. The
frontier expansion is ``frontier ⋈ edges`` (broadcast the frontier while it
is small — the north rule's "broadcast of small frontier deltas"), and the
visited-set subtraction is a left-anti join against the distance table.

DFS (``visits/depth_first``) is inherently sequential and deliberately has
no analogue here (SURVEY.md §2.6); DFS-based algorithms are re-derived
iteratively (see topsort.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_rs_spark.driver import release_state
from webgraph_rs_spark.graph import LinkGraph, ranked

# frontiers below this row count are broadcast to skip the shuffle join
BROADCAST_FRONTIER_MAX = 1_000_000


@dataclass
class BFSResult:
    distances: DataFrame  # (id long, distance long) — reached nodes only
    rounds: int
    events: DataFrame | None = None  # (level, frontier_size, revisits)


def bfs_distances(
    g: LinkGraph,
    roots: list[int] | DataFrame,
    max_depth: int | None = None,
    node_filter=None,
    events: bool = False,
) -> BFSResult:
    """Multi-source BFS distances over the directed graph.

    Per level: expand frontier through edges, drop already-visited nodes
    (anti-join), append to the distance table. Frontier size is tracked on
    the driver (an action per level — same as the reference's per-level
    ``FrontierSize`` event) to decide broadcast vs shuffle expansion.

    ``node_filter`` is the Spark form of the reference visits' filter
    callback (``webgraph/src/visits/mod.rs:36-41``,
    ``breadth_first/mod.rs:30-183``: a predicate over the visit event that,
    when false, skips visiting AND expanding the node): a pyspark Column
    predicate over the candidate node id column ``id`` — e.g.
    ``F.col("id") % 2 == 0``. Filtered nodes are never visited, never
    expanded, and absent from the distance table; applied to roots too,
    exactly like the reference.

    ``events=True`` materializes the reference visit-event taxonomy
    (``breadth_first/mod.rs:30-183``) as a TABLE instead of callbacks —
    the Spark-idiomatic event surface: one row per level with
    ``frontier_size`` (the Unknown/first-visit count, level 0 = Init
    roots) and ``revisits`` (the Known count: arrivals at
    already-visited nodes). Convention note: ``revisits`` counts
    DISTINCT already-visited nodes arrived at per level, not arcs — the
    reference's ``Known`` callback fires once per arriving arc, but the
    set-semantics frontier join collapses parallel arrivals, so a node
    reached by k arcs in one level counts once here. Filter-blocked
    nodes (``node_filter``) raise no event of either kind, matching the
    reference. Costs one extra count action per level, so it is opt-in.
    """
    spark = g.edges.sparkSession
    if isinstance(roots, DataFrame):
        frontier = roots.select(F.col("id").cast("long"))
    else:
        frontier = spark.createDataFrame([(int(r),) for r in roots], "id long")
    if node_filter is not None:
        frontier = frontier.filter(node_filter)
    edges = g.src_edges()

    # localCheckpoint (not persist) per level: the frontier recursion
    # otherwise re-expands the whole logical-plan tree every level —
    # exponential analysis cost. The visited set is NOT re-checkpointed per
    # level (that was one extra vertex-sized job every level): it stays a
    # lazy union of the per-level frontier checkpoints, each already
    # lineage-free, and is materialized ONCE at the end.
    frontier = frontier.localCheckpoint()
    n_frontier = frontier.count()
    parts: list[DataFrame] = [
        frontier.withColumn("distance", F.lit(0).cast("long"))
    ]
    hold: list[DataFrame] = [frontier]  # checkpoints released at the end
    visited_ids = frontier.select("id")
    depth = 0
    ev_rows: list[tuple[int, int, int]] = [(0, n_frontier, 0)]
    while n_frontier > 0 and (max_depth is None or depth < max_depth):
        f = (
            F.broadcast(frontier)
            if n_frontier <= BROADCAST_FRONTIER_MAX
            else frontier
        )
        cand = (
            edges.join(f.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        # filter BEFORE the event count: the reference raises NO event at
        # all for filter-blocked nodes (the predicate gates event emission,
        # ``visits/mod.rs:36-41``), so filtered arrivals must not inflate
        # the Known/revisit tally either.
        if node_filter is not None:
            cand = cand.filter(node_filter)
        if events:
            cand = cand.localCheckpoint()
            n_cand = cand.count()
        nxt = cand.join(visited_ids, "id", "left_anti")
        # the frontier size rides the eager-checkpoint action as an
        # observe metric — one job per level, not checkpoint + count
        from pyspark.sql import Observation

        obs = Observation()
        nxt = nxt.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        depth += 1
        n_frontier = int(obs.get.get("n") or 0)
        if events:
            # Known events = distinct arrivals minus first-visits; filtered
            # nodes raise neither Unknown nor Known events
            ev_rows.append((depth, n_frontier, n_cand - n_frontier))
            release_state(cand)
        if n_frontier > 0:
            parts.append(nxt.withColumn("distance", F.lit(depth).cast("long")))
            hold.append(nxt)
            visited_ids = visited_ids.unionByName(nxt.select("id"))
        frontier = nxt
    visited = parts[0]
    for p in parts[1:]:
        visited = visited.unionByName(p)
    visited = visited.localCheckpoint()  # one materialization for the result
    if n_frontier == 0 and frontier is not hold[0]:
        release_state(frontier)  # the final empty frontier checkpoint
    for h in hold:
        release_state(h)
    ev_df = None
    if events:
        ev_df = spark.createDataFrame(
            ev_rows, "level long, frontier_size long, revisits long"
        )
    return BFSResult(visited, depth, ev_df)


def bfs_tree(
    g: LinkGraph,
    roots: list[int] | DataFrame,
    max_depth: int | None = None,
    node_filter=None,
) -> DataFrame:
    """Shortest-path forest: (id, distance, pred) for every reached node.

    ``pred`` is the minimum-id in-neighbor at distance-1 (deterministic
    tie-break); roots have pred NULL. This is the reference's BFS event
    stream ``Visit{node, pred, distance}``
    (``webgraph/src/visits/breadth_first/mod.rs:30-183``) materialized as a
    table — the min-pred convention makes the tree unique, so downstream
    shortest-path extraction is reproducible. One extra edge-scan join after
    the distance computation (pred(v) depends only on final distances).
    """
    d = bfs_distances(
        g, roots, max_depth=max_depth, node_filter=node_filter
    ).distances
    preds = (
        g.edges.join(
            d.select(F.col("id").alias("src"), F.col("distance").alias("ds")),
            "src",
        )
        .join(
            d.select(F.col("id").alias("dst"), F.col("distance").alias("dd")),
            "dst",
        )
        .filter(F.col("ds") + 1 == F.col("dd"))
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("pred"))
    )
    out = (
        d.join(preds, "id", "left")
        .select("id", "distance", "pred")
        .localCheckpoint()
    )
    release_state(d)
    return out


def bfs_order(g: LinkGraph, roots: list[int]) -> DataFrame:
    """BFS visit order as a permutation (old_id, new_id).

    Reference: ``perm bfs`` (``cli/src/perm/bfs.rs:18-78``). Within a level
    the reference's visit order is adjacency order; here ties inside a level
    break by node id (deterministic), then unreached nodes follow in id
    order — a valid BFS layout permutation for locality-improving relabels.
    """
    res = bfs_distances(g, roots)
    reached = res.distances
    # unreached nodes rank after every reached one: distance sentinel = +inf
    # (long max); distributed two-phase ranking — no global window.
    unreached = g.vertices.join(reached.select("id"), "id", "left_anti").withColumn(
        "distance", F.lit((1 << 62)).cast("long")
    )
    allv = reached.unionByName(unreached)
    out = ranked(allv, ["distance", "id"], rank_col="new_id").select(
        F.col("id").alias("old_id"), "new_id"
    ).localCheckpoint()
    release_state(reached)
    return out
