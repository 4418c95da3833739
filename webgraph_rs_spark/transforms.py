"""Graph transforms — the relational-algebra core (SURVEY.md §2.3).

Each function maps one reference transform to its declarative Spark form and
lets Catalyst pick the physical plan; there is deliberately no hand-scheduled
execution here. Shuffle accounting per transform is noted in docstrings —
at 100 TB the number of shuffles is the cost model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_rs_spark.graph import LinkGraph, canonical_edge_layout


def transpose(g: LinkGraph, layout: bool = True) -> LinkGraph:
    """Swap (src, dst). Reference: ``transform/transpose.rs:55-67,133-158``.

    Projection + one shuffle back into the canonical src-partitioned layout
    (the reference's external re-sort is exactly Spark's shuffle).
    """
    e = g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if layout:
        e = canonical_edge_layout(e)
    return LinkGraph(e, g.vertices, _num_nodes=g._num_nodes, src_layout=layout)


def symmetrize(g: LinkGraph, remove_loops: bool = True) -> LinkGraph:
    """Union with the transpose, dedup, optionally drop self-loops.

    Reference: ``transform/symmetrize.rs:95-120`` (merge-dedup iterator at
    :22-84 == dropDuplicates after union; NO_LOOPS flag == the filter).
    One shuffle (the dedup); union itself is shuffle-free.
    """
    t = g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    e = g.edges.unionByName(t)
    if remove_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    return LinkGraph(
        canonical_edge_layout(e), g.vertices, _num_nodes=g._num_nodes,
        src_layout=True,
    )


def remove_self_loops(g: LinkGraph) -> LinkGraph:
    """Reference: lazy ``NoSelfLoopsGraph`` (``graphs/no_selfloops_graph.rs:16``).

    Catalyst keeps this lazy too — it is just a filter on the plan, pushed
    down to the parquet scan when edges come straight from storage.
    """
    return LinkGraph(
        g.edges.filter(F.col("src") != F.col("dst")), g.vertices,
        _num_nodes=g._num_nodes,
        # a filter preserves the parent's partitioning, so the canonical
        # flag carries over (the views do not — the new graph builds its own)
        src_layout=g.src_layout,
    )


def union_graphs(a: LinkGraph, b: LinkGraph, distinct: bool = True) -> LinkGraph:
    """Arc union of two graphs over the same vertex domain.

    Reference: lazy ``UnionGraph`` (``graphs/union_graph.rs:12``).
    """
    e = a.edges.unionByName(b.edges)
    if distinct:
        e = e.dropDuplicates(["src", "dst"])
    v = a.vertices.unionByName(b.vertices).distinct()
    return LinkGraph(e, v)


def permute(g: LinkGraph, perm: DataFrame) -> LinkGraph:
    """Relabel nodes through a bijection ``perm(old_id, new_id)``.

    Reference: ``transform/perm.rs:23-92`` — there an out-of-core sort; here
    two joins against the permutation plus the canonical re-layout. The
    permutation table is ~n rows (vertex-sized, small next to edges), so
    Catalyst broadcasts it when it fits; at 10^12 nodes it becomes two
    sort-merge joins on co-partitioned tables.
    """
    p = perm.select(F.col("old_id").cast("long"), F.col("new_id").cast("long"))
    e = (
        g.edges.join(p.withColumnRenamed("old_id", "src"), "src")
        .select(F.col("new_id").alias("_s"), "dst")
        .join(p.withColumnRenamed("old_id", "dst"), "dst")
        .select(F.col("_s").alias("src"), F.col("new_id").alias("dst"))
    )
    v = g.vertices.join(p.withColumnRenamed("old_id", "id"), "id").select(
        F.col("new_id").alias("id")
    )
    return LinkGraph(
        canonical_edge_layout(e), v, _num_nodes=g._num_nodes, src_layout=True
    )


def invert_permutation(perm: DataFrame) -> DataFrame:
    """Reference: ``algo/src/llp/mod.rs:674-683``. A projection — free."""
    return perm.select(
        F.col("new_id").alias("old_id"), F.col("old_id").alias("new_id")
    )


def map_nodes(g: LinkGraph, mapping: DataFrame, dedup: bool = True) -> LinkGraph:
    """Relabel through a *non-bijective* map -> quotient/contracted graph.

    Reference: ``transform/map.rs:28-112`` (node contraction + arc dedup).
    ``mapping`` columns: (old_id, new_id); many-to-one allowed.
    """
    m = mapping.select(F.col("old_id").cast("long"), F.col("new_id").cast("long"))
    e = (
        g.edges.join(m.withColumnRenamed("old_id", "src"), "src")
        .select(F.col("new_id").alias("_s"), "dst")
        .join(m.withColumnRenamed("old_id", "dst"), "dst")
        .select(F.col("_s").alias("src"), F.col("new_id").alias("dst"))
    )
    if dedup:
        e = e.dropDuplicates(["src", "dst"])
    v = (
        g.vertices.join(m.withColumnRenamed("old_id", "id"), "id")
        .select(F.col("new_id").alias("id"))
        .distinct()
    )
    return LinkGraph(canonical_edge_layout(e), v, src_layout=True)


# ------------------------------------------------------------ arc labels
# Reference: labeled graphs (Label = (usize, L)), Zip/Left/Right projections
# (webgraph/src/labels/zip.rs:41, proj.rs:7-15). In the DataFrame model an
# arc label is just an extra column; zip = join on (src, dst), projections =
# column select. Kept as named functions so the parity with the reference's
# label algebra is explicit.


def zip_labels(g: LinkGraph, labels: DataFrame) -> LinkGraph:
    """Attach label column(s) to arcs: ``labels`` has (src, dst, ...cols).

    Reference ``Zip`` — requires both labelings over the same graph; arcs
    missing from ``labels`` get NULLs (the reference's zip would panic —
    here the relational semantics are the natural generalization).
    """
    e = g.edges.join(labels, ["src", "dst"], "left")
    return LinkGraph(e, g.vertices, _num_nodes=g._num_nodes)


def project_left(g: LinkGraph) -> LinkGraph:
    """Drop arc labels (reference ``Left`` projection)."""
    return LinkGraph(
        g.edges.select("src", "dst"), g.vertices, _num_nodes=g._num_nodes
    )


def project_labels(g: LinkGraph, cols: list[str]) -> DataFrame:
    """Reference ``Right`` projection: the label side, keyed by arc."""
    return g.edges.select("src", "dst", *cols)


# ---------------------------------------------------------------- checks
# Reference: cli/src/check/{symm,eq}.rs — invariant assertion jobs.


def asymmetric_arcs(g: LinkGraph) -> DataFrame:
    """Arcs whose reverse is missing (empty <=> graph symmetric).

    Reference: ``check symm`` (``cli/src/check/symm.rs:17-60``). Implemented
    as an anti-join of edges against their transpose — one shuffle.
    """
    t = g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return g.edges.join(t, ["src", "dst"], "left_anti")


def is_symmetric(g: LinkGraph) -> bool:
    return asymmetric_arcs(g).isEmpty()


def edge_diff(a: LinkGraph, b: LinkGraph) -> DataFrame:
    """Symmetric difference of arc sets with a side marker.

    Reference: ``eq``/``eq_sorted`` with first-difference diagnostics
    (``webgraph/src/traits/graph.rs:88-117``).
    """
    only_a = a.edges.exceptAll(b.edges).withColumn("side", F.lit("left"))
    only_b = b.edges.exceptAll(a.edges).withColumn("side", F.lit("right"))
    return only_a.unionByName(only_b)


def graphs_equal(a: LinkGraph, b: LinkGraph) -> bool:
    return edge_diff(a, b).isEmpty()
