"""Triangle counting via degree-ordered wedge join.

Absent from the reference (SURVEY.md preamble gap #1); mandated by the north
rule. Algorithm (Cohen'09 / Suri-Vassilvitskii'11 "MapReduce triangle
counting"):

1. symmetrize + dedup the graph; compute degrees;
2. orient every undirected edge {u, v} from the (degree, id)-lexicographic
   smaller endpoint to the larger — the oriented graph is a DAG where every
   node has out-degree O(sqrt(m)), which bounds the wedge blow-up (the whole
   point at 100 TB: a hub with degree 10^7 generates wedges only as the
   *target*, never as the pivot);
3. wedges = E' ⋈ E' on the pivot (a->b, a->c with b < c in oriented order);
   each triangle has exactly one pivot (its orientation-minimal vertex), so
4. count = wedges semi-joined against E' on (b, c).

Physical plan: two shuffle joins on the oriented edge table; Catalyst picks
sort-merge; the (deg, id) orientation is computed with two joins against the
degree table (vertex-sized).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_rs_spark.graph import LinkGraph


def _oriented_edges(g: LinkGraph) -> DataFrame:
    """Undirected edges oriented low->high by (degree, id); columns (a, b)."""
    # the graph's hash(src)-partitioned symmetrized view — the degree
    # groupBy aggregates in place with no further shuffle of the edge table
    sym = g.sym_edges()  # both directions present
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    e = (
        sym.join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "ds"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "dd"), "dst")
    )
    # keep each undirected edge once, pointing at the (deg, id)-larger node
    return e.filter(
        (F.col("ds") < F.col("dd"))
        | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"))


def triangle_wedges(g: LinkGraph, oriented: DataFrame | None = None) -> DataFrame:
    """Closed wedges: one row (a, b, c) per triangle, a = orientation-min,
    b < c by node id.

    The pivot side uses the degree orientation (bounds wedge blow-up at
    hubs); the closing edge is checked against the *id-canonical* undirected
    edge set, since the wedge endpoints are ordered by id, not degree.

    Does NOT persist: the oriented edge table is scanned three times, so
    callers that run an action should pass a persisted ``oriented`` table
    (as :func:`triangle_count` / :func:`triangles_per_vertex` do) and own
    its release — no cache handle escapes this module.
    """
    e = oriented if oriented is not None else _oriented_edges(g)
    w = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.a") == F.col("y.a"))
        .filter(F.col("x.b") < F.col("y.b"))
        .select(F.col("x.a").alias("a"), F.col("x.b").alias("b"), F.col("y.b").alias("c"))
    )
    canon = e.select(
        F.least("a", "b").alias("b"), F.greatest("a", "b").alias("c")
    )
    return w.join(canon, ["b", "c"], "left_semi")


def triangle_count(g: LinkGraph) -> int:
    e = _oriented_edges(g).persist()
    try:
        return triangle_wedges(g, oriented=e).count()
    finally:
        e.unpersist()


def triangles_per_vertex(g: LinkGraph) -> DataFrame:
    """(id, triangles) — number of triangles each vertex participates in.

    The returned (vertex-sized) DataFrame is persisted and materialized so
    the edge-sized intermediates can be released before returning; the
    caller owns the handle (``.unpersist()`` when done).
    """
    e = _oriented_edges(g).persist()
    t = triangle_wedges(g, oriented=e)
    per = (
        t.select(F.col("a").alias("id"))
        .unionAll(t.select(F.col("b").alias("id")))
        .unionAll(t.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        g.vertices.join(per, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
        .persist()
    )
    out.count()  # materialize the (vertex-sized) result, then free the edges
    e.unpersist()
    return out
