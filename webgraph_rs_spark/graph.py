"""The graph data model: edge + vertex DataFrames.

Reference mapping (SURVEY.md §1.5):

- a webgraph-rs graph is a labeling over a dense node domain ``0..n``
  (``webgraph/src/traits/labels.rs:9-27``); here it is an edge DataFrame
  ``(src long, dst long)`` hash-partitioned by ``src`` and sorted within
  partitions by ``(src, dst)`` — the partitioned-CSR analogue — plus an
  explicit vertex DataFrame ``(id long)``;
- ``num_nodes`` is carried explicitly (the reference reads it from the
  ``nodes=`` property, ``webgraph/src/graphs/bvgraph/load.rs:542``): dangling
  and isolated nodes participate in PageRank's 1/n and dangling-mass terms
  (``algo/src/rank/pagerank.rs:561-575``) but have no edge rows;
- the ingestion path (``from arcs``, ``cli/src/from/arcs.rs:63-239``) maps to
  read -> project -> dropDuplicates -> repartition('src') +
  sortWithinPartitions('src','dst') -> write parquet.

At 100 TB scale the edge table is the large fact table; every algorithm in
this package joins it on ``src`` — keeping it persisted hash-partitioned by
``src`` means the per-iteration gather join never re-shuffles the edges side.

Ownership rule: a :class:`LinkGraph` owns the edge tables derived from it.
:meth:`LinkGraph.src_edges` (hash(src)-partitioned) and
:meth:`LinkGraph.sym_edges` (symmetrized) are built and persisted once, on
first use, and every algorithm borrows them — none persists, counts or
unpersists a shared edge table. ``g.unpersist()`` frees them, together with
the graph's own edges and vertices. The views assume algorithms on one graph
run sequentially, the model everywhere in this engine.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from webgraph_rs_spark.session import local_table

EDGE_SCHEMA = "src long, dst long"
VERTEX_SCHEMA = "id long"


@dataclass
class LinkGraph:
    """A directed graph: deduped edges + explicit vertex set.

    ``edges`` columns: ``src:long, dst:long`` (deduped).
    ``vertices`` columns: ``id:long`` (includes dangling/isolated nodes).

    The graph owns its derived views (:meth:`src_edges`,
    :meth:`sym_edges`): each is persisted once and shared by every
    algorithm run on the graph, which borrows it and never releases it;
    :meth:`unpersist` frees them.
    """

    edges: DataFrame
    vertices: DataFrame
    _num_nodes: int | None = field(default=None, repr=False)
    _num_arcs: int | None = field(default=None, repr=False)
    # True when ``edges`` is known to be hash-partitioned by ``src`` (the
    # canonical layout): ``src_edges()`` is then ``edges`` itself, so no
    # algorithm re-shuffles or double-caches the edge table (guide §2.4
    # "two operations keyed the same way can share one exchange").
    src_layout: bool = field(default=False, repr=False)
    _views: dict[str, DataFrame] = field(
        default_factory=dict, init=False, repr=False, compare=False
    )

    # -- cardinalities (reference: labels.rs:96-101; cached like `.properties`)
    @property
    def num_nodes(self) -> int:
        if self._num_nodes is None:
            self._num_nodes = self.vertices.count()
        return self._num_nodes

    @property
    def num_arcs(self) -> int:
        if self._num_arcs is None:
            self._num_arcs = self.edges.count()
        return self._num_arcs

    # -- degree tables (reference: offset_deg_iter, build dcf)
    def out_degrees(self) -> DataFrame:
        """(id, out_deg) for every vertex, 0 for dangling ones."""
        deg = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        return (
            self.vertices.join(deg, "id", "left")
            .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        )

    def in_degrees(self) -> DataFrame:
        deg = self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_deg")
        )
        return (
            self.vertices.join(deg, "id", "left")
            .select("id", F.coalesce("in_deg", F.lit(0)).alias("in_deg"))
        )

    def degrees(self) -> DataFrame:
        """(id, out_deg, in_deg) — one shuffle per side, joined on id."""
        return self.out_degrees().join(self.in_degrees(), "id")

    # -- point access (anti-pattern at scale; test utility, SURVEY §2.2)
    def successors(self, node: int) -> DataFrame:
        return self.edges.filter(F.col("src") == node).select("dst")

    def has_arc(self, src: int, dst: int) -> bool:
        return bool(
            self.edges.filter((F.col("src") == src) & (F.col("dst") == dst)).take(1)
        )

    # -- derived edge views (owned by the graph, borrowed by algorithms)
    def _view(self, name: str, build) -> DataFrame:
        if name not in self._views:
            self._views[name] = build().persist()
        return self._views[name]

    def src_edges(self) -> DataFrame:
        """``edges`` hash-partitioned by ``src``, persisted: ``edges``
        itself in the canonical layout, else one re-partitioned copy."""
        return self._view(
            "src", lambda: self.edges if self.src_layout else self.edges.repartition("src")
        )

    def sym_edges(self) -> DataFrame:
        """Both directions, no self-loops, deduped, hash-partitioned by
        ``src``, persisted.

        Partitioning BEFORE the dedup lands the whole symmetrize in ONE
        exchange: the hash(src) distribution already satisfies the
        (src, dst) clustering the dedup aggregate needs (guide §2.4)."""

        def build() -> DataFrame:
            t = self.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            e = self.edges.unionByName(t).filter(F.col("src") != F.col("dst"))
            return e.repartition("src").dropDuplicates(["src", "dst"])

        return self._view("sym", build)

    def persist(self) -> "LinkGraph":
        self.edges.persist()
        self.vertices.persist()
        return self

    def unpersist(self) -> "LinkGraph":
        """Free the graph's own tables and every derived view."""
        for v in self._views.values():
            v.unpersist()
        self._views.clear()
        self.edges.unpersist()
        self.vertices.unpersist()
        return self


def canonical_edge_layout(edges: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Dedup + hash-partition by src + sort within partitions by (src, dst).

    This is the Spark analogue of the reference's external partitioned sort
    (``ParSortPairs``, ``webgraph/src/utils/par_sort_pairs.rs:13-28``): one
    shuffle producing already-partitioned sorted runs. Sorting by (src, dst)
    also maximizes parquet delta-encoding wins — the same locality insight
    BVGraph compression exploits.
    """
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    # ONE exchange, not two (guide §2.4): repartition by src FIRST — a
    # hash(src) distribution already satisfies the (src, dst) clustering the
    # dedup aggregate requires (all rows of a given (src, dst) share the
    # same src hash), so Catalyst inserts no second exchange for
    # dropDuplicates. The old order (dedup on (src, dst), then repartition
    # by src) shuffled the edge table twice.
    if num_partitions:
        e = e.repartition(num_partitions, "src")
    else:
        e = e.repartition("src")
    return e.dropDuplicates(["src", "dst"]).sortWithinPartitions("src", "dst")


def from_edges(
    spark: SparkSession,
    edges: DataFrame,
    num_nodes: int | None = None,
    vertices: DataFrame | None = None,
    layout: bool = True,
) -> LinkGraph:
    """Build a LinkGraph from an edge DataFrame.

    If ``num_nodes`` is given the vertex set is the dense range ``0..n``
    (reference semantics: node ids live in [0, n), ``labels.rs:9-27``).
    Otherwise the vertex set is inferred as distinct(src) ∪ distinct(dst) —
    note this loses isolated nodes, which is why callers that care about
    PageRank mass should pass ``num_nodes`` or ``vertices`` explicitly.
    """
    e = canonical_edge_layout(edges) if layout else edges
    if vertices is not None:
        v = vertices.select(F.col("id").cast("long").alias("id"))
        return LinkGraph(e, v, src_layout=layout)
    if num_nodes is not None:
        v = spark.range(num_nodes).select(F.col("id").cast("long"))
        return LinkGraph(e, v, _num_nodes=num_nodes, src_layout=layout)
    v = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return LinkGraph(e, v, src_layout=layout)


def from_arc_list(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    src_col: int = 0,
    dst_col: int = 1,
    comment: str = "#",
    max_arcs: int | None = None,
) -> LinkGraph:
    """Ingest a TSV/CSV arc list -> canonical graph.

    Spark-first rendering of ``webgraph from arcs``
    (``cli/src/from/arcs.rs:63-239``): read, skip comment lines, project the
    two columns, dedup, shuffle into the canonical layout. String node names
    are supported via :func:`intern_labels` (the ``--labels`` path).
    """
    raw = spark.read.option("sep", sep).option("comment", comment).csv(path)
    cols = raw.columns
    arcs = raw.select(
        F.col(cols[src_col]).cast("long").alias("src"),
        F.col(cols[dst_col]).cast("long").alias("dst"),
    ).dropna()
    if max_arcs is not None:  # reference: --max-arcs cap (arcs.rs:95-97)
        arcs = arcs.limit(max_arcs)
    return from_edges(spark, arcs)


def ranked(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append global contiguous ranks 0..n-1 (ascending ``order_cols``
    lexicographic order) WITHOUT a single-partition global window — the
    scale-safe replacement for ``row_number().over(Window.orderBy(...))``,
    which serializes the whole table through one task at 10^12 rows.

    Fully distributed two-phase ranking:

    1. range-partition + sort by the key columns;
    2. row_number within each partition (window is per-partition);
    3. add per-partition cumulative offsets (a tiny driver-side cumsum over
       the partition-count table, inlined into the plan as a literal array
       indexed by partition id).

    Deterministic whenever rows are unique on ``order_cols`` (ties would be
    resolved by physical placement — callers must pass a tie-breaking
    column). Null keys must be pre-replaced with sentinels by the caller.
    """
    if num_partitions:
        vals = df.repartitionByRange(num_partitions, *order_cols)
    else:
        vals = df.repartitionByRange(*order_cols)
    vals = vals.sortWithinPartitions(*order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    counts = dict(vals.groupBy("_pid").agg(F.count(F.lit(1))).collect())
    # starts[p] = rows in partitions before p; an empty partition keeps its slot
    starts, acc = [], 0
    for p in range(max(counts, default=-1) + 1):
        starts.append(acc)
        acc += counts.get(p, 0)
    offsets = F.array(*[F.lit(o) for o in starts]).cast("array<long>")
    w = W.partitionBy("_pid").orderBy(*order_cols)
    return (
        vals.withColumn("_rn", F.row_number().over(w).cast("long"))
        .withColumn(
            rank_col, F.element_at(offsets, F.col("_pid") + 1) + F.col("_rn") - 1
        )
        .drop("_pid", "_rn")
    )


def dense_ids(df: DataFrame, col: str, num_partitions: int | None = None) -> DataFrame:
    """Assign dense ids 0..n-1 to distinct values of ``col``, in sorted order.

    Distinct values are unique by construction, so :func:`ranked` needs no
    tie-breaker. Deterministic: the value -> id mapping is its global sorted
    rank regardless of how range sampling places partition boundaries.
    """
    vals = df.select(F.col(col).alias("name")).distinct()
    return ranked(vals, ["name"], rank_col="id", num_partitions=num_partitions)


def intern_labels(arcs: DataFrame, src: str = "src", dst: str = "dst") -> tuple[DataFrame, DataFrame]:
    """String node names -> dense ids; returns (edges, dictionary).

    The reference interns strings in appearance order (``arcs.rs:129-148``);
    a global appearance order is inherently sequential, so the distributed
    analogue assigns dense ranks over sorted distinct names — deterministic,
    and a bijection, which is all downstream algorithms need (PageRank values
    are permutation-invariant; see tests).

    At 10^12-page scale the dictionary build is the classic url->id step:
    distinct over ~10^12 strings is a single shuffle; the two relabel joins
    are sort-merge joins against an id table partitioned the same way.
    """
    names = arcs.select(F.col(src).alias("name")).union(
        arcs.select(F.col(dst).alias("name"))
    )
    dictionary = dense_ids(names, "name")
    e = (
        arcs.join(dictionary.withColumnRenamed("name", src), src)
        .select(F.col("id").alias("new_src"), dst)
        .join(dictionary.withColumnRenamed("name", dst), dst)
        .select(F.col("new_src").alias("src"), F.col("id").alias("dst"))
    )
    return e, dictionary


def graph_from_pandas(spark: SparkSession, edge_pairs, num_nodes: int) -> LinkGraph:
    """Test helper: build a LinkGraph from a python list of (src, dst).

    Mirrors the reference's ``VecGraph::from_arcs`` test builders
    (``webgraph/src/graphs/vec_graph.rs:391``).
    """
    df = local_table(spark, [(int(s), int(d)) for s, d in edge_pairs], EDGE_SCHEMA)
    return from_edges(spark, df, num_nodes=num_nodes)
