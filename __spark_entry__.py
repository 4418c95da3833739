"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2) over edge
tables derived deterministically from the driver's parquet testdata; each
entry has a DuckDB ``oracle_sql()`` mirror. Iterative algorithms (PageRank,
CC, label propagation, BFS, topo levels) are oracled by *programmatically
generated fixed-iteration SQL* — the same update rule unrolled K times — so
Spark and DuckDB compute the identical deterministic result (floats rounded
to kill summation-order noise).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))

# ---------------------------------------------------------------- packaging


def _ship_package(spark: SparkSession) -> None:
    """Make webgraph_rs_spark importable on executors (pandas UDFs unpickle
    it there). Local stand-in for ``spark-submit --py-files``."""
    sc = spark.sparkContext
    marker = "_webgraph_rs_spark_shipped"
    if getattr(sc, marker, False):
        return
    pkg_dir = os.path.join(_REPO, "webgraph_rs_spark")
    zpath = os.path.join(tempfile.gettempdir(), "webgraph_rs_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, _REPO))
    sc.addPyFile(zpath)
    setattr(sc, marker, True)


def _import_engine():
    import sys

    if _REPO not in sys.path:
        sys.path.insert(0, _REPO)
    import webgraph_rs_spark  # noqa: F401

    return webgraph_rs_spark


# ---------------------------------------------------------------- constants

N = 1024
PR_ITERS = 20
PR_ALPHA = 0.85
CC_ITERS = 8
LP_ITERS = 3
BFS_ITERS = 6
DAG_ITERS = 6

SQL_EDGES = (
    "SELECT DISTINCT l_orderkey % 1024 AS src, l_partkey % 1024 AS dst "
    "FROM lineitem WHERE l_orderkey % 1024 != l_partkey % 1024"
)
SQL_EDGES2 = (
    "SELECT DISTINCT o_orderkey % 1024 AS src, o_custkey % 1024 AS dst "
    "FROM orders WHERE o_orderkey % 1024 != o_custkey % 1024"
)
SQL_V = "SELECT range::BIGINT AS id FROM range(1024)"
SQL_SYM = (
    "SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e"
)
SQL_FUNC_EDGES = (
    "SELECT DISTINCT l_orderkey % 1024 AS src, "
    "((l_orderkey % 1024) * (l_orderkey % 1024) * 3 + 5) % 1024 AS dst "
    "FROM lineitem WHERE l_orderkey % 1024 != "
    "((l_orderkey % 1024) * (l_orderkey % 1024) * 3 + 5) % 1024"
)
SQL_FUNC_EDGES_SMALL = SQL_FUNC_EDGES.replace("1024", "256")

# ---------------------------------------------------------------- SQL builders


def _pagerank_sql(
    iters: int = PR_ITERS,
    alpha: float = PR_ALPHA,
    n: int = N,
    edges_sql: str | None = None,
    mode: str = "strongly",
    pref_sql: str | None = None,
) -> str:
    """Unrolled power iteration mirroring ``algorithms.pagerank``:
    ``mode`` maps to the reference's dangling handling (strongly: u = pref;
    weakly: u = 1/n; pseudo: u = 0); ``pref_sql`` is an expression in ``v.id``
    for a non-uniform preference vector (must sum to 1 over the domain)."""
    a = repr(alpha)
    one_minus = repr(1.0 - alpha)
    pref = pref_sql or f"1.0/{n}"
    if mode == "strongly":
        u = "pv.pref"
    elif mode == "weakly":
        u = f"1.0/{n}"
    else:  # pseudo
        u = "0.0"
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql or SQL_EDGES}),",
        f"v AS MATERIALIZED ({SQL_V}),",
        f"pv AS MATERIALIZED (SELECT v.id, {pref} AS pref FROM v),",
        "deg AS MATERIALIZED (SELECT src, count(*) AS c FROM e GROUP BY src),",
        "ew AS MATERIALIZED (SELECT e.src, e.dst, 1.0/deg.c AS w FROM e JOIN deg ON e.src = deg.src),",
        "r0 AS MATERIALIZED (SELECT id, pref AS pr FROM pv),",
    ]
    for k in range(iters):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT coalesce(sum(pr), 0.0) AS m FROM r{k} "
            f"WHERE id NOT IN (SELECT src FROM e)),"
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT ew.dst AS id, sum(r{k}.pr * ew.w) AS s "
            f"FROM ew JOIN r{k} ON ew.src = r{k}.id GROUP BY ew.dst),"
        )
        parts.append(
            f"r{k + 1} AS MATERIALIZED (SELECT pv.id, {one_minus}*pv.pref + {a}*(coalesce(c{k}.s, 0.0) "
            f"+ (SELECT m FROM d{k})*({u})) AS pr "
            f"FROM pv LEFT JOIN c{k} ON pv.id = c{k}.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, round(pr, 7) AS pr FROM r{iters}")
    return "\n".join(parts)


def _cc_sql(iters: int = CC_ITERS) -> str:
    parts = [
        f"WITH e AS MATERIALIZED ({SQL_EDGES}),",
        f"v AS MATERIALIZED ({SQL_V}),",
        f"u AS MATERIALIZED ({SQL_SYM}),",
        "l0 AS MATERIALIZED (SELECT id, id AS label FROM v),",
    ]
    for k in range(iters):
        parts.append(
            f"nm{k} AS MATERIALIZED (SELECT u.dst AS id, min(l{k}.label) AS m "
            f"FROM u JOIN l{k} ON u.src = l{k}.id GROUP BY u.dst),"
        )
        parts.append(
            f"l{k + 1} AS MATERIALIZED (SELECT l{k}.id, "
            f"least(l{k}.label, coalesce(nm{k}.m, l{k}.label)) AS label "
            f"FROM l{k} LEFT JOIN nm{k} ON l{k}.id = nm{k}.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, label FROM l{iters}")
    return "\n".join(parts)


def _lp_sql(iters: int = LP_ITERS) -> str:
    parts = [
        f"WITH e AS MATERIALIZED ({SQL_EDGES}),",
        f"v AS MATERIALIZED ({SQL_V}),",
        f"u AS MATERIALIZED ({SQL_SYM}),",
        "p0 AS MATERIALIZED (SELECT id, id AS label FROM v),",
    ]
    for k in range(iters):
        parts.append(
            f"g{k} AS MATERIALIZED (SELECT u.dst AS id, p{k}.label AS label, count(*) AS cnt "
            f"FROM u JOIN p{k} ON u.src = p{k}.id GROUP BY u.dst, p{k}.label),"
        )
        parts.append(
            f"b{k} AS MATERIALIZED (SELECT id, label FROM (SELECT id, label, "
            f"row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn "
            f"FROM g{k}) WHERE rn = 1),"
        )
        parts.append(
            f"p{k + 1} AS MATERIALIZED (SELECT p{k}.id, coalesce(b{k}.label, p{k}.label) AS label "
            f"FROM p{k} LEFT JOIN b{k} ON p{k}.id = b{k}.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, label FROM p{iters}")
    return "\n".join(parts)


def _bfs_sql(iters: int = BFS_ITERS) -> str:
    parts = [
        f"WITH e AS MATERIALIZED ({SQL_EDGES}),",
        "d0 AS MATERIALIZED (SELECT 0::BIGINT AS id, 0::BIGINT AS distance),",
    ]
    for k in range(iters):
        parts.append(
            f"n{k} AS MATERIALIZED (SELECT e.dst AS id, min(d{k}.distance) + 1 AS nd "
            f"FROM e JOIN d{k} ON e.src = d{k}.id GROUP BY e.dst),"
        )
        parts.append(
            f"d{k + 1} AS MATERIALIZED (SELECT coalesce(a.id, b.id) AS id, "
            f"least(coalesce(a.distance, b.nd), coalesce(b.nd, a.distance)) AS distance "
            f"FROM d{k} a FULL OUTER JOIN n{k} b ON a.id = b.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, distance FROM d{iters}")
    return "\n".join(parts)


def _bfs_events_sql(iters: int = BFS_ITERS) -> str:
    """Events from exact distances: frontier_size(L) = |{v: d(v)=L}|;
    revisits(L) = distinct arrivals at level L minus first-visits
    (clamped at level 0 where the root is an Init, not an arrival)."""
    closure = _bfs_sql(iters)
    body, _, _ = closure.rpartition("SELECT id, distance FROM")
    return (
        body
        + f", dist AS MATERIALIZED (SELECT id, distance FROM d{iters}),\n"
        + """
f AS (SELECT distance AS level, count(*)::BIGINT AS fs FROM dist GROUP BY distance),
c AS (SELECT d.distance + 1 AS level, count(DISTINCT e.dst)::BIGINT AS cs
      FROM e JOIN dist d ON e.src = d.id GROUP BY d.distance + 1)
SELECT coalesce(f.level, c.level)::BIGINT AS level,
       coalesce(f.fs, 0)::BIGINT AS frontier_size,
       greatest(coalesce(c.cs, 0) - coalesce(f.fs, 0), 0)::BIGINT AS revisits
FROM f FULL OUTER JOIN c ON f.level = c.level
WHERE coalesce(f.fs, 0) > 0 OR greatest(coalesce(c.cs, 0) - coalesce(f.fs, 0), 0) > 0
"""
    )


def _scc_sql(edges_sql: str, renumber: bool = False) -> str:
    """True SCC labels (min member id) via the reachability transitive
    closure as a recursive CTE — tractable at the 1024-node gate scale and
    a *ground-truth* oracle (no fixed-iteration approximation): the Spark
    side runs trim+coloring to its own data-dependent fixpoint."""
    base = f"""
WITH RECURSIVE e AS ({edges_sql}),
v AS ({SQL_V}),
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
),
mutual AS (
  SELECT r1.src AS a, min(r1.dst) AS mn
  FROM reach r1 JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src
  GROUP BY r1.src
),
fin AS (
  SELECT v.id, least(v.id, coalesce(m.mn, v.id))::BIGINT AS label
  FROM v LEFT JOIN mutual m ON v.id = m.a
)
"""
    if not renumber:
        return base + "SELECT id, label FROM fin"
    return base + """
, sz AS (SELECT label, count(*) AS size FROM fin GROUP BY label),
rn AS (SELECT label,
       (row_number() OVER (ORDER BY size DESC, label ASC) - 1)::BIGINT AS new_label
       FROM sz)
SELECT fin.id, rn.new_label AS label FROM fin JOIN rn ON fin.label = rn.label
"""


def _ecc_all_sql(edges_sql: str, n: int, iters: int) -> tuple[str, str]:
    """Exact forward eccentricities of EVERY node by unrolled all-roots
    min-plus (iters must be >= the true diameter). Returns (ctes, final
    ecc table name); final table = (id, ecc) with unreachable-free nodes
    at ecc 0."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}),",
        f"v AS MATERIALIZED (SELECT range::BIGINT AS id FROM range({n})),",
        "d0 AS MATERIALIZED (SELECT id AS root, id, 0::BIGINT AS distance FROM v),",
    ]
    for k in range(iters):
        parts.append(
            f"n{k} AS MATERIALIZED (SELECT d{k}.root, e.dst AS id, "
            f"min(d{k}.distance) + 1 AS nd FROM e JOIN d{k} ON e.src = d{k}.id "
            f"GROUP BY d{k}.root, e.dst),"
        )
        parts.append(
            f"d{k + 1} AS MATERIALIZED (SELECT coalesce(a.root, b.root) AS root, "
            f"coalesce(a.id, b.id) AS id, "
            f"least(coalesce(a.distance, b.nd), coalesce(b.nd, a.distance)) AS distance "
            f"FROM d{k} a FULL OUTER JOIN n{k} b ON a.root = b.root AND a.id = b.id),"
        )
    parts.append(
        f"eccw AS MATERIALIZED (SELECT root AS id, max(distance) AS ecc "
        f"FROM d{iters} GROUP BY root),"
    )
    parts.append(
        "eccall AS (SELECT v.id, coalesce(eccw.ecc, 0)::BIGINT AS ecc "
        "FROM v LEFT JOIN eccw ON v.id = eccw.id)"
    )
    return "\n".join(parts), "eccall"


def _bfs_tree_sql(iters: int = BFS_ITERS) -> str:
    """Distances (same unrolled rule as bfs_from_0) + min-id predecessor at
    distance-1 — the deterministic shortest-path-tree convention."""
    return _bfs_sql(iters).replace(
        f"SELECT id, distance FROM d{iters}",
        f""", dist AS (SELECT id, distance FROM d{iters}),
p AS (SELECT e.dst AS id, min(e.src) AS pred
      FROM e JOIN dist a ON e.src = a.id JOIN dist b ON e.dst = b.id
      WHERE a.distance + 1 = b.distance GROUP BY e.dst)
SELECT dist.id, dist.distance, p.pred FROM dist LEFT JOIN p ON dist.id = p.id""",
    )


SQL_DAG = (
    "SELECT DISTINCT src, dst FROM ("
    "SELECT o_custkey % 32 AS src, 32 + o_custkey % 8 AS dst FROM orders "
    "UNION ALL "
    "SELECT 32 + o_custkey % 8 AS src, 40 + o_orderkey % 4 AS dst FROM orders "
    "UNION ALL "
    "SELECT 40 + o_orderkey % 4 AS src, 44 + o_orderkey % 2 AS dst FROM orders"
    ") WHERE src != dst"
)


def _topo_sql(iters: int = DAG_ITERS) -> str:
    """Kahn level = longest path from the sources = iterated max-plus."""
    parts = [
        f"WITH e AS MATERIALIZED ({SQL_DAG}),",
        "v AS (SELECT range::BIGINT AS id FROM range(56)),",
        "m0 AS MATERIALIZED (SELECT id, 0::BIGINT AS level FROM v),",
    ]
    for k in range(iters):
        parts.append(
            f"x{k} AS MATERIALIZED (SELECT e.dst AS id, max(m{k}.level) + 1 AS lv "
            f"FROM e JOIN m{k} ON e.src = m{k}.id GROUP BY e.dst),"
        )
        parts.append(
            f"m{k + 1} AS MATERIALIZED (SELECT m{k}.id, "
            f"greatest(m{k}.level, coalesce(x{k}.lv, 0)) AS level "
            f"FROM m{k} LEFT JOIN x{k} ON m{k}.id = x{k}.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT id, level FROM m{iters}")
    return "\n".join(parts)


_TRI_ORIENT_SQL = f"""
WITH e AS ({SQL_EDGES}),
s AS (SELECT least(src, dst) AS src, greatest(src, dst) AS dst FROM e
      GROUP BY 1, 2),
bi AS (SELECT src, dst FROM s UNION ALL SELECT dst AS src, src AS dst FROM s),
deg AS (SELECT src AS id, count(*) AS d FROM bi GROUP BY src),
o AS (SELECT bi.src AS a, bi.dst AS b FROM bi
      JOIN deg da ON bi.src = da.id JOIN deg db ON bi.dst = db.id
      WHERE da.d < db.d OR (da.d = db.d AND bi.src < bi.dst)),
t AS (SELECT x.a AS a, x.b AS b, y.b AS c FROM o x
      JOIN o y ON x.a = y.a AND x.b < y.b
      JOIN s ON s.src = x.b AND s.dst = y.b)
"""


# ---------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive the link graph at sf0.001, run PageRank (fixed 15
    iterations), return ranks joined with degrees, top 50."""
    _import_engine()
    _ship_package(spark)
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import pagerank

    g = lineitem_graph(spark, "/root/testdata/sf0.001")
    pr = pagerank(g, alpha=0.85, threshold=None, max_iter=15)
    deg = g.degrees()
    return (
        pr.ranks.join(deg, "id")
        .select("id", F.round("rank", 7).alias("pr"), "out_deg", "in_deg")
        .orderBy(F.col("pr").desc(), F.col("id").asc())
        .limit(50)
    )


# ---------------------------------------------------------------- queries


def _q_edges(spark: SparkSession, sf: str) -> DataFrame:
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph

    return lineitem_graph(spark, sf).edges


def _q_degrees(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph

    return lineitem_graph(spark, sf).degrees()


def _q_stats(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.stats import graph_stats

    s = graph_stats(lineitem_graph(spark, sf))
    # every column cast explicitly (long/double) so the driver's value hash
    # agrees with the oracle's ::BIGINT/::DOUBLE casts (DuckDB sum() yields
    # HUGEINT and F.lit(int) yields 32-bit INT otherwise)
    return s.select(
        F.col("nodes").cast("long").alias("nodes"),
        F.col("arcs").cast("long").alias("arcs"),
        F.col("dangling").cast("long").alias("dangling"),
        F.col("sources").cast("long").alias("sources"),
        F.col("isolated").cast("long").alias("isolated"),
        F.col("max_out_deg").cast("long").alias("max_out_deg"),
        F.col("max_in_deg").cast("long").alias("max_in_deg"),
        F.round("avg_out_deg", 6).cast("double").alias("avg_out_deg"),
        F.col("self_loops").cast("long").alias("self_loops"),
    )


def _q_degree_dist(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.stats import degree_distribution

    return degree_distribution(lineitem_graph(spark, sf), "out")


def _q_transpose(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.transforms import transpose

    return transpose(lineitem_graph(spark, sf)).edges


def _q_symmetrize(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.transforms import symmetrize

    return symmetrize(lineitem_graph(spark, sf)).edges


def _q_union(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph, orders_graph
    from webgraph_rs_spark.transforms import union_graphs

    return union_graphs(lineitem_graph(spark, sf), orders_graph(spark, sf)).edges


def _q_permute(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph, N_NODES, PERM_A, PERM_B
    from webgraph_rs_spark.transforms import permute

    g = lineitem_graph(spark, sf)
    perm = spark.range(N_NODES).select(
        F.col("id").alias("old_id"),
        ((F.col("id") * PERM_A + PERM_B) % N_NODES).alias("new_id"),
    )
    return permute(g, perm).edges


def _q_contract(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph, N_NODES, CONTRACT_M
    from webgraph_rs_spark.transforms import map_nodes

    g = lineitem_graph(spark, sf)
    mapping = spark.range(N_NODES).select(
        F.col("id").alias("old_id"), (F.col("id") % CONTRACT_M).alias("new_id")
    )
    return map_nodes(g, mapping).edges


def _q_check_symm(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.session import local_table
    from webgraph_rs_spark.transforms import asymmetric_arcs, symmetrize

    g = lineitem_graph(spark, sf)
    raw = asymmetric_arcs(g).count()
    sym = asymmetric_arcs(symmetrize(g)).count()
    return local_table(spark, [(int(raw), int(sym))], "asym_raw long, asym_sym long")


def _q_successors0(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph

    return lineitem_graph(spark, sf).successors(0)


def _q_pagerank(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import pagerank

    g = lineitem_graph(spark, sf)
    pr = pagerank(g, alpha=PR_ALPHA, threshold=None, max_iter=PR_ITERS)
    return pr.ranks.select("id", F.round("rank", 7).alias("pr"))


def _q_pagerank_topk(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import pagerank

    g = lineitem_graph(spark, sf)
    pr = pagerank(g, alpha=PR_ALPHA, threshold=None, max_iter=PR_ITERS)
    return (
        pr.ranks.select("id", F.round("rank", 7).alias("pr"))
        .orderBy(F.col("pr").desc(), F.col("id").asc())
        .limit(20)
    )


def _q_pagerank_pseudo(spark, sf):
    """Pseudo-rank mode (dangling mass dropped) on the rho-shaped functional
    graph — its terminal nodes are genuine dangling nodes, so the three
    dangling modes actually diverge here."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import functional_graph
    from webgraph_rs_spark.algorithms import pagerank

    g = functional_graph(spark, sf)
    pr = pagerank(g, alpha=PR_ALPHA, mode="pseudo", threshold=None, max_iter=10)
    # 6 decimals: two nodes land exactly on a 7th-decimal rounding boundary
    return pr.ranks.select("id", F.round("rank", 6).alias("pr"))


def _q_pagerank_pref(spark, sf):
    """Non-uniform preference vector (strongly preferential dangling mode):
    pref(id) proportional to id+1."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import functional_graph
    from webgraph_rs_spark.algorithms import pagerank

    g = functional_graph(spark, sf)
    pref = spark.range(1024).select(
        "id", ((F.col("id") + 1) / 524800.0).alias("pref")
    )
    pr = pagerank(
        g, alpha=PR_ALPHA, mode="strongly", preference=pref,
        threshold=None, max_iter=10,
    )
    return pr.ranks.select("id", F.round("rank", 7).alias("pr"))


def _q_cc(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import connected_components

    return connected_components(lineitem_graph(spark, sf)).labels


def _q_cc_star(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import cc_star

    return cc_star(lineitem_graph(spark, sf)).labels


def _q_cc_sizes(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import connected_components, renumber_by_size

    labels = connected_components(lineitem_graph(spark, sf)).labels
    return renumber_by_size(labels)


def _q_labelprop(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import label_propagation

    return label_propagation(lineitem_graph(spark, sf), max_iter=LP_ITERS).labels


def _q_triangles(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import triangle_count
    from webgraph_rs_spark.session import local_table

    t = triangle_count(lineitem_graph(spark, sf))
    return local_table(spark, [(int(t),)], "triangles long")


def _q_triangles_per_vertex(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import triangles_per_vertex

    return triangles_per_vertex(lineitem_graph(spark, sf))


def _q_bfs(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import bfs_distances

    return bfs_distances(lineitem_graph(spark, sf), [0]).distances


def _q_bfs_events(spark, sf):
    """The r4 BFS event surface (Init/Unknown/Known/FrontierSize as a
    per-level table). All-zero trailing rows are filtered so the table
    is derivable from exact distances (the oracle's form)."""
    _import_engine()
    from pyspark.sql import functions as F
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import bfs_distances

    ev = bfs_distances(lineitem_graph(spark, sf), [0], events=True).events
    return ev.filter(
        (F.col("frontier_size") > 0) | (F.col("revisits") > 0)
    ).select("level", "frontier_size", "revisits")


def _q_scc(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import functional_graph
    from webgraph_rs_spark.algorithms import strongly_connected_components

    g = functional_graph(spark, sf)
    return strongly_connected_components(g).labels


def _q_scc_condensation(spark, sf):
    """Arcs of the condensation DAG (distinct cross-SCC label pairs) —
    the reference consumer's follow-up to webgraph-sccs."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import functional_graph
    from webgraph_rs_spark.algorithms import (
        condensation,
        strongly_connected_components,
    )

    g = functional_graph(spark, sf)
    labels = strongly_connected_components(g).labels
    return condensation(g, labels)


def _q_scc_dense(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import strongly_connected_components

    g = lineitem_graph(spark, sf)
    return strongly_connected_components(g).labels


def _q_scc_renumbered(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import functional_graph
    from webgraph_rs_spark.algorithms import (
        strongly_connected_components,
        renumber_by_size,
    )

    g = functional_graph(spark, sf)
    return renumber_by_size(strongly_connected_components(g).labels)


def _q_bv_stats(spark, sf):
    """Decode the REAL cnr-2000 BVGraph bitstream (γ/unary/γ/γ/ζ₃,
    big-endian) and report (nodes, arcs). The oracle pins the constants
    from the reference's own ``data/cnr-2000.properties`` manifest —
    hitting them requires every codec path (reference copy-blocks,
    intervals, residual gaps) to decode all 325,557 successor lists
    exactly. sf_dir is unused: the input IS the reference bitstream."""
    _import_engine()
    from webgraph_rs_spark.bvgraph import read_bvgraph

    g = read_bvgraph(spark, "/root/reference/data/cnr-2000", canonical=False)
    return g.edges.agg(F.count(F.lit(1)).cast("long").alias("arcs")).select(
        F.lit(g.num_nodes).cast("long").alias("nodes"), "arcs"
    )


def _q_sumsweep_rd(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import functional_graph_small
    from webgraph_rs_spark.algorithms.distances import exact_sum_sweep
    from webgraph_rs_spark.session import local_table

    g = functional_graph_small(spark, sf)
    res = exact_sum_sweep(g, mode="radius_diameter")
    return local_table(
        spark,
        [(int(res.radius), int(res.diameter), bool(res.converged))],
        "radius long, diameter long, converged boolean",
    )


def _q_sumsweep_ecc(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import functional_graph_small
    from webgraph_rs_spark.algorithms.distances import exact_sum_sweep

    g = functional_graph_small(spark, sf)
    res = exact_sum_sweep(g, mode="all_forward")
    return res.eccentricities.select("id", F.col("ecc").cast("long").alias("ecc"))


def _q_sumsweep_becc(spark, sf):
    """Certified-exact BACKWARD eccentricities (reference All vs
    AllForward output levels, exact_sum_sweep/mod.rs:261-264)."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import functional_graph_small
    from webgraph_rs_spark.algorithms.distances import exact_sum_sweep

    g = functional_graph_small(spark, sf)
    res = exact_sum_sweep(g, mode="all")
    return res.backward_eccentricities.select(
        "id", F.col("ecc").cast("long").alias("ecc")
    )


def _q_bfs_tree(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import bfs_tree

    return bfs_tree(lineitem_graph(spark, sf), [0])


def _q_bfs_order(spark, sf):
    """BFS layout permutation from node 0 (distance, then id; unreached
    after) — gates the distributed two-phase ranking end to end."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms import bfs_order

    return bfs_order(lineitem_graph(spark, sf), [0])


def _q_locality(spark, sf):
    """Successor-gap locality stats (compression diagnostics) — approx
    percentile dropped from the gate (not SQL-mirrorable exactly)."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.stats import locality_stats

    s = locality_stats(lineitem_graph(spark, sf))
    return s.select(
        F.col("arcs").cast("long").alias("arcs"),
        F.round("avg_gap", 6).cast("double").alias("avg_gap"),
        F.col("max_gap").cast("long").alias("max_gap"),
        F.round("avg_log2_gap", 6).cast("double").alias("avg_log2_gap"),
    )


def _q_topo(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import layered_dag
    from webgraph_rs_spark.algorithms import topological_levels

    return topological_levels(layered_dag(spark, sf)).levels


def _q_intern(spark, sf):
    _import_engine()
    from webgraph_rs_spark.graph import intern_labels

    nation = spark.read.parquet(f"{sf}/nation.parquet")
    region = spark.read.parquet(f"{sf}/region.parquet")
    arcs = nation.join(
        region, nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_name").alias("src"), F.col("r_name").alias("dst"))
    edges, _d = intern_labels(arcs)
    return edges.dropDuplicates(["src", "dst"])


def _q_perm_compose(spark, sf):
    _import_engine()
    from webgraph_rs_spark.testgraphs import N_NODES
    from webgraph_rs_spark.transforms import invert_permutation

    p1 = spark.range(N_NODES).select(
        F.col("id").alias("old_id"), ((F.col("id") * 37 + 11) % N_NODES).alias("new_id")
    )
    p2 = spark.range(N_NODES).select(
        F.col("id").alias("old_id"), ((F.col("id") * 5 + 3) % N_NODES).alias("new_id")
    )
    # compose p2 after p1, then sanity: composing with inverse of itself
    comp = (
        p1.select(F.col("old_id"), F.col("new_id").alias("mid"))
        .join(p2.withColumnRenamed("old_id", "mid"), "mid")
        .select("old_id", "new_id")
    )
    inv = invert_permutation(comp).select(
        F.col("old_id").alias("new_id"), F.col("new_id").alias("back")
    )
    return comp.join(inv, "new_id").select("old_id", "new_id", "back")


def _q_events_window(spark, sf):
    ev = spark.read.parquet(f"{sf}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


def _q_page_text(spark, sf):
    """Byte-identical extraction through the pandas UDF: build html from the
    documents table in pure SQL expressions, extract text back, compare to
    the normalized source text (oracle recomputes the normalization)."""
    _import_engine()
    _ship_package(spark)
    from webgraph_rs_spark.extract import extract_text_udf

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    norm = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    esc = F.replace(
        F.replace(
            F.replace(norm, F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    html = F.concat(
        F.lit("<html><head></head><body><p>"),
        esc,
        F.lit("</p></body></html>"),
    )
    return docs.select(
        "doc_id",
        extract_text_udf(F.encode(html, "utf-8")).alias("text"),
    )


def _q_page_links(spark, sf):
    """Link extraction through the pandas UDF: html links follow the
    deterministic rule dst = (doc_id * 31 + k) % n_docs for k in 1..3."""
    _import_engine()
    _ship_package(spark)
    from webgraph_rs_spark.extract import extract_links_udf

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_docs = docs.count()
    links = [
        F.concat(
            F.lit('<a href="https://docs.example.org/'),
            ((F.col("doc_id") * 31 + k) % n_docs).cast("string"),
            F.lit('">x</a>'),
        )
        for k in (1, 2, 3)
    ]
    html = F.concat(F.lit("<html><body>"), *links, F.lit("</body></html>"))
    out = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(extract_links_udf(F.encode(html, "utf-8"))).alias("u"),
    )
    return out.select(
        "src",
        F.regexp_extract("u", r"/(\d+)$", 1).cast("long").alias("dst"),
    ).dropDuplicates(["src", "dst"])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "graph_edges": _q_edges,
        "graph_degrees": _q_degrees,
        "graph_stats": _q_stats,
        "degree_distribution": _q_degree_dist,
        "transpose": _q_transpose,
        "symmetrize": _q_symmetrize,
        "union_graphs": _q_union,
        "permute": _q_permute,
        "contract": _q_contract,
        "check_symm": _q_check_symm,
        "successors_0": _q_successors0,
        "pagerank": _q_pagerank,
        "pagerank_topk": _q_pagerank_topk,
        "pagerank_pseudo": _q_pagerank_pseudo,
        "pagerank_pref": _q_pagerank_pref,
        "cc_labels": _q_cc,
        "cc_star_labels": _q_cc_star,
        "cc_renumbered": _q_cc_sizes,
        "labelprop": _q_labelprop,
        "triangles": _q_triangles,
        "triangles_per_vertex": _q_triangles_per_vertex,
        "bfs_from_0": _q_bfs,
        "bfs_tree_from_0": _q_bfs_tree,
        "bfs_order_from_0": _q_bfs_order,
        "bfs_events_from_0": _q_bfs_events,
        "locality_stats": _q_locality,
        "scc_labels": _q_scc,
        "scc_labels_dense": _q_scc_dense,
        "scc_renumbered": _q_scc_renumbered,
        "scc_condensation": _q_scc_condensation,
        "sumsweep_radius_diameter": _q_sumsweep_rd,
        "sumsweep_ecc_all": _q_sumsweep_ecc,
        "sumsweep_ecc_backward": _q_sumsweep_becc,
        "topo_levels": _q_topo,
        "intern_string_graph": _q_intern,
        "perm_compose": _q_perm_compose,
        "bv_cnr2000_stats": _q_bv_stats,
        "events_window": _q_events_window,
        "page_text_extraction": _q_page_text,
        "page_link_extraction": _q_page_links,
        **_TEXTOPS_QUERIES,
        **_DIST_QUERIES,
    }


def oracle_sql() -> dict[str, str]:
    sym_deg = f"""
WITH e AS ({SQL_EDGES}), v AS ({SQL_V}),
od AS (SELECT src AS id, count(*) AS c FROM e GROUP BY src),
idg AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY dst)
"""
    return {
        "graph_edges": f"{SQL_EDGES}",
        "graph_degrees": sym_deg
        + """
SELECT v.id, coalesce(od.c, 0) AS out_deg, coalesce(idg.c, 0) AS in_deg
FROM v LEFT JOIN od ON v.id = od.id LEFT JOIN idg ON v.id = idg.id
""",
        "graph_stats": sym_deg
        + """
, d AS (SELECT v.id, coalesce(od.c,0) AS o, coalesce(idg.c,0) AS i
        FROM v LEFT JOIN od ON v.id = od.id LEFT JOIN idg ON v.id = idg.id)
SELECT count(*)::BIGINT AS nodes, sum(o)::BIGINT AS arcs,
       sum(CASE WHEN o = 0 THEN 1 ELSE 0 END)::BIGINT AS dangling,
       sum(CASE WHEN i = 0 THEN 1 ELSE 0 END)::BIGINT AS sources,
       sum(CASE WHEN o = 0 AND i = 0 THEN 1 ELSE 0 END)::BIGINT AS isolated,
       max(o)::BIGINT AS max_out_deg, max(i)::BIGINT AS max_in_deg,
       round(avg(o), 6)::DOUBLE AS avg_out_deg, 0::BIGINT AS self_loops
FROM d
""",
        "degree_distribution": sym_deg
        + """
, d AS (SELECT v.id, coalesce(od.c, 0) AS deg FROM v LEFT JOIN od ON v.id = od.id)
SELECT deg, count(*) AS n_nodes FROM d GROUP BY deg
""",
        "transpose": f"WITH e AS ({SQL_EDGES}) SELECT dst AS src, src AS dst FROM e",
        "symmetrize": f"WITH e AS ({SQL_EDGES}) "
        "SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e",
        "union_graphs": f"WITH e AS ({SQL_EDGES}), e2 AS ({SQL_EDGES2}) "
        "SELECT src, dst FROM e UNION SELECT src, dst FROM e2",
        "permute": f"WITH e AS ({SQL_EDGES}) "
        "SELECT DISTINCT (src*37+11) % 1024 AS src, (dst*37+11) % 1024 AS dst FROM e",
        "contract": f"WITH e AS ({SQL_EDGES}) "
        "SELECT DISTINCT src % 128 AS src, dst % 128 AS dst FROM e",
        "check_symm": f"""
WITH e AS ({SQL_EDGES}),
s AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e)
SELECT
 (SELECT count(*) FROM e a WHERE NOT EXISTS
   (SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)) AS asym_raw,
 (SELECT count(*) FROM s a WHERE NOT EXISTS
   (SELECT 1 FROM s b WHERE b.src = a.dst AND b.dst = a.src)) AS asym_sym
""",
        "successors_0": f"WITH e AS ({SQL_EDGES}) SELECT dst FROM e WHERE src = 0",
        "pagerank": _pagerank_sql(),
        "pagerank_topk": _pagerank_sql()
        + "\nORDER BY pr DESC, id ASC LIMIT 20",
        "pagerank_pseudo": _pagerank_sql(
            iters=10, edges_sql=SQL_FUNC_EDGES, mode="pseudo"
        ).replace("round(pr, 7)", "round(pr, 6)"),
        "pagerank_pref": _pagerank_sql(
            iters=10,
            edges_sql=SQL_FUNC_EDGES,
            mode="strongly",
            pref_sql="(v.id + 1)/524800.0",
        ),
        "cc_labels": _cc_sql(),
        "cc_star_labels": _cc_sql(),
        "cc_renumbered": _cc_sql().replace(
            f"SELECT id, label FROM l{CC_ITERS}",
            f""", fin AS (SELECT id, label FROM l{CC_ITERS}),
sz AS (SELECT label, count(*) AS size FROM fin GROUP BY label),
rn AS (SELECT label, row_number() OVER (ORDER BY size DESC, label ASC) - 1 AS new_label FROM sz)
SELECT fin.id, rn.new_label AS label FROM fin JOIN rn ON fin.label = rn.label""",
        ),
        "labelprop": _lp_sql(),
        "triangles": _TRI_ORIENT_SQL + "SELECT count(*) AS triangles FROM t",
        "triangles_per_vertex": _TRI_ORIENT_SQL
        + f""", per AS (SELECT id, count(*) AS cnt FROM (
  SELECT a AS id FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t
) GROUP BY id), v AS ({SQL_V})
SELECT v.id, coalesce(per.cnt, 0) AS triangles FROM v LEFT JOIN per ON v.id = per.id""",
        "bfs_from_0": _bfs_sql(),
        "bfs_events_from_0": _bfs_events_sql(),
        "bfs_tree_from_0": _bfs_tree_sql(),
        "bfs_order_from_0": _bfs_sql().replace(
            f"SELECT id, distance FROM d{BFS_ITERS}",
            f""", v AS ({SQL_V}),
dist AS (SELECT id, distance FROM d{BFS_ITERS}),
allv AS (SELECT v.id, coalesce(dist.distance, 4611686018427387904) AS dd
         FROM v LEFT JOIN dist ON v.id = dist.id)
SELECT id AS old_id,
       (row_number() OVER (ORDER BY dd, id) - 1)::BIGINT AS new_id
FROM allv""",
        ),
        "locality_stats": f"""
WITH e AS ({SQL_EDGES}),
g AS (SELECT src, dst, lag(dst) OVER (PARTITION BY src ORDER BY dst) AS prev FROM e),
gp AS (SELECT CASE WHEN prev IS NULL THEN abs(dst - src) ELSE dst - prev END AS gap FROM g)
SELECT count(*)::BIGINT AS arcs, round(avg(gap), 6)::DOUBLE AS avg_gap,
       max(gap)::BIGINT AS max_gap,
       round(avg(log2(abs(gap) + 1.0)), 6)::DOUBLE AS avg_log2_gap
FROM gp
""",
        "scc_labels": _scc_sql(SQL_FUNC_EDGES),
        "scc_condensation": _scc_sql(SQL_FUNC_EDGES).replace(
            "SELECT id, label FROM fin",
            """, le AS (SELECT f1.label AS src, f2.label AS dst
         FROM e JOIN fin f1 ON e.src = f1.id JOIN fin f2 ON e.dst = f2.id
         WHERE f1.label != f2.label)
SELECT DISTINCT src, dst FROM le""",
        ),
        "scc_labels_dense": _scc_sql(SQL_EDGES),
        "scc_renumbered": _scc_sql(SQL_FUNC_EDGES, renumber=True),
        "sumsweep_radius_diameter": "{0}\nSELECT min(ecc)::BIGINT AS radius, "
        "max(ecc)::BIGINT AS diameter, TRUE AS converged FROM {1}".format(
            *_ecc_all_sql(SQL_FUNC_EDGES_SMALL, 256, 8)
        ),
        "sumsweep_ecc_all": "{0}\nSELECT id, ecc FROM {1}".format(
            *_ecc_all_sql(SQL_FUNC_EDGES_SMALL, 256, 8)
        ),
        # constants pinned from the reference's own data/cnr-2000.properties
        # (nodes=325557, arcs=3216152) — the Spark side must decode the
        # whole BV bitstream exactly to reproduce them
        "bv_cnr2000_stats": (
            "SELECT 325557::BIGINT AS nodes, 3216152::BIGINT AS arcs"
        ),
        "sumsweep_ecc_backward": "{0}\nSELECT id, ecc FROM {1}".format(
            *_ecc_all_sql(
                "SELECT dst AS src, src AS dst FROM ("
                + SQL_FUNC_EDGES_SMALL
                + ")",
                256,
                8,
            )
        ),
        "topo_levels": _topo_sql(),
        "intern_string_graph": """
WITH arcs AS (SELECT DISTINCT n_name AS s, r_name AS d
              FROM nation JOIN region ON n_regionkey = r_regionkey),
names AS (SELECT s AS name FROM arcs UNION SELECT d FROM arcs),
dict AS (SELECT name, row_number() OVER (ORDER BY name) - 1 AS id FROM names)
SELECT DISTINCT ds.id AS src, dd.id AS dst
FROM arcs JOIN dict ds ON arcs.s = ds.name JOIN dict dd ON arcs.d = dd.name
""",
        "perm_compose": """
SELECT id AS old_id, (5 * ((id * 37 + 11) % 1024) + 3) % 1024 AS new_id,
       id AS back
FROM (SELECT range::BIGINT AS id FROM range(1024))
""",
        "events_window": """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
""",
        "page_text_extraction": r"""
SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS text
FROM documents
""",
        "page_link_extraction": """
WITH n AS (SELECT count(*) AS c FROM documents)
SELECT DISTINCT doc_id AS src, (doc_id * 31 + k) % (SELECT c FROM n) AS dst
FROM documents, (SELECT unnest([1, 2, 3]) AS k)
""",
        **_textops_oracles(),
        **_dist_oracles(),
    }


# ---------------------------------------------------------- textops queries

TOK_NORM_SQL = "trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"
TOKS_SQL = (
    "list_filter(string_split(" + TOK_NORM_SQL.format(col="{col}") + ", ' '), "
    "x -> x != '')"
)
TOKHASH_SQL = "(('0x' || substr(md5({tok}), 1, 15))::BIGINT)"
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _q_dedup_exact(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import exact_dedup

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return exact_dedup(docs)


def _q_fingerprint(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import fingerprint

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return fingerprint(docs)


def _q_token_count(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import token_count

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return token_count(docs)


def _q_quality(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import quality_score

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return quality_score(docs)


def _q_langid(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import lang_id

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return lang_id(docs)


def _q_minhash(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import minhash_signatures

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sig = minhash_signatures(docs)
    return sig.select(
        "doc_id", F.posexplode("sig").alias("j", "mh")
    ).select("doc_id", F.col("j").cast("long").alias("j"), "mh")


def _q_minhash_lsh(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return minhash_lsh_pairs(docs, threshold=0.5)


def _q_ngram_jaccard(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return ngram_jaccard_pairs(docs, threshold=0.2)


def _q_simhash(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import simhash

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return simhash(docs)


def _q_simhash_dups(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import simhash_near_dups

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return simhash_near_dups(docs, max_hamming=3)


def _q_cosine_topk(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import cosine_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return cosine_topk(emb, [0, 1, 2, 3, 4], k=5)


def _q_lsh_buckets(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import lsh_buckets

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return lsh_buckets(emb)


def _q_emb_near_dups(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import embedding_near_dups

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return embedding_near_dups(emb, threshold=0.4)


def _q_ivf_cells(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import ivf_assign

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ivf_assign(emb)


def _q_ivf_ann(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops import ivf_ann_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return ivf_ann_topk(emb, [100, 101, 102, 103, 104], k=5)


def _q_multimodal(spark, sf):
    _import_engine()
    _ship_package(spark)
    from webgraph_rs_spark.textops.multimodal import (
        decode_image_features,
        synthesize_images,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    feats = decode_image_features(synthesize_images(docs))
    return feats.select("doc_id", "width", "height", "n_bytes", "pixel_sum")


def _q_frame_sample(spark, sf):
    _import_engine()
    _ship_package(spark)
    from webgraph_rs_spark.textops.multimodal import (
        frame_sample,
        synthesize_videos,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").orderBy("doc_id").limit(200)
    frames = frame_sample(synthesize_videos(docs), every_n=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").cast("long").alias("n_bytes"),
    )


def _q_audio_features(spark, sf):
    _import_engine()
    _ship_package(spark)
    from webgraph_rs_spark.textops.multimodal import (
        decode_audio_features,
        synthesize_audio,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet").orderBy("doc_id").limit(200)
    feats = decode_audio_features(synthesize_audio(docs))
    return feats.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
        *[
            F.round(F.col("band_energy")[i], 6).alias(f"band{i}")
            for i in range(4)
        ],
    )


def _q_rolling_fp(spark, sf):
    _import_engine()
    from webgraph_rs_spark.textops.textstats import rolling_fingerprints

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # orderBy BEFORE limit: select the same 100 docs (smallest doc_ids) the
    # oracle's ORDER BY doc_id LIMIT 100 selects, under any partitioning
    return rolling_fingerprints(docs.orderBy("doc_id").limit(100), window=8)


def _q_dup_spans(spark, sf):
    """Cross-document duplicated token spans (substring-level dedup)."""
    _import_engine()
    from webgraph_rs_spark.textops.textstats import duplicate_spans

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    return duplicate_spans(docs.orderBy("doc_id").limit(500), window=8)


def _dup_spans_sql(window: int = 8, min_docs: int = 2) -> str:
    toks = TOKS_SQL.format(col="text")
    return f"""
WITH d AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 500),
tk AS MATERIALIZED (SELECT doc_id, {toks} AS t FROM d),
w AS (
  SELECT doc_id,
         array_to_string(list_slice(t, i.i, i.i + {window} - 1), ' ') AS span
  FROM tk, unnest(generate_series(1, len(t) - {window} + 1)) AS i(i)
  WHERE len(t) >= {window}
)
SELECT span, count(DISTINCT doc_id)::BIGINT AS n_docs
FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= {min_docs}
"""


def _minhash_sql() -> str:
    from webgraph_rs_spark.textops.dedup import MH_COEF, MH_P1, MH_P2

    toks = TOKS_SQL.format(col="text")
    mins = ", ".join(
        f"min(({a} * hs + {b}) % {MH_P2}) AS mh{j}"
        for j, (a, b) in enumerate(MH_COEF)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {j}::BIGINT AS j, mh{j} AS mh FROM sig"
        for j in range(len(MH_COEF))
    )
    return f"""
WITH {_shingle_cte()},
h AS MATERIALIZED (
  SELECT doc_id, {TOKHASH_SQL.format(tok='shingle')} % {MH_P1} AS hs FROM sh
),
sig AS MATERIALIZED (SELECT doc_id, {mins} FROM h GROUP BY doc_id)
{unions}
"""


def _shingle_cte() -> str:
    toks = TOKS_SQL.format(col="text")
    return f"""
tk AS MATERIALIZED (SELECT doc_id, {toks} AS t FROM documents),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS shingle
  FROM tk WHERE len(t) >= 3
),
sz AS MATERIALIZED (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id)
"""


def _ngram_jaccard_sql(threshold: float = 0.2) -> str:
    return f"""
WITH {_shingle_cte()},
inter AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(i / (sa.s + sb.s - i), 6) AS jaccard
FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
WHERE round(i / (sa.s + sb.s - i), 6) >= {threshold}
"""


def _minhash_lsh_sql(threshold: float = 0.5) -> str:
    from webgraph_rs_spark.textops.dedup import MH_COEF, MH_P1, MH_P2, MH_BANDS

    nh = len(MH_COEF)
    rows = nh // MH_BANDS
    toks = TOKS_SQL.format(col="text")
    mins = ", ".join(
        f"min(({a} * hs + {b}) % {MH_P2}) AS mh{j}"
        for j, (a, b) in enumerate(MH_COEF)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {bnd} AS band, concat_ws('_', {cols}) AS bkey FROM sig".format(
            bnd=bnd,
            cols=", ".join(f"mh{bnd * rows + r}" for r in range(rows)),
        )
        for bnd in range(MH_BANDS)
    )
    return f"""
WITH {_shingle_cte()},
h AS MATERIALIZED (
  SELECT doc_id, {TOKHASH_SQL.format(tok='shingle')} % {MH_P1} AS hs FROM sh
),
sig AS MATERIALIZED (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
bands AS MATERIALIZED ({band_rows}),
cand AS MATERIALIZED (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bkey = r.bkey
  WHERE l.doc_id < r.doc_id
),
inter AS MATERIALIZED (
  SELECT c.a, c.b, count(*) AS i
  FROM cand c JOIN sh x ON x.doc_id = c.a JOIN sh y
    ON y.doc_id = c.b AND x.shingle = y.shingle
  GROUP BY c.a, c.b
)
SELECT c.a, c.b,
       round(coalesce(i.i, 0) / (sa.s + sb.s - coalesce(i.i, 0)), 6) AS jaccard
FROM cand c
LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
WHERE round(coalesce(i.i, 0) / (sa.s + sb.s - coalesce(i.i, 0)), 6) >= {threshold}
"""


def _simhash_sql() -> str:
    from webgraph_rs_spark.textops.dedup import SIMHASH_BITS

    toks = TOKS_SQL.format(col="text")
    sums = ", ".join(
        f"sum(((h // {1 << i}) % 2) * 2 - 1) AS s{i}" for i in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH t AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest({toks}) AS tok FROM documents
),
h AS MATERIALIZED (SELECT doc_id, {TOKHASH_SQL.format(tok='tok')} AS h FROM t),
agg AS MATERIALIZED (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, ({assemble})::BIGINT AS simhash FROM agg
"""


def _simhash_dups_sql(max_hamming: int = 3) -> str:
    from webgraph_rs_spark.textops.dedup import SIMHASH_BITS

    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    parts = " UNION ALL ".join(
        f"SELECT doc_id, {c} AS chunk, (simhash // {1 << (c * width)}) "
        f"% {1 << width} AS ck, simhash FROM s"
        for c in range(chunks)
    )
    return (
        f"WITH base AS MATERIALIZED ({_simhash_sql()}), s AS (SELECT * FROM base), "
        f"p AS MATERIALIZED ({parts}) "
        "SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, "
        "bit_count(xor(l.simhash, r.simhash))::BIGINT AS hamming "
        "FROM p l JOIN p r ON l.chunk = r.chunk AND l.ck = r.ck "
        f"WHERE l.doc_id < r.doc_id AND bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}"
    )


def _langid_sql() -> str:
    from webgraph_rs_spark.textops.textstats import STOPWORDS

    toks = TOKS_SQL.format(col="text")
    rows = " UNION ALL ".join(
        "SELECT doc_id, '{lang}' AS lang, len(list_filter(t, x -> x IN ({words}))) AS hits FROM tk".format(
            lang=lang, words=", ".join(f"'{w}'" for w in words)
        )
        for lang, words in sorted(STOPWORDS.items())
    )
    return f"""
WITH tk AS MATERIALIZED (SELECT doc_id, {toks} AS t FROM documents),
scores AS MATERIALIZED ({rows}),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
  FROM scores
)
SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
       hits::BIGINT AS lang_hits
FROM best WHERE rn = 1
"""


def _quality_sql() -> str:
    toks = TOKS_SQL.format(col="text")
    sw = "'the','and','of','to','a','in','is','that','it','for'"
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, text, {toks} AS t, length(text)::BIGINT AS n_chars,
         len(regexp_extract_all(text, '[^\\w\\s]'))::BIGINT AS n_punct
  FROM documents
),
m AS (
  SELECT doc_id, n_chars, len(t)::BIGINT AS n_tokens,
         CASE WHEN len(t) > 0
              THEN list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)
              ELSE 0.0 END AS mean_token_len,
         CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN len(t) > 0
              THEN len(list_filter(t, x -> x IN ({sw})))::DOUBLE / len(t)
              ELSE 0.0 END AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens, round(mean_token_len, 6) AS mean_token_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(0.4 * least(n_chars / 500.0, 1.0)
           + 0.4 * least(stopword_ratio * 5.0, 1.0)
           + 0.2 * (1.0 - least(punct_ratio * 10.0, 1.0)), 6) AS quality
FROM m
"""


def _cosine_topk_sql(k: int = 5) -> str:
    return f"""
WITH q AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id IN (0, 1, 2, 3, 4)
),
c AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
),
sims AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               6) AS cos_sim
  FROM q, c WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, cos_sim,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC)::BIGINT AS rnk
FROM sims
QUALIFY rnk <= {k}
"""


def _lsh_buckets_sql() -> str:
    from webgraph_rs_spark.textops.similarity import N_PLANES

    terms = []
    for j in range(N_PLANES):
        base = 1103515245 * (j + 1)
        dot = (
            f"(SELECT sum(e.embedding[u.i]::DOUBLE * ((({base} + 12345 * u.i)"
            f" % 1000 - 500) / 500.0))"
            f" FROM unnest(generate_series(1, len(e.embedding))) AS u(i))"
        )
        terms.append(f"CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END")
    assemble = " + ".join(terms)
    return f"SELECT e.vec_id, ({assemble})::BIGINT AS bucket FROM embeddings e"


_COS_SQL = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _lsh_band_keys_sql(n_planes: int = 16, n_bands: int = 4) -> str:
    """Mirror of similarity.lsh_band_keys: one row (vec_id, band, key) per
    band, key packing the sign bits of that band's planes (bit r of band t
    is plane j = t*rows + r). DuckDB's unnest index u.i is 1-based, matching
    the Spark side's (i + 1)."""
    rows = n_planes // n_bands
    selects = []
    for t in range(n_bands):
        terms = []
        for r in range(rows):
            j = t * rows + r
            base = 1103515245 * (j + 1)
            dot = (
                f"(SELECT sum(e.embedding[u.i]::DOUBLE * ((({base} + 12345 * u.i)"
                f" % 1000 - 500) / 500.0))"
                f" FROM unnest(generate_series(1, len(e.embedding))) AS u(i))"
            )
            terms.append(f"CASE WHEN {dot} >= 0 THEN {1 << r} ELSE 0 END")
        key = " + ".join(terms)
        selects.append(
            f"SELECT e.vec_id, {t}::BIGINT AS band, ({key})::BIGINT AS key"
            f" FROM embeddings e"
        )
    return " UNION ALL ".join(selects)


def _emb_near_dups_sql(threshold: float = 0.4) -> str:
    cos = _COS_SQL.format(a="ea.v", b="eb.v")
    return f"""
WITH bk AS MATERIALIZED ({_lsh_band_keys_sql()}),
e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM bk l JOIN bk r ON l.band = r.band AND l.key = r.key
                         AND l.vec_id < r.vec_id)
SELECT p.a, p.b, {cos} AS cos_sim
FROM p JOIN e ea ON p.a = ea.vec_id JOIN e eb ON p.b = eb.vec_id
WHERE {cos} >= {threshold}
"""


def _ivf_ctes(n_cells: int = 16) -> str:
    cos = _COS_SQL.format(a="e.v", b="c.centroid")
    return f"""
e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS MATERIALIZED (
  SELECT seed_id, centroid,
         (row_number() OVER (ORDER BY seed_id) - 1)::BIGINT AS cell
  FROM (SELECT vec_id AS seed_id, v AS centroid FROM e
        ORDER BY vec_id LIMIT {n_cells})
),
scored AS MATERIALIZED (
  SELECT e.vec_id, c.cell, {cos} AS sim FROM e, c
),
assign AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cell ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
"""


def _ivf_ann_sql(query_ids, k: int = 5, n_probe: int = 4) -> str:
    qlist = ", ".join(str(int(q)) for q in query_ids)
    cos_qc = _COS_SQL.format(a="q.qv", b="c.centroid")
    cos_qn = _COS_SQL.format(a="pr.qv", b="en.v")
    return f"""
WITH {_ivf_ctes()},
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ({qlist})),
qc AS (SELECT q.query_id, q.qv, c.cell, {cos_qc} AS sim FROM q, c),
pr AS (
  SELECT query_id, qv, cell FROM (
    SELECT query_id, qv, cell,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, cell ASC) AS rn
    FROM qc
  ) WHERE rn <= {n_probe}
),
sims AS (
  SELECT DISTINCT pr.query_id, a.vec_id AS neighbor_id, {cos_qn} AS cos_sim
  FROM pr JOIN assign a ON pr.cell = a.cell
  JOIN e en ON a.vec_id = en.vec_id
  WHERE a.vec_id != pr.query_id
)
SELECT query_id, neighbor_id, cos_sim,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, neighbor_id ASC)::BIGINT AS rnk
FROM sims
QUALIFY rnk <= {k}
"""


def _multimodal_sql() -> str:
    return """
WITH dims AS (
  SELECT doc_id, 16 + doc_id % 48 AS w, 16 + (doc_id * 7) % 32 AS h
  FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h,
         sum((d.doc_id + 31 * x.i + 17 * y.j) % 251)::BIGINT AS ps
  FROM dims d,
       unnest(generate_series(0, d.w - 1)) AS x(i),
       unnest(generate_series(0, d.h - 1)) AS y(j)
  GROUP BY d.doc_id, d.w, d.h
)
SELECT doc_id, w::INT AS width, h::INT AS height,
       (8 + w * h)::BIGINT AS n_bytes, ps AS pixel_sum
FROM px
"""


def _frame_sample_sql() -> str:
    return """
WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
dims AS (SELECT doc_id, 8 + doc_id % 9 AS nf, 16 + doc_id % 16 AS w,
                16 + (doc_id * 3) % 16 AS h FROM d)
SELECT doc_id, u.f::INT AS frame_idx, (8 + w * h)::BIGINT AS n_bytes
FROM dims, unnest(generate_series(0, nf - 1, 4)) AS u(f)
"""


def _audio_features_sql() -> str:
    return """
WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
meta AS (SELECT doc_id, 8000::BIGINT AS sample_rate,
                (800 + (doc_id % 5) * 400)::BIGINT AS n FROM d),
s AS MATERIALIZED (
  SELECT m.doc_id, u.t AS t,
         (((m.doc_id * 13 + u.t * u.t) % 4001) - 2000)::DOUBLE AS v, m.n
  FROM meta m, unnest(generate_series(0, m.n - 1)) AS u(t)
),
b AS (SELECT doc_id, v, n,
             CASE WHEN t < ((n // 4) + 1) * (n % 4)
                  THEN t // ((n // 4) + 1)
                  ELSE (n % 4) + (t - ((n // 4) + 1) * (n % 4)) // (n // 4)
             END AS band
      FROM s),
be AS (SELECT doc_id, band, round(avg(v * v), 6) AS e
       FROM b GROUP BY doc_id, band),
bp AS (SELECT doc_id,
              max(CASE WHEN band = 0 THEN e END) AS band0,
              max(CASE WHEN band = 1 THEN e END) AS band1,
              max(CASE WHEN band = 2 THEN e END) AS band2,
              max(CASE WHEN band = 3 THEN e END) AS band3
       FROM be GROUP BY doc_id),
zcs AS (SELECT doc_id, v,
               lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
        FROM s),
zc AS (SELECT doc_id,
              sum(CASE WHEN (v < 0) != (pv < 0) THEN 1 ELSE 0 END)::BIGINT AS z
       FROM zcs GROUP BY doc_id),
agg AS (SELECT doc_id, round(sqrt(avg(v * v)), 6) AS rms FROM s GROUP BY doc_id)
SELECT meta.doc_id, meta.sample_rate, meta.n AS n_samples,
       round(meta.n / 8000.0, 6) AS duration_sec, agg.rms,
       zc.z AS zero_crossings, bp.band0, bp.band1, bp.band2, bp.band3
FROM meta JOIN agg USING (doc_id) JOIN zc USING (doc_id) JOIN bp USING (doc_id)
"""


def _rolling_fp_sql(window: int = 8) -> str:
    toks = TOKS_SQL.format(col="text")
    return f"""
WITH d AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 100),
tk AS MATERIALIZED (SELECT doc_id, {toks} AS t FROM d),
w AS (
  SELECT doc_id,
         split_part(u.s, '|', 1)::BIGINT AS pos,
         split_part(u.s, '|', 2) AS win
  FROM tk, unnest(list_transform(generate_series(1, len(t) - {window} + 1),
       i -> (i - 1)::VARCHAR || '|' ||
            array_to_string(list_slice(t, i, i + {window} - 1), ' ')))
       AS u(s)
  WHERE len(t) >= {window}
)
SELECT doc_id, pos,
       ('0x' || substr(md5(win), 1, 15))::BIGINT AS fp
FROM w
"""


_TEXTOPS_QUERIES = {
    "dedup_exact": _q_dedup_exact,
    "doc_fingerprint": _q_fingerprint,
    "token_count": _q_token_count,
    "quality_score": _q_quality,
    "lang_id": _q_langid,
    "minhash_signatures": _q_minhash,
    "minhash_lsh_dups": _q_minhash_lsh,
    "ngram_jaccard_dups": _q_ngram_jaccard,
    "simhash": _q_simhash,
    "simhash_near_dups": _q_simhash_dups,
    "cosine_topk": _q_cosine_topk,
    "lsh_buckets": _q_lsh_buckets,
    "embedding_near_dups": _q_emb_near_dups,
    "ivf_cells": _q_ivf_cells,
    "ivf_ann_topk": _q_ivf_ann,
    "multimodal_meta": _q_multimodal,
    "frame_sample_meta": _q_frame_sample,
    "audio_features": _q_audio_features,
    "rolling_fingerprints": _q_rolling_fp,
    "duplicate_spans": _q_dup_spans,
}


def _textops_oracles() -> dict[str, str]:
    toks = TOKS_SQL.format(col="text")
    return {
        "dedup_exact": """
WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
k AS (SELECT h, min(doc_id) AS keeper FROM h GROUP BY h)
SELECT doc_id, keeper FROM h JOIN k USING (h)
""",
        "doc_fingerprint": f"""
SELECT doc_id, md5({TOK_NORM_SQL.format(col='text')}) AS fp_md5,
       ('0x' || substr(md5({TOK_NORM_SQL.format(col='text')}), 1, 15))::BIGINT AS fp_int
FROM documents
""",
        "token_count": f"""
SELECT doc_id, len({toks})::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '{BPE_RE}'))::BIGINT AS n_bpe_pieces
FROM documents
""",
        "quality_score": _quality_sql(),
        "lang_id": _langid_sql(),
        "minhash_signatures": _minhash_sql(),
        "minhash_lsh_dups": _minhash_lsh_sql(),
        "ngram_jaccard_dups": _ngram_jaccard_sql(),
        "simhash": _simhash_sql(),
        "simhash_near_dups": _simhash_dups_sql(),
        "cosine_topk": _cosine_topk_sql(),
        "lsh_buckets": _lsh_buckets_sql(),
        "embedding_near_dups": _emb_near_dups_sql(),
        "ivf_cells": f"WITH {_ivf_ctes()} SELECT vec_id, cell FROM assign",
        "ivf_ann_topk": _ivf_ann_sql([100, 101, 102, 103, 104]),
        "multimodal_meta": _multimodal_sql(),
        "frame_sample_meta": _frame_sample_sql(),
        "audio_features": _audio_features_sql(),
        "rolling_fingerprints": _rolling_fp_sql(),
        "duplicate_spans": _dup_spans_sql(),
    }


# ------------------------------------------------- birank + distance queries

BR_ITERS = 8
BR_ALPHA = 0.85
BR_BETA = 0.75
APD_ITERS = 12

SQL_BIP = (
    "SELECT DISTINCT o_custkey % 1024 AS u, o_orderkey % 997 AS p FROM orders"
)


def _q_birank(spark, sf):
    _import_engine()
    from webgraph_rs_spark.algorithms.birank import birank

    o = spark.read.parquet(f"{sf}/orders.parquet")
    e = o.select(
        (F.col("o_custkey") % 1024).alias("u"), (F.col("o_orderkey") % 997).alias("p")
    ).dropDuplicates(["u", "p"])
    res = birank(
        e,
        spark.range(1024).select("id"),
        spark.range(997).select("id"),
        alpha=BR_ALPHA,
        beta=BR_BETA,
        threshold=None,
        max_iter=BR_ITERS,
    )
    return res.user_ranks.select(
        F.lit("u").alias("side"), "id", F.round("rank", 7).alias("rank")
    ).unionByName(
        res.item_ranks.select(
            F.lit("p").alias("side"), "id", F.round("rank", 7).alias("rank")
        )
    )


def _birank_sql(iters: int = BR_ITERS, alpha: float = BR_ALPHA, beta: float = BR_BETA) -> str:
    a, b = repr(alpha), repr(beta)
    oma, omb = repr(1.0 - alpha), repr(1.0 - beta)
    parts = [
        f"WITH e AS MATERIALIZED ({SQL_BIP}),",
        "uu AS MATERIALIZED (SELECT range::BIGINT AS id FROM range(1024)),",
        "pp AS MATERIALIZED (SELECT range::BIGINT AS id FROM range(997)),",
        "du AS MATERIALIZED (SELECT u AS id, count(*) AS d FROM e GROUP BY u),",
        "dp AS MATERIALIZED (SELECT p AS id, count(*) AS d FROM e GROUP BY p),",
        "mu AS MATERIALIZED (SELECT uu.id, CASE WHEN du.d > 0 THEN 1.0/sqrt(du.d) ELSE 0.0 END AS isd, 1.0/1024 AS q FROM uu LEFT JOIN du ON uu.id = du.id),",
        "mp AS MATERIALIZED (SELECT pp.id, CASE WHEN dp.d > 0 THEN 1.0/sqrt(dp.d) ELSE 0.0 END AS isd, 1.0/997 AS q FROM pp LEFT JOIN dp ON pp.id = dp.id),",
        "u0 AS MATERIALIZED (SELECT id, 1.0/1024 AS r FROM uu),",
        "p0 AS MATERIALIZED (SELECT id, 1.0/997 AS r FROM pp),",
    ]
    for k in range(iters):
        parts.append(
            f"ps{k} AS MATERIALIZED (SELECT e.p AS id, sum(u{k}.r * mu.isd) AS s "
            f"FROM e JOIN u{k} ON e.u = u{k}.id JOIN mu ON e.u = mu.id GROUP BY e.p),"
        )
        parts.append(
            f"p{k + 1} AS MATERIALIZED (SELECT mp.id, "
            f"{b} * coalesce(ps{k}.s, 0.0) * mp.isd + {omb} * mp.q AS r "
            f"FROM mp LEFT JOIN ps{k} ON mp.id = ps{k}.id),"
        )
        parts.append(
            f"us{k} AS MATERIALIZED (SELECT e.u AS id, sum(p{k + 1}.r * mp.isd) AS s "
            f"FROM e JOIN p{k + 1} ON e.p = p{k + 1}.id JOIN mp ON e.p = mp.id GROUP BY e.u),"
        )
        parts.append(
            f"u{k + 1} AS MATERIALIZED (SELECT mu.id, "
            f"{a} * coalesce(us{k}.s, 0.0) * mu.isd + {oma} * mu.q AS r "
            f"FROM mu LEFT JOIN us{k} ON mu.id = us{k}.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT 'u' AS side, id, round(r, 7) AS rank FROM u{iters} "
        f"UNION ALL SELECT 'p' AS side, id, round(r, 7) AS rank FROM p{iters}"
    )
    return "\n".join(parts)


def _apd_sql(iters: int = APD_ITERS) -> str:
    """Multi-source min-plus from the 32-root sample over the lineitem
    graph, K unrolled steps. (Full all-pairs on the strongly connected test
    graphs is n^2 pairs — the sampled-source form is also the realistic
    at-scale usage, cf. sampling-based diameter estimation.)"""
    parts = [
        f"WITH e AS MATERIALIZED ({SQL_EDGES}),",
        "v AS MATERIALIZED (SELECT range::BIGINT AS id FROM range(32)),",
        "d0 AS MATERIALIZED (SELECT id AS root, id, 0::BIGINT AS distance FROM v),",
    ]
    for k in range(iters):
        parts.append(
            f"n{k} AS MATERIALIZED (SELECT d{k}.root, e.dst AS id, "
            f"min(d{k}.distance) + 1 AS nd FROM e JOIN d{k} ON e.src = d{k}.id "
            f"GROUP BY d{k}.root, e.dst),"
        )
        parts.append(
            f"d{k + 1} AS MATERIALIZED (SELECT coalesce(a.root, b.root) AS root, "
            f"coalesce(a.id, b.id) AS id, "
            f"least(coalesce(a.distance, b.nd), coalesce(b.nd, a.distance)) AS distance "
            f"FROM d{k} a FULL OUTER JOIN n{k} b ON a.root = b.root AND a.id = b.id),"
        )
    parts[-1] = parts[-1].rstrip(",")
    return "\n".join(parts), f"d{iters}"


APD_SOURCES = 32


def _apd_base(spark, sf):
    from webgraph_rs_spark.testgraphs import lineitem_graph
    from webgraph_rs_spark.algorithms.distances import all_pairs_distances

    g = lineitem_graph(spark, sf)
    roots = spark.range(APD_SOURCES).select("id")
    return g, all_pairs_distances(g, sources=roots)


def _q_apd(spark, sf):
    _import_engine()
    return _apd_base(spark, sf)[1].distances


def _q_nf(spark, sf):
    _import_engine()
    from webgraph_rs_spark.algorithms.distances import neighborhood_function

    return neighborhood_function(_apd_base(spark, sf)[1].distances)


def _q_centralities(spark, sf):
    _import_engine()
    from webgraph_rs_spark.algorithms.distances import geometric_centralities

    g, res = _apd_base(spark, sf)
    roots = g.edges.sparkSession.range(APD_SOURCES).select("id")
    return geometric_centralities(res.distances, roots)


def _q_ecc(spark, sf):
    _import_engine()
    from webgraph_rs_spark.algorithms.distances import eccentricities

    g, res = _apd_base(spark, sf)
    roots = g.edges.sparkSession.range(APD_SOURCES).select("id")
    return eccentricities(res.distances, roots)


def _q_radius_diameter(spark, sf):
    _import_engine()
    from webgraph_rs_spark.algorithms.distances import radius_diameter
    from webgraph_rs_spark.session import local_table

    g, res = _apd_base(spark, sf)
    roots = spark.range(APD_SOURCES).select("id")
    r, d = radius_diameter(res.distances, roots)
    return local_table(spark, [(r, d)], "radius long, diameter long")


def _q_hyperball(spark, sf):
    """HyperBall estimates gated against the EXACT all-pairs distances on
    the same graph (the reference's own acceptance criterion: HLL estimates
    within rigorous error of the true neighborhood function). Sketches are
    deterministic, so the violation counts are stable; the oracle asserts
    zero violations at bounds far beyond the lg_k=11 sketch sigma (~2.3%):
    10% on ball sizes (4.3 sigma), 15% on the accumulated sum-of-distances /
    harmonic estimates."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import orders_graph
    from webgraph_rs_spark.algorithms.distances import (
        all_pairs_distances,
        geometric_centralities,
        hyperball,
    )

    g = orders_graph(spark, sf)
    hb = hyperball(g, max_iter=16)
    exact = geometric_centralities(
        all_pairs_distances(g).distances, g.vertices
    )
    j = hb.centralities.join(exact, "id")
    rel = lambda est, ex: F.abs(F.col(est) - F.col(ex)) / F.greatest(  # noqa: E731
        F.col(ex).cast("double"), F.lit(1.0)
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("nodes"),
        F.sum(
            F.when(rel("reachable_est", "reachable") > 0.10, 1).otherwise(0)
        ).cast("long").alias("reach_viol"),
        F.sum(
            F.when(rel("sum_dist_est", "sum_dist") > 0.15, 1).otherwise(0)
        ).cast("long").alias("sumdist_viol"),
        F.sum(
            F.when(rel("harmonic_est", "harmonic") > 0.15, 1).otherwise(0)
        ).cast("long").alias("harm_viol"),
    )


def _q_hyperball_weighted(spark, sf):
    """Weighted HyperBall (hyperball.rs:542-576,866-884): counters seeded
    with weight(v) distinct elements make reachable_est estimate the total
    WEIGHT of the ball. Gated like hyperball_centralities: estimates
    bounded against the exact weighted oracle computed from all-pairs
    distances on the same graph; deterministic weights id % 5 include
    zero-weight nodes."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import orders_graph
    from webgraph_rs_spark.algorithms.distances import (
        all_pairs_distances,
        hyperball,
    )

    g = orders_graph(spark, sf)
    w = g.vertices.select(
        "id", (F.col("id") % 5).cast("long").alias("weight")
    )
    hb = hyperball(g, max_iter=16, weights=w)
    d = all_pairs_distances(g).distances  # (root, id, distance)
    exact = (
        d.join(w, "id")
        .groupBy(F.col("root").alias("id"))
        .agg(
            F.sum("weight").cast("double").alias("wreach"),
            F.sum(F.col("weight") * F.col("distance"))
            .cast("double")
            .alias("wsumdist"),
        )
    )
    j = hb.centralities.join(exact, "id")
    rel = lambda est, ex: F.abs(F.col(est) - F.col(ex)) / F.greatest(  # noqa: E731
        F.col(ex).cast("double"), F.lit(1.0)
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("nodes"),
        F.sum(
            F.when(rel("reachable_est", "wreach") > 0.10, 1).otherwise(0)
        ).cast("long").alias("reach_viol"),
        F.sum(
            F.when(rel("sum_dist_est", "wsumdist") > 0.15, 1).otherwise(0)
        ).cast("long").alias("sumdist_viol"),
    )


def _q_hyperball_discounted(spark, sf):
    """Discounted-centrality HyperBall (``discounted_centrality``,
    hyperball.rs: per-iteration accumulator growing by discount(t) *
    ball increment): with discount f(t) = 2^-t the estimate is gated
    against the exact oracle sum_{v: 0 < d(root,v) < inf} 2^-d(root,v)
    from all-pairs distances, zero violations at a 15% bound (the same
    acceptance pattern as hyperball_centralities; sketches are
    deterministic so the count is stable)."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import orders_graph
    from webgraph_rs_spark.algorithms.distances import (
        all_pairs_distances,
        hyperball,
    )

    g = orders_graph(spark, sf)
    hb = hyperball(g, max_iter=16, discounts={"exp2": lambda t: 2.0 ** -t})
    d = all_pairs_distances(g).distances  # (root, id, distance)
    exact = d.groupBy(F.col("root").alias("id")).agg(
        F.sum(
            F.when(
                F.col("distance") > 0, F.pow(F.lit(2.0), -F.col("distance"))
            ).otherwise(F.lit(0.0))
        ).alias("exp2_exact")
    )
    j = hb.centralities.join(exact, "id")
    rel = lambda est, ex: F.abs(F.col(est) - F.col(ex)) / F.greatest(  # noqa: E731
        F.col(ex).cast("double"), F.lit(1.0)
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("nodes"),
        F.sum(
            F.when(rel("exp2_est", "exp2_exact") > 0.15, 1).otherwise(0)
        ).cast("long").alias("disc_viol"),
    )


def _q_llp(spark, sf):
    """LLP permutation validity, SQL-gated: the permutation must be a
    bijection onto the contiguous range 0..n-1, and the combined labeling's
    log-gap cost must not exceed the best single-gamma labeling's (the
    combine step is keep-if-improved, so this monotonicity is the invariant
    a regression would break; all costs are deterministic here)."""
    _import_engine()
    from webgraph_rs_spark.testgraphs import orders_graph
    from webgraph_rs_spark.algorithms.llp import llp

    g = orders_graph(spark, sf)
    res = llp(g, gammas=(0.0, 0.5), iters_per_gamma=4)
    improved = bool(
        res.final_cost <= min(res.gamma_costs.values()) + 1e-6
    )
    return res.permutation.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("old_id").cast("long").alias("n_distinct_old"),
        F.countDistinct("new_id").cast("long").alias("n_distinct_new"),
        F.min("new_id").cast("long").alias("min_new"),
        F.max("new_id").cast("long").alias("max_new"),
    ).withColumn("improved", F.lit(improved))


_DIST_QUERIES = {
    "birank": _q_birank,
    "all_pairs_distances": _q_apd,
    "neighborhood_function": _q_nf,
    "geometric_centralities": _q_centralities,
    "eccentricities": _q_ecc,
    "radius_diameter": _q_radius_diameter,
    "hyperball_centralities": _q_hyperball,
    "hyperball_weighted": _q_hyperball_weighted,
    "hyperball_discounted": _q_hyperball_discounted,
    "llp_permutation": _q_llp,
}


def _dist_oracles() -> dict[str, str]:
    apd_ctes, final = _apd_sql()
    nf = (
        apd_ctes
        + f""",
byd AS (SELECT distance, count(*) AS n FROM {final} GROUP BY distance)
SELECT distance AS r,
       sum(n) OVER (ORDER BY distance ROWS UNBOUNDED PRECEDING)::BIGINT AS pairs
FROM byd
"""
    )
    cent = (
        apd_ctes
        + f""",
agg AS (SELECT root AS id, count(*) AS reachable, sum(distance) AS sum_dist,
               sum(CASE WHEN distance > 0 THEN 1.0 / distance ELSE 0.0 END) AS harmonic
        FROM {final} GROUP BY root)
SELECT v.id, coalesce(agg.reachable, 1)::BIGINT AS reachable,
       coalesce(agg.sum_dist, 0)::BIGINT AS sum_dist,
       round(coalesce(agg.harmonic, 0.0), 6) AS harmonic,
       round(CASE WHEN coalesce(agg.sum_dist, 0) > 0
                  THEN 1.0 / agg.sum_dist ELSE 0.0 END, 9) AS closeness,
       round(CASE WHEN coalesce(agg.sum_dist, 0) > 0
                  THEN (agg.reachable * agg.reachable)::DOUBLE / agg.sum_dist
                  ELSE 1.0 END, 6) AS lin,
       (coalesce(agg.reachable, 1) * coalesce(agg.reachable, 1)
        - coalesce(agg.sum_dist, 0))::BIGINT AS nieminen
FROM v LEFT JOIN agg ON v.id = agg.id
"""
    )
    ecc = (
        apd_ctes
        + f""",
agg AS (SELECT root AS id, max(distance) AS ecc FROM {final} GROUP BY root)
SELECT v.id, coalesce(agg.ecc, 0)::BIGINT AS ecc
FROM v LEFT JOIN agg ON v.id = agg.id
"""
    )
    rad = (
        apd_ctes
        + f""",
agg AS (SELECT root AS id, max(distance) AS ecc FROM {final} GROUP BY root),
alle AS (SELECT v.id, coalesce(agg.ecc, 0) AS ecc FROM v LEFT JOIN agg ON v.id = agg.id)
SELECT min(ecc)::BIGINT AS radius, max(ecc)::BIGINT AS diameter FROM alle
"""
    )
    return {
        "birank": _birank_sql(),
        "all_pairs_distances": apd_ctes + f"\nSELECT root, id, distance FROM {final}",
        "neighborhood_function": nf,
        "geometric_centralities": cent,
        "eccentricities": ecc,
        "radius_diameter": rad,
        # hyperball/llp: the Spark queries compute their own acceptance
        # summaries (bounds vs exact distances / bijection+contiguity+cost
        # monotonicity); the oracles state the required outcome in SQL.
        "hyperball_centralities": """
SELECT count(*)::BIGINT AS nodes, 0::BIGINT AS reach_viol,
       0::BIGINT AS sumdist_viol, 0::BIGINT AS harm_viol
FROM range(1024)
""",
        "hyperball_weighted": """
SELECT count(*)::BIGINT AS nodes, 0::BIGINT AS reach_viol,
       0::BIGINT AS sumdist_viol
FROM range(1024)
""",
        "hyperball_discounted": """
SELECT count(*)::BIGINT AS nodes, 0::BIGINT AS disc_viol
FROM range(1024)
""",
        "llp_permutation": """
SELECT count(*)::BIGINT AS n_rows, count(*)::BIGINT AS n_distinct_old,
       count(*)::BIGINT AS n_distinct_new, 0::BIGINT AS min_new,
       (count(*) - 1)::BIGINT AS max_new, TRUE AS improved
FROM range(1024)
""",
    }
