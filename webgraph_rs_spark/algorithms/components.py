"""Connected components of the symmetrized graph.

The reference computes components of symmetric graphs by parallel BFS visits
(``algo/src/sccs/symm_seq.rs:16``, ``symm_par.rs:25-68``) — a pointer-chasing
strategy with no good Spark analogue. Two Spark-native strategies instead,
both converging to the canonical labeling *component = min node id*:

- :func:`connected_components` — iterated min-label propagation
  (O(diameter) rounds; one shuffle per round; simple and fast on
  small-diameter web graphs);
- :func:`cc_star` — the small-star/large-star alternation of Kiveris et al.,
  "Connected Components in MapReduce and Beyond" (SOCC'14) — O(log^2 n)
  rounds independent of diameter; this is the scale path the north rule
  names (long-chain subgraphs at 10^12 nodes would starve label propagation).

Renumbering by decreasing component size reproduces the reference's
``sort_by_size``/``par_sort_by_size`` (``algo/src/sccs/mod.rs:116-154``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from webgraph_rs_spark.driver import MaxIter, MetricZero, iterate, release_state
from webgraph_rs_spark.graph import LinkGraph


@dataclass
class CCResult:
    labels: DataFrame  # (id long, label long) — label = min id in component
    iterations: int
    metrics_history: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def connected_components(
    g: LinkGraph,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    job: str = "cc",
    checkpoint_every: int = 1,
    resume: bool = True,
) -> CCResult:
    """Min-label propagation to fixpoint: label'_v = min(label_v, min over
    neighbors). One join + one groupBy (two shuffles) per round; terminates
    when no label changes (``modified == 0``).

    Frontier optimization (the reference's ``can_change`` tracking,
    ``llp/mod.rs:311-321``): labels only decrease, so a node's label can
    only improve via a neighbor whose label changed LAST round — each round
    gathers only from last round's changed (id, label) rows instead of
    rescanning the full edge⋈state join. Exact (monotone lattice), and the
    per-round states equal the full-rescan ones; at the long-tail of
    convergence this turns edge-sized scans into frontier-sized ones. Small
    frontiers are broadcast.

    Single-action iterations (guide §1.2 order-1, §2.4): the frontier is
    the ``_chg`` COLUMN of the state itself — next round filters the
    driver-managed (persisted/truncated) state instead of maintaining a
    separately checkpointed frontier table, and the ``modified`` count
    rides the driver's own materializing action as an ``observe`` metric.
    One Spark action per round, where the old shape paid three (frontier
    checkpoint + count + state materialization). AQE runs each query stage
    of that action as a Spark job of its own, so a round measures about
    7.5 jobs (pinned in ``tests/test_job_counts.py``).
    """
    spark = g.edges.sparkSession
    sym = g.sym_edges()
    state0 = g.vertices.select(
        "id", F.col("id").alias("label"), F.lit(True).alias("_chg")
    )

    def step(state: DataFrame, it: int, last: dict):
        if "_chg" not in state.columns:
            # a checkpoint written before the frontier column: mark every
            # node changed — a full rescan, exact by monotonicity — and
            # size it as unknown
            state = state.withColumn("_chg", F.lit(True))
            last = {}
        # last round's frontier size, restored with the state on resume
        n_fr = last.get("modified")
        src_labels = state.filter(F.col("_chg")).select("id", "label")
        if n_fr is not None and n_fr <= 1_000_000:
            src_labels = F.broadcast(src_labels)
        else:
            src_labels = src_labels.hint("shuffle_hash")
        nbr_min = (
            sym.join(src_labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new = (
            state.select("id", "label").join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                    "_chg"
                ),
            )
        )
        obs = Observation()
        observed = new.observe(
            obs, F.sum(F.col("_chg").cast("long")).alias("m")
        )

        def metrics_fn() -> dict:
            m = int(obs.get.get("m") or 0)
            return {"modified": m, "frontier_rows": m}

        return observed, metrics_fn

    stop = MetricZero("modified") | MaxIter(max_iter)
    res = iterate(
        spark,
        state0,
        step,
        stop,
        checkpoint_dir=checkpoint_dir,
        job=job,
        checkpoint_every=checkpoint_every,
        resume=resume,
        # the step embeds the state subplan twice (frontier filter +
        # adopt join) — plans grow ~2^K between truncations whatever the
        # commit cadence (driver.py)
        truncate_every=3,
    )
    # drop the internal _chg column and hand back a self-contained frame:
    # a bare projection could not release the state's cache/checkpoint
    # blocks (guide §5 unpersist hygiene), so materialize then release
    labels = res.state.select("id", "label").localCheckpoint()
    release_state(res.state)
    return CCResult(labels, res.iterations, res.metrics_history, res.resumed_from)


def cc_star(
    g: LinkGraph,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    job: str = "cc_star",
    resume: bool = True,
) -> CCResult:
    """Small-star/large-star alternation (Kiveris et al., SOCC'14).

    State = the current edge set as parent pointers (u, v). Each round:

    - large-star: for each u, connect every *strictly larger* neighbor to the
      minimum of the closed neighborhood m = min(u, min N(u));
    - small-star: connect every neighbor <= u (and u itself) to m.

    Both steps are a groupBy(min) + join + projection — two shuffles each —
    and strictly shrink the forest height; convergence in O(log^2 n) rounds
    (in practice a handful). At fixpoint every node points at the minimum
    node of its component.
    """
    spark = g.edges.sparkSession
    # state = current edge set, canonical direction high -> low
    state0 = g.sym_edges().filter(F.col("src") > F.col("dst"))

    def _large_star(edges: DataFrame) -> DataFrame:
        # neighborhoods over BOTH directions; attach strictly-larger
        # neighbors to the min of the closed neighborhood (paper Alg. 2)
        bi = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = bi.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
        out = (
            bi.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        return out.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])

    def _small_star(edges: DataFrame) -> DataFrame:
        # canonical high -> low; connect all smaller neighbors (and self) to
        # the minimum (paper Alg. 3)
        canon = edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        m = canon.groupBy("src").agg(F.min("dst").alias("m"))
        e = canon.join(m, "src")
        nbrs = e.filter(F.col("dst") != F.col("m")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
        selfe = m.select("src", F.col("m").alias("dst"))
        return (
            nbrs.unionByName(selfe)
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )

    # convergence = stable canonical edge set, detected by an
    # order-insensitive (count, bit_xor of xxhash64) signature of the
    # (deduped) edge rows, observed on the driver's materializing action
    # and compared with last round's — vs two exceptAll edge-sized shuffles
    # per round. A signature collision (2^-64, deterministic inputs) would
    # stop one round early; acceptable.
    def step(state: DataFrame, it: int, last: dict):
        obs = Observation()
        after = _small_star(_large_star(state)).observe(
            obs,
            F.count(F.lit(1)).alias("m"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        )

        def metrics_fn() -> dict:
            vals = obs.get
            sig = {"sig_rows": int(vals["m"]), "sig_hash": int(vals.get("h") or 0)}
            same = all(last.get(k) == v for k, v in sig.items())
            return dict(sig, modified=0 if same else 1)

        return after, metrics_fn

    stop = MetricZero("modified") | MaxIter(max_iter)
    res = iterate(
        spark,
        state0,
        step,
        stop,
        checkpoint_dir=checkpoint_dir,
        job=job,
        checkpoint_every=1,
        resume=resume,
        # the two-star composition embeds the state subplan ~4x per round
        # (bi-direction union + min join, twice) — plans grow ~4^K between
        # truncations whatever the commit cadence, keep K minimal (driver.py)
        truncate_every=2,
    )
    # star forest -> labels; nodes with no edges are their own component.
    parents = res.state.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("label")
    )
    labels = (
        g.vertices.join(parents, "id", "left")
        .select("id", F.least(F.coalesce("label", F.col("id")), F.col("id")).alias("label"))
        .localCheckpoint()  # materialize so the edge-set state can be freed
    )
    release_state(res.state)
    return CCResult(labels, res.iterations, res.metrics_history, res.resumed_from)


def component_sizes(labels: DataFrame) -> DataFrame:
    """(label, size), reference ``compute_sizes`` (``sccs/mod.rs:101-107``)."""
    return labels.groupBy("label").agg(F.count(F.lit(1)).alias("size"))


def renumber_by_size(labels: DataFrame) -> DataFrame:
    """Relabel components by decreasing size (ties: smaller min-id first).

    Reference: ``sort_by_size``/``par_sort_by_size`` (``sccs/mod.rs:116-154``).
    Output: (id, label) with label 0 = largest component.

    The component table is O(n) on web graphs (cnr-2000: 100,977 SCCs for
    325k nodes), so ranking it must not serialize through one task. We rank
    on the distributed two-phase :func:`~webgraph_rs_spark.graph.ranked`
    (range-partition + per-partition window + offset cumsum) over the key
    ``(-size, label)`` — no global ``Window.orderBy`` anywhere.
    """
    from ..graph import ranked

    sizes = component_sizes(labels).withColumn(
        "_neg_size", -F.col("size").cast("long")
    )
    renum = ranked(sizes, ["_neg_size", "label"], rank_col="new_label")
    return labels.join(renum.select("label", "new_label"), "label").select(
        "id", F.col("new_label").alias("label")
    )
