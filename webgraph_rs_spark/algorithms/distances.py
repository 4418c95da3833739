"""Distances: exact all-pairs BFS, neighborhood function, geometric
centralities, eccentricities — and HyperBall (approximate, HLL sketches).

Reference surface (SURVEY.md §2.7):

- HyperBall (``algo/src/distances/hyperball.rs``): per-node HyperLogLog
  counters; iteration t unions each node's counter with its successors'
  counters, so counter(v) estimates |B(v, t)|; neighborhood function,
  sum-of-distances, harmonic/closeness/lin centralities, reachable counts
  fall out of the per-iteration deltas (getters at :1295-1416).
- ExactSumSweep (``algo/src/distances/exact_sum_sweep``): exact radius /
  diameter / eccentricities.

Spark re-design:

- :func:`all_pairs_distances` — the *exact* path: multi-source frontier BFS
  over (root, node) pairs. O(n * reachable) state; right tool up to ~10^4
  sources (tests, oracles, ExactSumSweep replacement on small graphs, or a
  sampled source set at scale).
- :func:`hyperball` — the *scale* path: vertex-state DataFrame with a
  binary datasketches-HLL column; the per-iteration union is a JVM-native
  ``groupBy(src).agg(hll_union_agg)`` over successor sketches (self-loops
  folded in so one grouped pass does counter-union + self-union), with a
  systolic frontier mode for the convergence tail. No Python anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_rs_spark.driver import (
    CheckpointStore,
    advance_anchor,
    release_state,
)
from webgraph_rs_spark.graph import LinkGraph
from webgraph_rs_spark.session import local_table

# ----------------------------------------------------------- exact distances


@dataclass
class APSPResult:
    distances: DataFrame  # (root long, id long, distance long)
    rounds: int


def all_pairs_distances(
    g: LinkGraph,
    sources: DataFrame | None = None,
    max_depth: int | None = None,
) -> APSPResult:
    """BFS distances from every source (default: all vertices).

    State is the reached (root, id, distance) set; one join + anti-join per
    level, lineage truncated per level.
    """
    roots = (sources if sources is not None else g.vertices).select(
        F.col("id").alias("root")
    )
    edges = g.src_edges()
    frontier = roots.select("root", F.col("root").alias("id")).localCheckpoint()
    visited = frontier.withColumn("distance", F.lit(0).cast("long")).localCheckpoint()
    depth = 0
    n_frontier = frontier.count()
    while n_frontier > 0 and (max_depth is None or depth < max_depth):
        nxt = (
            edges.join(
                frontier.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
            )
            .select("root", F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("root", "id"), ["root", "id"], "left_anti")
        ).localCheckpoint()
        depth += 1
        n_frontier = nxt.count()
        if n_frontier > 0:
            old_visited = visited
            visited = visited.unionByName(
                nxt.withColumn("distance", F.lit(depth).cast("long"))
            ).localCheckpoint()
            release_state(old_visited)
        release_state(frontier)
        frontier = nxt
    return APSPResult(visited, depth)


def neighborhood_function(dist: DataFrame) -> DataFrame:
    """(r, pairs): number of (root, id) pairs within distance r — the exact
    neighborhood function the reference's HyperBall approximates."""
    by_d = dist.groupBy("distance").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    w = W.orderBy("distance").rowsBetween(W.unboundedPreceding, 0)
    return by_d.select(
        F.col("distance").alias("r"), F.sum("n").over(w).alias("pairs")
    )


def geometric_centralities(dist: DataFrame, vertices: DataFrame) -> DataFrame:
    """Per-root centralities from exact distances (reference getter
    semantics, ``hyperball.rs:1295-1416``):

    - reachable   = |{u : d(v, u) < inf}| (self included)
    - sum_dist    = sum of finite d(v, u)
    - closeness   = 1 / sum_dist (0 when sum_dist = 0)
    - harmonic    = sum over u != v of 1 / d(v, u)
    - lin         = reachable^2 / sum_dist (1 when sum_dist = 0)
    - nieminen    = reachable^2 - sum_dist
    """
    agg = dist.groupBy(F.col("root").alias("id")).agg(
        F.count(F.lit(1)).alias("reachable"),
        F.sum("distance").alias("sum_dist"),
        F.sum(
            F.when(F.col("distance") > 0, 1.0 / F.col("distance")).otherwise(0.0)
        ).alias("harmonic"),
    )
    out = vertices.join(agg, "id", "left").select(
        "id",
        F.coalesce("reachable", F.lit(1)).alias("reachable"),
        F.coalesce("sum_dist", F.lit(0)).alias("sum_dist"),
        F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
    )
    return out.select(
        "id",
        "reachable",
        "sum_dist",
        F.round("harmonic", 6).alias("harmonic"),
        F.round(
            F.when(F.col("sum_dist") > 0, 1.0 / F.col("sum_dist")).otherwise(0.0), 9
        ).alias("closeness"),
        F.round(
            F.when(
                F.col("sum_dist") > 0,
                (F.col("reachable") * F.col("reachable")) / F.col("sum_dist"),
            ).otherwise(1.0),
            6,
        ).alias("lin"),
        (
            F.col("reachable") * F.col("reachable") - F.col("sum_dist")
        ).cast("long").alias("nieminen"),
    )


def eccentricities(dist: DataFrame, vertices: DataFrame) -> DataFrame:
    """(id, ecc) forward eccentricity (max finite distance from the node).

    Exact replacement for ExactSumSweep's All level on small graphs."""
    agg = dist.groupBy(F.col("root").alias("id")).agg(
        F.max("distance").alias("ecc")
    )
    return vertices.join(agg, "id", "left").select(
        "id", F.coalesce("ecc", F.lit(0)).alias("ecc")
    )


def radius_diameter(dist: DataFrame, vertices: DataFrame) -> tuple[int, int]:
    ecc = eccentricities(dist, vertices)
    row = ecc.agg(F.min("ecc").alias("r"), F.max("ecc").alias("d")).collect()[0]
    return int(row["r"]), int(row["d"])


# ----------------------------------------------------------------- HyperBall

HLL_LG_K = 11  # 2^11 registers/node (datasketches HLL): ~2.3% rel std err
# largest accepted per-node seed weight for weighted HyperBall: seeding
# explodes weight-many rows, so this bounds the row blowup to ~10^7 per
# node and stays far under sequence()'s ~2^31 hard element limit
MAX_SEED_WEIGHT = 10_000_000


@dataclass
class HyperBallResult:
    neighborhood_function: list[float]  # estimate of sum_v |B(v, t)| per t
    # (id, reachable_est, sum_dist_est, harmonic_est, closeness_est, lin_est)
    centralities: DataFrame
    iterations: int
    metrics_history: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def hyperball(
    g: LinkGraph,
    max_iter: int = 64,
    rel_tol: float = 1e-3,
    lg_k: int = HLL_LG_K,
    systolic_threshold: float = 0.25,
    discounts: dict | None = None,
    weights: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    job: str = "hyperball",
    checkpoint_every: int = 8,
    resume: bool = True,
) -> HyperBallResult:
    """HyperBall: per-node HLL counters grown along out-edges — fully
    JVM-side via Spark's datasketches functions (``hll_sketch_agg`` /
    ``hll_union_agg`` / ``hll_sketch_estimate``); no Python stage anywhere.

    Per iteration (dense mode): gather successors' sketches through the one
    persisted hash(src) edge join, then ``groupBy(src).agg(hll_union_agg)``
    — one edge-sized exchange, whole-stage-codegen aggregation.

    Systolic mode (reference ``algo/src/distances/hyperball.rs:55-71``):
    when fewer than ``systolic_threshold`` of the counters changed last
    round, only the PREDECESSORS of changed nodes are recomputed (semi-join
    frontier, broadcast while small); everyone else keeps their sketch.
    Deviation from the reference, documented: the reference tracks raw
    counter modifications; datasketches serialization is representation-
    dependent (identical register content can re-serialize differently
    after different union orders, so byte EQUALITY cannot detect register
    change), and the frontier here is keyed on the pair (estimate at full
    double precision, serialized byte LENGTH) — a node re-enters the
    frontier when either moved. Length catches sparse-mode coupon growth
    whose estimate delta would round away; the residual hole is a
    dense-mode register bump that leaves both the composite estimate
    (possible on the linear-counting plateau, where the estimate depends
    only on the zero-register count) and the byte length unchanged — that
    increment stops propagating PERMANENTLY, an error mode the
    reference's modification-tracked systolic mode does not have. A true
    register digest is not expressible over Spark's datasketches surface
    (only estimate/union/agg are exposed); callers that need the
    reference's exact systolic semantics should set
    ``systolic_threshold=0.0`` (dense recompute every round — same
    estimates, no frontier shortcut).

    Centrality accumulators follow ``hyperball.rs:1295-1416``: with b_t(v)
    the ball estimate at radius t, each increment (b_t - b_{t-1})
    contributes t to sum-of-distances and 1/t to harmonic centrality;
    closeness = 1/sum_dist, lin = reachable^2/sum_dist (1 when
    sum_dist = 0) and nieminen = reachable^2 - sum_dist are computed from
    the final accumulators — the full reference getter set
    (``closeness_centrality``/``lin_centrality``/``nieminen_centrality``/
    ``reachable_nodes``, hyperball.rs:1338-1416). ``discounts`` maps names
    to discount functions t -> weight (``discounted_centrality``,
    hyperball.rs:1324): each adds an accumulator column ``<name>_est``
    growing by discount(t) * increment — the discount value is a per-
    iteration CONSTANT, so these stay pure column arithmetic.

    ``weights`` — optional (id, weight) with nonnegative integer node
    weights (``hyperball.rs:542-576,866-884``): node v's counter is
    seeded with weight(v) distinct elements (``explode_outer(sequence)``
    into ``hll_sketch_agg``; weight 0 seeds an empty sketch), so every
    ball estimate and derived centrality becomes its weighted analogue —
    ``reachable_est`` estimates the total WEIGHT of the ball. Missing
    ids default to weight 1.

    ``checkpoint_dir`` makes the run durable like the other iterative
    jobs: every ``checkpoint_every`` iterations (and on convergence) the
    full per-node state — sketch, accumulators, frontier flag — is
    committed to the parquet CheckpointStore with per-partition lineage
    + metrics (the neighborhood-function history rides in the manifest),
    and a killed job resumes from the last complete iteration. HLL
    register union is order-independent, so a resumed run reproduces the
    uninterrupted run's estimates exactly. Callers must pass the same
    ``discounts``/``lg_k`` on resume (the snapshot stores columns, not
    the discount functions).
    """
    import time as _time
    n = g.num_nodes
    # self-loop augmented edges: the group at src always includes its own
    # sketch; B(v, t) grows along out-edges (hyperball.rs doc).
    # Persisted hash-partitioned by DST — the per-iteration gather joins the
    # state on dst, so a dst layout makes that join exchange-free on the
    # edge side; the old src layout re-shuffled the WHOLE edge table every
    # iteration (guide §2.4 — the single biggest cost in this loop).
    edges = (
        g.edges.select("src", "dst")
        .unionByName(
            g.vertices.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        )
        .repartition("dst")
        .persist()
    )
    edges.count()

    if weights is None:
        state = (
            g.vertices.groupBy("id")
            .agg(F.hll_sketch_agg(F.col("id"), F.lit(lg_k)).alias("sketch"))
            .localCheckpoint()
        )
    else:
        # weight-many distinct seed elements per node, hashed so element
        # sets never collide across nodes; weight 0 -> explode_outer keeps
        # a null row and hll_sketch_agg ignores it (empty sketch).
        # Guard: seeding is O(sum of weights) rows and Spark's sequence()
        # hard-errors past ~2^31 elements with an opaque message — reject
        # oversized weights up front with an actionable error instead.
        bad = weights.filter(
            (F.col("weight") < 0) | (F.col("weight") > MAX_SEED_WEIGHT)
        ).count()
        if bad:
            raise ValueError(
                f"hyperball weights must be integers in [0, "
                f"{MAX_SEED_WEIGHT}]: {bad} row(s) out of range. Seeding "
                "materializes weight-many rows per node (explode of "
                "sequence(1, w)); for heavier weights pre-scale them "
                "(divide all weights by a common factor) — HLL estimates "
                "are scale-free up to the shared factor."
            )
        seeded = g.vertices.join(
            weights.select("id", F.col("weight").cast("long").alias("_w")),
            "id",
            "left",
        ).select("id", F.coalesce("_w", F.lit(1)).alias("_w"))
        elems = seeded.select(
            "id",
            F.explode_outer(
                F.when(
                    F.col("_w") > 0, F.sequence(F.lit(1), F.col("_w"))
                ).otherwise(F.array())
            ).alias("_j"),
        ).select(
            "id",
            F.when(
                F.col("_j").isNotNull(), F.xxhash64("id", "_j")
            ).alias("_elem"),
        )
        state = (
            elems.groupBy("id")
            .agg(F.hll_sketch_agg(F.col("_elem"), F.lit(lg_k)).alias("sketch"))
            .localCheckpoint()
        )
    discounts = discounts or {}
    # acc.reachable_est doubles as the per-node ball estimate of the
    # previous round — no separate ball table
    acc = state.select(
        "id",
        F.hll_sketch_estimate("sketch").cast("double").alias("reachable_est"),
        F.octet_length("sketch").cast("long").alias("sk_len"),
        F.lit(0.0).alias("sum_dist_est"),
        F.lit(0.0).alias("harmonic_est"),
        *[F.lit(0.0).alias(f"{name}_est") for name in discounts],
    ).localCheckpoint()
    nf = [float(acc.agg(F.sum("reachable_est")).collect()[0][0])]

    changed: DataFrame | None = None  # ids whose estimate moved last round
    n_changed = n
    metrics: list[dict] = []
    it_n = 0
    start_t = 0
    resumed_from = None
    store = CheckpointStore(checkpoint_dir, job) if checkpoint_dir else None
    acc_cols = [
        "id", "reachable_est", "sk_len", "sum_dist_est", "harmonic_est",
        *[f"{name}_est" for name in discounts],
    ]
    if store and resume:
        latest = store.latest_complete()
        if latest is not None:
            spark = g.edges.sparkSession
            snap = store.load(spark, int(latest["iteration"]))
            release_state(state)
            release_state(acc)
            state = snap.select("id", "sketch").localCheckpoint()
            acc = snap.select(*acc_cols).localCheckpoint()
            changed = snap.filter(F.col("chg")).select("id").localCheckpoint()
            n_changed = changed.count()
            nf = [float(v) for v in latest["metrics"]["nf_hist"]]
            start_t = int(latest["iteration"])
            resumed_from = start_t
            it_n = start_t
            # a run can converge via rel_grow < rel_tol with changed > 0;
            # the stored flag makes resume a true no-op in that case too
            # (ADVICE r4) — older checkpoints without the flag fall back
            # to the changed==0 test
            if n_changed == 0 or bool(latest["metrics"].get("converged")):
                start_t = max_iter  # stored run already converged

    # ``changed`` is normally a lazy VIEW over the checkpointed accumulator
    # (its ``_moved`` column); only a resume materializes a standalone
    # checkpoint for it, tracked in ``changed_own`` for release.
    changed_own: DataFrame | None = changed
    anchor = state  # the last truncation product (driver.advance_anchor)
    from pyspark.sql import Observation

    for t in range(start_t + 1, max_iter + 1):
        _t0 = _time.time()
        it_n = t
        systolic = changed is not None and n_changed < systolic_threshold * n
        if systolic:
            fr = changed.withColumnRenamed("id", "dst")
            if n_changed <= 1_000_000:
                fr = F.broadcast(fr)
            # predecessors of changed nodes (self-loops put the changed
            # nodes themselves in this set too)
            aff = (
                edges.join(fr, "dst", "left_semi")
                .select("src")
                .distinct()
            )
            base = edges.join(aff, "src", "left_semi")
        else:
            base = edges
        gathered = base.join(
            state.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst"
        ).select(F.col("src").alias("id"), "sketch")
        recomputed = gathered.groupBy("id").agg(
            F.hll_union_agg("sketch").alias("sketch")
        )
        # Keep the sketch state CACHED between truncations instead of
        # localCheckpointing every iteration: the cache preserves the
        # groupBy's hash(id) partitioning, so next iteration's gather join
        # (state renamed id->dst against the dst-partitioned edges) is
        # fully zipped — the state is the HEAVY table here (65k x ~KB
        # sketches dwarf the 16-byte edge rows), so not re-shuffling it is
        # the byte win (guide §2.3 "shuffle keys/metadata, not payloads").
        # Truncate lineage every 3rd iteration (state is embedded ~2x per
        # iteration by the gather + accumulator joins — driver.py growth
        # note).
        if t % 3 == 0:
            recomputed = recomputed.localCheckpoint()
        else:
            recomputed = recomputed.persist()
        rb = recomputed.select(
            "id",
            F.hll_sketch_estimate("sketch").cast("double").alias("nb"),
            F.octet_length("sketch").cast("long").alias("nlen"),
        )
        # ONE vertex-sized pass fuses what used to be three checkpointed
        # intermediates (inc + changed + acc) and a separate aggregate job:
        # the accumulator update computes the increment and the frontier
        # flag inline, the round's scalars ride on the checkpoint action as
        # observe metrics. Per iteration: 2 actions total (sketch union +
        # accumulator), vs 5 before.
        # frontier key ``_moved``: full-double estimate AND serialized
        # length (catches sparse-mode coupon growth whose estimate delta
        # rounds away; see docstring for the residual dense-mode caveat) —
        # the closest register-modification proxy Spark's datasketches
        # surface exposes.
        inc_col = F.when(
            F.col("nb").isNotNull(),
            F.greatest(F.col("nb") - F.col("reachable_est"), F.lit(0.0)),
        ).otherwise(F.lit(0.0))
        moved_col = F.when(
            F.col("nb").isNotNull(),
            (F.col("nb") != F.col("reachable_est"))
            | (F.col("nlen") != F.col("sk_len")),
        ).otherwise(F.lit(False))
        old_acc = acc
        acc = acc.join(rb, "id", "left").select(
            "id",
            F.coalesce("nb", F.col("reachable_est")).alias("reachable_est"),
            F.coalesce("nlen", F.col("sk_len")).alias("sk_len"),
            (F.col("sum_dist_est") + inc_col * t).alias("sum_dist_est"),
            (F.col("harmonic_est") + inc_col / t).alias("harmonic_est"),
            *[
                (F.col(f"{name}_est") + inc_col * float(fn(t))).alias(
                    f"{name}_est"
                )
                for name, fn in discounts.items()
            ],
            inc_col.alias("_inc"),
            moved_col.alias("_moved"),
        )
        obs = Observation()
        acc = acc.observe(
            obs,
            F.sum("_inc").alias("g"),
            F.sum(F.col("_moved").cast("long")).alias("c"),
        ).localCheckpoint()
        vals = obs.get
        grew_abs = float(vals.get("g") or 0.0)
        n_changed = int(vals.get("c") or 0)
        release_state(old_acc)
        release_state(changed_own)
        changed_own = None
        changed = acc.filter(F.col("_moved")).select("id")

        old_state = state
        if systolic:
            state = (
                old_state.join(recomputed.select("id"), "id", "left_anti")
                .unionByName(recomputed)
                .localCheckpoint()
            )
            release_state(recomputed)
        else:
            state = recomputed
        anchor = advance_anchor(anchor, old_state, state, systolic or t % 3 == 0)

        total = nf[-1] + grew_abs
        rel_grow = grew_abs / max(nf[-1], 1.0)
        nf.append(total)
        metrics.append(
            {"iteration": t, "changed": n_changed, "systolic": systolic,
             "nf": total, "rel_grow": rel_grow}
        )
        stopping = n_changed == 0 or rel_grow < rel_tol
        if store and (stopping or t % checkpoint_every == 0):
            snap = state.join(
                acc.select(*acc_cols, F.col("_moved").alias("chg")), "id"
            )
            store.write(
                snap,
                t,
                {"nf_hist": nf, "changed": n_changed,
                 "converged": bool(stopping)},
                (_time.time() - _t0) * 1000.0,
            )
        if stopping:
            break
    release_state(changed_own)
    release_state(state)
    release_state(anchor)  # is ``state`` when the last round truncated
    edges.unpersist()
    cent_plan = acc.select(
        "id",
        "reachable_est",
        "sum_dist_est",
        "harmonic_est",
        F.when(F.col("sum_dist_est") > 0, 1.0 / F.col("sum_dist_est"))
        .otherwise(0.0)
        .alias("closeness_est"),
        F.when(
            F.col("sum_dist_est") > 0,
            F.col("reachable_est") * F.col("reachable_est")
            / F.col("sum_dist_est"),
        )
        .otherwise(1.0)
        .alias("lin_est"),
        (
            F.col("reachable_est") * F.col("reachable_est")
            - F.col("sum_dist_est")
        ).alias("nieminen_est"),
        *[F.col(f"{name}_est") for name in discounts],
    )
    # materialize the getter table and free the accumulator checkpoint —
    # a projection handed to the caller cannot release its parent's blocks
    cent = cent_plan.localCheckpoint()
    release_state(acc)
    return HyperBallResult(nf, cent, it_n, metrics, resumed_from)


# -------------------------------------------------------------- ExactSumSweep

_ECC_INF = 1 << 62

# Above this many SCCs the condensation bound pass solves on executors
# (bounded fixpoint) instead of the driver; below it, one collect of
# comp-level rows (two longs each) + an O(V_c + E_c) reverse-topological
# pass. Web condensations are orders of magnitude smaller than their
# graphs, so the driver path covers realistic shapes the same way the
# repo's other size gates do.
_SCC_FU_DRIVER_LIMIT = 5_000_000


class _SccDagBounds:
    """Condensation-level eccentricity upper bounds for ExactSumSweep.

    The node-level rule ``fu(v) <= 1 + max over successors fu(w)`` has a
    blind spot: in a pivot-less non-trivial SCC every member keeps every
    other member at infinity (a 2-cycle's fixpoint is (inf, inf)), so on
    graphs with many small SCCs — every real web graph — diameter
    certification would need a pivot per SCC. The reference dedicates
    ``exact_sum_sweep/scc_graph.rs`` to exactly this; the Spark
    re-derivation works at SCC granularity:

    - ``dub(C) = |C| - 1`` bounds any intra-SCC distance (the induced
      subgraph is strongly connected, so a path of intra edges exists);
    - ``FU(C) = min( dub(C) + min over v in C of fu(v),
                     dub(C) + 1 + max over successor comps FU(D) )``
      (terminal comps: just the first term, floored at dub(C)), valid
      because every target of ``u in C`` is either intra (<= dub) or
      reached through some cross edge x->y with d(u,x) <= dub(C) and
      d(y, t) <= FU(D_y);
    - then ``fu(v) := min(fu(v), FU(C(v)))``.

    The recurrence is a max-plus pass over the condensation DAG: one
    reverse-topological sweep on the driver under the size gate, a
    bounded Spark fixpoint above it (still sound — these are upper
    bounds; fewer iterations only means slower certification, never a
    wrong certificate).
    """

    def __init__(self, spark, fwd: DataFrame, vertices: DataFrame):
        from webgraph_rs_spark.algorithms.sccs import (
            strongly_connected_components,
        )

        self.spark = spark
        scc = strongly_connected_components(LinkGraph(fwd, vertices))
        self.labels = scc.labels.select(
            "id", F.col("label").alias("comp")
        ).persist()
        self.n_comps = self.labels.select("comp").distinct().count()
        self.driver_mode = self.n_comps <= _SCC_FU_DRIVER_LIMIT
        sizes = self.labels.groupBy("comp").count()
        lab_src = self.labels.select(
            F.col("id").alias("src"), F.col("comp").alias("csrc")
        )
        lab_dst = self.labels.select(
            F.col("id").alias("dst"), F.col("comp").alias("cdst")
        )
        cond = (
            fwd.join(lab_src, "src")
            .join(lab_dst, "dst")
            .filter(F.col("csrc") != F.col("cdst"))
            .select("csrc", "cdst")
            .distinct()
        )
        if self.driver_mode:
            self.dub = {
                int(r["comp"]): int(r["count"]) - 1 for r in sizes.collect()
            }
            self.succs: dict[int, list[int]] = {}
            self.preds: dict[int, list[int]] = {}
            for r in cond.collect():
                s, d = int(r["csrc"]), int(r["cdst"])
                self.succs.setdefault(s, []).append(d)
                self.preds.setdefault(d, []).append(s)
            self.order = self._reverse_topo(self.succs)
        else:
            self.sizes_df = sizes.withColumn(
                "dub", F.col("count") - 1
            ).persist()
            self.cond_df = cond.persist()

    @staticmethod
    def _reverse_topo(succs: dict[int, list[int]]) -> list[int]:
        # Kahn over the condensation, sinks first: repeatedly emit comps
        # whose remaining out-degree is zero.
        outdeg: dict[int, int] = {}
        rev: dict[int, list[int]] = {}
        for s, ds in succs.items():
            outdeg[s] = outdeg.get(s, 0) + len(ds)
            for d in ds:
                rev.setdefault(d, []).append(s)
        ready = [c for c in rev if c not in outdeg or outdeg.get(c, 0) == 0]
        seen = set(ready)
        order: list[int] = []
        while ready:
            c = ready.pop()
            order.append(c)
            for p in rev.get(c, ()):
                outdeg[p] -= 1
                if outdeg[p] == 0 and p not in seen:
                    seen.add(p)
                    ready.append(p)
        return order

    def _solve_driver(
        self, min_fu: dict[int, int], backward: bool
    ) -> dict[int, int]:
        adj = self.preds if backward else self.succs
        fu: dict[int, int] = {}
        for c, dub in self.dub.items():
            base = min_fu.get(c, _ECC_INF)
            cand = dub + base if base < _ECC_INF else _ECC_INF
            fu[c] = min(cand, _ECC_INF)
            if c not in adj:  # terminal: intra targets only
                fu[c] = min(fu[c], dub)
        # the recurrence reads FU of the comps in `adj`, so they must be
        # final first: sinks-first order for forward, its reversal (a
        # topological order, sources first) for the predecessor mirror
        order = reversed(self.order) if backward else self.order
        for c in order:
            ds = adj.get(c)
            if not ds:
                continue
            m = max(fu.get(d, _ECC_INF) for d in ds)
            if m < _ECC_INF:
                fu[c] = min(fu[c], self.dub[c] + 1 + m)
        return fu

    def tighten(
        self, bounds: DataFrame, want_back: bool
    ) -> DataFrame:
        """Return bounds with fu (and bu) capped by the condensation pass."""
        per_comp = (
            bounds.join(self.labels, "id")
            .groupBy("comp")
            .agg(F.min("fu").alias("mfu"), F.min("bu").alias("mbu"))
        )
        if self.driver_mode:
            rows = per_comp.collect()
            fu_sol = self._solve_driver(
                {int(r["comp"]): int(r["mfu"]) for r in rows}, backward=False
            )
            sol = [(c, v) for c, v in fu_sol.items()]
            if want_back:
                bu_sol = self._solve_driver(
                    {int(r["comp"]): int(r["mbu"]) for r in rows},
                    backward=True,
                )
                sol = [(c, v, bu_sol[c]) for c, v in fu_sol.items()]
                comp_fu = local_table(self.spark, sol, "comp long, cfu long, cbu long")
            else:
                comp_fu = local_table(self.spark, sol, "comp long, cfu long")
        else:
            # Executor-side bounded fixpoint of the same recurrence.
            cur = self.sizes_df.join(per_comp, "comp", "left").select(
                "comp",
                "dub",
                F.least(
                    F.coalesce(F.col("dub") + F.col("mfu"), F.lit(_ECC_INF)),
                    F.lit(_ECC_INF),
                ).alias("cfu"),
                F.least(
                    F.coalesce(F.col("dub") + F.col("mbu"), F.lit(_ECC_INF)),
                    F.lit(_ECC_INF),
                ).alias("cbu"),
            )
            # terminal comps: cap at dub
            outs = self.cond_df.select(F.col("csrc").alias("comp")).distinct()
            ins = self.cond_df.select(F.col("cdst").alias("comp")).distinct()
            cur = (
                cur.join(outs.withColumn("_t", F.lit(True)), "comp", "left")
                .join(ins.withColumn("_s", F.lit(True)), "comp", "left")
                .select(
                    "comp",
                    "dub",
                    F.when(F.col("_t").isNull(), F.least("cfu", F.col("dub")))
                    .otherwise(F.col("cfu"))
                    .alias("cfu"),
                    F.when(F.col("_s").isNull(), F.least("cbu", F.col("dub")))
                    .otherwise(F.col("cbu"))
                    .alias("cbu"),
                )
                .localCheckpoint()
            )
            for _i in range(64):
                succ_max = (
                    self.cond_df.join(
                        cur.select(
                            F.col("comp").alias("cdst"),
                            F.col("cfu").alias("dfu"),
                        ),
                        "cdst",
                    )
                    .groupBy(F.col("csrc").alias("comp"))
                    .agg(F.max("dfu").alias("sfu"))
                )
                pred_max = (
                    self.cond_df.join(
                        cur.select(
                            F.col("comp").alias("csrc"),
                            F.col("cbu").alias("pbu"),
                        ),
                        "csrc",
                    )
                    .groupBy(F.col("cdst").alias("comp"))
                    .agg(F.max("pbu").alias("pbu"))
                )
                nxt = (
                    cur.join(succ_max, "comp", "left")
                    .join(pred_max, "comp", "left")
                    .select(
                        "comp",
                        "dub",
                        F.least(
                            "cfu",
                            F.coalesce(
                                F.when(
                                    F.col("sfu") < _ECC_INF,
                                    F.col("dub") + 1 + F.col("sfu"),
                                ),
                                F.col("cfu"),
                            ),
                        ).alias("cfu"),
                        F.least(
                            "cbu",
                            F.coalesce(
                                F.when(
                                    F.col("pbu") < _ECC_INF,
                                    F.col("dub") + 1 + F.col("pbu"),
                                ),
                                F.col("cbu"),
                            ),
                        ).alias("cbu"),
                    )
                    .localCheckpoint()
                )
                changed = (
                    nxt.join(
                        cur.select(
                            "comp",
                            F.col("cfu").alias("ofu"),
                            F.col("cbu").alias("obu"),
                        ),
                        "comp",
                    )
                    .filter(
                        (F.col("cfu") < F.col("ofu"))
                        | (F.col("cbu") < F.col("obu"))
                    )
                    .count()
                )
                release_state(cur)
                cur = nxt
                if changed == 0:
                    break
            comp_fu = cur.select(
                "comp", "cfu", F.col("cbu").alias("cbu")
            )
            if not want_back:
                comp_fu = comp_fu.select("comp", "cfu")
            comp_fu = comp_fu.localCheckpoint()
            release_state(cur)
        joined = bounds.join(self.labels, "id").join(comp_fu, "comp")
        cols = [
            "id",
            F.col("fl"),
            F.least("fu", "cfu").alias("fu"),
            F.col("bl"),
            (
                F.least("bu", "cbu") if want_back else F.col("bu")
            ).alias("bu"),
        ]
        return joined.select(*cols)


@dataclass
class SumSweepResult:
    radius: int | None  # None when not certified (ADVICE: no sentinel output)
    diameter: int | None
    radial_node: int
    diametral_node: int
    eccentricities: DataFrame | None  # (id, ecc) — "all"/"all_forward" modes
    pivots_used: int
    converged: bool
    backward_eccentricities: DataFrame | None = None  # (id, ecc) — "all" mode
    radius_interval: tuple | None = None  # certified [lo, hi] (hi None = open)
    diameter_interval: tuple | None = None


def exact_sum_sweep(
    g: LinkGraph,
    mode: str = "radius_diameter",
    batch: int = 32,
    max_pivots: int = 4096,
    verbose: bool = False,
) -> SumSweepResult:
    """Exact forward eccentricities / radius / diameter over ALL nodes by
    pivot-bounded sweeps — the reference's ExactSumSweep
    (``algo/src/distances/exact_sum_sweep/mod.rs:8-111``, ``level.rs:119-281``)
    re-derived for Spark. Unlike the sampled-source ``radius_diameter`` this
    CERTIFIES the result for the whole graph, typically after a handful of
    sweeps instead of n.

    Spark-first twist: where the reference runs one BFS pivot at a time,
    pivots are processed in BATCHES of ``batch`` via multi-source BFS (the
    per-sweep cost is driver round-trips, not data volume, so batching is
    near-free) — each round is two multi-source BFS (forward + on the
    transpose) plus one vertex-sized bounds update.

    Per-node bounds (fl, fu) on the forward eccentricity:

    - ``fl(v) = max(fl(v), d(v, w))`` over pivots w      (always valid);
    - ``fl(v) = max(fl(v), eccF(w) - d(w, v))`` for v in w's SCC — the
      peripheral lower bound that certifies radius in few sweeps (one
      sweep from a diametral-ish node raises everyone's floor at once);
    - ``fu(v) = min over pivots w in v's SCC of d(v, w) + eccF(w)`` —
      the triangle bounds need reach(v) = reach(w), so they are applied
      under a same-SCC guard (both d(v,w) and d(w,v) finite), keeping the
      result exact on ANY directed graph (the reference's level-aware
      variant decomposes by SCC for the same reason);
    - ``fu(v) = min(fu(v), 1 + max over successors w of fu(w))`` — valid on
      any digraph (every target is one hop past some successor), iterated a
      few times per round: this propagates finite upper bounds backward up
      tendrils and tails, covering exactly the singleton-SCC nodes the
      triangle bound cannot touch. Out-degree-0 nodes initialize exact
      (ecc 0).

    Certification from bounds alone: diameter = max(fl) once
    max(fu) <= max(fl); radius = min(fu) once min(fl) >= min(fu);
    mode="all_forward" runs until fl = fu everywhere; mode="all" ALSO
    computes exact BACKWARD eccentricities (bl/bu bounds, the reference's
    All vs AllForward output levels, ``exact_sum_sweep/mod.rs:261-264``)
    from the same pivot sweeps — d(w, .) lower-bounds becc, same-SCC
    triangle bounds upper-bound it. Pivot heuristics (Borassi et al.
    2015): half the batch are open-diameter candidates (max fu), half
    open-radius candidates (min fl); in the all-* modes, widest
    intervals. Eccentricity semantics match :func:`eccentricities` (max
    over reachable nodes).

    Uncertified values are reported as None with the certified [lo, hi]
    interval alongside — never a sentinel.

    Negative result, measured and recorded (r3): same-SCC tightening
    rules in the style of the reference's ``exact_sum_sweep/
    scc_graph.rs`` DAG pass (``fu(v) <= 1 + min over same-SCC successors
    fu(w)``, ``fl(w) >= fl(v) - 1`` pred->succ, and backward mirrors)
    were implemented and benchmarked on four fixture families (dense ER,
    fragmented ER, chained cycles, circulant): pivot counts were
    IDENTICAL with and without them, in both radius_diameter and all
    modes — triangle-family bounds cannot certify an upper bound below
    d(v, pivot) + ecc(pivot), and the batch selector already makes the
    extremal nodes exact directly. The rules were removed rather than
    shipped as dead weight. Eccentricity-regular graphs (all ecc equal — no
    extremal structure to exploit, the known SumSweep worst case)
    degrade gracefully to batched all-sources BFS and remain exact.

    r5 addendum — the fixture finding does NOT extend to real web
    graphs: on cnr-2000 (100,977 SCCs) the successor propagation alone
    left ``max(fu) = inf`` after 32 pivots, because a pivot-less
    non-trivial SCC is a fixed point of ``1 + max succ fu`` (each member
    keeps the others at infinity) — certification would have needed a
    pivot per such SCC. The convergence-critical piece of the
    reference's scc_graph.rs is therefore back, in a different role than
    the removed tightening rules: a condensation-DAG upper-bound pass
    (:class:`_SccDagBounds`) engaged lazily only when propagation leaves
    infinite upper bounds, so fixture-sized graphs still never pay for
    it. See the class docstring for the bound derivation.
    """
    from webgraph_rs_spark.algorithms.bfs import bfs_distances  # noqa: F401

    if mode not in ("radius_diameter", "all", "all_forward"):
        raise ValueError(mode)
    spark = g.edges.sparkSession
    # self-loops never affect eccentricities (d(v,v) = 0) but would break
    # the fl = 1 init below — drop them up front
    loopless = g.edges.filter(F.col("src") != F.col("dst"))
    fwd = loopless.select("src", "dst").repartition("src").persist()
    bwd = (
        loopless.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .repartition("src")
        .persist()
    )
    fwd.count()
    bwd.count()
    g_fwd = LinkGraph(fwd, g.vertices, src_layout=True)
    g_bwd = LinkGraph(bwd, g.vertices, src_layout=True)

    want_back = mode == "all"
    want_all = mode in ("all", "all_forward")

    has_out = fwd.select(F.col("src").alias("id")).distinct()
    has_in = fwd.select(F.col("dst").alias("id")).distinct()
    # out-degree-0: forward ecc exactly 0; otherwise ecc >= 1 (a loopless
    # successor exists), so fl starts at 1 — certifies radius immediately
    # on graphs whose radial nodes sit one hop from a terminal. Backward
    # bounds mirror with in-degree.
    bounds = (
        g.vertices.join(has_out.withColumn("_o", F.lit(True)), "id", "left")
        .join(has_in.withColumn("_i", F.lit(True)), "id", "left")
        .select(
            "id",
            F.when(F.col("_o").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("fl"),
            F.when(F.col("_o").isNotNull(), F.lit(_ECC_INF))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("fu"),
            F.when(F.col("_i").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bl"),
            F.when(F.col("_i").isNotNull(), F.lit(_ECC_INF))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("bu"),
        )
        .localCheckpoint()
    )

    pivots = 0
    converged = False
    scc_dag: _SccDagBounds | None = None
    half = max(1, batch // 2)
    while pivots < max_pivots:
        row = bounds.agg(
            F.max("fl").alias("max_fl"),
            F.max("fu").alias("max_fu"),
            F.min("fl").alias("min_fl"),
            F.min("fu").alias("min_fu"),
        ).collect()[0]
        diam_done = row["max_fu"] <= row["max_fl"]
        rad_done = row["min_fl"] >= row["min_fu"]
        if verbose:
            import sys as _sys
            import time as _time

            n_open = bounds.filter(F.col("fl") < F.col("fu")).count()
            print(
                f"[sumsweep {_time.strftime('%H:%M:%S')}] pivots={pivots} "
                f"open={n_open} "
                f"D in [{row['max_fl']}, "
                f"{row['max_fu'] if row['max_fu'] < _ECC_INF else 'inf'}] "
                f"R in [{row['min_fl']}, "
                f"{row['min_fu'] if row['min_fu'] < _ECC_INF else 'inf'}] "
                f"diam_done={diam_done} rad_done={rad_done}",
                file=_sys.stderr,
                flush=True,
            )
        gap = F.col("fu") - F.col("fl")
        if want_back:
            gap = F.greatest(gap, F.col("bu") - F.col("bl"))
            open_nodes = bounds.filter(
                (F.col("fl") < F.col("fu")) | (F.col("bl") < F.col("bu"))
            )
        else:
            open_nodes = bounds.filter(F.col("fl") < F.col("fu"))
        if want_all:
            if open_nodes.limit(1).count() == 0:
                converged = True
                break
            sel = [
                int(r["id"])
                for r in open_nodes.orderBy(gap.desc(), F.col("id"))
                .limit(batch)
                .collect()
            ]
        else:
            if diam_done and rad_done:
                converged = True
                break
            # Pivot diversity (r5): once the condensation pass is engaged,
            # the loosest-fu nodes are typically CLUSTERED in one SCC, and
            # a whole batch spent inside one component certifies only that
            # component (measured on cnr-2000: the tail decayed ~20/round
            # with same-comp batches). Take at most one candidate per SCC,
            # loosest first, so each batch touches `half` distinct comps.
            def _per_comp_top(cand, order_cols):
                if scc_dag is None:
                    return cand.orderBy(*order_cols).limit(half).collect()
                from pyspark.sql import Window

                w = Window.partitionBy("comp").orderBy(*order_cols)
                return (
                    cand.join(scc_dag.labels, "id")
                    .withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") == 1)
                    .orderBy(*order_cols)
                    .limit(half)
                    .collect()
                )

            dcand = _per_comp_top(
                open_nodes.filter(F.col("fu") > row["max_fl"]),
                [F.col("fu").desc(), F.col("fl").desc(), F.col("id")],
            )
            rcand = _per_comp_top(
                open_nodes.filter(F.col("fl") < row["min_fu"]),
                [F.col("fl").asc(), F.col("fu").asc(), F.col("id")],
            )
            sel = list({int(r["id"]) for r in dcand} | {int(r["id"]) for r in rcand})
            if not sel:
                sel = [
                    int(r["id"])
                    for r in open_nodes.orderBy("id").limit(batch).collect()
                ]
            if not sel:
                converged = True
                break
        pivots += len(sel)
        roots = local_table(spark, [(w,) for w in sel], "id long")

        # two multi-source sweeps for the whole batch
        d_fwd = all_pairs_distances(g_fwd, sources=roots).distances
        d_bwd = all_pairs_distances(g_bwd, sources=roots).distances
        ecc_w = d_fwd.groupBy("root").agg(F.max("distance").alias("eccw"))
        # same-SCC guard: v reached FROM w and v reaches w
        scc_pairs = d_bwd.select("root", "id").join(
            d_fwd.select("root", "id"), ["root", "id"], "left_semi"
        )
        fl_cand = d_bwd.groupBy("id").agg(F.max("distance").alias("flc"))
        fl2_cand = (
            d_fwd.join(scc_pairs, ["root", "id"], "left_semi")
            .join(ecc_w, "root")
            .groupBy("id")
            .agg(F.max(F.col("eccw") - F.col("distance")).alias("flc2"))
        )
        fu_cand = (
            d_bwd.join(scc_pairs, ["root", "id"], "left_semi")
            .join(ecc_w, "root")
            .groupBy("id")
            .agg(F.min(F.col("distance") + F.col("eccw")).alias("fuc"))
        )
        exact_piv = ecc_w.select(
            F.col("root").alias("id"), F.col("eccw").alias("fx")
        )
        upd = (
            bounds.join(fl_cand, "id", "left")
            .join(fl2_cand, "id", "left")
            .join(fu_cand, "id", "left")
            .join(exact_piv, "id", "left")
        )
        fcols = [
            F.coalesce(
                "fx",
                F.greatest(
                    "fl",
                    F.coalesce("flc", F.lit(0)),
                    F.coalesce("flc2", F.lit(0)),
                ),
            ).alias("fl"),
            F.coalesce(
                "fx", F.least("fu", F.coalesce("fuc", F.lit(_ECC_INF)))
            ).alias("fu"),
        ]
        if want_back:
            # mirrors: d(w, v) lower-bounds becc(v); pivot's exact becc
            # is max d_bwd; triangle bounds under the same same-SCC guard
            becc_w = d_bwd.groupBy("root").agg(F.max("distance").alias("beccw"))
            bl_cand = d_fwd.groupBy("id").agg(F.max("distance").alias("blc"))
            bl2_cand = (
                d_bwd.join(scc_pairs, ["root", "id"], "left_semi")
                .join(becc_w, "root")
                .groupBy("id")
                .agg(F.max(F.col("beccw") - F.col("distance")).alias("blc2"))
            )
            bu_cand = (
                d_fwd.join(scc_pairs, ["root", "id"], "left_semi")
                .join(becc_w, "root")
                .groupBy("id")
                .agg(F.min(F.col("distance") + F.col("beccw")).alias("buc"))
            )
            exact_bpiv = becc_w.select(
                F.col("root").alias("id"), F.col("beccw").alias("bx")
            )
            upd = (
                upd.join(bl_cand, "id", "left")
                .join(bl2_cand, "id", "left")
                .join(bu_cand, "id", "left")
                .join(exact_bpiv, "id", "left")
            )
            bcols = [
                F.coalesce(
                    "bx",
                    F.greatest(
                        "bl",
                        F.coalesce("blc", F.lit(0)),
                        F.coalesce("blc2", F.lit(0)),
                    ),
                ).alias("bl"),
                F.coalesce(
                    "bx", F.least("bu", F.coalesce("buc", F.lit(_ECC_INF)))
                ).alias("bu"),
            ]
        else:
            bcols = [F.col("bl"), F.col("bu")]
        old_bounds = bounds
        bounds = upd.select("id", *fcols, *bcols).localCheckpoint()
        release_state(old_bounds)
        release_state(d_fwd)
        release_state(d_bwd)

        # bound propagation along edges (tail/tendril closer; see docstring)
        for _p in range(16):
            succ_fu = (
                fwd.join(
                    bounds.select(
                        F.col("id").alias("dst"), F.col("fu").alias("sfu")
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.max("sfu").alias("mfu"))
            )
            joined = bounds.join(succ_fu, "id", "left")
            nfu = F.least("fu", F.coalesce(F.col("mfu") + 1, F.col("fu")))
            nfl = F.col("fl")
            nbu, nbl = F.col("bu"), F.col("bl")
            if want_back:
                pred_bu = (
                    fwd.join(
                        bounds.select(
                            F.col("id").alias("src"), F.col("bu").alias("pbu")
                        ),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.max("pbu").alias("mbu"))
                )
                joined = joined.join(pred_bu, "id", "left")
                nbu = F.least("bu", F.coalesce(F.col("mbu") + 1, F.col("bu")))
            new_bounds = joined.select(
                "id",
                nfl.alias("fl"),
                nfu.alias("fu"),
                nbl.alias("bl"),
                nbu.alias("bu"),
            ).localCheckpoint()
            n_tightened = (
                new_bounds.join(
                    bounds.select(
                        "id",
                        F.col("fl").alias("ofl"),
                        F.col("fu").alias("ofu"),
                        F.col("bl").alias("obl"),
                        F.col("bu").alias("obu"),
                    ),
                    "id",
                )
                .filter(
                    (F.col("fu") < F.col("ofu"))
                    | (F.col("fl") > F.col("ofl"))
                    | (F.col("bu") < F.col("obu"))
                    | (F.col("bl") > F.col("obl"))
                )
                .count()
            )
            old_bounds = bounds
            bounds = new_bounds
            release_state(old_bounds)
            if n_tightened == 0:
                break

        # condensation upper-bound pass (see _SccDagBounds): engaged
        # lazily, only when edge propagation left infinite fu — i.e. some
        # pivot-less non-trivial SCC exists. Easy graphs never pay for it.
        if scc_dag is None:
            if bounds.agg(F.max("fu")).collect()[0][0] >= _ECC_INF:
                if verbose:
                    import sys as _sys

                    print(
                        "[sumsweep] engaging SCC condensation bound pass",
                        file=_sys.stderr,
                        flush=True,
                    )
                scc_dag = _SccDagBounds(spark, fwd, g.vertices)
        if scc_dag is not None:
            old_bounds = bounds
            bounds = scc_dag.tighten(bounds, want_back).localCheckpoint()
            release_state(old_bounds)

    row = bounds.agg(
        F.max("fl").alias("d"),
        F.max("fu").alias("du"),
        F.min("fl").alias("rl"),
        F.min("fu").alias("r"),
    ).collect()[0]
    diam_cert = converged or row["du"] <= row["d"]
    rad_cert = converged or row["rl"] >= row["r"]
    diameter = int(row["d"]) if diam_cert else None
    radius = int(min(row["r"], _ECC_INF)) if rad_cert else None
    diameter_interval = (
        int(row["d"]),
        int(row["du"]) if row["du"] < _ECC_INF else None,
    )
    radius_interval = (
        int(row["rl"]),
        int(row["r"]) if row["r"] < _ECC_INF else None,
    )
    dn = rn = None
    if diam_cert:
        dn = bounds.filter(F.col("fl") == diameter).agg(F.min("id")).collect()[0][0]
    if rad_cert:
        rn = bounds.filter(F.col("fu") == radius).agg(F.min("id")).collect()[0][0]
    ecc_df = becc_df = None
    if want_all:
        ecc_df = bounds.select("id", F.col("fl").alias("ecc")).localCheckpoint()
    if want_back:
        becc_df = bounds.select(
            "id", F.col("bl").alias("ecc")
        ).localCheckpoint()
    release_state(bounds)
    fwd.unpersist()
    bwd.unpersist()
    return SumSweepResult(
        radius, diameter, int(rn if rn is not None else -1),
        int(dn if dn is not None else -1), ecc_df, pivots, converged,
        backward_eccentricities=becc_df,
        radius_interval=radius_interval,
        diameter_interval=diameter_interval,
    )
