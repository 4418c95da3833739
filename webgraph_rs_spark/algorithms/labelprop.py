"""Synchronous label propagation (community detection).

The reference's LLP (``algo/src/llp/mod.rs``) runs, per gamma, an
*asynchronous, randomized-order* label propagation maximizing
``(1 + gamma) * count - gamma * (volume + 1)`` over neighbor labels
(``mod.rs:346-375``) with random tie-breaks. Asynchronous sweeps with a
per-node visit order are inherently sequential; the Spark-native form is
*synchronous* (Jacobi-style) propagation — every node updates from the
previous round's labels — with a deterministic tie-break (max count, then
min label), which makes results reproducible and oracle-checkable.

gamma = 0 reduces the objective to plain majority-vote label propagation
(Raghavan et al. 2007); gamma > 0 penalizes large-volume labels exactly as
the reference's objective. The frontier optimization mirrors the reference's
``can_change`` tracking (``mod.rs:311-321``): a node is re-evaluated only if
a neighbor changed label last round — the affected-node set is a semi-join
of the edge table against last round's changed ids (broadcast when the
frontier is small), and only the in-edges of affected nodes are gathered.
For gamma = 0 this is EXACT (an unaffected node's neighbor counts are
unchanged, so its argmax is unchanged); for gamma > 0 it is the same
approximation the reference makes — volume shifts alone do not requeue a
node whose neighborhood is quiet.

Per round: edges ⋈ labels (shuffle-free on the persisted edge side) ->
groupBy(dst, label) count -> window argmax (partitioned by id) -> join
volumes. Two-three shuffles per round, all on vertex-sized tables except
the gather — and the gather shrinks to the frontier's in-neighborhood at
the convergence tail.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from webgraph_rs_spark.driver import (
    MaxIter,
    MetricBelow,
    MetricZero,
    iterate,
    release_state,
)
from webgraph_rs_spark.graph import LinkGraph


@dataclass
class LPResult:
    labels: DataFrame  # (id long, label long)
    iterations: int
    metrics_history: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def label_propagation(
    g: LinkGraph,
    max_iter: int = 30,
    gamma: float = 0.0,
    symmetrize: bool = True,
    checkpoint_dir: str | None = None,
    job: str = "labelprop",
    checkpoint_every: int = 1,
    resume: bool = True,
    min_gain: float | None = None,
    min_modified: int | None = None,
    damping: str | None = None,
) -> LPResult:
    """Run synchronous label propagation until stable or ``max_iter``.

    Update rule per node v (over incoming neighbor labels u -> v):
    ``argmax_label (1 + gamma) * count(label) - gamma * (volume(label))``
    with deterministic tie-break (higher score, then smaller label); nodes
    with no neighbors keep their label. ``modified`` metric drives the
    fixpoint predicate.

    Gain predicates (reference ``llp/preds.rs:40-47``): ``min_gain``
    stops the pass once the round's objective gain — the summed score
    improvement of the nodes that switched labels — drops to or below
    the threshold (reference MinGain, Java default 0.001); computing it
    adds one vertex-sized join + aggregate per round, paid only when
    enabled. ``min_modified`` stops once AT MOST that many nodes changed
    (``modified <= min_modified``, matching the reference's MinModified
    predicate). Both compose with the fixpoint/MaxIter
    predicates through the driver's predicate algebra.

    ``damping="half"`` adopts only a seeded-hash half of each round's
    label proposals (alternating by round), breaking the 2-cycles a
    synchronous sweep can fall into on bipartite structure — the role
    the reference's randomized asynchronous visit order plays
    (``llp/mod.rs:301-311``). With damping on, the ``modified`` metric
    counts PROPOSALS (nodes that wanted to change), so the fixpoint
    test remains sound; blocked nodes are carried in the frontier so
    they re-evaluate even if their neighborhood goes quiet.
    """
    from pyspark.sql import Observation

    spark = g.edges.sparkSession
    edges = g.sym_edges() if symmetrize else g.src_edges()
    n_vertices = g.num_nodes
    state0 = g.vertices.select(
        "id",
        F.col("id").alias("label"),
        F.lit(True).alias("_chg"),
        F.lit(True).alias("_prop"),
    )

    if damping not in (None, "half"):
        raise ValueError(f"unknown damping mode {damping!r}")
    # Single-action rounds (guide §1.2-order-1, §2.4, mirroring CC): the
    # frontier (changed ids) and the damping-gated set are the ``_chg`` /
    # ``_prop`` COLUMNS of the driver-managed state — views filtered per
    # round instead of separately checkpointed tables — and the round's
    # counts ride the driver's materializing action as observe metrics.

    def step(state: DataFrame, it: int, last: dict):
        if "_chg" not in state.columns:
            # a checkpoint written before the frontier columns: size the
            # frontier as unknown, which rescans in full
            last = {}
        # last round's counts, restored with the state on resume: modified
        # (proposals under damping) and frontier_rows (adopted changes)
        n_fr = last.get("modified")
        n_chg = last.get("frontier_rows")
        has_gated = damping == "half" and n_chg is not None and n_fr > n_chg
        # the two semi-joins only pay off once the frontier has shrunk —
        # with most nodes still changing (or on the first round), a full
        # rescan is cheaper
        if n_fr is None or n_fr * 2 > n_vertices:
            sub_edges = edges
        else:
            fr = state.filter(F.col("_chg")).select("id")
            fr_src = fr.withColumnRenamed("id", "src")
            if n_fr is not None and n_fr <= 1_000_000:
                fr_src = F.broadcast(fr_src)
            # nodes with >= 1 changed in-neighbor are the only ones whose
            # neighbor-label counts changed; gather ALL their in-edges
            affected = (
                edges.join(fr_src, "src", "left_semi")
                .select(F.col("dst"))
                .distinct()
            )
            if has_gated:
                gated = state.filter(
                    F.col("_prop") & ~F.col("_chg")
                ).select("id")
                affected = affected.unionByName(
                    gated.withColumnRenamed("id", "dst")
                ).distinct()
            # affected is bounded by the frontier's out-neighborhood —
            # broadcast only while the frontier itself is small
            if n_fr is not None and n_fr <= 100_000:
                affected = F.broadcast(affected)
            sub_edges = edges.join(affected, "dst", "left_semi")
        gathered = sub_edges.join(
            state.select("id", "label").withColumnRenamed("id", "src").hint(
                "shuffle_hash"
            ),
            "src",
        ).select(
            F.col("dst").alias("id"), "label"
        )
        counts = gathered.groupBy("id", "label").agg(F.count(F.lit(1)).alias("cnt"))
        volumes = None
        if gamma != 0.0:
            volumes = state.groupBy("label").agg(F.count(F.lit(1)).alias("vol"))
            counts = counts.join(volumes, "label", "left").withColumn(
                "score",
                (1.0 + gamma) * F.col("cnt") - gamma * F.coalesce("vol", F.lit(0)),
            )
        else:
            counts = counts.withColumn("score", F.col("cnt").cast("double"))
        w = W.partitionBy("id").orderBy(F.col("score").desc(), F.col("label").asc())
        best = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "id",
                F.col("label").alias("new_label"),
                F.col("score").alias("_nsc"),
            )
        )
        proposed = F.coalesce("new_label", F.col("label"))
        if damping == "half":
            # half-frontier damping: a seeded-hash half of the proposals
            # is adopted per round (the hash alternates with the round
            # number, so a blocked node gets the next chance) — the
            # synchronous analogue of the reference's randomized
            # asynchronous visit order (llp/mod.rs:301-311), which cannot
            # 2-cycle on bipartite structure the way a pure Jacobi sweep
            # can
            gate = F.pmod(F.xxhash64(F.col("id"), F.lit(int(it))), F.lit(2)) == 0
            adopted = F.when(gate, proposed).otherwise(F.col("label"))
        else:
            adopted = proposed
        new = (
            state.select("id", "label")
            .join(best.select("id", "new_label"), "id", "left")
            .select(
                "id",
                adopted.alias("label"),
                (adopted != F.col("label")).alias("_chg"),
                (proposed != F.col("label")).alias("_prop"),
            )
        )
        obs = Observation()
        observed = new.observe(
            obs,
            F.sum(F.col("_chg").cast("long")).alias("c"),
            F.sum(F.col("_prop").cast("long")).alias("p"),
        )

        def metrics_fn() -> dict:
            vals = obs.get
            n_changed = int(vals.get("c") or 0)
            # under damping, "modified" counts PROPOSALS (wanted-to-
            # change): stopping on adoptions alone would mistake a
            # fully-gated round for the fixpoint. The next round sizes its
            # broadcasts/rescans on it too: the affected set unions the
            # gated nodes in, so sizing on adopted-only could oversize a
            # broadcast when most proposals were damped away
            modified = (
                n_changed if damping is None else int(vals.get("p") or 0)
            )
            metrics = {"modified": modified, "frontier_rows": n_changed}
            if min_gain is not None:
                metrics["gain"] = gain_fn()
            return metrics

        def gain_fn() -> float:
            # objective gain of this round: sum over switched nodes of
            # (new best score - old label's score under the same counts).
            # An old label absent from `counts` scored 0 at gamma=0, else
            # -gamma * volume(old_label).
            osc = state.select("id", F.col("label").alias("_ol")).join(
                counts.select(
                    "id",
                    F.col("label").alias("_ol"),
                    F.col("score").alias("_osc"),
                ),
                ["id", "_ol"],
                "left",
            )
            if volumes is not None:
                osc = osc.join(
                    volumes.select(F.col("label").alias("_ol"), "vol"),
                    "_ol",
                    "left",
                ).withColumn(
                    "_osc",
                    F.coalesce(
                        "_osc",
                        (-gamma * F.coalesce("vol", F.lit(0))).cast("double"),
                    ),
                )
            else:
                osc = osc.withColumn("_osc", F.coalesce("_osc", F.lit(0.0)))
            grow = (
                best.join(osc.select("id", "_ol", "_osc"), "id")
                .filter(F.col("new_label") != F.col("_ol"))
                .agg(F.sum(F.col("_nsc") - F.col("_osc")).alias("g"))
                .collect()[0]
            )
            return float(grow["g"] or 0.0)

        return observed, metrics_fn

    stop = MetricZero("modified") | MaxIter(max_iter)
    if min_gain is not None:
        stop = stop | MetricBelow("gain", min_gain)
    if min_modified is not None:
        stop = stop | MetricBelow("modified", float(min_modified))
    res = iterate(
        spark,
        state0,
        step,
        stop,
        checkpoint_dir=checkpoint_dir,
        job=job,
        checkpoint_every=checkpoint_every,
        resume=resume,
        # the step embeds the state subplan twice (gather + adopt join),
        # plus the volume/gain joins when enabled — keep ~2^K small
        # whatever the commit cadence (driver.py)
        truncate_every=3 if (gamma == 0.0 and min_gain is None) else 2,
    )
    # materialize the (id, label) projection and release the internal
    # state — a bare projection could not release its parent's blocks
    labels = res.state.select("id", "label").localCheckpoint()
    release_state(res.state)
    return LPResult(labels, res.iterations, res.metrics_history, res.resumed_from)
