"""Strongly connected components of a directed graph, Spark-first.

The reference ships SCC as a product binary (``webgraph-sccs``,
``cli/src/sccs.rs:28-134``) with Tarjan (``algo/src/sccs/tarjan.rs:16-164``)
and Kosaraju (``algo/src/sccs/kosaraju.rs:28``) — both DFS-based, inherently
sequential. The distributed re-derivation is trim + coloring FW-BW (Orzan's
coloring; Slota-Rajamanickam-Madduri, "BFS and Coloring-based Parallel
Algorithms for Strongly Connected Components and Related Problems",
IPDPS'14), every step a frontier join or aggregate — no DFS, no driver-side
recursion:

repeat until no vertices remain:

1. TRIM: peel vertices with in- or out-degree 0 inside the remaining
   subgraph to a fixpoint — each is a singleton SCC (absorbs the tendrils
   of web graphs);
2. COLOR: propagate ``color(v) = max(v, colors of in-neighbors)`` to a
   fixpoint — color(v) = the max id that reaches v; every color class has
   exactly one *root* (the node whose id equals its color), and no SCC
   spans two colors;
3. EXTRACT: backward BFS from all roots simultaneously, restricted to each
   root's color class — the reached set is exactly the root's SCC (reached
   => can reach the root; same color => the root reaches it). Label every
   SCC with its minimum member id (the engine's canonical labeling, same
   convention as undirected CC); remove those vertices and loop.

At web scale the giant SCC falls out of round 1 and trim absorbs the
in/out-tendrils (the majority of nodes, per the bow-tie structure), so the
outer loop runs a handful of rounds. Per inner iteration: one edge-scan
join + one aggregate, frontier-sized where possible; lineage truncated per
round (localCheckpoint) exactly like the other iterative jobs.

Renumbering by decreasing size reproduces the reference's
``sort_by_size``/``par_sort_by_size`` (``algo/src/sccs/mod.rs:116-154``)
via :func:`webgraph_rs_spark.algorithms.components.renumber_by_size`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_rs_spark.driver import CheckpointStore, release_state
from webgraph_rs_spark.graph import LinkGraph


COLOR_UNROLL = 4  # lazy propagation steps fused per checkpoint/job
EXTRACT_UNROLL = 2  # lazy backward-BFS levels fused per checkpoint/job
# broadcast a vertex-set side only while it is provably small; above this
# the restrict falls back to shuffled-hash semi-joins (same gate CC and LP
# use — components.py / labelprop.py). An unconditional F.broadcast hint
# overrides Catalyst's size logic and OOMs the driver at web scale.
BROADCAST_VERTEX_LIMIT = 1_000_000


@dataclass
class SCCResult:
    labels: DataFrame  # (id long, label long) — label = min id in the SCC
    rounds: int  # outer trim+color+extract rounds
    metrics_history: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def _gated(side: DataFrame, n_rows: int | None) -> DataFrame:
    """Broadcast a vertex-set join side only while its known row count is
    under BROADCAST_VERTEX_LIMIT; otherwise force a shuffled-hash join
    (no sort-merge: the vertex side is always the small-ish one)."""
    if n_rows is not None and n_rows <= BROADCAST_VERTEX_LIMIT:
        return F.broadcast(side)
    return side.hint("shuffle_hash")


def _restrict(
    edges: DataFrame,
    alive: DataFrame,
    layout_key: str,
    n_alive: int | None = None,
) -> DataFrame:
    """Edges with both endpoints alive (two semi-joins).

    While the alive set is small (<= BROADCAST_VERTEX_LIMIT rows) both
    semi-joins broadcast, which keeps the edge side's cached hash layout
    intact (BroadcastHashJoin preserves child partitioning — the
    restricted table needs NO new shuffle). Once the alive set outgrows
    broadcast (round 1 of a web-scale graph: O(n) rows), both joins fall
    back to shuffled-hash semi-joins; the join on the NON-layout key runs
    first so the final exchange keys on ``layout_key`` and the restricted
    table lands back in the layout the caller persists (by_src / by_dst).
    """
    other = "dst" if layout_key == "src" else "src"
    return edges.join(
        _gated(alive.withColumnRenamed("id", other), n_alive),
        other,
        "left_semi",
    ).join(
        _gated(alive.withColumnRenamed("id", layout_key), n_alive),
        layout_key,
        "left_semi",
    )


def strongly_connected_components(
    g: LinkGraph,
    max_outer: int = 200,
    checkpoint_dir: str | None = None,
    job: str = "scc",
    resume: bool = True,
) -> SCCResult:
    """Compute SCC labels (label = min id in the component).

    Self-loops are irrelevant to SCC membership and dropped up front.

    Shuffle plan (the 100x-scale shape): the edge table is persisted in
    BOTH hash layouts — ``by_src`` for forward color propagation,
    ``by_dst`` for the backward extract BFS — so no iteration ever
    re-shuffles edges; only vertex-sized and frontier-sized exchanges
    remain. TRIM runs as degree-delta peeling: per-round full degrees are
    one exchange-free aggregate over the cached layouts, then each peel
    joins only the just-died frontier against the edges (broadcast) and
    patches the degree table — the old restrict-the-whole-edge-table-per-
    peel plan rebuilt and re-materialized O(E) rows per tendril level.
    Labels accumulate as views over per-step checkpoints and union once
    at the end instead of re-materializing the whole labelled set per
    peel (O(n) per peel -> O(n) total).

    ``checkpoint_dir`` commits one durable snapshot per OUTER round
    (labels assigned so far + the alive set, one parquet table with
    per-partition lineage + metrics in the manifest); a killed job
    resumes at the last complete round boundary and redoes at most one
    round. Outer-round granularity is the honest unit here — inner
    trim/color/extract state is a fixpoint recomputed from the alive
    set anyway.
    """
    import time as _time
    alive = g.vertices.select("id").localCheckpoint()
    n_alive = alive.count()
    loopless = F.col("src") != F.col("dst")
    # the two base layouts last for the whole run; every per-round
    # restriction derives from them + the CURRENT alive checkpoint only
    # (constant-depth lineage — chaining restrict-over-restrict would make
    # an evicted partition's recompute walk released checkpoints).
    # The src layout is the graph's hash(src) view filtered — filter/project
    # preserve the partitioning and read through the view's cache, so only
    # the dst layout costs a shuffle + cache (guide §2.4).
    base_src = g.src_edges().filter(loopless).select("src", "dst")
    base_dst = g.edges.filter(loopless).select("src", "dst").repartition("dst").persist()
    by_src, by_dst = base_src, base_dst
    metrics: list[dict] = []
    rounds = 0
    parts: list[DataFrame] = []  # label frames (views over held checkpoints)
    hold: list[DataFrame] = []  # checkpoints released after the final union
    store = CheckpointStore(checkpoint_dir, job) if checkpoint_dir else None
    resumed_from = None
    if store and resume:
        latest = store.latest_complete()
        if latest is not None:
            spark = g.edges.sparkSession
            snap = store.load(spark, int(latest["iteration"]))
            parts = [snap.filter(~F.col("alive")).select("id", "label")]
            old_alive = alive
            alive = snap.filter(F.col("alive")).select("id").localCheckpoint()
            release_state(old_alive)
            n_alive = alive.count()
            rounds = int(latest["iteration"])
            resumed_from = rounds

    def _commit_round(t0: float) -> None:
        """Durable snapshot: labelled rows (alive=False) + alive ids."""
        if store is None:
            return
        spark_l = g.edges.sparkSession
        if parts:
            lab = parts[0]
            for p in parts[1:]:
                lab = lab.unionByName(p)
        else:
            lab = spark_l.createDataFrame([], "id long, label long")
        snap = lab.select("id", "label", F.lit(False).alias("alive"))
        if n_alive > 0:
            snap = snap.unionByName(
                alive.select(
                    "id",
                    F.lit(None).cast("long").alias("label"),
                    F.lit(True).alias("alive"),
                )
            )
        store.write(
            snap, rounds, {"n_alive": n_alive}, (_time.time() - t0) * 1000.0
        )

    def _swap_edges(new_alive: DataFrame, n_new: int | None = None) -> None:
        """Re-restrict both layouts from base to new_alive, materialize,
        then drop the old round's cached tables."""
        nonlocal by_src, by_dst
        old_src, old_dst = by_src, by_dst
        by_src = _restrict(base_src, new_alive, "src", n_new).persist()
        by_dst = _restrict(base_dst, new_alive, "dst", n_new).persist()
        by_src.count()  # materialize before the old state goes away
        by_dst.count()
        if old_src is not base_src:
            old_src.unpersist()
            old_dst.unpersist()

    if resumed_from is not None and n_alive > 0:
        _swap_edges(alive, n_alive)

    # Restriction policy: re-restricting + re-caching BOTH edge layouts per
    # round is only worth it when the alive set actually shrank — a round
    # that trims 0.04% of the nodes (typical first-round web shape) would
    # pay two edge-table materializations to save nothing. The phases stay
    # EXACT over stale (over-wide) edge tables because every join keys on
    # alive-restricted state: colors seed from ``alive``, the intra-color
    # table inner-joins colors on both endpoints, and the degree table is
    # maintained by exact removal deltas (an edge decrements a survivor's
    # degree exactly once — when its other endpoint is removed — whether or
    # not the edge rows of earlier-removed nodes are still present). So the
    # layouts are refreshed only when the alive set has HALVED since the
    # last restriction, bounding wasted scan width at 2x.
    n_last_swap = n_alive
    deg = None  # carried across rounds, delta-maintained

    while n_alive > 0 and rounds < max_outer:
        rounds += 1
        _round_t0 = _time.time()
        _trim_t0 = _time.time()
        # ---- 1. TRIM to fixpoint: peel in/out-degree-0 nodes by deltas
        if deg is None:
            outd = by_src.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("od")
            )
            ind = by_dst.groupBy(F.col("dst").alias("id")).agg(
                F.count(F.lit(1)).alias("idg")
            )
            deg = (
                alive.join(outd, "id", "left")
                .join(ind, "id", "left")
                .select(
                    "id",
                    F.coalesce("od", F.lit(0)).alias("od"),
                    F.coalesce("idg", F.lit(0)).alias("idg"),
                )
                .localCheckpoint()
            )
        trimmed_total = 0
        trim_iters = 0
        while True:
            trim_iters += 1
            obs = Observation()
            dead = (
                deg.filter((F.col("od") <= 0) | (F.col("idg") <= 0))
                .select("id")
                .observe(obs, F.count(F.lit(1)).alias("c"))
                .localCheckpoint()
            )
            n_dead = int(obs.get.get("c") or 0)
            if n_dead == 0:
                release_state(dead)
                break
            parts.append(dead.select("id", F.col("id").alias("label")))
            hold.append(dead)
            trimmed_total += n_dead
            n_alive -= n_dead
            if n_alive == 0:
                release_state(deg)
                deg = None
                break
            # degree deltas: only edges touching the dead frontier
            d_out = (
                by_src.join(
                    _gated(dead.withColumnRenamed("id", "dst"), n_dead),
                    "dst",
                    "left_semi",
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.count(F.lit(1)).alias("xo"))
            )
            d_in = (
                by_dst.join(
                    _gated(dead.withColumnRenamed("id", "src"), n_dead),
                    "src",
                    "left_semi",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count(F.lit(1)).alias("xi"))
            )
            new_deg = (
                deg.join(dead, "id", "left_anti")
                .join(d_out, "id", "left")
                .join(d_in, "id", "left")
                .select(
                    "id",
                    (F.col("od") - F.coalesce("xo", F.lit(0))).alias("od"),
                    (F.col("idg") - F.coalesce("xi", F.lit(0))).alias("idg"),
                )
                .localCheckpoint()
            )
            release_state(deg)
            deg = new_deg
        if n_alive == 0:
            metrics.append({"round": rounds, "trimmed": trimmed_total,
                            "extracted": 0, "alive": 0})
            _commit_round(_round_t0)
            break
        if trimmed_total:
            old_alive = alive
            alive = deg.select("id").localCheckpoint()
            release_state(old_alive)
            if n_alive * 2 <= n_last_swap:
                _swap_edges(alive, n_alive)
                n_last_swap = n_alive
        _trim_sec = _time.time() - _trim_t0
        _color_t0 = _time.time()

        # ---- 2. COLOR: forward max propagation (color = max id reaching v)
        # colors/frontier are views over the one checkpointed frame per
        # iteration (releasing a projection would leak the parent blocks)
        colors_ck = alive.select(
            "id", F.col("id").alias("color"), F.lit(True).alias("_chg")
        ).localCheckpoint()
        colors = colors_ck.select("id", "color")
        frontier = colors
        color_iters = 0
        n_changed = n_alive
        # Unroll up to COLOR_UNROLL synchronous propagation steps into ONE
        # lazy plan per materialization — but ADAPTIVELY: while the
        # frontier is wide (> 25% of alive) every sub-step is a full-price
        # edge join, so unrolling only wastes overshoot work; once the
        # frontier is small (the long-chain tail, where iteration count is
        # graph-structural) the k-fold amortization of job/checkpoint
        # latency is nearly free. Fixpoint test stays sound: max-
        # propagation is monotone, so "last unrolled step changed nothing"
        # implies the true fixpoint was reached.
        while True:
            unroll = COLOR_UNROLL if n_changed < 0.25 * n_alive else 1
            cur, fr = colors, frontier
            step_out = None
            for _ in range(unroll):
                color_iters += 1
                nbr_max = (
                    by_src.join(
                        fr.withColumnRenamed("id", "src").hint("shuffle_hash"),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.max("color").alias("cm"))
                )
                step_out = cur.join(nbr_max, "id", "left").select(
                    "id",
                    F.greatest(
                        F.col("color"), F.coalesce("cm", F.col("color"))
                    ).alias("color"),
                    (F.coalesce("cm", F.col("color")) > F.col("color")).alias(
                        "_chg"
                    ),
                )
                cur = step_out.select("id", "color")
                fr = step_out.filter(F.col("_chg")).select("id", "color")
            # changed count rides the checkpoint action as an observe
            # metric — one job per materialization instead of two
            obs = Observation()
            new_colors = step_out.observe(
                obs, F.sum(F.col("_chg").cast("long")).alias("c")
            ).localCheckpoint()
            n_changed = int(obs.get.get("c") or 0)
            release_state(colors_ck)
            colors_ck = new_colors
            colors = new_colors.select("id", "color")
            frontier = new_colors.filter(F.col("_chg")).select("id", "color")
            if n_changed == 0:
                break
        _color_sec = _time.time() - _color_t0
        _extract_t0 = _time.time()

        # ---- 3. EXTRACT: backward BFS from every color root, within color
        roots = colors.filter(F.col("id") == F.col("color")).select(
            F.col("id").alias("root")
        )
        seed = roots.select("root", F.col("root").alias("id")).localCheckpoint()
        n_seed = seed.count()
        # Intra-color edge table, built ONCE per round: the backward BFS
        # only ever walks edges whose endpoints share a color (reached =>
        # color == root on both sides), so tagging the edges up front
        # removes the per-level (vertex-sized) colors join + filter — and
        # with the colors side broadcast while small (_gated, same
        # web-scale fallback as every other restrict) the build does not
        # move the edge table at all. Stays in the by_dst layout.
        intra = (
            by_dst.join(
                _gated(
                    colors.withColumnRenamed("id", "dst").withColumnRenamed(
                        "color", "_cd"
                    ),
                    n_alive,
                ),
                "dst",
            )
            .join(
                _gated(
                    colors.withColumnRenamed("id", "src").withColumnRenamed(
                        "color", "_cs"
                    ),
                    n_alive,
                ),
                "src",
            )
            .filter(F.col("_cs") == F.col("_cd"))
            .select("src", "dst")
            .persist()
        )
        # reached stays a LAZY union of the per-level frontier checkpoints
        # (each already lineage-free) — re-checkpointing the whole reached
        # set per level was one extra vertex-sized job every level
        reached_hold: list[DataFrame] = [seed]
        reached = seed
        frontier = seed
        extract_iters = 0
        extracted = n_seed
        n_next = n_alive
        # Same adaptive amortization as COLOR: expand up to EXTRACT_UNROLL
        # backward-BFS levels lazily (per-level distinct keeps set
        # semantics), dedup against `reached` once at the end — revisited
        # nodes ride along for at most k-1 lazy levels, then the anti-join
        # drops them. Unroll only on small frontiers: a wide mid-BFS
        # frontier makes the second lazy level a full extra edge join.
        while True:
            unroll = EXTRACT_UNROLL if n_next < 0.25 * n_alive else 1
            fr = frontier
            levels = []
            for _ in range(unroll):
                extract_iters += 1
                fr = (
                    intra.join(
                        fr.withColumnRenamed("id", "dst").hint("shuffle_hash"),
                        "dst",
                    )
                    .select("root", F.col("src").alias("id"))
                    .distinct()
                )
                levels.append(fr)
            cand = levels[0]
            for lv in levels[1:]:
                cand = cand.unionByName(lv)
            obs = Observation()
            nxt = (
                cand.distinct()
                .join(reached, ["root", "id"], "left_anti")
                .observe(obs, F.count(F.lit(1)).alias("c"))
                .localCheckpoint()
            )
            n_next = int(obs.get.get("c") or 0)
            if n_next == 0:
                release_state(nxt)
                break
            reached_hold.append(nxt)
            reached = reached.unionByName(nxt)
            extracted += n_next
            frontier = nxt

        scc_min = reached.groupBy("root").agg(F.min("id").alias("label"))
        scc_labels = (
            reached.join(scc_min, "root").select("id", "label").localCheckpoint()
        )
        parts.append(scc_labels)
        hold.append(scc_labels)

        member_ids = reached.select("id").localCheckpoint()
        intra.unpersist()
        for h in reached_hold:
            release_state(h)
        release_state(colors_ck)
        old_alive = alive
        alive = alive.join(member_ids, "id", "left_anti").localCheckpoint()
        n_alive = alive.count()
        if n_alive > 0:
            # maintain the carried degree table by exact removal deltas
            # (same arithmetic as the in-trim peels; see policy note above)
            d_out = (
                by_src.join(
                    _gated(member_ids.withColumnRenamed("id", "dst"), extracted),
                    "dst",
                    "left_semi",
                )
                .groupBy(F.col("src").alias("id"))
                .agg(F.count(F.lit(1)).alias("xo"))
            )
            d_in = (
                by_dst.join(
                    _gated(member_ids.withColumnRenamed("id", "src"), extracted),
                    "src",
                    "left_semi",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count(F.lit(1)).alias("xi"))
            )
            new_deg = (
                deg.join(member_ids, "id", "left_anti")
                .join(d_out, "id", "left")
                .join(d_in, "id", "left")
                .select(
                    "id",
                    (F.col("od") - F.coalesce("xo", F.lit(0))).alias("od"),
                    (F.col("idg") - F.coalesce("xi", F.lit(0))).alias("idg"),
                )
                .localCheckpoint()
            )
            release_state(deg)
            deg = new_deg
            if n_alive * 2 <= n_last_swap:
                _swap_edges(alive, n_alive)
                n_last_swap = n_alive
        elif deg is not None:
            release_state(deg)
            deg = None
        release_state(old_alive)
        release_state(member_ids)
        metrics.append({"round": rounds, "trimmed": trimmed_total,
                        "extracted": extracted, "alive": n_alive,
                        "trim_iters": trim_iters, "color_iters": color_iters,
                        "extract_iters": extract_iters,
                        "trim_sec": round(_trim_sec, 3),
                        "color_sec": round(_color_sec, 3),
                        "extract_sec": round(_time.time() - _extract_t0, 3)})
        _commit_round(_round_t0)

    release_state(alive)
    if deg is not None:
        release_state(deg)
    if by_src is not base_src:
        by_src.unpersist()
        by_dst.unpersist()
    base_dst.unpersist()
    spark = g.edges.sparkSession
    if parts:
        acc = parts[0]
        for p in parts[1:]:
            acc = acc.unionByName(p)
        done = acc.localCheckpoint()
        for h in hold:
            release_state(h)
    else:
        done = spark.createDataFrame([], "id long, label long")
    # `done` IS the checkpointed frame — return it directly so the
    # caller's release_state reaches the checkpoint RDD
    return SCCResult(done, rounds, metrics, resumed_from)


def condensation(g: LinkGraph, labels: DataFrame) -> DataFrame:
    """Arcs of the condensation DAG: (src_label, dst_label) between distinct
    SCCs (deduped). Reference consumers build this to reason about the
    component DAG after ``webgraph-sccs``."""
    e = (
        g.edges.join(
            labels.withColumnRenamed("id", "src").withColumnRenamed(
                "label", "ls"
            ),
            "src",
        )
        .join(
            labels.withColumnRenamed("id", "dst").withColumnRenamed(
                "label", "ld"
            ),
            "dst",
        )
        .filter(F.col("ls") != F.col("ld"))
        .select(F.col("ls").alias("src"), F.col("ld").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    return e
