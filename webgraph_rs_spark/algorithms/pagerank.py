"""PageRank as an iterative DataFrame job (power iteration).

Semantics follow the reference (``algo/src/rank/pagerank.rs:7-143``):

- damping ``alpha`` in [0, 1), default 0.85;
- a *preference vector* ``v`` (default uniform 1/n), and three dangling-mass
  modes (``pagerank.rs:100-143``):
  ``strongly`` preferential — dangling mass redistributed by ``v`` (u = v),
  ``weakly``  preferential — redistributed uniformly (u = 1/n),
  ``pseudo``  rank         — dropped (u = 0, ranks sum to < 1);
- update rule: ``x' = (1 - alpha) * v + alpha * (x^T A_norm + d * u)`` with
  ``d = sum of x over dangling nodes`` — the closed-form dangling term
  (``pagerank.rs:84-99``), one scalar aggregate instead of a per-node loop;
- stop when ``alpha / (1 - alpha) * ||x' - x||_1 <= threshold`` (default
  1e-6, ``algo/src/rank/mod.rs:130``) or at max_iter.

The reference runs parallel *Gauss-Seidel* sweeps; power iteration converges
to the same fixed point (the reference's own test checks GS against a power
method to 1e-15, ``algo/tests/test_pagerank.rs:389-475``), so per-vertex
scores agree well inside the 1e-6 acceptance band at convergence.

Physical plan per iteration (the 100 TB cost model):

1. gather join ``edges ⋈ scaled_ranks on src`` — both sides hash-partitioned on
   the join key (edges persisted once, ranks land partitioned by id from the
   previous groupBy), so the join is shuffle-free;
2. ``groupBy(dst).sum`` — THE one unavoidable shuffle per iteration, with
   map-side partial aggregation; AQE skew handling + optional salting (see
   ``salt_partitions``) covers hub-domain skew;
3. dangling mass + L1 delta — scalar aggregates over the n-row state table,
   negligible next to the edge scan.

Isolated/dangling nodes are carried by the explicit vertex table (SURVEY.md
§2 dangling note: n comes from the vertex set, not from the edge list).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webgraph_rs_spark.driver import (
    IterationResult,
    MaxIter,
    MetricBelow,
    iterate,
)
from webgraph_rs_spark.graph import LinkGraph

MODES = ("strongly", "weakly", "pseudo")


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id long, rank double)
    iterations: int
    err: float
    metrics_history: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def pagerank(
    g: LinkGraph,
    alpha: float = 0.85,
    mode: str = "strongly",
    preference: DataFrame | None = None,
    threshold: float | None = 1e-6,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    job: str = "pagerank",
    checkpoint_every: int = 1,
    resume: bool = True,
    salt_partitions: int = 0,
) -> PageRankResult:
    """Run PageRank on ``g``.

    ``preference``: optional (id, pref) DataFrame summing to 1; default
    uniform. ``salt_partitions > 0`` enables two-stage salted aggregation of
    the gather (for graphs whose in-degree distribution is so skewed that a
    single hot ``dst`` key dominates a reducer even with AQE; the salt adds
    one extra tiny shuffle of pre-aggregated rows).
    """
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}")
    spark = g.edges.sparkSession
    n = g.num_nodes

    # The edge table stays bare (src, dst) — at web scale it dominates all
    # storage and shuffle, so the 1/outdeg weight is NOT materialized per
    # edge; instead the (vertex-sized) state is scaled by 1/outdeg once per
    # iteration. The graph's hash(src) view (guide §2.4): the per-iteration
    # gather join never re-shuffles the edges side.
    edges = g.src_edges()
    if g._num_arcs is None:
        g._num_arcs = edges.count()  # one action: arc count + cache materialization
    m = g._num_arcs

    # vertex_meta: id, pref, u (dangling redistribution weight), is_dangling
    out_deg = g.out_degrees()
    if preference is not None:
        meta = out_deg.join(
            preference.select("id", F.col("pref").cast("double")), "id", "left"
        ).select("id", "out_deg", F.coalesce("pref", F.lit(0.0)).alias("pref"))
    else:
        meta = out_deg.withColumn("pref", F.lit(1.0 / n))
    if mode == "strongly":
        meta = meta.withColumn("u", F.col("pref"))
    elif mode == "weakly":
        meta = meta.withColumn("u", F.lit(1.0 / n))
    else:  # pseudo
        meta = meta.withColumn("u", F.lit(0.0))
    meta = meta.withColumn("is_dangling", F.col("out_deg") == 0)
    meta = meta.repartition("id").persist()

    ranks0 = meta.select("id", F.col("pref").alias("rank"))

    coef = alpha / (1.0 - alpha) if alpha < 1.0 else float("inf")

    # ONE setup aggregate replaces three jobs (meta.count materialize +
    # dangling-existence probe + first-iteration dangling mass): it
    # materializes the meta cache, detects dangling nodes, and — because
    # the fresh initial state IS the preference vector — yields the first
    # iteration's dangling mass d0 = sum of pref over dangling nodes.
    setup = meta.agg(
        F.max(F.col("is_dangling").cast("int")).alias("any_dangling"),
        F.sum(F.when(F.col("is_dangling"), F.col("pref")).otherwise(0.0)).alias(
            "d0"
        ),
    ).collect()[0]
    has_dangling = bool(setup["any_dangling"])
    d0 = float(setup["d0"] or 0.0)

    def _dangling_of(state: DataFrame) -> float:
        # only for a resume from a manifest written before the
        # next_dangling_mass metric existed
        return (
            state.join(meta.select("id", "is_dangling"), "id")
            .agg(F.sum(F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0)))
            .collect()[0][0]
            or 0.0
        )

    def step(state: DataFrame, it: int, last: dict):
        # The dangling mass of ``state`` is the previous iteration's
        # observed next_dangling_mass (a resume restores it from the
        # manifest); a fresh start's state is the preference vector, so d0.
        if not has_dangling:
            d = 0.0
        elif not last:
            d = d0
        elif "next_dangling_mass" in last:
            d = last["next_dangling_mass"]
        else:
            d = _dangling_of(state)
        # scale the state by 1/outdeg (vertex-sized join against cached meta)
        scaled = (
            meta.select("id", "out_deg")
            .filter(F.col("out_deg") > 0)
            .join(state.hint("shuffle_hash"), "id")
            .select(
                F.col("id").alias("src"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
        )
        # shuffle_hash hint on the (vertex-sized) scaled-state side: the
        # edges side is already hash-partitioned on src and gets reused
        # without an exchange; broadcasting a web-scale rank vector every
        # iteration — Catalyst's default when the estimate fits the
        # threshold — is both slower here and impossible at 10^12 nodes.
        contrib_rows = edges.join(scaled.hint("shuffle_hash"), "src").select(
            "dst", "c"
        )
        if salt_partitions > 0:
            # two-stage agg: partial sum per (dst, salt) then final per dst.
            contribs = (
                contrib_rows.withColumn(
                    "salt", F.pmod(F.spark_partition_id(), F.lit(salt_partitions))
                )
                .groupBy("dst", "salt")
                .agg(F.sum("c").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
        else:
            contribs = contrib_rows.groupBy("dst").agg(F.sum("c").alias("contrib"))
        new = (
            meta.select("id", "pref", "u", "is_dangling")
            .join(
                contribs.withColumnRenamed("dst", "id").hint("shuffle_hash"),
                "id",
                "left",
            )
            .select(
                "id",
                "is_dangling",
                (
                    (1.0 - alpha) * F.col("pref")
                    + alpha * (F.coalesce("contrib", F.lit(0.0)) + d * F.col("u"))
                ).alias("rank"),
            )
        )
        if threshold is None and not has_dangling:
            # fixed-iteration, no dangling: nothing to measure — the driver's
            # materialization is the ONLY action per iteration
            return new.select("id", "rank"), {"dangling_mass": d, "arcs": m}

        # fold the L1 delta and/or next dangling mass into the SAME action
        # that materializes the state (DataFrame.observe) — one pass, one
        # job per iteration; the delta join rides inside the main pipeline
        from pyspark.sql import Observation

        obs = Observation()
        aggs = []
        if has_dangling:
            aggs.append(
                F.sum(
                    F.when(F.col("is_dangling"), F.col("rank")).otherwise(0.0)
                ).alias("next_d")
            )
        if threshold is not None:
            new = new.join(
                state.select("id", F.col("rank").alias("old_rank")).hint(
                    "shuffle_hash"
                ),
                "id",
            )
            aggs.append(
                F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("l1")
            )
        observed = new.observe(obs, *aggs)
        out = observed.select("id", "rank")

        def metrics_fn() -> dict:
            vals = obs.get  # blocks until the materializing action finishes
            metrics = {"dangling_mass": d, "arcs": m}
            if has_dangling:
                metrics["next_dangling_mass"] = float(vals.get("next_d") or 0.0)
            if threshold is not None:
                l1 = float(vals.get("l1") or 0.0)
                metrics.update(l1_delta=l1, err=coef * l1)
            return metrics

        return out, metrics_fn

    stop = (
        MaxIter(max_iter)
        if threshold is None
        else MetricBelow("err", threshold) | MaxIter(max_iter)
    )
    res: IterationResult = iterate(
        spark,
        ranks0,
        step,
        stop,
        checkpoint_dir=checkpoint_dir,
        job=job,
        checkpoint_every=checkpoint_every,
        resume=resume,
        # state-reference multiplicity: 1 without the L1 delta join, 2 with
        # it (plan grows ~2^K between truncations whatever the commit
        # cadence — see driver.py)
        truncate_every=8 if threshold is None else 4,
    )
    err = res.metrics_history[-1].get("err", float("nan")) if res.metrics_history else 0.0
    meta.unpersist()
    return PageRankResult(
        ranks=res.state,
        iterations=res.iterations,
        err=err,
        metrics_history=res.metrics_history,
        resumed_from=res.resumed_from,
    )
