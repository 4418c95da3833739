"""BiRank — bipartite ranking by power iteration on the symmetrically
normalized biadjacency.

Reference: ``algo/src/rank/birank.rs:7-114`` (run loop :417-427): with
W the |U| x |P| biadjacency, S = Du^-1/2 W Dp^-1/2, damping factors
alpha (user side) and beta (item side), and query vectors u0 / p0:

    p <- beta  * S^T u + (1 - beta)  * p0
    u <- alpha * S   p + (1 - alpha) * u0

until the L1 delta (both sides) drops below a threshold or max_iter.

Spark shape: the 1/sqrt(deg) factors are applied to the *states* (vertex-
sized multiplies), never materialized per edge: the contribution u -> p is
(u_val / sqrt(du)) * (1 / sqrt(dp)) — one gather join + groupBy per side
per iteration, the same single-exchange pattern as PageRank.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from webgraph_rs_spark.driver import MaxIter, MetricBelow, iterate, release_state


@dataclass
class BiRankResult:
    user_ranks: DataFrame  # (id long, rank double)
    item_ranks: DataFrame  # (id long, rank double)
    iterations: int
    metrics_history: list[dict] = field(default_factory=list)


def birank(
    edges: DataFrame,
    users: DataFrame,
    items: DataFrame,
    alpha: float = 0.85,
    beta: float = 0.85,
    user_query: DataFrame | None = None,
    item_query: DataFrame | None = None,
    threshold: float | None = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    job: str = "birank",
) -> BiRankResult:
    """``edges``: (u long, p long); ``users``/``items``: (id long).

    Query vectors (id, q) default to uniform over their side. Isolated
    nodes keep their query value scaled by (1 - damping), like the
    reference (no incoming mass).
    """
    spark = edges.sparkSession
    e = edges.select(F.col("u").cast("long"), F.col("p").cast("long"))
    e = e.repartition("u").persist()
    e.count()

    du = e.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    dp = e.groupBy(F.col("p").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    n_u = users.count()
    n_p = items.count()

    def side_meta(side: DataFrame, deg: DataFrame, query: DataFrame | None, n: int):
        m = side.select("id").join(deg, "id", "left").select(
            "id",
            F.coalesce("deg", F.lit(0)).alias("deg"),
        )
        if query is not None:
            m = m.join(query.select("id", F.col("q").cast("double")), "id", "left")
            m = m.select("id", "deg", F.coalesce("q", F.lit(0.0)).alias("q"))
        else:
            m = m.withColumn("q", F.lit(1.0 / n))
        m = m.withColumn(
            "inv_sqrt_deg",
            F.when(F.col("deg") > 0, 1.0 / F.sqrt(F.col("deg"))).otherwise(0.0),
        )
        return m.repartition("id").persist()

    mu = side_meta(users, du, user_query, n_u)
    mp = side_meta(items, dp, item_query, n_p)
    mu.count()
    mp.count()

    # combined state table: (side: 'u'|'p', id, rank)
    state0 = mu.select(F.lit("u").alias("side"), "id", F.col("q").alias("rank")).unionByName(
        mp.select(F.lit("p").alias("side"), "id", F.col("q").alias("rank"))
    )

    def _gather(state_side: DataFrame, meta_from, meta_to, edges_kv, damp, to_label):
        scaled = (
            meta_from.select("id", "inv_sqrt_deg")
            .join(state_side.hint("shuffle_hash"), "id")
            .select(F.col("id").alias("_from"), (F.col("rank") * F.col("inv_sqrt_deg")).alias("c"))
        )
        agg = (
            edges_kv.join(scaled.hint("shuffle_hash"), edges_kv["_f"] == scaled["_from"])
            .groupBy(F.col("_t").alias("id"))
            .agg(F.sum("c").alias("s"))
        )
        return (
            meta_to.select("id", "q", "inv_sqrt_deg")
            .join(agg.hint("shuffle_hash"), "id", "left")
            .select(
                F.lit(to_label).alias("side"),
                "id",
                (
                    damp * F.coalesce(F.col("s"), F.lit(0.0)) * F.col("inv_sqrt_deg")
                    + (1.0 - damp) * F.col("q")
                ).alias("rank"),
            )
        )

    e_up = e.select(F.col("u").alias("_f"), F.col("p").alias("_t"))
    e_pu = e.select(F.col("p").alias("_f"), F.col("u").alias("_t"))

    def step(state: DataFrame, it: int, last: dict):
        su = state.filter(F.col("side") == "u").select("id", "rank")
        # item update uses the *current* user ranks, then the user update
        # uses the NEW item ranks — the reference's alternating sweep order.
        # The item pass is not cached: the plan embeds it twice, which still
        # runs fewer Spark jobs than a cached pass of its own
        # (tests/test_job_counts.py).
        new_p = _gather(su, mu, mp, e_up, beta, "p")
        new_u = _gather(new_p.select("id", "rank"), mp, mu, e_pu, alpha, "u")
        new = new_u.unionByName(new_p)
        if threshold is None:
            return new, {}
        # the L1 delta rides the driver's materializing action, as in PageRank
        obs = Observation()
        observed = new.join(
            state.select("side", "id", F.col("rank").alias("old")), ["side", "id"]
        ).observe(obs, F.sum(F.abs(F.col("rank") - F.col("old"))).alias("l1"))
        out = observed.select("side", "id", "rank")
        return out, lambda: {"l1_delta": float(obs.get.get("l1") or 0.0)}

    stop = (
        MaxIter(max_iter)
        if threshold is None
        else MetricBelow("l1_delta", threshold) | MaxIter(max_iter)
    )
    res = iterate(
        spark, state0, step, stop, checkpoint_dir=checkpoint_dir, job=job,
        # the alternating sweep embeds the state subplan ~3x per iteration
        # (item pass, its reuse in the user pass, and the L1 join) — plans
        # grow ~3^K between truncations whatever the commit cadence, so
        # keep K small (driver.py)
        truncate_every=2,
    )
    # materialize both projections and release the state: a bare
    # projection could not release the state's checkpoint blocks
    ur = res.state.filter(F.col("side") == "u").select("id", "rank").localCheckpoint()
    pr = res.state.filter(F.col("side") == "p").select("id", "rank").localCheckpoint()
    release_state(res.state)
    for df in (mu, mp, e):
        df.unpersist()
    return BiRankResult(ur, pr, res.iterations, res.metrics_history)
