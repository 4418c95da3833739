"""Spark jobs per iteration, pinned as upper bounds.

The iterative algorithms run ONE Spark action per iteration (the driver's
materialization, with the metrics riding it as ``observe`` aggregates). Under
AQE every shuffle stage of that action runs as a Spark job of its own, so a
round costs several jobs. The bounds are the counts measured on this fixture
(per iteration, setup included, as northbench's ``pagerank.jobs_per_iter``);
a change that adds a job per iteration fails here, and one that removes jobs
should tighten the bound.
"""

from __future__ import annotations

import itertools

import pytest

from tests.oracles import erdos_renyi
from webgraph_rs_spark.algorithms import (
    birank,
    cc_star,
    connected_components,
    label_propagation,
    pagerank,
)
from webgraph_rs_spark.graph import graph_from_pandas

_group_ids = itertools.count()


def _jobs(spark, fn):
    """Run ``fn`` under a job group of its own; return (result, Spark jobs)."""
    sc = spark.sparkContext
    group = f"job-count-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def fixture_graph(spark):
    n, edges = erdos_renyi(200, 0.03, seed=3)
    g = graph_from_pandas(spark, edges, n)
    g.edges.persist().count()
    yield g
    g.unpersist()


def _birank(g, d):
    """BiRank to convergence on a 20-user, 15-item bipartite graph (the
    input of ``test_cache_hygiene.py``); ``g`` only lends its session."""
    spark = g.edges.sparkSession
    e = spark.createDataFrame(
        [(u, (u * 7 + k) % 15) for u in range(20) for k in range(3)],
        "u long, p long",
    )
    return birank(e, spark.range(20), spark.range(15), threshold=1e-8)


@pytest.mark.parametrize(
    "name, run, max_jobs_per_iter",
    [
        ("pagerank", lambda g, d: pagerank(g, threshold=1e-9, max_iter=12), 5.0),
        (
            "pagerank_store",
            lambda g, d: pagerank(g, threshold=1e-9, max_iter=12, checkpoint_dir=d),
            7.5,
        ),
        ("connected_components", lambda g, d: connected_components(g), 7.5),
        ("label_propagation", lambda g, d: label_propagation(g), 8.5),
        ("cc_star", lambda g, d: cc_star(g), 18.5),
        ("birank", _birank, 9.0),
    ],
)
def test_jobs_per_iteration(spark, fixture_graph, tmp_ckpt, name, run, max_jobs_per_iter):
    res, jobs = _jobs(spark, lambda: run(fixture_graph, tmp_ckpt))
    assert res.iterations > 1
    per_iter = jobs / res.iterations
    assert per_iter <= max_jobs_per_iter, (
        f"{name}: {jobs} Spark jobs over {res.iterations} iterations "
        f"= {per_iter:.2f} per iteration > {max_jobs_per_iter}"
    )
