"""BFS / topsort / iteration-driver checkpoint-resume tests.

The resume test mirrors FIXTURES.md §5: kill after iteration k, restart from
checkpoint => byte-identical final state vs an uninterrupted run."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from tests.oracles import bfs_distances_oracle, canonical8, erdos_renyi
from webgraph_rs_spark.graph import graph_from_pandas
from webgraph_rs_spark.algorithms import (
    bfs_distances,
    bfs_order,
    is_acyclic,
    pagerank,
    topological_levels,
)
from webgraph_rs_spark.driver import (
    CheckpointStore,
    MaxIter,
    MetricBelow,
    MetricZero,
    iterate,
)


def test_bfs_canonical8(spark):
    n, edges = canonical8()
    g = graph_from_pandas(spark, edges, n)
    res = bfs_distances(g, [0])
    got = {r["id"]: r["distance"] for r in res.distances.collect()}
    assert got == bfs_distances_oracle(n, edges, [0])


def test_bfs_multi_source_and_unreachable(spark):
    nn, edges = erdos_renyi(80, 0.03, seed=6)
    g = graph_from_pandas(spark, edges, nn)
    res = bfs_distances(g, [0, 7])
    got = {r["id"]: r["distance"] for r in res.distances.collect()}
    assert got == bfs_distances_oracle(nn, edges, [0, 7])


def test_bfs_node_filter(spark):
    """Filter callback semantics (visits/mod.rs:36-41): a filtered node is
    never visited NOR expanded — nodes reachable only through it stay
    unreached; the filter applies to roots too."""
    from pyspark.sql import functions as F

    # 0 -> 1 -> 2 -> 3 and 0 -> 4; filtering node 2 must drop {2, 3}
    edges = [(0, 1), (1, 2), (2, 3), (0, 4)]
    g = graph_from_pandas(spark, edges, 5)
    res = bfs_distances(g, [0], node_filter=F.col("id") != 2)
    got = {r["id"]: r["distance"] for r in res.distances.collect()}
    assert got == {0: 0, 1: 1, 4: 1}
    # filtered root: nothing is visited at all
    res2 = bfs_distances(g, [0], node_filter=F.col("id") > 0)
    assert res2.distances.count() == 0
    # bfs_tree composes with the filter (pred never crosses a filtered node)
    from webgraph_rs_spark.algorithms import bfs_tree

    t = {
        r["id"]: (r["distance"], r["pred"])
        for r in bfs_tree(g, [0], node_filter=F.col("id") != 2).collect()
    }
    assert t == {0: (0, None), 1: (1, 0), 4: (1, 0)}


def test_bfs_order_is_permutation(spark):
    n, edges = canonical8()
    g = graph_from_pandas(spark, edges, n)
    perm = bfs_order(g, [0])
    rows = perm.collect()
    assert sorted(r["old_id"] for r in rows) == list(range(n))
    assert sorted(r["new_id"] for r in rows) == list(range(n))
    m = {r["old_id"]: r["new_id"] for r in rows}
    assert m[0] == 0  # root first
    # BFS layers: 0 | 1,2 | 3,4,7 | 5,6
    assert {m[1], m[2]} == {1, 2}


def test_topsort_dag_levels(spark):
    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
    g = graph_from_pandas(spark, edges, 5)
    res = topological_levels(g)
    assert res.acyclic
    lv = {r["id"]: r["level"] for r in res.levels.collect()}
    assert lv == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    for s, d in edges:
        assert lv[s] < lv[d]


def test_acyclicity_detects_cycle(spark):
    n, edges = canonical8()  # contains cycle 2->4->6->2
    g = graph_from_pandas(spark, edges, n)
    assert not is_acyclic(g)
    dag = graph_from_pandas(spark, [(0, 1), (1, 2)], 3)
    assert is_acyclic(dag)


# ----------------------------------------------------------------- driver


def test_predicate_algebra():
    p = MetricBelow("err", 1e-6) | MaxIter(10)
    assert p.should_stop(3, {"err": 1e-7})
    assert p.should_stop(10, {"err": 1.0})
    assert not p.should_stop(3, {"err": 1.0})
    q = MetricZero("modified") & MaxIter(2)
    assert not q.should_stop(1, {"modified": 0})
    assert q.should_stop(2, {"modified": 0})


def test_checkpoint_store_roundtrip(spark, tmp_ckpt):
    store = CheckpointStore(tmp_ckpt, "job1")
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    store.write(df, 1, {"l1_delta": 0.5}, 12.0)
    m = store.latest_complete()
    assert m["iteration"] == 1 and m["rows"] == 100
    # one entry per written part file, taken from its parquet footer
    parts = {f for f in os.listdir(store.state_path(1)) if f.startswith("part-")}
    assert set(m["partition_rows"]) == parts
    assert sum(m["partition_rows"].values()) == df.count()
    back = store.load(spark, 1)
    assert back.count() == 100


def test_resume_identical_to_uninterrupted(spark, tmp_ckpt):
    """PageRank killed at iteration 3 then resumed == uninterrupted run."""
    n, edges = erdos_renyi(50, 0.1, seed=7)
    g = graph_from_pandas(spark, edges, n)

    full = pagerank(g, threshold=1e-9, checkpoint_dir=tmp_ckpt + "/full", job="pr")
    # simulate a kill: run with max_iter=3, then resume with real predicate
    partial = pagerank(
        g, threshold=1e-9, max_iter=3, checkpoint_dir=tmp_ckpt + "/res", job="pr"
    )
    assert partial.iterations == 3
    resumed = pagerank(
        g, threshold=1e-9, checkpoint_dir=tmp_ckpt + "/res", job="pr", resume=True
    )
    assert resumed.resumed_from == 3
    a = np.zeros(n)
    b = np.zeros(n)
    for r in full.ranks.collect():
        a[r["id"]] = r["rank"]
    for r in resumed.ranks.collect():
        b[r["id"]] = r["rank"]
    assert np.allclose(a, b, atol=1e-12)
    assert resumed.iterations == full.iterations


def test_commit_without_manifest_line_resumes_from_previous(spark, tmp_ckpt):
    """A kill between iteration k+1's parquet commit and its manifest line
    resumes from k to the uninterrupted ranks; each committed iteration has
    exactly one manifest line, written with its metrics."""
    n, edges = erdos_renyi(50, 0.1, seed=7)
    g = graph_from_pandas(spark, edges, n)

    full = pagerank(g, threshold=1e-9, checkpoint_dir=tmp_ckpt + "/full", job="pr")
    pagerank(g, threshold=1e-9, max_iter=4, checkpoint_dir=tmp_ckpt + "/res", job="pr")
    store = CheckpointStore(tmp_ckpt + "/res", "pr")
    lines = store.manifest()
    assert [m["iteration"] for m in lines] == [1, 2, 3, 4]
    assert all("err" in m["metrics"] for m in lines)
    with open(store.manifest_path, "w", encoding="utf-8") as f:
        f.writelines(json.dumps(m) + "\n" for m in lines[:-1])
    assert os.path.exists(store.state_path(4))

    resumed = pagerank(
        g, threshold=1e-9, checkpoint_dir=tmp_ckpt + "/res", job="pr", resume=True
    )
    assert resumed.resumed_from == 3
    a = np.zeros(n)
    b = np.zeros(n)
    for r in full.ranks.collect():
        a[r["id"]] = r["rank"]
    for r in resumed.ranks.collect():
        b[r["id"]] = r["rank"]
    assert np.allclose(a, b, atol=1e-12)
    assert resumed.iterations == full.iterations


@pytest.mark.parametrize("legacy_manifest", [False, True])
def test_resume_restores_dangling_mass(spark, tmp_ckpt, legacy_manifest):
    """On a graph with dangling nodes, PageRank resumed after 3 commits
    takes the restored state's dangling mass from the manifest's
    ``next_dangling_mass``; a manifest written before that metric existed
    has it recomputed from the restored state. Both equal the
    uninterrupted ranks."""
    n, edges = erdos_renyi(50, 0.1, seed=7)
    g = graph_from_pandas(spark, edges, n + 5)  # 5 isolated, dangling nodes
    full = pagerank(g, threshold=1e-9)
    pagerank(g, threshold=1e-9, max_iter=3, checkpoint_dir=tmp_ckpt, job="pr")
    store = CheckpointStore(tmp_ckpt, "pr")
    lines = store.manifest()
    assert [m["iteration"] for m in lines] == [1, 2, 3]
    assert all(m["metrics"]["next_dangling_mass"] > 0 for m in lines)
    if legacy_manifest:
        for m in lines:
            del m["metrics"]["next_dangling_mass"]
        with open(store.manifest_path, "w", encoding="utf-8") as f:
            f.writelines(json.dumps(m) + "\n" for m in lines)

    resumed = pagerank(g, threshold=1e-9, checkpoint_dir=tmp_ckpt, job="pr", resume=True)
    assert resumed.resumed_from == 3
    a = np.zeros(n + 5)
    b = np.zeros(n + 5)
    for r in full.ranks.collect():
        a[r["id"]] = r["rank"]
    for r in resumed.ranks.collect():
        b[r["id"]] = r["rank"]
    assert np.allclose(a, b, rtol=0.0, atol=1e-12)
    assert resumed.iterations == full.iterations


def test_torn_manifest_line_ignored(spark, tmp_ckpt):
    store = CheckpointStore(tmp_ckpt, "torn")
    df = spark.range(10).selectExpr("id", "cast(id as double) as rank")
    store.write(df, 1, {}, 1.0)
    with open(store.manifest_path, "a", encoding="utf-8") as f:
        f.write('{"job": "torn", "iteration": 2, "comp')  # torn write
    assert store.latest_complete()["iteration"] == 1


def test_iterate_generic_counter(spark, tmp_ckpt):
    from pyspark.sql import functions as F

    state0 = spark.range(4).selectExpr("id", "cast(0 as long) as v")

    def step(state, it, last):
        new = state.withColumn("v", F.col("v") + 1)
        return new, {"modified": 1 if it < 4 else 0}

    res = iterate(
        spark, state0, step, MetricZero("modified") | MaxIter(100),
        checkpoint_dir=tmp_ckpt, job="ctr",
    )
    assert res.iterations == 5
    assert {r["v"] for r in res.state.collect()} == {5}


def test_safety_valve_exit_truncates_final_state(spark):
    """The max_safety_iter exit truncates the final state like every stop
    path, so the returned state stays readable without its cache."""
    from pyspark.sql import functions as F

    state0 = spark.range(4).selectExpr("id", "cast(0 as long) as v")

    def step(state, it, last):
        return state.withColumn("v", F.col("v") + 1), {"modified": 1}

    res = iterate(spark, state0, step, MaxIter(100), max_safety_iter=5)
    assert res.iterations == 5
    res.state.unpersist()
    assert {r["v"] for r in res.state.collect()} == {5}


def test_commit_interval_does_not_set_lineage_depth(spark, tmp_ckpt):
    """With a store, lineage is still cut every ``truncate_every``
    iterations: a long commit interval must not let the plan of a step that
    reads the state twice double every iteration (1, 2, 4, ..., 128 leaves
    over 8 iterations). Only the due commit is written, and the result
    equals the run without a store."""
    from pyspark.sql import functions as F

    state0 = spark.range(16).selectExpr("id", "cast(id as double) as v")
    leaves: list[int] = []

    def step(state, it, last):
        leaves.append(state._jdf.queryExecution().logical().collectLeaves().size())
        a, b = state.alias("a"), state.alias("b")
        new = a.join(b, "id").select("id", (F.col("a.v") + F.col("b.v")).alias("v"))
        return new, {}

    results = {}
    for d in (tmp_ckpt, None):
        leaves.clear()
        res = iterate(
            spark, state0, step, MaxIter(8), checkpoint_dir=d, job="twice",
            checkpoint_every=8, truncate_every=2,
        )
        assert res.iterations == 8
        assert max(leaves) <= 2, (d, leaves)
        results[d] = sorted((r["id"], r["v"]) for r in res.state.collect())
    assert [m["iteration"] for m in CheckpointStore(tmp_ckpt, "twice").manifest()] == [8]
    assert results[tmp_ckpt] == results[None] == [(i, i * 256.0) for i in range(16)]

    n, edges = erdos_renyi(200, 0.03, seed=3)
    g = graph_from_pandas(spark, edges, n)
    ranks = []
    for d in (os.path.join(tmp_ckpt, "pr"), None):
        pr = pagerank(g, threshold=1e-9, max_iter=8, checkpoint_dir=d, checkpoint_every=8)
        assert pr.iterations == 8
        r = np.zeros(n)
        for row in pr.ranks.collect():
            r[row["id"]] = row["rank"]
        ranks.append(r)
    assert np.allclose(ranks[0], ranks[1], rtol=0.0, atol=1e-12)


def test_bfs_event_table(spark):
    """events=True materializes the reference's visit-event taxonomy
    (Init/Unknown/Known/FrontierSize, breadth_first/mod.rs:30-183) as a
    per-level table: frontier_size = Unknown count (level 0 = Init
    roots), revisits = Known count."""
    from webgraph_rs_spark.graph import graph_from_pandas
    from webgraph_rs_spark.algorithms.bfs import bfs_distances

    # diamond + back-edge: 0->{1,2}->3->0
    g = graph_from_pandas(spark, [(0, 1), (0, 2), (1, 3), (2, 3), (3, 0)], 4)
    res = bfs_distances(g, [0], events=True)
    ev = {r["level"]: (r["frontier_size"], r["revisits"]) for r in res.events.collect()}
    assert ev[0] == (1, 0)  # Init: the root
    assert ev[1] == (2, 0)  # 1 and 2 discovered
    assert ev[2] == (1, 0)  # 3 discovered (two arrivals dedup to one node)
    assert ev[3] == (0, 1)  # back-edge arrival at visited 0 = Known event
    # default path unchanged
    res2 = bfs_distances(g, [0])
    assert res2.events is None
    assert res2.distances.count() == 4


def test_bfs_events_filtered_nodes_raise_no_events(spark):
    """Filter-blocked nodes raise NO visit event (the reference's filter
    predicate gates event emission, visits/mod.rs:36-41): arrivals at a
    filtered, never-visited node must not count as revisits."""
    from pyspark.sql import functions as F

    from webgraph_rs_spark.algorithms.bfs import bfs_distances
    from webgraph_rs_spark.graph import graph_from_pandas

    # 0->{1,2}, 1->3, 2->3; node 3 filtered out — it is arrived at every
    # expansion of {1,2} but must never appear in revisits
    g = graph_from_pandas(spark, [(0, 1), (0, 2), (1, 3), (2, 3)], 4)
    res = bfs_distances(g, [0], node_filter=F.col("id") != 3, events=True)
    ev = {r["level"]: (r["frontier_size"], r["revisits"]) for r in res.events.collect()}
    assert ev[0] == (1, 0)
    assert ev[1] == (2, 0)  # 1, 2 discovered; 3 blocked, no event
    assert ev[2] == (0, 0)  # arrivals at filtered 3 raise neither event
    assert {r["id"] for r in res.distances.collect()} == {0, 1, 2}
