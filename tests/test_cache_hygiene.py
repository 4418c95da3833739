"""Cache hygiene: repeated operator invocations must not grow executor
storage (VERDICT r01 item 9). Asserts via the JVM's persistent-RDD registry;
returned vertex-sized handles are caller-owned and released explicitly with
``release_state`` — everything else must be cleaned up by the operator.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webgraph_rs_spark.driver import release_state
from webgraph_rs_spark.generators import pref_attach_like
from webgraph_rs_spark.graph import graph_from_pandas
from webgraph_rs_spark.algorithms import (
    birank,
    connected_components,
    hyperball,
    label_propagation,
    llp,
    strongly_connected_components,
    triangle_count,
    triangles_per_vertex,
)
from webgraph_rs_spark.textops import ngram_jaccard_pairs


def _n_persist(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def test_no_storage_growth_across_graph_ops(spark):
    g = pref_attach_like(spark, 400, out_deg=4, seed=3)
    g.edges.persist().count()
    g.vertices.persist().count()
    counts = []
    for _ in range(2):
        out = triangles_per_vertex(g)
        out.count()
        release_state(out)
        lp = label_propagation(g, max_iter=3)
        release_state(lp.labels)
        cc = connected_components(g)
        release_state(cc.labels)
        scc = strongly_connected_components(g)
        release_state(scc.labels)
        counts.append(_n_persist(spark))
    assert counts[1] <= counts[0], counts
    g.unpersist()


def _n_persist_since(spark, floor: int) -> int:
    """Persistent RDDs with an id above ``floor``. Earlier tests' RDDs do not
    count: the JVM's ContextCleaner frees their dead ones asynchronously, at
    any point of a later test."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    return sum(1 for i in ids if i > floor)


def test_graph_owns_one_symmetrized_view(spark):
    """CC, LP and triangles share the graph's one symmetrized view: it is
    the only table cached above the graph's own, and ``g.unpersist()``
    frees it with them."""
    floor = spark.sparkContext.emptyRDD().id()  # every later RDD id is higher
    g = pref_attach_like(spark, 400, out_deg=4, seed=11).persist()
    g.edges.count()
    g.vertices.count()
    own = _n_persist_since(spark, floor)
    cc = connected_components(g)
    release_state(cc.labels)
    assert _n_persist_since(spark, floor) == own + 1
    lp = label_propagation(g, max_iter=3)
    release_state(lp.labels)
    assert _n_persist_since(spark, floor) == own + 1
    triangle_count(g)
    assert _n_persist_since(spark, floor) == own + 1
    g.unpersist()
    assert _n_persist_since(spark, floor) == 0


@pytest.mark.parametrize("systolic_threshold", [0.0, 0.75])
def test_hyperball_releases_every_state(spark, systolic_threshold):
    """12 rounds on a 24-node chain, so the ball keeps growing: dense
    rounds only (0.0), or dense rounds and then systolic ones once fewer
    than 3/4 of the counters change (0.75). Every state, truncated or
    cached, is released by the end."""
    n = 24
    g = graph_from_pandas(spark, [(i, i + 1) for i in range(n - 1)], n)
    floor = spark.sparkContext.emptyRDD().id()
    res = hyperball(
        g, max_iter=12, rel_tol=0.0, systolic_threshold=systolic_threshold
    )
    assert res.iterations == 12
    if systolic_threshold:
        assert any(m["systolic"] for m in res.metrics_history)
    release_state(res.centralities)
    assert _n_persist_since(spark, floor) == 0


def test_birank_storage_does_not_grow_with_iterations(spark):
    """BiRank leaves nothing persistent behind once both result frames are
    released, however many iterations it ran."""
    e = spark.createDataFrame(
        [(u, (u * 7 + k) % 15) for u in range(20) for k in range(3)],
        "u long, p long",
    )
    users, items = spark.range(20), spark.range(15)
    left = []
    for max_iter in (4, 12):
        floor = spark.sparkContext.emptyRDD().id()
        res = birank(e, users, items, threshold=None, max_iter=max_iter)
        assert res.iterations == max_iter
        release_state(res.user_ranks)
        release_state(res.item_ranks)
        left.append(_n_persist_since(spark, floor))
    assert left == [0, 0], left


def test_llp_releases_losing_labelings(spark):
    g = pref_attach_like(spark, 300, out_deg=4, seed=5)
    g.edges.persist().count()
    g.vertices.persist().count()
    base = None
    for _ in range(2):
        res = llp(g, gammas=(0.0, 0.5), iters_per_gamma=3)
        release_state(res.permutation)
        release_state(res.labels)
        n = _n_persist(spark)
        if base is None:
            base = n
        else:
            assert n <= base, (n, base)
    g.unpersist()


def test_ngram_jaccard_releases_shingles(spark):
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(30)))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    base = None
    for _ in range(2):
        out = ngram_jaccard_pairs(docs, threshold=0.2)
        out.count()
        release_state(out)
        n = _n_persist(spark)
        if base is None:
            base = n
        else:
            assert n <= base, (n, base)


def test_ngram_jaccard_df_cap_bounds_candidates(spark):
    """A planted stop-shingle shared by EVERY doc must not explode the
    candidate set when max_df is set — and values stay exact for pairs that
    survive (re-verified on full shingle sets)."""
    stop = "the quick fox"  # one 3-gram shared by all docs
    rows = []
    for i in range(40):
        uniq = " ".join(f"u{i}x{k}" for k in range(12))
        rows.append((i, f"{stop} {uniq}"))
    # one true near-dup pair sharing most shingles
    rows.append((100, "the quick fox " + " ".join(f"z{k}" for k in range(12))))
    rows.append((101, "the quick fox " + " ".join(f"z{k}" for k in range(12))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(docs, threshold=0.5, max_df=5)
    got = {(r["a"], r["b"]): r["jaccard"] for r in capped.collect()}
    release_state(capped)
    # only the planted dup pair survives; its jaccard is exact (1.0: the
    # full shingle sets are identical)
    assert set(got) == {(100, 101)}
    assert got[(100, 101)] == 1.0

    uncapped = ngram_jaccard_pairs(docs, threshold=0.5)
    got_un = {(r["a"], r["b"]) for r in uncapped.collect()}
    release_state(uncapped)
    assert (100, 101) in got_un
