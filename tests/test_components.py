"""Connected components vs union-find oracle; both strategies must agree
exactly after canonicalization (reference pattern:
``algo/tests/test_sccs.rs:199-260`` checks partition equivalence pairwise)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.oracles import canonical8, clique_cycle, erdos_renyi, union_find_components
from webgraph_rs_spark.graph import graph_from_pandas
from webgraph_rs_spark.algorithms import (
    cc_star,
    component_sizes,
    connected_components,
    label_propagation,
    renumber_by_size,
)


def _labels_array(labels_df, n):
    out = np.zeros(n, dtype=np.int64)
    for r in labels_df.collect():
        out[r["id"]] = r["label"]
    return out


def test_canonical8_single_component(spark):
    n, edges = canonical8()
    g = graph_from_pandas(spark, edges, n)
    res = connected_components(g)
    assert set(_labels_array(res.labels, n)) == {0}


@pytest.mark.parametrize("algo", [connected_components, cc_star])
def test_two_components_exact(spark, algo):
    n1, e1 = clique_cycle(5, 7, bridge="bi")
    n2, e2 = clique_cycle(4, 6, bridge="bi")
    edges = e1 + [(s + n1, d + n1) for s, d in e2]
    n = n1 + n2
    g = graph_from_pandas(spark, edges, n)
    res = algo(g)
    expected = union_find_components(n, edges)
    assert (_labels_array(res.labels, n) == expected).all()


@pytest.mark.parametrize("algo", [connected_components, cc_star])
@pytest.mark.parametrize("n,p,seed", [(10, 0.5, 0), (100, 0.03, 1), (200, 0.008, 2)])
def test_er_vs_union_find(spark, algo, n, p, seed):
    nn, edges = erdos_renyi(n, p, seed)
    g = graph_from_pandas(spark, edges, nn)
    res = algo(g)
    expected = union_find_components(nn, edges)
    assert (_labels_array(res.labels, nn) == expected).all()


def test_isolated_nodes_are_singletons(spark):
    g = graph_from_pandas(spark, [(0, 1), (1, 2)], 6)
    res = connected_components(g)
    lab = _labels_array(res.labels, 6)
    assert lab.tolist() == [0, 0, 0, 3, 4, 5]


def test_sizes_and_renumber(spark):
    # components: {0,1,2} size 3, {3,4} size 2, {5} size 1
    g = graph_from_pandas(spark, [(0, 1), (1, 2), (3, 4)], 6)
    res = connected_components(g)
    sizes = {r["label"]: r["size"] for r in component_sizes(res.labels).collect()}
    assert sizes == {0: 3, 3: 2, 5: 1}
    renum = _labels_array(renumber_by_size(res.labels), 6)
    assert renum.tolist() == [0, 0, 0, 1, 1, 2]


def test_chain_graph_star_converges_fast(spark):
    """Long path: label propagation needs O(diameter) rounds; the star
    algorithm must converge in O(log^2 n) — assert it is much faster."""
    n = 256
    edges = [(i, i + 1) for i in range(n - 1)]
    g = graph_from_pandas(spark, edges, n)
    res = cc_star(g)
    lab = _labels_array(res.labels, n)
    assert set(lab) == {0}
    assert res.iterations <= 12  # lp would need ~n rounds


def test_cc_chain_tail_frontier_across_truncations(spark):
    """r6 single-action internals: the frontier is the ``_chg`` column of
    the driver-managed state (filtered view next round), which must stay
    correct ACROSS lineage-truncation boundaries (truncate_every=3 —
    rounds 3/6/9 hand back a LogicalRDD state whose ``_chg`` column the
    next round filters). A chain graph keeps the frontier at O(1) nodes
    for ~n rounds, crossing several truncations; labels must still equal
    the union-find oracle and the public schema must stay (id, label)."""
    n = 12
    edges = [(i, i + 1) for i in range(n - 1)]  # directed chain 0->...->11
    g = graph_from_pandas(spark, edges, n)
    res = connected_components(g)
    assert res.labels.columns == ["id", "label"]
    assert res.iterations > 6  # crossed at least two truncation boundaries
    expected = union_find_components(n, edges)
    got = _labels_array(res.labels, n)
    assert got.tolist() == list(expected)


def test_cc_resume_with_chg_state_schema(spark, tmp_path):
    """r6: the durable-checkpoint state now carries the ``_chg`` frontier
    column; a killed CC run must resume from it and reach labels identical
    to an uninterrupted run (the resumed first round gathers from the
    RESTORED frontier, not a full rescan)."""
    from tests.oracles import erdos_renyi

    n, edges = erdos_renyi(60, 0.05, seed=11)
    g = graph_from_pandas(spark, edges, n)
    ck = str(tmp_path / "cc_ck")
    full = connected_components(g)
    partial = connected_components(g, max_iter=2, checkpoint_dir=ck, job="cc")
    assert partial.iterations == 2
    resumed = connected_components(g, checkpoint_dir=ck, job="cc", resume=True)
    assert resumed.resumed_from == 2
    assert resumed.labels.columns == ["id", "label"]
    assert (
        _labels_array(resumed.labels, n).tolist()
        == _labels_array(full.labels, n).tolist()
    )


@pytest.mark.parametrize("damping", [None, "half"])
def test_lp_resume_restores_frontier(spark, tmp_path, damping):
    """LP killed after 2 rounds resumes from the restored frontier (the
    ``_chg``/``_prop`` columns, sized by the manifest's last metrics) and
    reaches the uninterrupted labels, with and without damping's gated
    set."""
    n, edges = erdos_renyi(60, 0.05, seed=11)
    g = graph_from_pandas(spark, edges, n)
    ck = str(tmp_path / "lp_ck")
    full = label_propagation(g, damping=damping)
    label_propagation(g, damping=damping, max_iter=2, checkpoint_dir=ck, job="lp")
    resumed = label_propagation(g, damping=damping, checkpoint_dir=ck, job="lp")
    assert resumed.resumed_from == 2
    assert resumed.iterations == full.iterations
    assert (
        _labels_array(resumed.labels, n).tolist()
        == _labels_array(full.labels, n).tolist()
    )


@pytest.mark.parametrize(
    "algo, frontier_cols",
    [
        (connected_components, ["_chg"]),
        (label_propagation, ["_chg", "_prop"]),
    ],
)
def test_resume_checkpoint_without_frontier_columns(spark, tmp_path, algo, frontier_cols):
    """A checkpoint written before the state carried its frontier columns
    resumes as a full rescan and reaches the uninterrupted labels. (A
    current checkpoint restores the frontier: both steps size it from the
    manifest's last metrics. Without the columns, CC adds ``_chg = true``
    and LP ignores those metrics, so its first resumed round rescans in
    full.)"""
    import os

    import pyarrow.parquet as pq

    from webgraph_rs_spark.driver import CheckpointStore

    n, edges = erdos_renyi(60, 0.05, seed=11)
    g = graph_from_pandas(spark, edges, n)
    ck = str(tmp_path / "ck")
    full = algo(g)
    algo(g, max_iter=2, checkpoint_dir=ck, job="old")
    # rewrite the committed state in the old format, without the columns
    path = CheckpointStore(ck, "old").state_path(2)
    for name in os.listdir(path):
        if name.startswith("part-"):
            part = os.path.join(path, name)
            # the schema metadata holds Spark's own copy of the old schema
            old = pq.read_table(part).drop_columns(frontier_cols)
            pq.write_table(old.replace_schema_metadata(), part)
            crc = os.path.join(path, f".{name}.crc")
            if os.path.exists(crc):
                os.remove(crc)  # the local FS would reject the stale checksum
    assert not set(frontier_cols) & set(spark.read.parquet(path).columns)

    resumed = algo(g, checkpoint_dir=ck, job="old", resume=True)
    assert resumed.resumed_from == 2
    assert (
        _labels_array(resumed.labels, n).tolist()
        == _labels_array(full.labels, n).tolist()
    )
