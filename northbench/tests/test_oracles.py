"""The vectorized oracles agree with the loop-per-edge references in
``tests/oracles.py`` on the shared fixtures."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from northbench import oracles  # noqa: E402
from tests import oracles as ref  # noqa: E402


def _fixtures():
    yield "canonical8", ref.canonical8()
    yield "star_hub", ref.star_hub(40)
    yield "clique_cycle", ref.clique_cycle(5, 7, bridge="bi")
    for n, p, seed in [(30, 0.05, 1), (60, 0.04, 2), (80, 0.1, 3), (120, 0.02, 4)]:
        yield f"er{n}_{p}_{seed}", ref.erdos_renyi(n, p, seed)


FIXTURES = list(_fixtures())


def _arrays(edges):
    a = np.array(edges, dtype=np.int64).reshape(-1, 2)
    return a[:, 0], a[:, 1]


@pytest.mark.parametrize("name,fixture", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_pagerank(name, fixture):
    n, edges = fixture
    src, dst = _arrays(edges)
    expected = ref.pagerank_power(n, edges, tol=1e-12)
    assert np.allclose(oracles.pagerank(n, src, dst), expected, rtol=0, atol=1e-12)


@pytest.mark.parametrize("name,fixture", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_components(name, fixture):
    n, edges = fixture
    src, dst = _arrays(edges)
    assert np.array_equal(
        oracles.components(n, src, dst), ref.union_find_components(n, edges)
    )


@pytest.mark.parametrize("name,fixture", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_label_propagation(name, fixture):
    n, edges = fixture
    src, dst = _arrays(edges)
    labels, rounds = oracles.label_propagation(n, src, dst, max_iter=30)
    assert 1 <= rounds <= 30
    assert np.array_equal(labels, ref.label_propagation_sync(n, edges, rounds))
    if rounds < 30:  # a fixpoint: one more round changes nothing
        assert np.array_equal(labels, ref.label_propagation_sync(n, edges, rounds + 1))


@pytest.mark.parametrize("name,fixture", FIXTURES, ids=[f[0] for f in FIXTURES])
def test_triangles(name, fixture):
    n, edges = fixture
    src, dst = _arrays(edges)
    count, wedges = oracles.triangles(n, src, dst)
    assert count == ref.brute_triangles(n, edges)
    assert count <= wedges


def test_duplicate_arcs_are_ignored():
    n, edges = ref.canonical8()
    src, dst = _arrays(edges + edges[:4])
    once_src, once_dst = _arrays(edges)
    assert np.allclose(oracles.pagerank(n, src, dst), oracles.pagerank(n, once_src, once_dst))
    assert oracles.triangles(n, src, dst) == oracles.triangles(n, once_src, once_dst)
