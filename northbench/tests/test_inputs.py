"""Seeded inputs: the same seed gives the same table content whatever the
partition count, and another seed gives other content."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from northbench import inputs  # noqa: E402
from webgraph_rs_spark import get_spark  # noqa: E402

SMALL_PAGES = inputs.GraphShape(nodes=300, out_deg=6, locality=16, dangling_every=4, hub=False)
SMALL_EDGES = inputs.GraphShape(nodes=800, out_deg=8, locality=16, dangling_every=8, hub=True)


@pytest.fixture(scope="module")
def spark():
    return get_spark(
        app_name="northbench_tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )


def test_pages_hash_ignores_partition_count(spark, tmp_path):
    hashes = {}
    for parts in (1, 3):
        path = str(tmp_path / f"pages{parts}")
        src, dst = inputs.write_pages(spark, SMALL_PAGES, 5, path, parts)
        hashes[parts] = inputs.content_hash(path, ["url"])
    assert hashes[1] == hashes[3]
    other = str(tmp_path / "pages-other-seed")
    inputs.write_pages(spark, SMALL_PAGES, 6, other, 1)
    assert inputs.content_hash(other, ["url"]) != hashes[1]
    # some pages are dangling: their node never appears as a source
    assert 0 < SMALL_PAGES.nodes - len(np.unique(src)) < SMALL_PAGES.nodes // 2


def test_edges_hash_ignores_partition_count(spark, tmp_path):
    hashes = {}
    for parts in (1, 4):
        path = str(tmp_path / f"edges{parts}")
        src, dst = inputs.write_edges(spark, SMALL_EDGES, 7, path, parts)
        hashes[parts] = inputs.content_hash(path, ["src", "dst"])
    assert hashes[1] == hashes[4]
    # the planted hub: node 0 is linked from about every 8th node
    assert np.count_nonzero(dst == 0) >= SMALL_EDGES.nodes // 8 * 0.6


def test_url_ids_follow_sorted_urls():
    ids = inputs.url_ids(50)
    urls = [inputs.url_for(i) for i in range(50)]
    assert sorted(range(50), key=lambda i: ids[i]) == sorted(range(50), key=urls.__getitem__)
