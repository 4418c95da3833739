"""Pages synthesis + extraction: the byte-identical-text invariant and the
pages -> edge-table pipeline recovering the planted graph (FIXTURES.md §1)."""

from __future__ import annotations

from tests.oracles import canonical8, erdos_renyi
from webgraph_rs_spark.extract import (
    build_graph_from_pages,
    extract_links_py,
    extract_text_py,
    url_dictionary,
    verify_extraction,
)
from webgraph_rs_spark.pages import synthesize_pages_from_pairs, url_for
from webgraph_rs_spark.graph import graph_from_pandas
from webgraph_rs_spark.transforms import graphs_equal, permute


def test_pure_extractor_units():
    html = (
        b"<html><head><title>T</title><script>var x=1;</script></head>"
        b"<body><h1>H</h1><!-- c --><p>a  b &amp; c</p>"
        b'<ul><li><a href="https://x.org/1">one</a></li></ul></body></html>'
    )
    assert extract_text_py(html) == "T\nH\na b & c\none"
    assert extract_links_py(html) == ["https://x.org/1"]
    assert extract_text_py(None) == ""
    assert extract_links_py(b"no links here") == []


def test_byte_identical_invariant(spark):
    n, edges = erdos_renyi(50, 0.08, 3)
    pages = synthesize_pages_from_pairs(spark, edges, n)
    assert verify_extraction(pages).isEmpty()


def test_pages_roundtrip_recovers_planted_graph(spark):
    n, edges = canonical8()
    pages = synthesize_pages_from_pairs(spark, edges, n)
    g, d = build_graph_from_pages(spark, pages)
    assert g.num_nodes == n
    assert g.num_arcs == len(edges)
    # text and links come from ONE Python evaluation of the fused UDF
    plan = g.edges._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("extract_both_udf(") == 1
    # map dictionary ids back to planted node ids via the url scheme
    url2node = {url_for(i): i for i in range(n)}
    rows = d.collect()
    perm = spark.createDataFrame(
        [(r["id"], url2node[r["url"]]) for r in rows], "old_id long, new_id long"
    )
    recovered = permute(g, perm)
    planted = graph_from_pandas(spark, edges, n)
    assert graphs_equal(recovered, planted)


def test_url_dictionary_dense_and_sorted(spark):
    n, edges = erdos_renyi(40, 0.1, 4)
    pages = synthesize_pages_from_pairs(spark, edges, n)
    d = url_dictionary(pages).collect()
    ids = sorted(r["id"] for r in d)
    assert ids == list(range(n))
    by_url = sorted(d, key=lambda r: r["url"])
    assert [r["id"] for r in by_url] == list(range(n))


def test_dense_ids_distributed_matches_global_sort(spark):
    from webgraph_rs_spark.graph import dense_ids

    df = spark.createDataFrame(
        [(f"k{i:04d}",) for i in range(997)], "name string"
    ).repartition(7)
    out = dense_ids(df, "name", num_partitions=5).collect()
    m = {r["name"]: r["id"] for r in out}
    for i, k in enumerate(sorted(m)):
        assert m[k] == i
