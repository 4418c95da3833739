"""Deterministic synthetic Common-Crawl-style pages table.

The north rule's input is an Iceberg/Parquet table of web pages with columns
``(url string, warc_ts timestamp, html binary, text string, lang string)``
(BASELINE.json input_hint). This module synthesizes that table from a planted
edge set, fully deterministically (seeded, no wall clock), so that:

- the hyperlinks embedded in ``html`` are exactly the planted graph, making
  extraction -> edge-table verifiable against known golden outputs;
- the ``text`` column holds the *expected* extraction output, so the
  byte-identical-text invariant is checkable per url
  (``extract(html) == text`` byte-for-byte, FIXTURES.md §1).

Generation runs distributed: the planted edge list is grouped per page and
the HTML rendered inside ``mapInPandas`` (Arrow-vectorized) — on a cluster
this synthesizes arbitrarily large page tables without driver involvement.

Url scheme: node ``i`` lives on a domain drawn from a Zipf-like assignment
(hub domains => realistic skew for salting tests), path = the node id.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webgraph_rs_spark.session import local_table

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

_EPOCH = "2024-01-01 00:00:00"
_LANGS = ["en", "it", "de"]
_N_DOMAINS = 16


def url_for(node: int) -> str:
    """Deterministic url of a node. Zipf-ish domain: node i goes to domain
    (i mod d^2 mapped through a square) so low domains get many more pages."""
    d = ((node * node + node) // 7) % _N_DOMAINS
    dom = d * d % _N_DOMAINS  # quadratic fold -> skewed domain sizes
    return f"https://site{dom:02d}.example.org/page/{node}"


def paragraph_for(node: int) -> str:
    """Deterministic body text of a page (the extraction golden output)."""
    words = []
    x = node * 2654435761 % 2**32
    for i in range(5 + node % 7):
        x = (x * 1103515245 + 12345) % 2**31
        words.append(f"w{x % 9973}")
    return f"Page {node}. " + " ".join(words)


def render_html(node: int, successors: list[int]) -> str:
    """Render the page of ``node`` linking to ``successors`` (sorted)."""
    links = "".join(
        f'<li><a href="{url_for(s)}">link to {s}</a></li>' for s in sorted(successors)
    )
    return (
        f"<html><head><title>Page {node}</title>"
        f'<script>var x = {node};</script></head>'
        f"<body><h1>Page {node}</h1><p>{paragraph_for(node)}</p>"
        f"<ul>{links}</ul></body></html>"
    )


def expected_text(node: int, successors: list[int]) -> str:
    """The byte-exact text our extractor must produce for this page.

    Must stay in lockstep with ``webgraph_rs_spark.extract.extract_text_py``:
    block tags separate with newline, inline <li>/<a> contents joined with
    spaces; see extract.py for the normalization spec.
    """
    link_texts = " ".join(f"link to {s}" for s in sorted(successors))
    parts = [f"Page {node}", f"Page {node}", paragraph_for(node)]
    if link_texts:
        parts.append(link_texts)
    return "\n".join(parts)


def synthesize_pages(
    spark: SparkSession, edges: DataFrame, num_nodes: int
) -> DataFrame:
    """Planted edge DataFrame (src, dst) + node count -> pages DataFrame.

    Distributed: group links per src (one shuffle), union in the linkless
    nodes, render html/text in Arrow batches.
    """
    per_node = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.sort_array(F.collect_list("dst")).alias("succs"))
    )
    allnodes = (
        spark.range(num_nodes)
        .select(F.col("id").alias("node"))
        .join(per_node, "node", "left")
        .select("node", F.coalesce("succs", F.array().cast("array<long>")).alias("succs"))
    )

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nodes = pdf["node"].tolist()
            succs = [list(s) for s in pdf["succs"]]
            html = [render_html(n, s).encode("utf-8") for n, s in zip(nodes, succs)]
            text = [expected_text(n, s) for n, s in zip(nodes, succs)]
            yield pd.DataFrame(
                {
                    "url": [url_for(n) for n in nodes],
                    "warc_ts": pd.to_datetime(_EPOCH)
                    + pd.to_timedelta(nodes, unit="s"),
                    "html": html,
                    "text": text,
                    "lang": [
                        _LANGS[n % len(_LANGS)] if n % 97 != 0 else "" for n in nodes
                    ],
                }
            )

    return allnodes.mapInPandas(render, schema=PAGE_SCHEMA)


def synthesize_pages_from_pairs(
    spark: SparkSession, edge_pairs, num_nodes: int
) -> DataFrame:
    df = local_table(
        spark, [(int(s), int(d)) for s, d in edge_pairs], "src long, dst long"
    )
    return synthesize_pages(spark, df, num_nodes)
