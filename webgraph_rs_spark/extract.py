"""Vectorized HTML link + text extraction (the ingestion frontend).

The reference ingests numeric arc lists (``cli/src/from/arcs.rs:22-61``); the
page -> edge-table layer is this engine's own frontend (SURVEY.md preamble
gap #2). Contract (north rule / input hint):

- pandas/Arrow UDFs only — no per-row Python UDFs, and no DataFrame built
  from a Python list (``spark.createDataFrame(<list>)`` plans a PythonRDD,
  which runs per-row Python in a worker pool of its own): the Arrow UDFs
  are the only Python that runs, in one pool. Small driver-side tables go
  through ``session.local_table``;
- per-row invariant: ``extract_text(html) == text`` byte-identical per url;
- links: every ``<a href="...">`` target, in document order.

Text normalization spec (deterministic, no external parser libs — the
container has no bs4/lxml, and a fixed spec is what makes byte-identical
reproducibility possible at all):

1. decode UTF-8 (errors=replace);
2. drop ``<script>``/``<style>`` elements with their contents;
3. drop HTML comments;
4. replace *block* tags (html/head/body/title/h1-h6/p/div/ul/ol/table/tr/
   br/hr) with a newline, all other tags with a space;
5. unescape HTML entities;
6. collapse runs of spaces/tabs within lines, strip each line, drop empty
   lines, join with a single newline.
"""

from __future__ import annotations

import html as _htmlmod
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST
from pyspark.sql import Window as W

from webgraph_rs_spark.graph import LinkGraph, canonical_edge_layout, dense_ids

_SCRIPT_RE = re.compile(r"(?is)<(script|style)\b.*?</\1\s*>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_BLOCK_TAG_RE = re.compile(
    r"(?i)</?(?:html|head|body|title|h[1-6]|p|div|ul|ol|table|tr|br|hr)\b[^>]*>"
)
_ANY_TAG_RE = re.compile(r"<[^>]+>")
_HREF_RE = re.compile(r"(?is)<a\s[^>]*?href\s*=\s*\"([^\"]*)\"")
_SPACES_RE = re.compile(r"[ \t\r\f\v]+")


def _text_of(s: str) -> str:
    """Steps 2-6 of the text spec over the decoded page."""
    s = _SCRIPT_RE.sub(" ", s)
    s = _COMMENT_RE.sub(" ", s)
    s = _BLOCK_TAG_RE.sub("\n", s)
    s = _ANY_TAG_RE.sub(" ", s)
    s = _htmlmod.unescape(s)
    lines = []
    for line in s.split("\n"):
        line = _SPACES_RE.sub(" ", line).strip()
        if line:
            lines.append(line)
    return "\n".join(lines)


def _links_of(s: str) -> list[str]:
    """Every ``<a href>`` target of the decoded page, in document order."""
    s = _COMMENT_RE.sub(" ", s)
    return [_htmlmod.unescape(m) for m in _HREF_RE.findall(s)]


def _decode(html_bytes: bytes) -> str:
    return html_bytes.decode("utf-8", errors="replace")


def extract_text_py(html_bytes: bytes | None) -> str:
    """Pure-python text extraction implementing the spec above."""
    return "" if html_bytes is None else _text_of(_decode(html_bytes))


def extract_links_py(html_bytes: bytes | None) -> list[str]:
    return [] if html_bytes is None else _links_of(_decode(html_bytes))


@F.pandas_udf(ST.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_text_py)


@F.pandas_udf(ST.ArrayType(ST.StringType()))
def extract_links_udf(html: pd.Series) -> pd.Series:
    return html.map(extract_links_py)


_EXTRACT_SCHEMA = ST.StructType(
    [
        ST.StructField("text", ST.StringType()),
        ST.StructField("links", ST.ArrayType(ST.StringType())),
    ]
)


@F.pandas_udf(_EXTRACT_SCHEMA)
def extract_both_udf(html: pd.Series) -> pd.DataFrame:
    """text + links in ONE Python evaluation (guide §4.1): the html bytes
    cross the JVM->Arrow->Python boundary once instead of twice, and the
    utf-8 decode is shared. Values are byte-identical to the two split UDFs
    (the same ``_text_of`` / ``_links_of`` over the same decoded string)."""
    texts: list[str] = []
    links: list[list[str]] = []
    for hb in html:
        s = "" if hb is None else _decode(hb)
        texts.append(_text_of(s))
        links.append(_links_of(s))
    return pd.DataFrame({"text": texts, "links": links})


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages -> (url, text, links array) via the Arrow-vectorized UDF.

    Column-pruned: only ``url`` and ``html`` are read from the scan; one
    ArrowEvalPython stage for both outputs (was two)."""
    return pages.select(
        "url", extract_both_udf(F.col("html")).alias("_ex")
    ).select("url", F.col("_ex.text").alias("text"), F.col("_ex.links").alias("links"))


def verify_extraction(pages: DataFrame) -> DataFrame:
    """Rows violating the byte-identical invariant (empty == pass).

    The per-url check the north rule pins; run as an assertion job.
    """
    return pages.select(
        "url", "text", extract_text_udf(F.col("html")).alias("extracted")
    ).filter(F.col("text") != F.col("extracted"))


def url_dictionary(pages: DataFrame) -> DataFrame:
    """(url, id) with dense ids 0..n-1, deterministic (sorted by url).

    The distributed analogue of the reference's appearance-order string
    interning (``cli/src/from/arcs.rs:129-148``) — see
    ``graph.intern_labels`` for why sorted order replaces appearance order.
    Uses the two-phase distributed ranking of ``graph.dense_ids`` (no
    single-partition global window).
    """
    return dense_ids(pages, "url").select(F.col("name").alias("url"), "id")


def build_graph_from_pages(
    spark: SparkSession, pages: DataFrame, dedup_links: bool = True
) -> tuple[LinkGraph, DataFrame]:
    """pages table -> (LinkGraph over dense ids, url dictionary).

    Pipeline (one pandas-UDF pass + three shuffles, SURVEY.md §3.1 mapping):
    extract links -> explode -> join url->id on src url -> join on dst url
    (links to urls outside the corpus are dropped) -> dedup -> canonical
    src-partitioned layout. The vertex table is *all* pages — pages with no
    out-links are dangling, pages never linked are isolated; both carry
    PageRank mass (SURVEY.md §2 dangling note).
    """
    d = url_dictionary(pages).persist()
    links = (
        extract_pages(pages)
        .select("url", F.explode_outer("links").alias("dst_url"))
    )
    edges = (
        links.join(d, "url")
        .select(F.col("id").alias("src"), "dst_url")
        .join(
            d.select(F.col("url").alias("dst_url"), F.col("id").alias("dst")),
            "dst_url",
        )
        .select("src", "dst")
    )
    if dedup_links:
        edges = edges.dropDuplicates(["src", "dst"])
    vertices = d.select("id")
    g = LinkGraph(canonical_edge_layout(edges), vertices, src_layout=True)
    return g, d
