"""Outlink extraction: href harvesting + RFC 3986-subset resolution.
Hand matrix on BOTH engines, operator(explode/codegen) == HOF twin,
and the crawl→link-graph e2e (extract_links edges feeding pagerank).
"""

import duckdb
import pandas as pd

from pyspark.sql import functions as F

from tests.reference_plans import extract_anchors_col, extract_links_col
from vtcomposite_spark.functions.text import extract_links_sql
from vtcomposite_spark.operators import graph as GR
from vtcomposite_spark.sources.pages import (encode_html_pages,
                                             extract_links,
                                             linkful_html_col,
                                             linkful_html_sql)

CASES = [
    ("https://a.com/x/page.html",
     '<a href="https://b.com/p">.</a><a href="/root">.</a>'
     '<a href="rel.html">.</a><a href="//cdn.c.com/q">.</a>'
     '<a href="#top">.</a><a href="mailto:x@y.z">.</a>'
     "<a href='sq.html'>.</a><a href=\"\">.</a>"
     '<A HREF="UP.HTML">.</A><a id="k" href="two.html">.</a>'),
    # no path on the base → directory is '/'
    ("https://a.com", '<a href="r1">.</a><a href="/r2">.</a>'),
    # base query/fragment stripped before directory resolution;
    # href keeps its query, drops its fragment
    ("http://a.com/d/?z=9", '<a href="x?q=1#f">.</a>'),
    # non-http schemes dropped; sibling resolution replaces last segment
    ("https://a.com/one", '<a href="ftp://f.com/x">.</a><a href="sib">.</a>'),
]
EXPECT = {
    0: ["https://b.com/p", "https://a.com/root",
        "https://a.com/x/rel.html", "https://cdn.c.com/q",
        "https://a.com/x/sq.html", "https://a.com/x/UP.HTML",
        "https://a.com/x/two.html"],
    1: ["https://a.com/r1", "https://a.com/r2"],
    2: ["http://a.com/d/x?q=1"],
    3: ["https://a.com/sib"],
}


def test_hand_matrix_both_engines(spark):
    df = spark.createDataFrame(
        [(i, b, h) for i, (b, h) in enumerate(CASES)],
        "i long, base string, h string")
    got = {r.i: list(r.links) for r in df.select(
        "i", extract_links_col(F.col("h"), F.col("base")).alias("links"))
        .collect()}
    assert got == EXPECT
    con = duckdb.connect()
    con.register("t", pd.DataFrame(
        [(i, b, h) for i, (b, h) in enumerate(CASES)],
        columns=["i", "base", "h"]))
    want = {i: list(l) for i, l in con.sql(
        f"select i, {extract_links_sql('h', 'base')} from t").fetchall()}
    assert got == want  # Java == RE2, order preserved


def _linkful_pages(spark, n=6):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(n)], "doc_id long, text string")
    rich = docs.select(
        "doc_id",
        F.concat(F.lit("https://h.example.com/a/p"),
                 F.col("doc_id").cast("string"),
                 F.lit(".html")).alias("url"),
        linkful_html_col(F.col("text"), F.col("doc_id")).alias("hs"))
    return encode_html_pages(rich, F.col("hs"),
                             gzip_if=(F.col("doc_id") % 2 == 0),
                             keep=["doc_id", "url"])


def test_operator_matches_twins_e2e(spark):
    """explode/codegen operator path (through the gzip-mixed binary
    seam) == the HOF + SQL builder twins."""
    pages = _linkful_pages(spark)
    got = {(r.doc_id, r.dst_url)
           for r in extract_links(pages, keep=["doc_id"]).collect()}
    con = duckdb.connect()
    con.register("d", pd.DataFrame({
        "doc_id": range(6), "text": [f"text {i}" for i in range(6)],
        "url": [f"https://h.example.com/a/p{i}.html" for i in range(6)]}))
    want = set(map(tuple, con.sql(
        "select doc_id, unnest("
        f"{extract_links_sql(linkful_html_sql('text', 'doc_id'), 'url')}"
        ") as dst_url from d").fetchall()))
    assert got == want
    # every doc emits exactly its 4 kept hrefs (abs/root/rel/scheme-rel)
    assert len(got) == 24
    assert ("https://h.example.com/a/rel3.html" in {u for _, u in got})


def test_links_feed_pagerank(spark):
    """Crawl → link graph: extracted url edges, keyed to long node ids
    (the graph ops' contract — a dictionary or hash id step, here
    xxhash64), run the integer-micro pagerank unchanged."""
    urls = extract_links(_linkful_pages(spark), keep=["url"])
    edges = urls.select(
        F.xxhash64("url").alias("src"),
        F.xxhash64("dst_url").alias("dst"))
    ranks = GR.pagerank(edges, iters=2)
    rows = ranks.collect()
    assert len(rows) == edges.select(F.col("src").alias("n")).union(
        edges.select(F.col("dst").alias("n"))).distinct().count()
    assert all(r.rank >= 0 for r in rows)


def test_href_lookalike_attributes_do_not_match(spark):
    """data-href/ng-href are not links; href right after '<a ' and
    after quoted attrs still match."""
    html = ('<a class="nav" data-href="/js-route">x</a>'
            '<a ng-href="/ng">x</a>'
            '<a href="/real">x</a>'
            '<a id="k"href="/after-quote">x</a>')
    df = spark.createDataFrame([("https://h.com/a", html)],
                               "base string, h string")
    got = df.select(extract_links_col(F.col("h"), F.col("base"))
                    .alias("l")).collect()[0].l
    assert got == ["https://h.com/real", "https://h.com/after-quote"]
    con = duckdb.connect()
    con.register("la_t", pd.DataFrame({"base": ["https://h.com/a"],
                                       "h": [html]}))
    want = con.sql(f"select {extract_links_sql('h', 'base')} from la_t") \
        .fetchall()[0][0]
    assert got == list(want)


# --- anchor-text extraction (extract_anchors) ---

ANCHOR_CASES = [
    # each dst pairs with ITS OWN text; nested markup tag-strips;
    # whitespace collapses; unresolvable anchors drop WITH their text
    ("https://a.com/x/page.html",
     '<a href="https://b.com/p">First  link</a>'
     '<a href="/root"><b>bold</b> text</a>'
     '<a href="rel.html">multi\n  line</a>'
     '<a href="#frag">dropped</a>'
     '<a href="mailto:x@y">also dropped</a>'
     "<a href='sq.html'></a>"),
]
ANCHOR_EXPECT = [
    ("https://b.com/p", "First link"),
    ("https://a.com/root", "bold text"),
    ("https://a.com/x/rel.html", "multi line"),
    ("https://a.com/x/sq.html", ""),
]


def test_anchor_hand_matrix_both_engines(spark):
    from vtcomposite_spark.functions.text import extract_anchors_sql
    base, html = ANCHOR_CASES[0]
    df = spark.createDataFrame([(base, html)], "url string, h string")
    got = [ (s.dst_url, s.anchor) for s in df.select(
        extract_anchors_col(F.col("h"), F.col("url")).alias("a"))
        .collect()[0].a ]
    assert got == ANCHOR_EXPECT
    duckdb.register("_anc", pd.DataFrame({"url": [base], "h": [html]}))
    want = duckdb.sql(
        f"select {extract_anchors_sql('h', 'url')} from _anc").fetchone()[0]
    assert [(w["dst_url"], w["anchor"]) for w in want] == ANCHOR_EXPECT


def test_anchor_operator_through_gzip_seam(spark):
    """extract_anchors over encoded (30% gzipped) pages == the
    expression twin — and each edge carries its own anchor text."""
    from vtcomposite_spark.sources.pages import extract_anchors
    rows = [(i, f"https://s{i % 3}.example.com/d/p{i}.html",
             f'<html><body><a href="t{i}.html">to {i} </a>'
             f'<a href="/z"><i>zed {i}</i></a></body></html>')
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, url string, h string")
    pages = encode_html_pages(df, F.col("h"),
                              gzip_if=(F.col("doc_id") % 10 < 3),
                              keep=["doc_id", "url"])
    got = sorted((r.doc_id, r.dst_url, r.anchor) for r in
                 extract_anchors(pages, keep=["doc_id", "url"]).collect())
    want = sorted(
        [(i, f"https://s{i % 3}.example.com/d/t{i}.html", f"to {i}")
         for i in range(40)]
        + [(i, f"https://s{i % 3}.example.com/z", f"zed {i}")
           for i in range(40)])
    assert got == want
