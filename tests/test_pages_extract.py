"""HTML → text extraction (the north-rule scan→extract step).

Three gates:
* the hand-case matrix replayed on BOTH regex engines (Java via Spark,
  RE2 via DuckDB) — the extraction rules are engine-portable the same
  way canonicalize_url's are;
* the BASELINE.json input_hint invariant — byte-identical extracted
  text per url — over the gzip-mixed synthesizer AND the
  documents-derived pages frame;
* rich-html twin parity: the enriched payload builder + extraction
  composed end-to-end equals the DuckDB replay of both twins.
"""

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from vtcomposite_spark.functions.text import extract_text_col, extract_text_sql
from vtcomposite_spark.sources.pages import (
    extract_text, pages_from_documents, rich_html_col, rich_html_sql,
    synthesize_pages)

CASES = [
    # body extraction + whitespace pass-through (no collapsing)
    '<html><head><title>t</title></head><body>hello  world</body></html>',
    # block tags become exactly one newline each
    '<html><body class="x">a<p>b</p>c</body></html>',
    # script/style blocks drop with their contents; comments drop
    '<body><script src="a.js">var x=1;</script>keep</body>',
    '<body><style>p{}</style>s<!-- gone -->t</body>',
    # no <body> → whole document
    'no body tags at all & plain',
    # entity whitelist, &amp; last (double-escape resolves ONE level)
    '<body>A &amp;amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39; &nbsp;end</body>',
    # nested/sequential block tags, case-insensitive, self-closing
    '<body><ul><li>one</li><li>two</li></ul></body>',
    '<body><PRE>x  \n  y</PRE><BR/><hr>z</body>',
    # greedy body = outermost span; malformed html falls through
    '<body>outer<body>inner</body>tail</body>',
    '<div>unclosed <b>bold',
    '',
    # <p> alternation must not swallow <param>/<pre> lookalikes
    '<body><param name="a">q<p >w</p></body>',
    '<body>multi\nline\n\ntext &amp; kept</body>',
]

EXPECTED = {
    0: 'hello  world',
    1: 'a\nb\nc',
    2: 'keep',
    4: 'no body tags at all & plain',
    5: 'A &amp; B <tag> "q" \'s\'  end',
    8: 'outerinnertail',
}


def test_hand_matrix_both_engines(spark):
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CASES)], "i long, h string")
    got = {r.i: r.e for r in
           df.select("i", extract_text_col(F.col("h")).alias("e")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(CASES)), "h": CASES}))
    want = dict(con.sql(f"select i, {extract_text_sql('h')} from t").fetchall())
    assert got == want  # Java == RE2, char-for-char
    for i, e in EXPECTED.items():
        assert got[i] == e, (i, got[i])


def test_rich_html_twins_end_to_end(spark):
    docs = spark.createDataFrame(
        [(7, "some body text & more"), (8, "x <i>y")],
        "doc_id long, text string")
    rich = docs.select(
        "doc_id", rich_html_col(F.col("text"), F.col("doc_id")).alias("h"))
    got = {r.doc_id: r.e for r in
           rich.select("doc_id",
                       extract_text_col(F.col("h")).alias("e")).collect()}
    con = duckdb.connect()
    con.register("d", pd.DataFrame(
        {"doc_id": [7, 8], "text": ["some body text & more", "x <i>y"]}))
    want = dict(con.sql(
        "select doc_id, "
        f"{extract_text_sql(rich_html_sql('text', 'doc_id'))} from d"
    ).fetchall())
    assert got == want
    assert got[7] == "\nsome body text & more\nA & B <ok>"
    # raw '<' in the text: the '<i>y' tail is eaten by the tag-strip pass —
    # documented: text nodes must be entity-escaped to survive verbatim
    assert got[8] == "\nx y\nA & B <ok>"


def test_byte_identity_invariant_synthesized(spark):
    """input_hint: byte-identical extracted text per url, over the
    gzip-mixed synthesizer (~30% gzipped payloads hit the sniff seam)."""
    pages = synthesize_pages(spark, 300, partitions=4)
    out = extract_text(pages, keep=["url", "text"])
    rows = out.select(
        (F.col("extracted") == F.col("text")).alias("same"),
        (F.encode("extracted", "utf-8") == F.encode("text", "utf-8"))
        .alias("same_bytes")).collect()
    assert len(rows) == 300
    assert all(r.same and r.same_bytes for r in rows)


def test_byte_identity_invariant_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .limit(200)
    pages = pages_from_documents(docs)
    out = extract_text(pages, keep=["url", "text"])
    bad = out.filter(F.col("extracted") != F.col("text")).count()
    assert bad == 0


def test_keep_pruning_and_null_html(spark):
    pages = synthesize_pages(spark, 20, partitions=2) \
        .withColumn("html", F.when(F.col("url").endswith("3"), F.lit(None))
                    .otherwise(F.col("html")))
    out = extract_text(pages, keep=["url"])
    assert out.columns == ["url", "extracted"]
    rows = out.collect()
    nulls = [r for r in rows if r.extracted is None]
    assert len(nulls) == 2  # ids 3 and 13
    assert all(r.extracted is not None for r in rows if not r.url.endswith("3"))


# ---------------------------------------------------------------------------
# MIME sniffing (magic bytes, pure-hex text sniff)
# ---------------------------------------------------------------------------

def test_sniff_mime_hand_matrix_both_engines(spark):
    import gzip as _gz
    from tests.reference_plans import sniff_mime_sql
    from vtcomposite_spark.functions.text import sniff_mime_col
    payloads = [
        _gz.compress(b"x"), b"%PDF-1.4 junk", b"\x89PNG\r\n\x1a\n....",
        b"\xff\xd8\xff\xe0JFIF", b"GIF89a...", b"PK\x03\x04zip",
        b"<!DOCTYPE html><html>", b"  <HTML lang=en>",
        b"<?xml version='1.0'?>", b"just some plain text",
        b"<div>fragment</div>", None, b"\xff\xfe not utf8",
        b"\t\n <!doctype HTML>",
    ]
    expect = ["gzip", "pdf", "png", "jpeg", "gif", "zip", "html", "html",
              "xml", "other", "other", None, "other", "html"]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "i long, b binary")
    got = {r.i: r.m for r in
           df.select("i", sniff_mime_col(F.col("b")).alias("m")).collect()}
    assert [got[i] for i in range(len(payloads))] == expect
    con = duckdb.connect()
    con.register("mime_t", pd.DataFrame(
        {"i": range(len(payloads)), "b": payloads}))
    want = dict(con.sql(
        f"select i, {sniff_mime_sql('b')} from mime_t").fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# one-call enrichment pass
# ---------------------------------------------------------------------------

def test_enrich_pages_values_and_plan(spark):
    from vtcomposite_spark.sources.pages import enrich_pages
    pages = synthesize_pages(spark, 40, partitions=2)
    out = enrich_pages(pages, keep=["url", "text"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one scan → one seam → projection: NO shuffle anywhere
    assert "Exchange" not in plan
    rows = out.collect()
    assert len(rows) == 40
    for r in rows:
        assert r.extracted == r.text          # the north-rule invariant
        assert r.canonical_url.startswith("https://example.org/")
        assert r.surt.startswith("org,example)/")
        assert r.host == "example.org"
        assert r.payload_mime in ("html", "gzip")
        assert r.n_tokens == len(r.text.split())
        assert r.fingerprint is not None and r.quality is not None
    # ~30% of the synthesizer's payloads are gzip-stored
    assert 5 <= sum(r.payload_mime == "gzip" for r in rows) <= 20
