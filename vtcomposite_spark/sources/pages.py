"""Pages source — Common-Crawl-style web pages (BASELINE.json input_hint).

Schema: (url string, warc_ts timestamp, html binary, text string, lang string).
Two producers:

* ``synthesize_pages`` — deterministic generator (seeded); embeds the geotag
  in the html as ``<meta name="geo.position" content="lat;lon">``, gzips
  ~30% of the html payloads to exercise the gzip-sniff path (the binary
  analog of src/vtcomposite.cpp:224-235), leaves ~20% of rows ungeotagged,
  and concentrates ≥50% of geotagged rows inside one z12 tile (the SF
  cluster) so hot-tile skew is real (FIXTURES.md §1).
* ``pages_from_documents`` — derives a pages frame from the driver's
  ``documents`` parquet with the same deterministic geo distribution keyed
  on doc_id (no external data; reproducible in ANSI SQL for oracles).

``extract_geotags`` pulls (lat, lon) back out of the html with ONE
Arrow-vectorized pandas UDF (gzip sniff + regex over bytes) — the
scan→extract step of the 100 TB pipeline. The ``text`` column is never
touched: byte-identical text per url is the pipeline invariant.
"""

from __future__ import annotations

import gzip

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..schema import PAGES_SCHEMA

SF_LAT, SF_LON = 37.76, -122.44
LANGS = ["en", "de", "fr", "ja", "zh-Hant", "es"]


# deterministic integer-arithmetic geo assignment (also expressible in SQL):
#   h = (i * 2654435761) mod 2^31          (Knuth multiplicative hash)
#   geotagged      iff  h mod 10 < 8       (~80%)
#   SF cluster     iff  h mod 10 < 4       (half of the geotagged rows)
#   cluster:  lat = 37.76 + ((h//10) mod 1000 - 500) * 1e-5   (~±0.005°, one z12 tile)
#   sprinkle: lat = ((h//10) mod 16000) / 100 - 80 ; lon = ((h//100) mod 36000)/100 - 180
KNUTH = 2654435761


def _geo_for_ids(ids: np.ndarray):
    h = (ids.astype(np.int64) * KNUTH) % (1 << 31)
    tagged = (h % 10) < 8
    in_sf = (h % 10) < 4
    lat_sf = SF_LAT + (((h // 10) % 1000) - 500) * 1e-5
    lon_sf = SF_LON + (((h // 100) % 1000) - 500) * 1e-5
    lat_sp = ((h // 10) % 16000) / 100.0 - 80.0
    lon_sp = ((h // 100) % 36000) / 100.0 - 180.0
    lat = np.where(in_sf, lat_sf, lat_sp)
    lon = np.where(in_sf, lon_sf, lon_sp)
    return tagged, lat, lon


def geo_sql_exprs(id_col: str) -> dict[str, str]:
    """The same assignment as ANSI SQL snippets (used by DuckDB oracles)."""
    h = f"(({id_col} * {KNUTH}) % 2147483648)"
    return {
        "tagged": f"({h} % 10) < 8",
        "in_sf": f"({h} % 10) < 4",
        "lat": (f"CASE WHEN ({h} % 10) < 4 THEN {SF_LAT} + ((({h}//10) % 1000) - 500) * 1e-5 "
                f"ELSE (({h}//10) % 16000) / 100.0 - 80.0 END"),
        "lon": (f"CASE WHEN ({h} % 10) < 4 THEN {SF_LON} + ((({h}//100) % 1000) - 500) * 1e-5 "
                f"ELSE (({h}//100) % 36000) / 100.0 - 180.0 END"),
    }


def geo_cols(id_col):
    """Same assignment as Spark Columns (stays JVM-side; matches the SQL)."""
    h = (F.col(id_col).cast("long") * F.lit(KNUTH)) % F.lit(1 << 31)
    in_sf = (h % 10) < 4
    tagged = (h % 10) < 8
    lat = F.when(in_sf, F.lit(SF_LAT) + (((h / 10).cast("long") % 1000) - 500) * 1e-5) \
        .otherwise(((h / 10).cast("long") % 16000) / 100.0 - 80.0)
    lon = F.when(in_sf, F.lit(SF_LON) + (((h / 100).cast("long") % 1000) - 500) * 1e-5) \
        .otherwise(((h / 100).cast("long") % 36000) / 100.0 - 180.0)
    return tagged, lat, lon


def _html_for(i: int, lat: float, lon: float, tagged: bool, text: str) -> bytes:
    meta = (f'<meta name="geo.position" content="{lat:.6f};{lon:.6f}">'
            if tagged else "")
    html = (f"<html><head><title>page {i}</title>{meta}</head>"
            f"<body>{text}</body></html>").encode("utf-8")
    if i % 10 < 3:  # ~30% gzipped
        return gzip.compress(html, compresslevel=1)
    return html


def synthesize_pages(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Deterministic synthetic pages (distributed generation via spark.range)."""

    def gen(pdfs):
        for pdf in pdfs:
            ids = pdf["id"].to_numpy()
            tagged, lat, lon = _geo_for_ids(ids)
            rows = {
                "url": [f"https://example.org/{i:08d}" for i in ids],
                "warc_ts": pd.to_datetime(1_600_000_000 + ids, unit="s"),
                "html": [
                    _html_for(int(i), float(la), float(lo), bool(t), f"text body {int(i)} lorem")
                    for i, la, lo, t in zip(ids, lat, lon, tagged)
                ],
                "text": [f"text body {int(i)} lorem" for i in ids],
                "lang": [LANGS[int(i) % len(LANGS)] for i in ids],
            }
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, schema=PAGES_SCHEMA)


def pages_from_documents(documents: DataFrame) -> DataFrame:
    """Pages frame derived from the driver's documents table (doc_id keyed)."""
    tagged, lat, lon = geo_cols("doc_id")
    return documents.select(
        F.concat(F.lit("https://example.org/"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias("url"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id")).alias("warc_ts"),
        F.encode(F.concat(
            F.lit("<html><head>"),
            F.when(tagged, F.concat(
                F.lit('<meta name="geo.position" content="'),
                F.format_string("%.6f", lat), F.lit(";"), F.format_string("%.6f", lon),
                F.lit('">'))).otherwise(F.lit("")),
            F.lit("</head><body>"), F.col("text"), F.lit("</body></html>"),
        ), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def rich_html_col(text, doc_id):
    """Deterministic ENRICHED html payload (string Column) for a doc: a
    title, a script block with entities, the text wrapped in <p>, a
    comment, and an entity-bearing span — every extraction rule fires.
    Twin: :func:`rich_html_sql`. Extracting this with
    functions.text.extract_text_col yields exactly
    ``"\\n" + text + "\\n" + "A & B <ok>"``."""
    return F.concat(
        F.lit("<html><head><title>T "), doc_id.cast("string"),
        F.lit("</title><script>var x = 1 &amp;&amp; 2;</script>"
              "<style>p { color: red; }</style></head>"
              "<body class=\"m\"><p>"),
        text,
        F.lit("</p><!-- crawler note --><span>A &amp; B &lt;ok&gt;</span>"
              "</body></html>"))


def rich_html_sql(text_c: str, id_c: str) -> str:
    return ("'<html><head><title>T ' || CAST(" + id_c + " AS VARCHAR) || "
            "'</title><script>var x = 1 &amp;&amp; 2;</script>"
            "<style>p { color: red; }</style></head>"
            "<body class=\"m\"><p>' || " + text_c + " || "
            "'</p><!-- crawler note --><span>A &amp; B &lt;ok&gt;</span>"
            "</body></html>'")


def encode_html_pages(df: DataFrame, html_str, gzip_if=None,
                      keep: list[str] | None = None) -> DataFrame:
    """keep-columns + ``html`` (binary): UTF-8-encode a built html string
    Column; rows where ``gzip_if`` (boolean Column) holds are
    gzip-compressed — the payload mix a real crawl store has. With
    ``gzip_if=None`` this is pure JVM ``encode()``; otherwise one thin
    mapInPandas seam does encode+gzip (gzip bytes carry an mtime header,
    so they are NOT byte-deterministic — only their decompression is;
    callers needing deterministic BYTES pass gzip_if=None)."""
    keep = keep or []
    if gzip_if is None:
        return df.select(*keep, F.encode(html_str, "utf-8").alias("html"))
    base = df.select(*keep, html_str.alias("_h"), gzip_if.alias("_gz"))
    out_schema = T.StructType(
        [base.schema[c] for c in keep]
        + [T.StructField("html", T.BinaryType())])

    def kernel(pdfs):
        for pdf in pdfs:
            payload = [
                None if h is None
                else (gzip.compress(h.encode("utf-8"), compresslevel=1)
                      if gz else h.encode("utf-8"))
                for h, gz in zip(pdf["_h"], pdf["_gz"])]
            out = pdf[keep].copy()
            out["html"] = payload
            yield out

    return base.mapInPandas(kernel, schema=out_schema)


def decoded_html(pages: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """pages + ``html_str`` (string): gzip-sniff each html payload
    (0x1f8b — the binary analog of src/vtcomposite.cpp:224-235) and
    UTF-8-decode it. This is the ONLY Python in the html→text pipeline
    and it does only gunzip + decode — every regex pass downstream is
    JVM codegen (functions/text.py extract_text_col). ``keep`` prunes
    the Arrow crossing manually (column pruning can't see inside
    mapInPandas); the html payload itself is NOT shipped back out.
    """
    if keep is not None:
        pages = pages.select(*dict.fromkeys([*keep, "html"]))
        out_cols = list(keep)
    else:
        out_cols = [c for c in pages.columns if c != "html"]

    out_schema = T.StructType(
        [pages.schema[c] for c in out_cols]
        + [T.StructField("html_str", T.StringType())])

    def kernel(pdfs):
        for pdf in pdfs:
            vals: list[str | None] = []
            for buf in pdf["html"]:
                if buf is None:
                    vals.append(None)
                    continue
                b = bytes(buf)
                if len(b) >= 2 and b[0] == 0x1F and b[1] == 0x8B:
                    b = gzip.decompress(b)
                vals.append(b.decode("utf-8", errors="replace"))
            out = pdf[out_cols].copy()
            out["html_str"] = vals
            yield out

    return pages.mapInPandas(kernel, schema=out_schema)


def extract_text(pages: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """pages columns (minus html) + ``extracted`` (string): the north-rule
    scan→extract step (BASELINE.json input_hint — "byte-identical
    extracted text per url"). Sniff/decode in one thin Python seam
    (:func:`decoded_html`), then the deterministic whitelist extraction
    as five JVM regexp passes (functions/text.py). Text-node bytes pass
    through unchanged, so a body wrapping the text verbatim extracts to
    the text verbatim — tests/test_pages_extract.py pins that per-url
    byte identity over the gzip-mixed synthesizer."""
    from ..functions.text import extract_text_col
    return (decoded_html(pages, keep=keep)
            .withColumn("extracted", extract_text_col(F.col("html_str")))
            .drop("html_str"))


def linkful_html_col(text, doc_id):
    """Deterministic html payload whose body carries one of every href
    shape the resolver handles: absolute, root-relative, relative,
    scheme-relative, fragment-only, non-http scheme. Twin:
    :func:`linkful_html_sql`. Feed to extract_links with base
    ``https://host/a/page{doc_id}.html``-style urls."""
    d = doc_id.cast("string")
    return F.concat(
        F.lit('<html><body><p>'), text,
        F.lit('</p><a href="https://peer.example.net/abs'), d,
        F.lit('">x</a><a href="/root/r'), d,
        F.lit('">x</a><a href="rel'), d,
        F.lit('.html">x</a><a href=\'//cdn.example.net/sr'), d,
        F.lit("'>x</a><a href=\"#frag\">x</a>"
              '<a href="mailto:a@b.c">x</a></body></html>'))


def linkful_html_sql(text_c: str, id_c: str) -> str:
    d = f"CAST({id_c} AS VARCHAR)"
    return ("'<html><body><p>' || " + text_c + " || "
            "'</p><a href=\"https://peer.example.net/abs' || " + d + " || "
            "'\">x</a><a href=\"/root/r' || " + d + " || "
            "'\">x</a><a href=\"rel' || " + d + " || "
            "'.html\">x</a><a href=''//cdn.example.net/sr' || " + d + " || "
            "'''>x</a><a href=\"#frag\">x</a>"
            "<a href=\"mailto:a@b.c\">x</a></body></html>'")


def extract_links(pages: DataFrame, keep: list[str] | None = None,
                  url_col: str = "url") -> DataFrame:
    """keep-columns + ``dst_url``: one row per resolved outlink — the
    link-graph feed (operators/graph.py pagerank/trustrank/cocitation
    run on these edges, src = ``url_col``). Sniff/decode in the thin
    Python seam, then href harvesting (regexp_extract_all) and RFC
    3986-subset resolution (functions/text.py resolve_href_col) as
    CODEGEN over exploded hrefs — the HOF form is a parity reference in
    tests/reference_plans.py. Rows ∝ anchors; dropped hrefs (non-http
    schemes, empty/fragment-only) never materialize."""
    from ..functions.text import HREF_PATTERN, resolve_href_col
    keep = keep or [url_col]
    kcols = list(dict.fromkeys([*keep, url_col]))
    d = decoded_html(pages, keep=kcols)
    return (d.select(*keep,
                     F.col(url_col).alias("_base"),
                     F.explode(F.regexp_extract_all(
                         F.col("html_str"), F.lit(HREF_PATTERN),
                         F.lit(1))).alias("_href"))
            .withColumn("dst_url",
                        resolve_href_col(F.col("_href"), F.col("_base")))
            .filter(F.col("dst_url").isNotNull())
            .drop("_href", "_base"))


def extract_anchors(pages: DataFrame, keep: list[str] | None = None,
                    url_col: str = "url") -> DataFrame:
    """keep-columns + (``dst_url``, ``anchor``): one row per resolved
    outlink WITH its anchor text — the web-retrieval signal
    ``extract_links`` drops (what other pages call a page: anchor-term
    aggregation per target feeds ranking and query mining). Same seam
    discipline: decode once, then full-anchor-element harvesting and
    tag-strip/collapse as codegen over exploded elements; unresolvable
    hrefs never materialize."""
    from ..functions.text import (ANCHOR_ELEM_PATTERN, HREF_PATTERN,
                                  resolve_href_col)
    keep = keep or [url_col]
    kcols = list(dict.fromkeys([*keep, url_col]))
    d = decoded_html(pages, keep=kcols)
    e = (d.select(*keep,
                  F.col(url_col).alias("_base"),
                  F.explode(F.regexp_extract_all(
                      F.col("html_str"), F.lit(ANCHOR_ELEM_PATTERN),
                      F.lit(0))).alias("_elem"))
         .withColumn("dst_url",
                     resolve_href_col(
                         F.regexp_extract(F.col("_elem"), HREF_PATTERN, 1),
                         F.col("_base")))
         .filter(F.col("dst_url").isNotNull()))
    txt = F.trim(F.regexp_replace(
        F.regexp_replace(F.col("_elem"), F.lit(r"(?s)<[^>]*>"),
                         F.lit("")), F.lit(r"\s+"), F.lit(" ")))
    return e.withColumn("anchor", txt).drop("_elem", "_base")


def enrich_pages(pages: DataFrame, keep: list[str] | None = None,
                 url_col: str = "url") -> DataFrame:
    """The one-call crawl-enrichment pass: keep-columns + the full
    per-page curation column set —

    * ``payload_mime`` — magic-byte class of the STORED payload (pure
      JVM hex, computed before the decode seam; 'gzip' means the store
      holds a compressed member — the extractor sniffs it anyway),
    * ``canonical_url`` / ``surt`` / ``host`` — the three url keys
      (dedupe key, index key, rollup key),
    * ``extracted`` — html→text (the north-rule invariant column),
    * ``lang_guess`` / ``quality`` / ``n_tokens`` / ``fingerprint`` —
      the standard curation signals over the EXTRACTED text.

    One mapInPandas crossing total (gunzip+decode); every derivation
    before and after it is JVM codegen, so the whole pass is ONE scan →
    one narrow seam → one projection — the shape a 100 TB enrichment
    job needs (no shuffle at all)."""
    from ..functions.text import (canonicalize_url_col, extract_text_col,
                                  fingerprint_col, lang_guess_col,
                                  quality_score_col, sniff_mime_col,
                                  surt_col, token_count_col, url_host_col)
    keep = keep or [url_col]
    kcols = list(dict.fromkeys([*keep, url_col]))
    staged = pages.select(
        *kcols, "html",
        sniff_mime_col(F.col("html")).alias("payload_mime"))
    d = decoded_html(staged, keep=[*kcols, "payload_mime"])
    canon = canonicalize_url_col(F.col(url_col))
    ext = extract_text_col(F.col("html_str"))
    return (d.withColumns({
        "canonical_url": canon,
        "surt": surt_col(F.col(url_col)),
        "host": url_host_col(canon),
        "extracted": ext,
        "lang_guess": lang_guess_col(ext),
        "quality": quality_score_col(ext),
        "n_tokens": token_count_col(ext),
        "fingerprint": fingerprint_col(ext),
    }).drop("html_str"))


def extract_geotags(pages: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """pages + (lat, lon) columns; null for ungeotagged rows, and for rows
    whose first geo.position tag does not hold two numbers (``1.2.3;4``).

    Single mapInPandas pass (a struct-returning pandas_udf would risk one
    UDF evaluation per extracted field): gzip-sniff each html payload
    (0x1f8b, the binary analog of src/vtcomposite.cpp:224-235), regex out
    the geo.position meta tag.

    ``keep``: columns to carry through the Python crossing (default: all).
    Catalyst's column pruning cannot see inside mapInPandas, so at scale
    pass the minimal set — shipping the html payload back OUT of the worker
    doubles the Arrow traffic for nothing.
    """
    import re

    from pyspark.sql import types as T

    if keep is not None:
        in_cols = list(dict.fromkeys([*keep, "html"]))
        pages = pages.select(*in_cols)
        out_cols = list(keep)
    else:
        out_cols = list(pages.columns)

    out_schema = T.StructType(
        [pages.schema[c] for c in out_cols]
        + [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())])
    pat = re.compile(rb'geo\.position"\s+content="(-?[\d.]+);(-?[\d.]+)"')

    def kernel(pdfs):
        for pdf in pdfs:
            html = pdf["html"]
            lats = np.full(len(html), np.nan)
            lons = np.full(len(html), np.nan)
            for i, buf in enumerate(html):
                if buf is None:
                    continue
                b = bytes(buf)
                if len(b) >= 2 and b[0] == 0x1F and b[1] == 0x8B:
                    b = gzip.decompress(b)
                m = pat.search(b)
                if m:
                    try:
                        lat, lon = float(m.group(1)), float(m.group(2))
                    except ValueError:  # malformed: untagged, not a failure
                        continue
                    lats[i], lons[i] = lat, lon
            out = pdf[out_cols].copy()
            out["lat"] = lats
            out["lon"] = lons
            yield out

    return pages.mapInPandas(kernel, schema=out_schema)
