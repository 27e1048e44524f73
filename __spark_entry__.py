"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (pages → geotag extraction →
cell index → per-tile rollup). ``queries()``/``oracle_sql()`` expose every
SQL-expressible operator from SURVEY.md §2 with a DuckDB oracle; geometry
kernels (overzoom/clip) are gated by the reference-fixture golden tests in
tests/ instead (not SQL-expressible) plus rows-only entries here.

All synthetic geo/worldview columns derive from table ids with pure integer
arithmetic (vtcomposite_spark.sources.pages.geo_sql_exprs) so the oracle
replays them exactly — no external data, no RNG.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import vtcomposite_spark.functions.hashing as H
import vtcomposite_spark.functions.text as TX
from vtcomposite_spark import tilemath as tm
from vtcomposite_spark.operators import dedupe as D
from vtcomposite_spark.operators import graph as GR
from vtcomposite_spark.operators import similarity as SIM
from vtcomposite_spark.operators.cells import encode_cells, rollup_counts
from vtcomposite_spark.operators.joins import knn_join
from vtcomposite_spark.operators.localize import localize
from vtcomposite_spark.sources.pages import (encode_html_pages,
                                             extract_geotags, extract_text,
                                             geo_cols, geo_sql_exprs,
                                             pages_from_documents,
                                             rich_html_col, rich_html_sql)

# ---------------------------------------------------------------------------
# shared derivations (Spark + SQL twins)
# ---------------------------------------------------------------------------

_GEO_DOC = geo_sql_exprs("doc_id")
_GEO_EVT = geo_sql_exprs("event_id")

# robots corpus for robots_crawl_filter (shared queries()/oracle_sql()):
# shared UA groups, per-agent override groups, empty Disallow, groupless
# rules, case-insensitive agent names, and hosts with no robots at all
_ROBOTS_CORPUS = [
    ("site0.example.com",
     "User-agent: *\nDisallow: /p0\nAllow: /p0/d1\n"
     "Sitemap: https://site0.example.com/sitemap.xml"),
    ("site1.example.com",
     "User-agent: cc-bot\nDisallow: /p\nAllow: /p2\n\n"
     "User-agent: *\nDisallow: /"),
    ("site2.example.com",
     "Disallow: /groupless-ignored\nUser-agent: *\nDisallow:\n"),
    ("site3.example.com", "User-agent: otherbot\nDisallow: /\n"
     "Sitemap: https://site3.example.com/sm/a.xml\n"
     "Sitemap: https://site3.example.com/sm/b.xml"),
    ("site0.example.org",
     "User-agent: GPTBot\nUser-agent: CC-Bot\n"
     "Disallow: /p1\nDisallow: /p3\nAllow: /p3"),
]


_ROBOTS_DELAY_CORPUS = [
    # named group's delay beats the '*' fallback's
    ("site0.example.com",
     "User-agent: cc-bot\nCrawl-delay: 2\nDisallow: /x\n\n"
     "User-agent: *\nCrawl-delay: 9"),
    # only '*': two valid lines take MAX, junk drops fail-open
    ("site1.example.com",
     "User-agent: *\nCrawl-delay: 1.5\nCrawl-delay: 3\n"
     "Crawl-delay: soon"),
    # no directive → no row
    ("site2.example.com", "User-agent: *\nDisallow: /p"),
    # shared-UA group + CRLF/tab noise
    ("site3.example.com",
     "User-agent: GPTBot\r\nUser-agent: CC-Bot\r\n\tCrawl-delay:\t4"),
]


def _robots_delay_corpus_sql() -> str:
    rows = ", ".join(
        "('{h}', {t})".format(
            h=h, t=" || chr(10) || ".join(
                "'" + ln.replace("'", "''") + "'"
                for ln in txt.split("\n")))
        for h, txt in _ROBOTS_DELAY_CORPUS)
    return f"SELECT * FROM (VALUES {rows}) AS _rdc(host, robots_txt)"


def _robots_corpus_sql() -> str:
    rows = ", ".join(
        "('{h}', {t})".format(
            h=h, t=" || chr(10) || ".join(
                "'" + ln.replace("'", "''") + "'"
                for ln in txt.split("\n")))
        for h, txt in _ROBOTS_CORPUS)
    return f"SELECT * FROM (VALUES {rows}) AS _rc(host, robots_txt)"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    tagged, lat, lon = geo_cols("event_id")
    return ev.filter(tagged).select(
        "event_id", lat.alias("lat"), lon.alias("lon"))


_EVENTS_POINTS_SQL = (
    f"SELECT event_id, {_GEO_EVT['lat']} AS lat, {_GEO_EVT['lon']} AS lon "
    f"FROM events WHERE {_GEO_EVT['tagged']}"
)

_SITES_SQL = (
    "SELECT n_nationkey AS site_id, "
    "((n_nationkey * 7) % 160) - 80 + 0.5 AS lat, "
    "((n_nationkey * 29) % 360) - 180 + 0.5 AS lon FROM nation"
)


def _sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("site_id"),
        (((F.col("n_nationkey") * 7) % 160) - 80 + 0.5).cast("double").alias("lat"),
        (((F.col("n_nationkey") * 29) % 360) - 180 + 0.5).cast("double").alias("lon"))


_WV_SQL = ("CASE doc_id % 4 WHEN 0 THEN 'US,CN' WHEN 1 THEN 'all' "
           "WHEN 2 THEN 'JP' ELSE 'RU,US' END")


def _wv_col():
    return (F.when(F.col("doc_id") % 4 == 0, "US,CN")
            .when(F.col("doc_id") % 4 == 1, "all")
            .when(F.col("doc_id") % 4 == 2, "JP")
            .otherwise("RU,US"))


# ---------------------------------------------------------------------------
# entry — flagship pipeline
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """pages (from documents) → geotag extraction (binary html, gzip-sniff
    regex kernel) → z10 cell index → per-tile page counts + language mix."""
    docs = _read(spark, "/root/testdata/sf0.001", "documents")
    pages = pages_from_documents(docs)
    geo = extract_geotags(pages).filter(F.col("lat").isNotNull())
    cells = encode_cells(geo, 10)
    return (
        cells.groupBy("cell", "tile_x", "tile_y")
        .agg(F.count("*").alias("n_pages"),
             F.countDistinct("lang").alias("n_langs"))
        .orderBy(F.col("n_pages").desc(), F.col("cell").asc())
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- geo / tiling (F11, J1/P1, A2, J3, rollup) ---

    def tile_encode_counts(spark, sf):
        pts = _events_points(spark, sf)
        out = encode_cells(pts, 8)
        return (out.groupBy("tile_x", "tile_y")
                .agg(F.count("*").alias("n"))
                .select(F.col("tile_x").alias("tx"), F.col("tile_y").alias("ty"), "n"))
    q["tile_encode_counts"] = tile_encode_counts

    def pages_tile_assign(spark, sf):
        docs = _read(spark, sf, "documents")
        pages = pages_from_documents(docs)
        geo = extract_geotags(pages).filter(F.col("lat").isNotNull())
        cells = encode_cells(geo, 10)
        return (cells.groupBy("tile_x", "tile_y")
                .agg(F.count("*").alias("n_pages"),
                     F.countDistinct("lang").alias("n_langs"))
                .select(F.col("tile_x").alias("tx"), F.col("tile_y").alias("ty"),
                        "n_pages", "n_langs"))
    q["pages_tile_assign"] = pages_tile_assign

    def extract_text_rich(spark, sf):
        """North-rule scan→extract under the full oracle: build an
        ENRICHED html payload per document (title/script/style/comment/
        entities — every extraction rule fires), gzip a deterministic
        ~30% so the sniff seam itself is on the oracle path (gunzip is
        exactly inverse, so the SQL twin replays only the string
        pipeline), then extract. sources/pages.py + functions/text.py."""
        docs = _read(spark, sf, "documents")
        rich = docs.select(
            "doc_id", rich_html_col(F.col("text"), F.col("doc_id")).alias("h"))
        pages = encode_html_pages(rich, F.col("h"),
                                  gzip_if=(F.col("doc_id") % 10 < 3),
                                  keep=["doc_id"])
        return extract_text(pages, keep=["doc_id"]) \
            .select("doc_id", "extracted")
    q["extract_text_rich"] = extract_text_rich

    def page_link_edges(spark, sf):
        """Outlink extraction — the link-graph feed: every document
        becomes a page at https://site{...}/a/p{id}.html carrying one
        href of each resolvable shape (absolute / root-relative /
        relative / scheme-relative, plus dropped fragment-only and
        mailto anchors); ~30% of payloads gzip engine-side. Edges =
        (doc_id, dst_url) after RFC 3986-subset resolution — codegen
        over exploded hrefs, sources/pages.py extract_links."""
        from vtcomposite_spark.sources.pages import (extract_links,
                                                     linkful_html_col)
        docs = _read(spark, sf, "documents")
        g = F.expr("doc_id div 4")
        rich = docs.select(
            "doc_id",
            F.concat(F.lit("https://site"), (g % 7).cast("string"),
                     F.lit(".example.com/a/p"),
                     F.col("doc_id").cast("string"),
                     F.lit(".html")).alias("url"),
            linkful_html_col(F.col("text"), F.col("doc_id")).alias("h"))
        pages = encode_html_pages(rich, F.col("h"),
                                  gzip_if=(F.col("doc_id") % 10 < 3),
                                  keep=["doc_id", "url"])
        return extract_links(pages, keep=["doc_id"]) \
            .select("doc_id", "dst_url")
    q["page_link_edges"] = page_link_edges

    def page_anchor_edges(spark, sf):
        """Outlinks WITH anchor text over the same synthetic pages
        (gzip-mixed): full anchor elements harvested, tag-stripped,
        whitespace-collapsed — each resolved dst pairs with ITS text;
        fragment-only and mailto anchors drop with theirs."""
        from vtcomposite_spark.sources.pages import (extract_anchors,
                                                     linkful_html_col)
        docs = _read(spark, sf, "documents")
        g = F.expr("doc_id div 4")
        rich = docs.select(
            "doc_id",
            F.concat(F.lit("https://site"), (g % 7).cast("string"),
                     F.lit(".example.com/a/p"),
                     F.col("doc_id").cast("string"),
                     F.lit(".html")).alias("url"),
            linkful_html_col(F.col("text"), F.col("doc_id")).alias("h"))
        pages = encode_html_pages(rich, F.col("h"),
                                  gzip_if=(F.col("doc_id") % 10 < 3),
                                  keep=["doc_id", "url"])
        return extract_anchors(pages, keep=["doc_id"]) \
            .select("doc_id", "dst_url", "anchor")
    q["page_anchor_edges"] = page_anchor_edges

    def surt_keys(spark, sf):
        """SURT index keys (the CC/OpenWayback CDX key): urls with
        mixed case, www., ports, queries, and fragments map to the
        sort-friendly reversed-host form. functions/text.py surt_col."""
        from vtcomposite_spark.functions.text import surt_col
        d = F.col("doc_id")
        url = F.concat(
            F.lit("https://"),
            F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.lit("Site"), (d % 7).cast("string"), F.lit(".Example."),
            F.when(d % 2 == 0, F.lit("COM")).otherwise(F.lit("org")),
            F.when(d % 4 == 1, F.lit(":8080")).otherwise(F.lit("")),
            F.lit("/P"), d.cast("string"),
            F.when(d % 5 == 0, F.lit("?B=2&a=1")).otherwise(F.lit("")),
            F.when(d % 6 == 0, F.lit("#f")).otherwise(F.lit("")))
        return _read(spark, sf, "documents") \
            .select("doc_id", surt_col(url).alias("surt"))
    q["surt_keys"] = surt_keys

    def mime_sniff_pages(spark, sf):
        """Magic-byte MIME classification over a mixed payload corpus:
        per doc_id rule the payload is gzipped html / %PDF / <?xml /
        plain html; the ENGINE sniffs the real constructed bytes (one
        hex + prefix/regex CASE, binary never decoded), the oracle
        derives the class independently from the construction rule —
        a by-construction oracle like raster_points_roundtrip's."""
        from vtcomposite_spark.functions.text import sniff_mime_col
        docs = _read(spark, sf, "documents")
        d = F.col("doc_id")
        payload = (F.when(d % 10 == 3,
                          F.concat(F.lit("%PDF-1.4 "), F.col("text")))
                   .when(d % 10 == 4,
                         F.concat(F.lit('<?xml version="1.0"?><doc>'),
                                  F.col("text"), F.lit("</doc>")))
                   .otherwise(rich_html_col(F.col("text"), d)))
        pages = encode_html_pages(
            docs.select("doc_id", payload.alias("h")), F.col("h"),
            gzip_if=(d % 10 < 3), keep=["doc_id"])
        return pages.select(
            "doc_id", sniff_mime_col(F.col("html")).alias("mime"))
    q["mime_sniff_pages"] = mime_sniff_pages

    def crawl_enrich(spark, sf):
        """The one-call enrichment pass (sources/pages.enrich_pages):
        realistic mixed urls + rich html payloads (~30% gzipped) → ONE
        scan, one narrow decode seam, one projection — payload mime,
        the three url keys (canonical/surt/host), extracted text, and
        the four curation signals, every derivation replayed by twins."""
        from vtcomposite_spark.sources.pages import enrich_pages
        docs = _read(spark, sf, "documents")
        d = F.col("doc_id")
        url = F.concat(
            F.lit("http://"),
            F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.lit("Site"), (d % 7).cast("string"), F.lit(".Example.com"),
            F.lit("/A/p"), d.cast("string"),
            F.when(d % 5 == 0, F.lit("?utm_source=x&q=1"))
            .otherwise(F.lit("")),
            F.when(d % 6 == 0, F.lit("#frag")).otherwise(F.lit("")))
        rich = docs.select(
            "doc_id", url.alias("url"),
            rich_html_col(F.col("text"), d).alias("h"))
        pages = encode_html_pages(rich, F.col("h"),
                                  gzip_if=(d % 10 < 3),
                                  keep=["doc_id", "url"])
        return enrich_pages(pages, keep=["doc_id"]).drop("url")
    q["crawl_enrich"] = crawl_enrich

    def tile_ancestry_filter(spark, sf):
        li = _read(spark, sf, "lineitem")
        t = li.select(
            "l_orderkey", "l_linenumber",
            (F.col("l_linenumber") % 8).alias("src_z"),
            F.pmod(F.col("l_partkey"),
                   F.call_function("shiftleft", F.lit(1).cast("long"),
                                   F.col("l_linenumber") % 8)).alias("src_x"),
            F.pmod(F.col("l_suppkey"),
                   F.call_function("shiftleft", F.lit(1).cast("long"),
                                   F.col("l_linenumber") % 8)).alias("src_y"))
        keep = tm.within_target_col(
            F.col("src_z"), F.col("src_x"), F.col("src_y"),
            F.lit(7), F.lit(97).cast("long"), F.lit(76).cast("long"))
        return t.filter(keep).select("l_orderkey", "l_linenumber",
                                     "src_z", "src_x", "src_y")
    q["tile_ancestry_filter"] = tile_ancestry_filter

    def _points_overzoom_fixture(spark, sf):
        """lineitem-derived point features (z4 sources) + the 8×8 z6
        target grid shared by the relational composite gate queries."""
        li = _read(spark, sf, "lineitem")
        feats = li.select(
            (F.col("l_linenumber") % 3).cast("int").alias("tile_idx"),
            F.lit(4).alias("src_z"),
            (F.col("l_orderkey") % 16).cast("long").alias("src_x"),
            (F.col("l_suppkey") % 16).cast("long").alias("src_y"),
            F.lit("pts").alias("layer"), F.lit(2).alias("layer_version"),
            F.lit(4096).alias("extent"),
            F.col("l_linenumber").cast("int").alias("feature_idx"),
            F.col("l_orderkey").alias("feature_id"),
            F.lit(1).cast("byte").alias("geom_type"),
            F.array((F.col("l_partkey") % 4096).cast("long")).alias("xs"),
            F.array(((F.col("l_suppkey") * 7) % 4096).cast("long")).alias("ys"),
            F.array(F.lit(0)).alias("part_offsets"),
            F.array(F.lit(0).cast("byte")).alias("ring_types"),
            F.create_map(F.lit("k"), F.col("l_returnflag")).alias("properties"))
        targets = (spark.range(0, 8).select(F.col("id").alias("x"))
                   .crossJoin(spark.range(0, 8).select(F.col("id").alias("y")))
                   .select(F.lit(6).alias("z"), F.col("x").cast("long"),
                           F.col("y").cast("long"),
                           F.lit(128).alias("buffer_size"),
                           F.lit(None).cast("array<string>").alias("keep_layers"),
                           F.lit(False).alias("compress")))
        return feats, targets

    def composite_overzoom_points(spark, sf):
        """The flagship operator itself under the oracle gate: point
        features derived from lineitem, composited z4→z6 with buffer 128
        through composite_points (ancestor equi-join → first-wins →
        overzoom affine → closed-box clip), replayed in ANSI SQL."""
        from vtcomposite_spark.operators.composite import composite_points
        feats, targets = _points_overzoom_fixture(spark, sf)
        out = composite_points(feats, targets)
        # try_element_at: ANSI-safe — Catalyst may evaluate the projection
        # speculatively on rows the size()>0 filter later removes
        return out.select(
            "z", "x", "y", "tile_idx", "feature_id",
            F.try_element_at("xs", F.lit(1)).alias("px"),
            F.try_element_at("ys", F.lit(1)).alias("py"))
    q["composite_overzoom_points"] = composite_overzoom_points

    def composite_packed_points(spark, sf):
        """The r5 PACKED relational path under the FULL oracle gate: the
        identical workload as composite_overzoom_points, but through
        composite_packed's source-grouped route (pack by SOURCE tile →
        in-kernel fan-out + first-wins + clip → packed per-target emit →
        JVM inline restore) — the whole packed seam round-trip replayed
        value-for-value by the same ANSI SQL as the expression path."""
        from vtcomposite_spark.operators.composite import composite_packed
        feats, targets = _points_overzoom_fixture(spark, sf)
        out = composite_packed(feats, targets, src_zooms=[4])
        return out.select(
            "z", "x", "y", "tile_idx", "feature_id",
            F.try_element_at("xs", F.lit(1)).alias("px"),
            F.try_element_at("ys", F.lit(1)).alias("py"))
    q["composite_packed_points"] = composite_packed_points

    def _sink_fixture(spark, sf):
        """lineitem-derived point features + the 8×8 z6 target grid shared
        by the encode-sink gate queries (z4 sources, dz=2)."""
        li = _read(spark, sf, "lineitem")
        feats = li.select(
            (F.col("l_linenumber") % 3).cast("int").alias("tile_idx"),
            F.lit(4).alias("src_z"),
            (F.col("l_orderkey") % 16).cast("long").alias("src_x"),
            (F.col("l_suppkey") % 16).cast("long").alias("src_y"),
            F.lit("pts").alias("layer"), F.lit(2).alias("layer_version"),
            F.lit(4096).alias("extent"),
            F.col("l_linenumber").cast("int").alias("feature_idx"),
            F.col("l_orderkey").alias("feature_id"),
            F.lit(1).cast("byte").alias("geom_type"),
            F.array((F.col("l_partkey") % 4096).cast("long")).alias("xs"),
            F.array(((F.col("l_suppkey") * 7) % 4096).cast("long")).alias("ys"),
            F.array(F.lit(0)).alias("part_offsets"),
            F.array(F.lit(0).cast("byte")).alias("ring_types"),
            F.create_map(F.lit("k"), F.col("l_returnflag")).alias("properties"))
        targets = (spark.range(0, 8).select(F.col("id").alias("x"))
                   .crossJoin(spark.range(0, 8).select(F.col("id").alias("y")))
                   .select(F.lit(6).alias("z"), F.col("x").cast("long"),
                           F.col("y").cast("long"),
                           F.lit(128).alias("buffer_size"),
                           F.lit(None).cast("array<string>").alias("keep_layers"),
                           F.lit(False).alias("compress")))
        return feats, targets

    def overzoom_encode_sink(spark, sf):
        """Materialization fast path under the (rows-only) gate:
        source-grouped fused scan→first-wins→clip→ENCODE, one row per
        output tile. Tile BYTES are not SQL-expressible (the encoder is
        the operator under test), so no oracle entry for the LENGTHS —
        but see ``encode_sink_roundtrip``, which decodes these same tiles
        back to values and IS fully oracled; byte parity across all four
        encode paths and byte determinism are pytest-gated."""
        from vtcomposite_spark.operators.composite import overzoom_encode_tiles
        feats, targets = _sink_fixture(spark, sf)
        out = overzoom_encode_tiles(feats, targets, src_zoom=4)
        return out.select("z", "x", "y", F.length("tile").alias("tile_len"))
    q["overzoom_encode_sink"] = overzoom_encode_sink

    def encode_sink_roundtrip(spark, sf):
        """ENCODED BYTES under the FULL oracle gate: the fused sink's
        tiles decode back to feature rows (``features_from_tiles_df``,
        the distributed tileset re-ingest) and their per-tile aggregates
        — feature count, coordinate sums, feature-id sum, distinct
        property values — must equal a pure-SQL replay of the
        overzoom+first-wins+clip semantics. The decoder is independently
        golden-tested against reference fixtures, so this closes the
        encode loop value-exactly inside the driver's own gate."""
        from vtcomposite_spark.operators.composite import overzoom_encode_tiles
        from vtcomposite_spark.sources.ingest import features_from_tiles_df
        feats, targets = _sink_fixture(spark, sf)
        tiles = overzoom_encode_tiles(feats, targets, src_zoom=4)
        dec = features_from_tiles_df(tiles)
        pts = dec.select(
            F.col("src_z").alias("z"), F.col("src_x").alias("x"),
            F.col("src_y").alias("y"),
            F.element_at("xs", 1).alias("px"),
            F.element_at("ys", 1).alias("py"),
            F.col("feature_id").alias("fid"),
            F.element_at("properties", "k").alias("k"))
        return (pts.groupBy("z", "x", "y")
                .agg(F.count("*").alias("n_feats"),
                     F.sum("px").cast("long").alias("sum_px"),
                     F.sum("py").cast("long").alias("sum_py"),
                     F.sum("fid").cast("long").alias("sum_fid"),
                     F.concat_ws(",", F.array_sort(F.collect_set("k")))
                     .alias("ks")))
    q["encode_sink_roundtrip"] = encode_sink_roundtrip

    def media_image_features(spark, sf):
        """Multimodal decode under the (rows-only) gate: deterministic
        synthesized media (seeded per id, no external data) through the
        Arrow-batched image decode — width/height/mean/histogram features.
        Binary codecs are not SQL-expressible, so no oracle entry; codec
        correctness is pytest-gated (netpbm roundtrip, WAV DSP theory
        checks, y4m sampling in tests/test_webtext.py)."""
        from vtcomposite_spark.operators import multimodal as MM
        media = MM.synthesize_media(spark, 200, partitions=4)
        return MM.decode_image(media).select(
            "media_id", "width", "height", F.round("mean_px", 4).alias("mean_px"))
    q["media_image_features"] = media_image_features

    def first_wins_orders(spark, sf):
        from pyspark.sql import Window
        o = _read(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        return (o.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col("o_custkey").alias("custkey"),
                        F.col("o_orderkey").alias("first_orderkey")))
    q["first_wins_orders"] = first_wins_orders

    def first_wins_layer_dedupe(spark, sf):
        li = _read(spark, sf, "lineitem")
        f = li.select(
            (F.col("l_partkey") % 64).alias("x"),
            (F.col("l_suppkey") % 64).alias("y"),
            F.col("l_returnflag").alias("layer"),
            F.col("l_linenumber").alias("tile_idx"))
        return (f.groupBy("x", "y", "layer")
                .agg(F.min("tile_idx").alias("win_tile")))
    q["first_wins_layer_dedupe"] = first_wins_layer_dedupe

    def pip_join_regions(spark, sf):
        """J2 under the oracle gate: events-derived points vs 5 rectangular
        region polygons (offset 0.005° so no point sits exactly on an edge;
        the even-odd interior then equals strict inequalities in SQL)."""
        from vtcomposite_spark.operators.joins import pip_join
        pts = _events_points(spark, sf)
        reg = _read(spark, sf, "region").select(
            F.col("r_regionkey").alias("poly_id"),
            (F.col("r_regionkey") * 60 - 170 + 0.005).alias("lon0"),
            (F.col("r_regionkey") * 25 - 65 + 0.005).alias("lat0"))
        polys = reg.select(
            "poly_id",
            F.array(F.col("lon0"), F.col("lon0") + 50, F.col("lon0") + 50,
                    F.col("lon0"), F.col("lon0")).alias("xs"),
            F.array(F.col("lat0"), F.col("lat0"), F.col("lat0") + 20,
                    F.col("lat0") + 20, F.col("lat0")).alias("ys"),
            F.array(F.lit(0)).alias("part_offsets"))
        out = pip_join(pts, polys, zoom=3, point_cols=["event_id"])
        return out.select("event_id", "poly_id")
    q["pip_join_regions"] = pip_join_regions

    def knn_sites(spark, sf):
        pts = _events_points(spark, sf)
        out = knn_join(pts, _sites(spark, sf), k=3,
                       point_id_col="event_id")
        return out.select("event_id", "site_id", "knn_rank")
    q["knn_sites"] = knn_sites

    def cell_rollup(spark, sf):
        pts = _events_points(spark, sf)
        cells = encode_cells(pts, 10)
        roll = rollup_counts(cells, 10, 4)
        z, x, y = tm.unpack_cell_cols(F.col("cell"))
        return roll.select(F.col("zoom"), x.alias("cx"), y.alias("cy"), "n")
    q["cell_rollup"] = cell_rollup

    def salted_tile_counts_q(spark, sf):
        """The skew plumbing under the FULL oracle gate: the two-phase
        salted aggregate (plans.skew — hot tiles split across nsalt
        reducers, then re-aggregate) must produce exactly the plain
        group-by counts the SQL oracle computes. The salt is engine-side
        physical detail (xxhash64), invisible in the result."""
        from vtcomposite_spark.plans.skew import salted_tile_counts
        pts = _events_points(spark, sf)
        cells = encode_cells(pts, 8)
        out = salted_tile_counts(cells.filter(F.col("cell").isNotNull()),
                                 ["tile_x", "tile_y"], ["event_id"], nsalt=8)
        return out.select(F.col("tile_x").alias("tx"),
                          F.col("tile_y").alias("ty"), "n")
    q["salted_tile_counts"] = salted_tile_counts_q

    def ann_ivf_topk(spark, sf):
        """IVF ANN (the bucketed nprobe scale path) under the rows-only
        gate: deterministic Lloyd's centroids → inverted lists → probe.
        Approximate by design, so no SQL oracle (the exact brute path next
        to it, ann_cosine_topk, is the fully-oracled twin); recall ≥0.9 vs
        brute is pytest-gated on clustered corpora."""
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") < 20)
        return SIM.ann_topk_ivf(qv, emb, k=5, n_centroids=8, nprobe=2,
                                centroids="kmeans") \
            .select("query_id", "corpus_id", "rank")
    q["ann_ivf_topk"] = ann_ivf_topk

    def ann_ivf_seed_topk(spark, sf):
        """The SAME IVF plan under the FULL oracle gate: with the
        deterministic lowest-id seed centroids and 6-digit-rounded
        assignment/probe cosines, bucket assignment → nprobe probing →
        candidate ranking is pure SQL — the oracle replays every stage
        (seed select, two rank windows, bucket equi-join, top-k). The
        kmeans variant above stays rows-only with its recall gates; this
        row pins the bucketing/probing/ranking MACHINERY they share."""
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") < 20)
        return SIM.ann_topk_ivf(qv, emb, k=5, n_centroids=8, nprobe=2,
                                centroids="seed") \
            .select("query_id", "corpus_id", "rank", "cos")
    q["ann_ivf_seed_topk"] = ann_ivf_seed_topk

    def semdedup_keep(spark, sf):
        """SemDeDup (Abbas et al. 2023): seed-centroid embedding clusters,
        within-cluster smaller-id cosine prune — the semantic-dedup
        keep/drop decision for every corpus vector, fully SQL-replayable
        (seed centroids + 6-digit-rounded cosines; the kmeans variant is
        pytest-gated in tests/test_webtext.py)."""
        emb = _read(spark, sf, "embeddings")
        return SIM.semdedup(emb, threshold=0.25, n_centroids=8) \
            .select("vec_id", "bucket", "kept")
    q["semdedup_keep"] = semdedup_keep

    def raster_points_roundtrip(spark, sf):
        """Raster↔vector under the FULL oracle gate: synthetic integer
        point features burn onto 64×64 per-tile count grids
        (operators.raster.rasterize_tiles) and explode back through the
        inverse (raster_to_points); the SQL twin computes the pixel counts
        directly with integer arithmetic — the round trip must be exact
        (counts clip at the PGM's 255)."""
        from vtcomposite_spark.operators import raster as RZ
        li = _read(spark, sf, "lineitem")
        feats = li.select(
            F.lit(4).alias("z"),
            (F.col("l_orderkey") % 16).cast("long").alias("x"),
            (F.col("l_suppkey") % 16).cast("long").alias("y"),
            F.lit(4096).alias("extent"),
            F.lit(1).cast("byte").alias("geom_type"),
            F.array((F.col("l_partkey") % 4096).cast("long")).alias("xs"),
            F.array(((F.col("l_suppkey") * 7) % 4096).cast("long")).alias("ys"),
            F.array(F.lit(0)).alias("part_offsets"))
        ras = RZ.rasterize_tiles(feats, resolution=64)
        return RZ.raster_to_points(ras)
    q["raster_points_roundtrip"] = raster_points_roundtrip

    # --- worldview / localize property algebra (L1-L7, O1, U2, F8) ---

    def worldview_semijoin(spark, sf):
        docs = _read(spark, sf, "documents").withColumn("wv", _wv_col())
        matching = F.array_sort(F.array_intersect(
            F.split(F.col("wv"), ","), F.array(F.lit("US"), F.lit("all"))))
        return (docs.filter(F.size(matching) > 0)
                .select("doc_id", F.element_at(matching, 1).alias("winner")))
    q["worldview_semijoin"] = worldview_semijoin

    def localize_property_algebra(spark, sf):
        docs = _read(spark, sf, "documents")
        feats = docs.select(
            "doc_id",
            F.create_map(
                F.lit("name"), F.col("source"),
                F.lit("name_en"), F.upper(F.col("source")),
                F.lit("_mbx_name_de"), F.lower(F.col("source")),
                F.lit("_mbx_worldview"), _wv_col(),
                F.lit("class"), F.col("lang"),
                F.lit("_mbx_class"),
                F.when(F.col("doc_id") % 2 == 0, F.concat(F.lit("h_"), F.col("lang"))),
                F.lit("population"), (F.col("n_chars") % 1000).cast("string"),
            ).alias("properties"))
        out = localize(feats, languages=["en", "de"], worldviews=["US"])
        p = F.col("properties")
        return out.select(
            "doc_id",
            F.element_at(p, "name").alias("name"),
            F.element_at(p, "name_local").alias("name_local"),
            F.element_at(p, "class").alias("cls"),
            F.element_at(p, "worldview").alias("worldview"),
            F.element_at(p, "population").alias("population"))
    q["localize_property_algebra"] = localize_property_algebra

    def localize_languages_all(spark, sf):
        """L6 under the oracle gate: languages=['all'] — hidden prefixes
        stripped, later duplicate of a cleaned key overwrites (map entry
        order = create_map argument order), values equal to the original
        name dropped, name_script excluded; name_de equals name so it must
        vanish. Output keys serialized sorted for exact comparison."""
        docs = _read(spark, sf, "documents")
        feats = docs.select(
            "doc_id",
            F.create_map(
                F.lit("name"), F.col("source"),
                F.lit("name_script"), F.lit("Latn"),
                F.lit("name_en"), F.concat(F.col("source"), F.lit("_en1")),
                F.lit("_mbx_name_en"), F.concat(F.col("source"), F.lit("_en2")),
                F.lit("_mbx_name_fr"), F.concat(F.col("source"), F.lit("_fr")),
                F.lit("name_de"), F.col("source"),
                F.lit("other"), F.col("lang"),
            ).alias("properties"))
        out = localize(feats, languages=["all"])
        p = F.col("properties")
        return out.select(
            "doc_id",
            F.element_at(p, "name").alias("name"),
            F.element_at(p, "name_local").alias("name_local"),
            F.element_at(p, "name_en").alias("name_en"),
            F.element_at(p, "name_fr").alias("name_fr"),
            F.concat_ws(",", F.array_sort(F.map_keys(p))).alias("keyset"))
    q["localize_languages_all"] = localize_languages_all

    def localize_key_order(spark, sf):
        """Wire KEY ORDER of languages=['all'] under the driver gate (the
        round-4 parity fix): the localized property map's entry order IS
        the encoded order, and for this fixed input construction the
        reference's emission rules predict one constant sequence — raw
        name INLINE at its input position, pass-through keys in input
        order, then class, name_local, the re-keyed family (name_de drops:
        value equals the original name), worldview last."""
        docs = _read(spark, sf, "documents")
        feats = docs.select(
            "doc_id",
            F.create_map(
                F.lit("zeta"), F.col("lang"),
                F.lit("_mbx_worldview"), F.lit("US"),
                F.lit("name"), F.col("source"),
                F.lit("name_script"), F.lit("Latn"),
                F.lit("class"), F.col("lang"),
                F.lit("name_en"), F.concat(F.col("source"), F.lit("_en")),
                F.lit("_mbx_name_fr"), F.concat(F.col("source"), F.lit("_fr")),
                F.lit("name_de"), F.col("source"),
                F.lit("alpha"), F.col("lang"),
            ).alias("properties"))
        out = localize(feats, languages=["all"], worldviews=["US"])
        return out.select(
            "doc_id",
            F.concat_ws(",", F.map_keys("properties")).alias("key_order"))
    q["localize_key_order"] = localize_key_order

    # --- webtext: text analysis ---

    def text_stats(spark, sf):
        docs = _read(spark, sf, "documents")
        t = F.col("text")
        return docs.select(
            "doc_id",
            TX.token_count_col(t).alias("tokens"),
            TX.lang_guess_col(t).alias("lang_guess"),
            TX.quality_score_col(t).alias("quality"),
            TX.fingerprint_col(t).alias("fingerprint"))
    q["text_stats"] = text_stats

    def bpe_token_stats(spark, sf):
        """Subword-ish token counting (GPT-2 pretokenizer regex, no merge
        table) next to whitespace tokens — the training-data token budget
        per document."""
        docs = _read(spark, sf, "documents")
        t = F.col("text")
        return docs.select(
            "doc_id",
            TX.bpe_token_count_col(t).alias("bpe_tokens"),
            TX.token_count_col(t).alias("ws_tokens"))
    q["bpe_token_stats"] = bpe_token_stats

    def lang_quality_agg(spark, sf):
        """Average aggregated in integer milli-units: quality is an exact
        multiple of 0.001 (functions/text.py round(...,3)), so summing
        round(q*1000) as long is order-independent — float avg() is not
        (partition-parallel Spark vs sequential DuckDB summation rounds
        differently at .00005 boundaries). One float division at the end,
        on identical integers in both engines → bit-identical."""
        docs = _read(spark, sf, "documents")
        qm = F.round(TX.quality_score_col(F.col("text")) * 1000).cast("long")
        return (docs.groupBy("lang")
                .agg(F.sum(qm).alias("qm_sum"),
                     F.sum(TX.token_count_col(F.col("text"))).alias("total_tokens"),
                     F.count("*").alias("n_docs"))
                .select("lang",
                        F.round(F.col("qm_sum") / (F.col("n_docs") * 1000.0), 4)
                        .alias("avg_q"),
                        "total_tokens", "n_docs"))
    q["lang_quality_agg"] = lang_quality_agg

    # --- webtext: dedupe family ---

    def dedup_exact(spark, sf):
        docs = _read(spark, sf, "documents")
        return D.exact_dedupe(docs).select("text_hash", "keep_id", "n_dups")
    q["dedup_exact"] = dedup_exact

    def minhash_signatures(spark, sf):
        docs = _read(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
        sig = D.minhash_signatures(docs, k=4)
        return sig.select(
            "doc_id",
            F.concat_ws(",", F.transform("sig", lambda v: v.cast("string")))
            .alias("sig"))
    q["minhash_signatures"] = minhash_signatures

    def minhash_lsh_pairs(spark, sf):
        docs = _read(spark, sf, "documents")
        return D.minhash_candidate_pairs(docs, k=8, bands=4).select("a", "b")
    q["minhash_lsh_pairs"] = minhash_lsh_pairs

    def simhash_fingerprints(spark, sf):
        docs = _read(spark, sf, "documents").filter(F.col("doc_id") % 10 == 1)
        return docs.select("doc_id",
                           H.simhash_col(F.col("text"), 12).alias("simhash"))
    q["simhash_fingerprints"] = simhash_fingerprints

    def simhash_near_dups(spark, sf):
        """Hamming-≤3 SimHash near-dup pairs over 48-bit fingerprints:
        Manku-style block-permutation candidates (4 exact-block
        equi-joins — complete by pigeonhole, unlike MinHash bands) +
        bit_count(xor) refine; the hot-bucket cap (64) is replayed by
        the oracle. Integer end to end."""
        docs = _read(spark, sf, "documents")
        return D.simhash_near_dup_pairs(docs, bits=48, max_hamming=3,
                                        max_bucket=64)
    q["simhash_near_dups"] = simhash_near_dups

    def ngram_jaccard_near_dups(spark, sf):
        docs = _read(spark, sf, "documents")
        return D.ngram_jaccard_pairs(docs, threshold=0.3, k=8, bands=4)
    q["ngram_jaccard_near_dups"] = ngram_jaccard_near_dups

    # --- embeddings: similarity ---

    def ann_cosine_topk(spark, sf):
        emb = _read(spark, sf, "embeddings")
        out = SIM.ann_topk_brute(emb.filter(F.col("vec_id") < 20), emb, k=5)
        return out.select("query_id", "corpus_id", "rank", "cos")
    q["ann_cosine_topk"] = ann_cosine_topk

    def quantize_embeddings(spark, sf):
        """Scalar int8 quantization of the embedding corpus (the 4×
        storage shrink before ANN at 100 TB): global per-dimension
        min/max ranges (D-row broadcast aggregate), then a map-side
        affine code — value-exact across engines because floats widen
        exactly to double and the expression tree is identical."""
        emb = _read(spark, sf, "embeddings")
        return SIM.quantize_embeddings(emb, bits=8)
    q["quantize_embeddings"] = quantize_embeddings

    def embedding_near_dup_pairs(spark, sf):
        """Banded random-hyperplane LSH (2 tables × 4 bits, OR-amplified)
        → exact-cosine refine; md5-seeded literal hyperplanes keep the
        bucketing bit-identical to the DuckDB oracle."""
        emb = _read(spark, sf, "embeddings").filter(F.col("vec_id") % 5 == 0)
        return D.embedding_near_dups(emb, threshold=0.3, tables=2, bits=4)
    q["embedding_near_dup_pairs"] = embedding_near_dup_pairs

    def near_dup_clusters(spark, sf):
        """Dedup clusters: connected components (iterative min-label
        propagation) over the n-gram-Jaccard near-dup pairs; every doc
        gets a component id (its own id if un-paired) and a canonical
        flag. The oracle replays the components with a recursive
        transitive-closure CTE."""
        docs = _read(spark, sf, "documents")
        pairs = D.ngram_jaccard_pairs(docs, threshold=0.3, k=8, bands=4)
        comp = D.near_dup_components(pairs).withColumnRenamed(
            "member", "doc_id")
        cid = F.coalesce(F.col("component"), F.col("doc_id"))
        return (docs.select("doc_id").join(comp, on="doc_id", how="left")
                .select("doc_id", cid.alias("component"),
                        (cid == F.col("doc_id")).alias("is_canonical")))
    q["near_dup_clusters"] = near_dup_clusters

    def doc_pagerank(spark, sf):
        """PageRank over a deterministic md5-derived doc link graph —
        the canonical iterative web-graph operator (crawl-priority /
        quality weighting for corpus curation). Integer micro-unit
        arithmetic end to end (integer division per contribution,
        rational damping), so 5 rounds of join+sum replay bit-exact in
        the unrolled-CTE SQL twin."""
        docs = _read(spark, sf, "documents")
        edges = GR.doc_link_edges(docs, out_degree=3, mod=256)
        return GR.pagerank(edges, iters=5).select("id", "rank")
    q["doc_pagerank"] = doc_pagerank

    def dedupe_corpus(spark, sf):
        """Pair→cluster→drop in one operator: keep exactly one doc per
        near-dup component (the smallest id) plus every unpaired doc —
        the kept set is deterministic by construction. The drop set is
        keys-only and the filter is a left_anti join, so full document
        rows never shuffle."""
        docs = _read(spark, sf, "documents")
        pairs = D.ngram_jaccard_pairs(docs, threshold=0.3, k=8, bands=4)
        return D.dedupe_corpus(docs, pairs).select("doc_id", "lang", "source")
    q["dedupe_corpus"] = dedupe_corpus

    def url_canonical_dedupe(spark, sf):
        """Crawl-frontier URL dedupe: a deliberately messy deterministic
        URL per doc (scheme/www/port/case noise, tracking params,
        fragments, trailing slashes — group = doc_id div 4 shares a
        canonical target) is normalized by text.canonicalize_url_col and
        deduped min-id-per-canonical. Pure regexp expressions; the SQL
        twin replays every rule character-for-character."""
        docs = _read(spark, sf, "documents")
        d = F.col("doc_id")
        g = F.expr("doc_id div 4")
        host = F.concat(F.lit("site"), (g % 7).cast("string"),
                        F.lit(".Example.com"))
        url = F.concat(
            F.when(d % 2 == 0, "http://").otherwise("https://"),
            F.when(d % 3 == 0, "www.").otherwise(F.lit("")),
            F.when(d % 11 == 0, F.upper(host)).otherwise(host),
            F.when(d % 5 == 0, F.when(d % 2 == 0, ":80").otherwise(":443"))
            .otherwise(F.lit("")),
            F.concat(F.lit("/p/"), g.cast("string")),
            F.when((d % 2 == 1) & (g % 2 == 1), "/").otherwise(F.lit("")),
            F.when(g % 2 == 0, F.concat(F.lit("?v="), (g % 3).cast("string")))
            .otherwise(F.lit("")),
            F.when(d % 2 == 0,
                   F.concat(F.when(g % 2 == 0, "&").otherwise(F.lit("?")),
                            F.lit("utm_source=s"), (d % 4).cast("string")))
            .otherwise(F.lit("")),
            F.when(d % 3 == 1, F.concat(F.lit("#sec"), (d % 5).cast("string")))
            .otherwise(F.lit("")))
        return D.url_dedupe(docs.select("doc_id", url.alias("url"))) \
            .select("doc_id", "canonical_url", "kept")
    q["url_canonical_dedupe"] = url_canonical_dedupe

    def hard_negative_mining(spark, sf):
        """Contrastive-training hard negatives: per query vector the
        top-k most-similar corpus vectors with a DIFFERENT label —
        exact brute cosine + label anti-filter under the family's
        (cos DESC, id ASC) total order."""
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") < 15)
        return SIM.hard_negatives(qv, emb, k=5) \
            .select("query_id", "corpus_id", "cos", "rank")
    q["hard_negative_mining"] = hard_negative_mining

    def trustrank_trust(spark, sf):
        """TrustRank (Gyöngyi et al. 2004) over the same link graph as
        doc_pagerank: teleport mass restricted to trusted seeds
        (doc_id % 50 == 0) — trust flows along links, unreached nodes
        end at rank 0 (spam candidates). Same integer discipline."""
        docs = _read(spark, sf, "documents")
        edges = GR.doc_link_edges(docs, out_degree=3, mod=256)
        seeds = docs.filter(F.col("doc_id") % 50 == 0) \
            .select(F.col("doc_id").alias("id"))
        return GR.trustrank(edges, seeds, iters=5).select("id", "rank")
    q["trustrank_trust"] = trustrank_trust

    def hits_scores(spark, sf):
        """HITS hubs/authorities (Kleinberg 1999) over the same hubby
        link graph: integer L1-rescaled half-steps (decimal multiply —
        raw sums exceed int64 at outdeg × scale), two keys-only
        join+sum shuffles per round. The oracle unrolls the loop with
        MATERIALIZED CTEs (each round is referenced twice)."""
        docs = _read(spark, sf, "documents")
        edges = GR.doc_link_edges(docs, out_degree=3, mod=256)
        return GR.hits(edges, iters=3)
    q["hits_scores"] = hits_scores

    def sessionize_events(spark, sf):
        """Gap-based sessionization of the events log (30-minute rule):
        per-event user-scoped session ordinal via one lag + running-sum
        window after ONE shuffle on the user key; epochs built from the
        NTZ timestamp's fields (the latest_snapshot discipline)."""
        from vtcomposite_spark.operators import sessions as SE
        return SE.sessionize(_read(spark, sf, "events"))
    q["sessionize_events"] = sessionize_events

    def session_stats_events(spark, sf):
        """Per-session rollup over the same assignment: n_events /
        start / end / duration as exact integers — a map-side-combinable
        groupBy on the assignment's own keys, no second window."""
        from vtcomposite_spark.operators import sessions as SE
        return SE.session_stats(_read(spark, sf, "events"))
    q["session_stats_events"] = session_stats_events

    def zorder_tile_keys(spark, sf):
        """Morton/Z-order storage keys for geotagged events at z8:
        bit-interleaved (x, y) via the magic-mask spreading expression
        (pure shifts/masks, tree-identical in both engines) — the
        layout key write_tiles_zordered clusters by so a quadtree
        subtree is one contiguous, min/max-prunable key range."""
        from vtcomposite_spark import tilemath as TM
        pts = _events_points(spark, sf)
        cells = encode_cells(pts, 8)
        return (cells
                .select(TM.morton_col("tile_x", "tile_y").alias("zkey"))
                .groupBy("zkey").agg(F.count("*").alias("n_events")))
    q["zorder_tile_keys"] = zorder_tile_keys

    def pq_codes(spark, sf):
        """Product quantization (Jégou 2011, seed codebook): 64 dims →
        8 subspaces × 16 centroids = 8 four-bit codes per vector (the
        64× storage shrink a vector corpus takes before ANN). Per-dim
        squared diffs round to integer micros BEFORE the subspace sum;
        argmin is the total (d_micro, centroid_id) order — value-exact
        in both engines."""
        from vtcomposite_spark.operators import similarity as SI
        emb = _read(spark, sf, "embeddings")
        return SI.pq_encode(emb, m=8, n_centroids=16, dims=64)
    q["pq_codes"] = pq_codes

    def pq_adc_topk(spark, sf):
        """Asymmetric-distance top-k over the PQ codes: per-query
        distance TABLE (Q·m·k integers, broadcast) joined onto the
        codes on (sub, code), integer micro sums, per-query rank
        window — the standard PQ search shape."""
        from vtcomposite_spark.operators import similarity as SI
        emb = _read(spark, sf, "embeddings")
        return SI.pq_topk(emb.filter(F.col("vec_id") < 20), emb,
                          k=5, m=8, n_centroids=16, dims=64)
    q["pq_adc_topk"] = pq_adc_topk

    def lpa_communities(spark, sf):
        """Deterministic label propagation (Raghavan 2007) over the
        undirected link graph: communities = densely linked page
        neighborhoods (site families / link farms), the coarse
        complement to connected components. Votes are weighted
        neighbor-label counts under the total (count DESC, label ASC)
        order; one keys-only count + argmin-struct shuffle per round."""
        docs = _read(spark, sf, "documents")
        edges = GR.doc_link_edges(docs, out_degree=3, mod=256)
        return GR.label_propagation(edges, iters=3)
    q["lpa_communities"] = lpa_communities

    def cdx_domain_lookup(spark, sf):
        """Domain range-read over SURT keys (the CDX query side): all
        captures under example.com — subdomains included — as ONE
        contiguous-key predicate [prefix+')', prefix+'-') that the
        range-partitioned index layout prunes by min/max stats."""
        from vtcomposite_spark.functions.text import surt_col
        from vtcomposite_spark.sources.warc import cdx_lookup
        d = F.col("doc_id")
        url = F.concat(
            F.lit("https://"),
            F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.lit("Site"), (d % 7).cast("string"), F.lit(".Example."),
            F.when(d % 2 == 0, F.lit("COM")).otherwise(F.lit("org")),
            F.lit("/P"), d.cast("string"))
        docs = _read(spark, sf, "documents").select(
            "doc_id", surt_col(url).alias("surt"))
        return cdx_lookup(docs, "example.com")
    q["cdx_domain_lookup"] = cdx_domain_lookup

    def corpus_distinct_estimate(spark, sf):
        """Linear-counting distinct estimate (Whang 1990) of document
        texts: k md5 buckets, −k·ln(empty/k) in integer micros — the
        deterministic, cross-engine-replayable stand-in for HLL (whose
        register layout is JVM-private). Sketch state = one k-bucket
        bitmap, never the values."""
        from vtcomposite_spark.operators import sketches as SK
        return SK.linear_count(_read(spark, sf, "documents"),
                               "text", k=4096)
    q["corpus_distinct_estimate"] = corpus_distinct_estimate

    def countmin_lang_counts(spark, sf):
        """Count-min sketch (Cormode 2005) over the documents' lang
        column, point-queried for every distinct lang: 4×256 integer
        counters (a ~8 KB broadcastable summary), estimates only ever
        overcount — the bounded-memory heavy-hitter shape."""
        from vtcomposite_spark.operators import sketches as SK
        docs = _read(spark, sf, "documents")
        sk = SK.countmin_build(docs, "lang", depth=4, width=256)
        items = docs.select(F.col("lang").alias("item")).distinct() \
            .withColumnRenamed("item", "lang")
        return SK.countmin_estimate(sk, items, "lang",
                                    depth=4, width=256)
    q["countmin_lang_counts"] = countmin_lang_counts

    def bloom_seen_docs(spark, sf):
        """Bloom filter (1970) membership pre-filter — the 'have we
        crawled this already' shape: build over the even-id docs'
        texts (1 KB of 32-bit words via bit_or agg, broadcastable),
        probe every distinct text. No false negatives by construction;
        odd-id probes are definite-absence except hash collisions."""
        from vtcomposite_spark.operators import sketches as SK
        docs = _read(spark, sf, "documents")
        bl = SK.bloom_build(docs.filter(F.col("doc_id") % 2 == 0),
                            "text", m_bits=8192, k_hashes=4)
        items = docs.select(F.col("text").alias("item")).distinct() \
            .withColumnRenamed("item", "text")
        return SK.bloom_contains(bl, items, "text",
                                 m_bits=8192, k_hashes=4)
    q["bloom_seen_docs"] = bloom_seen_docs

    def winnow_doc_fingerprints(spark, sf):
        """Winnowing (Schleimer 2003 / MOSS): k-gram hashes, sliding
        w-window minimum with rightmost ties → the position-robust
        partial-copy sketch (~2/(w+1) of grams; any shared run of
        w+k−1 tokens shares a fingerprint). Rows ∝ tokens, k−1 lead()s
        over one per-doc sort, one w-row window, one distinct."""
        from vtcomposite_spark.operators import dedupe as DD
        docs = _read(spark, sf, "documents").filter(
            F.col("doc_id") % 5 == 0)
        return DD.winnow_fingerprints(docs, k=5, w=4)
    q["winnow_doc_fingerprints"] = winnow_doc_fingerprints

    def crawl_frontier_schedule(spark, sf):
        """The crawl operators composed: link-rank priority × robots
        Crawl-delay × per-host slots → (url, host, priority, slot,
        not_before_us). Ranks join keys-only, the delay table
        broadcasts, the slot window partitions by host — the frontier's
        policy unit."""
        from vtcomposite_spark.operators import web as W
        docs = _read(spark, sf, "documents")
        g = F.expr("doc_id div 4")
        urls = docs.select(
            "doc_id",
            F.concat(F.lit("https://site"), (g % 7).cast("string"),
                     F.lit(".example.com/a/p"),
                     F.col("doc_id").cast("string"),
                     F.lit(".html")).alias("url"))
        ranks = GR.pagerank(GR.doc_link_edges(docs, 3, 256), iters=3)
        delays = spark.createDataFrame(
            [("site0.example.com", 2.0), ("site1.example.com", 0.5)],
            "host string, delay_s double")
        return W.frontier_schedule(urls, ranks, delays)
    q["crawl_frontier_schedule"] = crawl_frontier_schedule

    def doc_length_quantiles(spark, sf):
        """EXACT type-1 quantiles of per-doc token counts without a
        global sort: affine value histogram (≤256-row bookkeeping) →
        rank window over the ONE bucket holding each target rank —
        the two-phase prefix-sum discipline applied to order
        statistics. Oracle = the naive global row_number rank."""
        from vtcomposite_spark.functions.text import token_count_col
        from vtcomposite_spark.operators import sketches as SK
        tc = _read(spark, sf, "documents").select(
            token_count_col(F.col("text")).alias("ntok"))
        return SK.exact_quantiles(tc, "ntok", [0.5, 0.9, 0.99])
    q["doc_length_quantiles"] = doc_length_quantiles

    def event_window_rollup(spark, sf):
        """Tumbling-window event counts — the batch twin of the
        streaming watermarked windowed aggregation, on the same exact
        integer NTZ epochs: one map-side-combinable groupBy."""
        from vtcomposite_spark.operators.sessions import \
            event_window_counts
        return event_window_counts(_read(spark, sf, "events"), 60)
    q["event_window_rollup"] = event_window_rollup

    def ngram_count_export(spark, sf):
        """Corpus n-gram count table (the KenLM-style LM feed): rows ∝
        tokens, n−1 lead()s over one per-doc sort, map-side-combinable
        count, min_count prune — grams never span documents."""
        from vtcomposite_spark.operators import chunking as CH
        return CH.ngram_counts(_read(spark, sf, "documents"),
                               n=3, min_count=2)
    q["ngram_count_export"] = ngram_count_export

    def host_boilerplate_lines(spark, sf):
        """Site-scoped boilerplate removal (the RefinedWeb rule): each
        host's nav line repeats WITHIN its host → dropped; a cross-host
        partner line planted once per host (doc_id % 101 == 5 lands on
        five DISTINCT hosts) survives scoping though the global rule
        would kill it — the scoped/global difference is visible in the
        oracle itself."""
        g = F.expr("doc_id div 4")
        host = F.concat(F.lit("site"), (g % 7).cast("string"),
                        F.when(g % 5 == 0, ".example.org")
                        .otherwise(F.lit(".example.com")))
        docs = _read(spark, sf, "documents").select(
            "doc_id", host.alias("host"),
            F.concat(F.lit("nav menu for "), host, F.lit("\n"),
                     F.col("text"),
                     F.when(F.col("doc_id") % 101 == 5,
                            F.lit("\nvisit our partner site"))
                     .otherwise(F.lit(""))).alias("text"))
        return D.dedupe_lines(docs, min_count=2, scope_col="host")
    q["host_boilerplate_lines"] = host_boilerplate_lines

    def _synth_hosts(spark, sf):
        g = F.expr("doc_id div 4")
        return _read(spark, sf, "documents").select(
            "doc_id",
            F.concat(F.lit("site"), (g % 7).cast("string"),
                     F.when(g % 5 == 0, ".example.org")
                     .otherwise(F.lit(".example.com"))).alias("host"))

    def domain_blocklist(spark, sf):
        """UT1-style domain blocklist filter: a doc is blocked when its
        host equals OR is a subdomain of a listed domain (dot-suffix
        explode + broadcast semi-join; lookalike hosts and mid-string
        hits must NOT match — tests/test_web.py pins the semantics)."""
        import pandas as pd

        from vtcomposite_spark.operators import web as W
        docs = _synth_hosts(spark, sf)
        # pandas-built: a sized LocalRelation the unhinted joins can
        # broadcast (a list-built frame is RDD-backed and unsized)
        bl = spark.createDataFrame(
            pd.DataFrame({"domain": ["example.org", "site2.example.com"]}),
            "domain string")
        return W.blocklist_filter(docs, bl) \
            .select("doc_id", "host", "blocked")
    q["domain_blocklist"] = domain_blocklist

    def robots_crawl_filter(spark, sf):
        """RFC 9309 crawl-permission evaluation: urls derived from
        documents (host = the _synth_hosts pattern, path = /p{id%4}/
        d{id}) against a 5-host robots corpus exercising shared UA
        groups, longest-match precedence, Allow ties, empty Disallow,
        groupless rules, case-insensitive agents, and absent robots.
        operators/web.py robots_allowed (unhinted rules join, one
        min(struct) winner agg per url — no window over the corpus)."""
        import pandas as pd

        from vtcomposite_spark.operators import web as W
        g = F.expr("doc_id div 4")
        urls = _read(spark, sf, "documents").select(F.concat(
            F.lit("https://site"), (g % 7).cast("string"),
            F.when(g % 5 == 0, ".example.org")
            .otherwise(F.lit(".example.com")),
            F.lit("/p"), (F.col("doc_id") % 4).cast("string"),
            F.lit("/d"), F.col("doc_id").cast("string")).alias("url"))
        robots = spark.createDataFrame(  # sized, as in domain_blocklist
            pd.DataFrame(_ROBOTS_CORPUS, columns=["host", "robots_txt"]),
            "host string, robots_txt string")
        return W.robots_allowed(urls, robots, agent="cc-bot")
    q["robots_crawl_filter"] = robots_crawl_filter

    def robots_sitemap_urls(spark, sf):
        """Sitemap: directives from the shared robots corpus —
        group-independent per RFC 9309, the frontier-seeding feed.
        The documents scan only sizes the query (sitemaps are a
        robots-corpus property); a cross join against a 1-row
        aggregate keeps the driver gate's table contract."""
        from vtcomposite_spark.operators import web as W
        robots = spark.createDataFrame(
            _ROBOTS_CORPUS, "host string, robots_txt string")
        _ = _read(spark, sf, "documents").limit(1).count()
        return W.robots_sitemaps(robots).orderBy("host", "sitemap_url")
    q["robots_sitemap_urls"] = robots_sitemap_urls

    def robots_crawl_delays(spark, sf):
        """Crawl-delay of the group governing the agent (the de-facto
        frontier rate limit): same RFC max-specificity group selection
        as the rules — a named group EXCLUDES the '*' fallback — with
        non-numeric values dropped fail-open and multi-line MAX."""
        from vtcomposite_spark.operators import web as W
        robots = spark.createDataFrame(
            _ROBOTS_DELAY_CORPUS, "host string, robots_txt string")
        _ = _read(spark, sf, "documents").limit(1).count()
        return W.robots_crawl_delay(robots, agent="cc-bot")
    q["robots_crawl_delays"] = robots_crawl_delays

    def host_concentration(spark, sf):
        """Corpus-diversity diagnostic: docs/hosts counts, the integer
        HHI numerator sum(n_h²), and the (count DESC, host ASC) top
        host — one map-side-combinable aggregate, no window."""
        from vtcomposite_spark.operators import web as W
        return W.host_concentration(_synth_hosts(spark, sf))
    q["host_concentration"] = host_concentration

    def latest_snapshot_urls(spark, sf):
        """Crawl-recency dedupe: events replay as fetches of 3,600
        canonical URLs; keep the NEWEST snapshot per URL under the
        total (ts DESC, id ASC) order. The epoch is built from the
        naive timestamp's fields, never a session-timezone cast."""
        from vtcomposite_spark.operators import web as W
        ev = _read(spark, sf, "events")
        fetches = ev.select(
            F.col("event_id").alias("doc_id"),
            F.concat(F.lit("https://site"),
                     (F.col("event_id") % 9).cast("string"),
                     F.lit(".example.com/p/"),
                     (F.col("event_id") % 400).cast("string"))
            .alias("canonical_url"), "ts")
        return W.latest_snapshot(fetches)
    q["latest_snapshot_urls"] = latest_snapshot_urls

    def link_degree_stats(spark, sf):
        """Per-node degrees + dangling flag over the doc_pagerank link
        graph — the crawl-health diagnostic (dangling nodes are the
        leaky formulation's mass leaks)."""
        docs = _read(spark, sf, "documents")
        return GR.degree_stats(GR.doc_link_edges(docs, 3, 256))
    q["link_degree_stats"] = link_degree_stats

    def cocitation_related(spark, sf):
        """Co-citation related-pages pairs (Small 1973) over the shared
        doc link graph: (a, b, n_srcs) where >=2 sources link both —
        per-source outdeg² bounded by the tiny synthetic out-degree
        (max_out is the production guardrail, regime-tested)."""
        docs = _read(spark, sf, "documents")
        return GR.cocitation_pairs(
            GR.doc_link_edges(docs, 3, 256), min_count=2)
    q["cocitation_related"] = cocitation_related

    def crawl_snapshot_diff(spark, sf):
        """Incremental-crawl delta: the documents table replays as two
        snapshots (new drops every 10th doc and rewrites every 7th) —
        full-outer keys+fingerprints join → added/removed/changed/same
        per URL, the re-embed/tombstone feed of an incremental build."""
        from vtcomposite_spark.operators import web as W
        docs = _read(spark, sf, "documents")
        url = F.concat(F.lit("p"), F.col("doc_id").cast("string"))
        old = docs.select(url.alias("url"),
                          F.md5("text").alias("fingerprint"))
        new = (docs.filter(F.col("doc_id") % 10 != 0)
               .select(url.alias("url"),
                       F.when(F.col("doc_id") % 7 == 0,
                              F.md5(F.concat(F.lit("v2"), F.col("text"))))
                       .otherwise(F.md5("text")).alias("fingerprint")))
        return W.crawl_diff(old, new)
    q["crawl_snapshot_diff"] = crawl_snapshot_diff

    def bpe_merges(spark, sf):
        """TRUE BPE tokenizer training (Sennrich 2016): 4 learned merge
        rules over the corpus vocabulary — greedy-leftmost application,
        integer pair weights, total-order picks. The merge list is
        driver metadata (like the IVF centroids); the oracle replays
        the whole loop as unrolled CTEs."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        out = CH.bpe_train(docs, merges=4)
        return spark.createDataFrame(
            out, "merge_rank int, a string, b string, weight long")
    q["bpe_merges"] = bpe_merges

    def bpe_apply_tokens(spark, sf):
        """BPE tokenizer INFERENCE at corpus scale: train 3 merge rules
        on a doc subset, then tokenize it — merges apply to the
        DISTINCT-WORD vocabulary only (work ∝ vocab chars), and the
        word→tokens map equi-joins back to the token stream (rows ∝
        corpus tokens). One row per emitted token, 1-based positions;
        the oracle replays train + apply as unrolled CTEs."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents").filter(
            F.col("doc_id") % 5 == 0)
        rules = CH.bpe_train(docs, merges=3)
        return CH.bpe_apply(docs, rules)
    q["bpe_apply_tokens"] = bpe_apply_tokens

    def decontaminate_corpus(spark, sf):
        """Benchmark decontamination (the Gopher/GPT-3 n-gram-collision
        protocol): every doc sharing any word 8-gram with the benchmark
        subset (doc_id % 25 == 0, standing in for an eval set) is
        flagged with its distinct-collision count. The benchmark gram
        set joins unhinted (broadcast while small); only hit grams
        shuffle."""
        docs = _read(spark, sf, "documents")
        bench = docs.filter(F.col("doc_id") % 25 == 0)
        return D.decontaminate(docs, bench, n=8)
    q["decontaminate_corpus"] = decontaminate_corpus

    def line_dedupe_boilerplate(spark, sf):
        """Corpus-level line dedupe (CCNet/RefinedWeb boilerplate pass)
        over a deterministically line-structured corpus: every doc gets a
        shared header line and even docs a shared footer — exactly the
        boilerplate shape the operator exists to strip. Hot lines (the
        two boilerplate strings) are removed everywhere; unique body
        lines survive in order."""
        docs = _read(spark, sf, "documents")
        with_bp = docs.select(
            "doc_id",
            F.concat(
                F.lit("copyright footer all rights reserved\n"),
                F.col("text"),
                F.when(F.col("doc_id") % 2 == 0,
                       F.lit("\nsubscribe to our newsletter"))
                .otherwise(F.lit(""))).alias("text"))
        return D.dedupe_lines(with_bp, min_count=2)
    q["line_dedupe_boilerplate"] = line_dedupe_boilerplate

    def dedupe_substrings(spark, sf):
        """Exact-substring dedupe at 8-token-gram anchors (Lee et al.
        2021 ExactSubstr, gram-granular): any 8-gram occurring twice in
        the corpus is removed from every occurrence but the globally
        first; overlapping removals merge into spans and the kept tokens
        re-join. The synthetic corpus carries ~1k duplicated 8-grams, so
        both the removal and pass-through paths are exercised."""
        docs = _read(spark, sf, "documents")
        out = D.dedupe_substrings(docs, k=8)
        return out.select(F.col("id").alias("doc_id"), "n_tokens",
                          "n_removed", F.md5("text_clean").alias("clean_md5"))
    q["dedupe_substrings"] = dedupe_substrings

    def doc_quality_filters(spark, sf):
        """Gopher-style quality rules (Rae et al. 2021 §A1.1) as pure
        column expressions: word-count bounds, mean word length, alpha
        word fraction, symbol ratio, bullet/ellipsis/duplicate line
        fractions, stopword hits, and the pass conjunction."""
        docs = _read(spark, sf, "documents")
        cols = TX.gopher_filter_cols(F.col("text"))
        return docs.select(
            "doc_id", *[c.alias(n) for n, c in cols.items()])
    q["doc_quality_filters"] = doc_quality_filters

    def c4_clean_docs(spark, sf):
        """C4's line-level cleaning pass (Raffel et al. 2020 §2.2):
        keep lines ending in terminal punctuation with >= 3 words and
        no 'javascript'; drop pages with < 3 sentences, 'lorem ipsum',
        or curly braces. Zero shuffle — one split + one flat array
        filter + re-join, word count as a regexp quantifier."""
        docs = _read(spark, sf, "documents")
        cols = TX.c4_filter_cols(F.col("text"))
        return docs.select(
            "doc_id", *[c.alias(n) for n, c in cols.items()])
    q["c4_clean_docs"] = c4_clean_docs

    def repetition_stats(spark, sf):
        """Gopher repetition rules: per-doc top-2/3-gram character
        fraction + duplicate-5-gram character fraction — explode + window
        lead + keys-only aggs in the engine; the oracle replays the same
        metrics with DuckDB list expressions (the O(L²) form the engine
        avoids)."""
        docs = _read(spark, sf, "documents")
        return D.repetition_stats(docs)
    q["repetition_stats"] = repetition_stats

    def chunk_documents(spark, sf):
        """Fixed-token chunking with overlap (32-token chunks, 8-token
        overlap): the engine explodes tokens to their covering chunks and
        regroups (rows ∝ tokens); the oracle slices per chunk. Chunk
        bytes pinned via md5."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents").filter(F.col("doc_id") % 5 == 0)
        out = CH.chunk_documents(docs, chunk_tokens=32, overlap=8)
        return out.select("doc_id", "chunk_idx", "n_tokens",
                          F.md5("chunk_text").alias("chunk_md5"))
    q["chunk_documents"] = chunk_documents

    def hash_sampled_docs(spark, sf):
        """Deterministic md5-bucket sampling (25% by doc_id) — stable
        across engines/partitionings, unlike df.sample."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.sample_by_hash(docs, 0.25, "doc_id") \
            .select("doc_id", "lang", "n_chars")
    q["hash_sampled_docs"] = hash_sampled_docs

    def corpus_mixture_sample(spark, sf):
        """Corpus MIXING: per-language sampling rates (downsample the
        dominant 'en', keep low-resource 'fr' whole, default for the
        rest) — same md5 bucket as hash_sampled_docs, per-doc
        independent, zero shuffle (rates broadcast; map-side filter)."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.sample_mixture(
            docs, {"en": 0.25, "fr": 1.0, "de": 0.75},
            default_rate=0.5).select("doc_id", "lang")
    q["corpus_mixture_sample"] = corpus_mixture_sample

    def distinctive_terms(spark, sf):
        """Top-5 distinctive terms per language: tf-idf-shaped ranking
        with an integer score (tf·1e6/df floored) — a float ln() would
        drift in the last ulp between libms and break the value hash."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.distinctive_terms(docs, group_col="lang", k=5)
    q["distinctive_terms"] = distinctive_terms

    def unigram_surprisal(spark, sf):
        """Self-perplexity quality signal (CCNet LM-filter shape, corpus
        as its own unigram model): avg per-token −ln(tf/T), per-token
        micro-rounded BEFORE the sum (order-independent; ln is the only
        libm call). One explode + term-keyed join + keys-only groupBy."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.unigram_surprisal(docs)
    q["unigram_surprisal"] = unigram_surprisal

    def dsir_importance(spark, sf):
        """DSIR importance weighting (Xie et al. 2023 shape): score every
        doc by the hashed-unigram log-likelihood ratio of a TARGET slice
        (lang='en') vs the raw corpus, add-1 smoothed, per-token
        micro-rounded BEFORE the order-independent sum (ln is the only
        libm call). Bucket-count tables ≤1024 rows broadcast; token
        explode + keys-only per-doc groupBy."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.dsir_logratio(docs, docs.filter(F.col("lang") == "en"),
                                buckets=1024)
    q["dsir_importance"] = dsir_importance

    def cap_per_source(spark, sf):
        """Per-source document cap (the C4/RefinedWeb host-cap pass):
        keep the 10 best docs per source by the TOTAL (n_chars DESC,
        doc_id ASC) order — deterministic kept set; the salted two-phase
        variant is row-identical (exact prune, tested)."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.cap_per_group(docs, 10).select(
            "doc_id", "source", "n_chars", "grp_rank")
    q["cap_per_source"] = cap_per_source

    def pack_sequences(spark, sf):
        """GPT-style sequence packing: concatenate the corpus's tokens
        in doc_id order, split into fixed 256-token training sequences,
        emit the (sequence, document) slice map. The global token
        offset runs as a DISTRIBUTED two-phase prefix sum (per-bucket
        totals + small bucket-offset cumsum + within-bucket window) —
        never one unpartitioned window over the data; the oracle twin
        is the naive global window."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.pack_sequences(docs, seq_tokens=256, bucket_docs=64)
    q["pack_sequences"] = pack_sequences

    def bigram_merges(spark, sf):
        """Tokenizer-training step 1: corpus-wide top-20 adjacent token
        pairs (the BPE merge-candidate count) under the TOTAL
        (cnt DESC, w1, w2) order — min_count prunes the pair table
        before the rank window; the salted two-phase variant is
        row-identical (tested)."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.bigram_merge_candidates(docs, k=20, min_count=2)
    q["bigram_merges"] = bigram_merges

    def bigram_surprisal(spark, sf):
        """Context-aware LM quality: avg −ln p(w2|w1) under the
        corpus's own add-1 bigram model (head counts + vocab-size
        smoothing), per-bigram micro-rounded BEFORE the
        order-independent sum — scores transitions, not token identity,
        so word salad ranks high and templated boilerplate low."""
        from vtcomposite_spark.operators import chunking as CH
        docs = _read(spark, sf, "documents")
        return CH.bigram_surprisal(docs)
    q["bigram_surprisal"] = bigram_surprisal

    def bm25_topk(spark, sf):
        """BM25 top-5 keyword retrieval: queries derived from the corpus
        itself (first 3 tokens of every 97th doc — scale-proportional,
        no external data), ranked by an order-independent integer micro
        score (per-term contributions rounded to 1e-6 BEFORE summing;
        the idf ln() is the only libm call, same rounding discipline as
        the ann_* cosines). Query side broadcasts; postings shuffle once."""
        from vtcomposite_spark.operators import retrieval as R
        docs = _read(spark, sf, "documents")
        queries_df = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.concat_ws(" ", F.slice(TX.tokens_col(F.col("text")), 1, 3))
            .alias("query"))
        return R.bm25_topk(docs, queries_df, k=5)
    q["bm25_topk"] = bm25_topk

    def pii_redaction(spark, sf):
        """Email/phone scrub. The corpus text carries no PII by
        construction, so a deterministic contact tail is synthesized from
        table columns (the localize-query pattern) and redacted; the
        output pins counts and the redacted bytes via md5."""
        docs = _read(spark, sf, "documents")
        contact = F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@"), F.col("source"),
            F.lit(".example.com or call +1 555-"),
            F.lpad(F.col("doc_id").cast("string"), 4, "0"))
        n_emails, n_phones = TX.pii_counts_cols(contact)
        return docs.select(
            "doc_id", n_emails.alias("n_emails"), n_phones.alias("n_phones"),
            F.md5(TX.redact_pii_col(contact)).alias("redacted_md5"))
    q["pii_redaction"] = pii_redaction

    def host_doc_stats(spark, sf):
        """Per-host rollup over deterministic synthetic URLs: doc count,
        token sum, and integer-milli-unit mean quality (the
        lang_quality_agg order-independence trick)."""
        docs = _read(spark, sf, "documents")
        url = F.concat(F.lit("https://"), F.col("source"),
                       F.lit(".example.com/p/"),
                       F.col("doc_id").cast("string"))
        q_milli = F.round(TX.quality_score_col(F.col("text")) * 1000) \
            .cast("long")
        return (docs.select(TX.url_host_col(url).alias("host"),
                            TX.token_count_col(F.col("text")).alias("t"),
                            q_milli.alias("qm"))
                .groupBy("host")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("t").cast("long").alias("total_tokens"),
                     F.round(F.sum("qm") / (F.count("*") * 1000.0), 4)
                     .alias("avg_quality")))
    q["host_doc_stats"] = host_doc_stats

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    tx8, ty8 = tm.tile_xy_sql("lon", "lat", 8)
    o["tile_encode_counts"] = (
        f"SELECT {tx8} AS tx, {ty8} AS ty, count(*) AS n "
        f"FROM ({_EVENTS_POINTS_SQL}) GROUP BY 1, 2"
    )

    tx10, ty10 = tm.tile_xy_sql("lon", "lat", 10)
    o["pages_tile_assign"] = (
        "WITH pages AS (SELECT doc_id, lang, "
        f"round({_GEO_DOC['lat']}, 6) AS lat, round({_GEO_DOC['lon']}, 6) AS lon "
        f"FROM documents WHERE {_GEO_DOC['tagged']}) "
        f"SELECT {tx10} AS tx, {ty10} AS ty, count(*) AS n_pages, "
        "count(DISTINCT lang) AS n_langs FROM pages GROUP BY 1, 2"
    )

    from vtcomposite_spark.functions.text import (extract_links_sql,
                                                  extract_text_sql)
    from vtcomposite_spark.sources.pages import linkful_html_sql
    o["extract_text_rich"] = (
        "SELECT doc_id, "
        f"{extract_text_sql(rich_html_sql('text', 'doc_id'))} AS extracted "
        "FROM documents"
    )

    from vtcomposite_spark.operators.web import robots_sitemaps_sql
    o["robots_sitemap_urls"] = robots_sitemaps_sql(_robots_corpus_sql())

    from vtcomposite_spark.operators.web import robots_crawl_delay_sql
    o["robots_crawl_delays"] = robots_crawl_delay_sql(
        _robots_delay_corpus_sql(), agent="cc-bot")

    from vtcomposite_spark.functions.text import surt_sql
    _surt_url = (
        "'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) "
        "|| 'Site' || doc_id % 7 || '.Example.' "
        "|| (CASE WHEN doc_id % 2 = 0 THEN 'COM' ELSE 'org' END) "
        "|| (CASE WHEN doc_id % 4 = 1 THEN ':8080' ELSE '' END) "
        "|| '/P' || doc_id "
        "|| (CASE WHEN doc_id % 5 = 0 THEN '?B=2&a=1' ELSE '' END) "
        "|| (CASE WHEN doc_id % 6 = 0 THEN '#f' ELSE '' END)")
    o["surt_keys"] = (
        f"SELECT doc_id, {surt_sql(_surt_url)} AS surt FROM documents")

    from vtcomposite_spark.sources.warc import surt_domain_range
    _cdx_url = (
        "'https://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) "
        "|| 'Site' || doc_id % 7 || '.Example.' "
        "|| (CASE WHEN doc_id % 2 = 0 THEN 'COM' ELSE 'org' END) "
        "|| '/P' || doc_id")
    _cdx_lo, _cdx_hi = surt_domain_range("example.com")
    o["cdx_domain_lookup"] = (
        f"SELECT doc_id, surt FROM (SELECT doc_id, "
        f"{surt_sql(_cdx_url)} AS surt FROM documents) "
        f"WHERE surt >= '{_cdx_lo}' AND surt < '{_cdx_hi}'")

    o["mime_sniff_pages"] = (
        "SELECT doc_id, CASE WHEN doc_id % 10 < 3 THEN 'gzip' "
        "WHEN doc_id % 10 = 3 THEN 'pdf' "
        "WHEN doc_id % 10 = 4 THEN 'xml' "
        "ELSE 'html' END AS mime FROM documents")

    from vtcomposite_spark.functions.text import (TOKEN_COUNT_SQL,
                                                  canonicalize_url_sql,
                                                  fingerprint_sql,
                                                  lang_guess_sql,
                                                  quality_score_sql,
                                                  url_host_sql)
    _enrich_url = (
        "'http://' || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) "
        "|| 'Site' || doc_id % 7 || '.Example.com' || '/A/p' || doc_id "
        "|| (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x&q=1' "
        "ELSE '' END) "
        "|| (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)")
    o["crawl_enrich"] = (
        "WITH s AS (SELECT doc_id, "
        f"{_enrich_url} AS url, "
        f"{extract_text_sql(rich_html_sql('text', 'doc_id'))} AS extracted "
        "FROM documents), "
        "k AS (SELECT doc_id, extracted, "
        f"{canonicalize_url_sql('url')} AS canonical_url, "
        f"{surt_sql('url')} AS surt FROM s) "
        "SELECT doc_id, "
        "CASE WHEN doc_id % 10 < 3 THEN 'gzip' ELSE 'html' END "
        "AS payload_mime, "
        "canonical_url, surt, "
        f"{url_host_sql('canonical_url')} AS host, extracted, "
        f"{lang_guess_sql('extracted')} AS lang_guess, "
        f"{quality_score_sql('extracted')} AS quality, "
        f"{TOKEN_COUNT_SQL.format(c='extracted')} AS n_tokens, "
        f"{fingerprint_sql('extracted')} AS fingerprint FROM k")

    _link_url = ("'https://site' || (doc_id // 4) % 7 || "
                 "'.example.com/a/p' || doc_id || '.html'")
    o["page_link_edges"] = (
        "SELECT doc_id, unnest("
        f"{extract_links_sql(linkful_html_sql('text', 'doc_id'), _link_url)}"
        ") AS dst_url FROM documents"
    )

    from vtcomposite_spark.functions.text import extract_anchors_sql
    o["page_anchor_edges"] = (
        "SELECT doc_id, u.dst_url AS dst_url, u.anchor AS anchor "
        "FROM (SELECT doc_id, unnest("
        f"{extract_anchors_sql(linkful_html_sql('text', 'doc_id'), _link_url)}"
        ") AS u FROM documents)"
    )

    o["tile_ancestry_filter"] = (
        "WITH t AS (SELECT l_orderkey, l_linenumber, l_linenumber % 8 AS src_z, "
        "l_partkey % (1 << (l_linenumber % 8)) AS src_x, "
        "l_suppkey % (1 << (l_linenumber % 8)) AS src_y FROM lineitem) "
        "SELECT l_orderkey, l_linenumber, src_z, src_x, src_y FROM t "
        "WHERE (97 // (1 << (7 - src_z))) = src_x AND (76 // (1 << (7 - src_z))) = src_y"
    )

    o["composite_overzoom_points"] = (
        "WITH f AS (SELECT l_linenumber % 3 AS tile_idx, l_orderkey AS feature_id, "
        "l_orderkey % 16 AS sx, l_suppkey % 16 AS sy, "
        "l_partkey % 4096 AS x0, (l_suppkey * 7) % 4096 AS y0 FROM lineitem), "
        "t AS (SELECT tx.range AS x, ty.range AS y FROM range(0, 8) tx, range(0, 8) ty), "
        "cand AS (SELECT f.*, t.x, t.y FROM f JOIN t ON (t.x // 4) = f.sx "
        "AND (t.y // 4) = f.sy), "
        "win AS (SELECT *, min(tile_idx) OVER (PARTITION BY x, y) AS w FROM cand), "
        "clip AS (SELECT 6 AS z, x, y, tile_idx, feature_id, "
        "x0 * 4 - (x % 4) * 4096 AS px, y0 * 4 - (y % 4) * 4096 AS py "
        "FROM win WHERE tile_idx = w) "
        "SELECT z, x, y, tile_idx, feature_id, px, py FROM clip "
        "WHERE px BETWEEN -128 AND 4224 AND py BETWEEN -128 AND 4224"
    )

    # the packed relational path computes the SAME relation — one oracle
    # string, two physical engines under it (expression path above, packed
    # seam + kernel here)
    o["composite_packed_points"] = o["composite_overzoom_points"]

    # the encode→decode roundtrip replays the SAME overzoom+first-wins+
    # clip semantics and aggregates per output tile — the decoded tile
    # BYTES must reproduce these values exactly
    o["encode_sink_roundtrip"] = (
        "WITH f AS (SELECT l_linenumber % 3 AS tile_idx, l_orderkey AS fid, "
        "l_returnflag AS k, l_orderkey % 16 AS sx, l_suppkey % 16 AS sy, "
        "l_partkey % 4096 AS x0, (l_suppkey * 7) % 4096 AS y0 FROM lineitem), "
        "t AS (SELECT tx.range AS x, ty.range AS y FROM range(0, 8) tx, range(0, 8) ty), "
        "cand AS (SELECT f.*, t.x, t.y FROM f JOIN t ON (t.x // 4) = f.sx "
        "AND (t.y // 4) = f.sy), "
        "win AS (SELECT *, min(tile_idx) OVER (PARTITION BY x, y) AS w FROM cand), "
        "clip AS (SELECT 6 AS z, x, y, fid, k, "
        "x0 * 4 - (x % 4) * 4096 AS px, y0 * 4 - (y % 4) * 4096 AS py "
        "FROM win WHERE tile_idx = w) "
        "SELECT z, x, y, count(*) AS n_feats, "
        "CAST(sum(px) AS BIGINT) AS sum_px, CAST(sum(py) AS BIGINT) AS sum_py, "
        "CAST(sum(fid) AS BIGINT) AS sum_fid, "
        "array_to_string(list_sort(list_distinct(list(k))), ',') AS ks "
        "FROM clip WHERE px BETWEEN -128 AND 4224 AND py BETWEEN -128 AND 4224 "
        "GROUP BY 1, 2, 3"
    )

    o["first_wins_orders"] = (
        "SELECT o_custkey AS custkey, o_orderkey AS first_orderkey FROM ("
        "SELECT o_custkey, o_orderkey, row_number() OVER ("
        "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) rn FROM orders) "
        "WHERE rn = 1"
    )

    o["first_wins_layer_dedupe"] = (
        "SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y, l_returnflag AS layer, "
        "min(l_linenumber) AS win_tile FROM lineitem GROUP BY 1, 2, 3"
    )

    o["pip_join_regions"] = (
        f"WITH pts AS ({_EVENTS_POINTS_SQL}), "
        "reg AS (SELECT r_regionkey AS poly_id, "
        "r_regionkey * 60 - 170 + 0.005 AS lon0, "
        "r_regionkey * 25 - 65 + 0.005 AS lat0 FROM region) "
        "SELECT p.event_id, r.poly_id FROM pts p JOIN reg r "
        "ON p.lon > r.lon0 AND p.lon < r.lon0 + 50 "
        "AND p.lat > r.lat0 AND p.lat < r.lat0 + 20"
    )

    o["knn_sites"] = (
        f"WITH pts AS ({_EVENTS_POINTS_SQL}), sites AS ({_SITES_SQL}), "
        "cand AS (SELECT p.event_id, s.site_id, "
        "(p.lat - s.lat) * (p.lat - s.lat) + "
        "((p.lon - s.lon) * cos(radians((p.lat + s.lat) / 2))) * "
        "((p.lon - s.lon) * cos(radians((p.lat + s.lat) / 2))) AS d "
        "FROM pts p CROSS JOIN sites s) "
        "SELECT event_id, site_id, knn_rank FROM ("
        "SELECT event_id, site_id, row_number() OVER ("
        "PARTITION BY event_id ORDER BY d ASC, site_id ASC) AS knn_rank FROM cand) "
        "WHERE knn_rank <= 3"
    )

    o["raster_points_roundtrip"] = (
        "SELECT CAST(4 AS INTEGER) AS z, l_orderkey % 16 AS x, "
        "l_suppkey % 16 AS y, "
        "CAST((l_partkey % 4096) * 64 // 4096 AS INTEGER) AS px, "
        "CAST(((l_suppkey * 7) % 4096) * 64 // 4096 AS INTEGER) AS py, "
        "CAST(least(count(*), 255) AS INTEGER) AS value "
        "FROM lineitem GROUP BY 1, 2, 3, 4, 5"
    )

    tx8s, ty8s = tm.tile_xy_sql("lon", "lat", 8)
    o["salted_tile_counts"] = (
        f"SELECT {tx8s} AS tx, {ty8s} AS ty, count(*) AS n "
        f"FROM ({_EVENTS_POINTS_SQL}) GROUP BY 1, 2"
    )

    tx10e, ty10e = tm.tile_xy_sql("lon", "lat", 10)
    level_sqls = []
    for z in range(10, 3, -1):
        shift = 1 << (10 - z)
        level_sqls.append(
            f"SELECT {z} AS zoom, (cx10 // {shift}) AS cx, (cy10 // {shift}) AS cy, "
            "count(*) AS n FROM base GROUP BY 1, 2, 3")
    o["cell_rollup"] = (
        f"WITH base AS (SELECT {tx10e} AS cx10, {ty10e} AS cy10 "
        f"FROM ({_EVENTS_POINTS_SQL})) " + " UNION ALL ".join(level_sqls)
    )

    o["worldview_semijoin"] = (
        f"WITH d AS (SELECT doc_id, {_WV_SQL} AS wv FROM documents), "
        "m AS (SELECT doc_id, list_sort(list_intersect(string_split(wv, ','), "
        "['US', 'all'])) AS inter FROM d) "
        "SELECT doc_id, inter[1] AS winner FROM m WHERE len(inter) > 0"
    )

    # independent SQL rendering of the localize precedence lattice:
    # languages=[en, de] ⇒ name = coalesce(name_en, _mbx_name_en, name_de,
    # _mbx_name_de, name); class = coalesce(_mbx_class, class); worldview
    # winner = sorted-first of split(_mbx_worldview) ∩ {US, all}; feature
    # dropped when the intersection is empty
    o["localize_property_algebra"] = (
        "WITH f AS (SELECT doc_id, source AS name, upper(source) AS name_en, "
        f"lower(source) AS mbx_name_de, {_WV_SQL} AS wv, lang AS cls_plain, "
        "CASE WHEN doc_id % 2 = 0 THEN 'h_' || lang END AS cls_hidden, "
        "(n_chars % 1000)::VARCHAR AS population FROM documents), "
        "m AS (SELECT *, list_sort(list_intersect(string_split(wv, ','), "
        "['US', 'all'])) AS inter FROM f) "
        "SELECT doc_id, coalesce(name_en, mbx_name_de, name) AS name, "
        "name AS name_local, coalesce(cls_hidden, cls_plain) AS cls, "
        "inter[1] AS worldview, population FROM m WHERE len(inter) > 0"
    )

    # independent SQL rendering of L6: name_en ends as source||'_en2'
    # (later _mbx_name_en overwrites), name_fr from hidden prefix, name_de
    # equals name so it is dropped, name_script excluded, 'other' kept
    o["localize_languages_all"] = (
        "SELECT doc_id, source AS name, source AS name_local, "
        "source || '_en2' AS name_en, source || '_fr' AS name_fr, "
        "'name,name_en,name_fr,name_local,other' AS keyset FROM documents"
    )

    # an independent rendering of the reference's emission order for the
    # fixed localize_key_order construction (src/vtcomposite.cpp:862-868
    # inline name, :944-998 class/name_local/family, worldview last)
    o["localize_key_order"] = (
        "SELECT doc_id, "
        "'zeta,name,alpha,class,name_local,name_en,name_fr,worldview' "
        "AS key_order FROM documents"
    )

    o["text_stats"] = (
        f"SELECT doc_id, {TX.TOKEN_COUNT_SQL.format(c='text')} AS tokens, "
        f"{TX.lang_guess_sql('text')} AS lang_guess, "
        f"{TX.quality_score_sql('text')} AS quality, "
        f"{TX.fingerprint_sql('text')} AS fingerprint FROM documents"
    )

    o["bpe_token_stats"] = (
        f"SELECT doc_id, {TX.BPE_TOKEN_COUNT_SQL.format(c='text')} AS bpe_tokens, "
        f"{TX.TOKEN_COUNT_SQL.format(c='text')} AS ws_tokens FROM documents"
    )

    o["lang_quality_agg"] = (
        "SELECT lang, "
        f"round(sum(CAST(round({TX.quality_score_sql('text')} * 1000) AS BIGINT)) "
        "/ (count(*) * 1000.0), 4) AS avg_q, "
        f"CAST(sum({TX.TOKEN_COUNT_SQL.format(c='text')}) AS BIGINT) AS total_tokens, "
        "count(*) AS n_docs FROM documents GROUP BY lang"
    )

    o["dedup_exact"] = (
        "SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, "
        "count(*) AS n_dups FROM documents GROUP BY 1"
    )

    o["minhash_signatures"] = (
        f"SELECT doc_id, array_to_string({H.minhash_sig_sql('text', 4)}, ',') AS sig "
        "FROM documents WHERE doc_id % 10 = 0 "
        f"AND len({H.shingles_sql('text', 3)}) > 0"
    )

    sig8 = H.minhash_sig_sql("text", 8)
    band_keys = ", ".join(
        H.band_key_sql("sig", b, 2) + f" AS b{b}" for b in range(1, 5))
    o["minhash_lsh_pairs"] = (
        f"WITH s AS (SELECT doc_id, {sig8} AS sig FROM documents), "
        f"k AS (SELECT doc_id, {band_keys} FROM s), "
        "e AS (SELECT doc_id, unnest([b1, b2, b3, b4]) AS band_key FROM k) "
        "SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM e l JOIN e r "
        "USING (band_key) WHERE l.doc_id < r.doc_id"
    )

    o["simhash_fingerprints"] = (
        f"SELECT doc_id, {H.simhash_sql('text', 12)} AS simhash "
        "FROM documents WHERE doc_id % 10 = 1"
    )

    from vtcomposite_spark.operators.dedupe import simhash_near_dup_pairs_sql
    o["simhash_near_dups"] = simhash_near_dup_pairs_sql(
        bits=48, max_hamming=3, max_bucket=64)

    sh = H.shingles_sql("text", 3)
    o["ngram_jaccard_near_dups"] = (
        f"WITH s AS (SELECT doc_id, {sig8} AS sig FROM documents), "
        f"k AS (SELECT doc_id, {band_keys} FROM s), "
        "e AS (SELECT doc_id, unnest([b1, b2, b3, b4]) AS band_key FROM k), "
        "pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM e l JOIN e r "
        "USING (band_key) WHERE l.doc_id < r.doc_id), "
        f"sh AS (SELECT doc_id, list_distinct({sh}) AS sh FROM documents) "
        "SELECT a, b, jaccard FROM (SELECT a, b, "
        "round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
        "len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard "
        "FROM pairs JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b) "
        "WHERE jaccard >= 0.3"
    )

    # connected components over the SAME jaccard pairs via a recursive
    # transitive-closure CTE (reachability blow-up is fine at oracle
    # scale; the engine runs min-label propagation instead)
    o["near_dup_clusters"] = (
        "WITH RECURSIVE "
        f"s AS (SELECT doc_id, {sig8} AS sig FROM documents), "
        f"k AS (SELECT doc_id, {band_keys} FROM s), "
        "e0 AS (SELECT doc_id, unnest([b1, b2, b3, b4]) AS band_key FROM k), "
        "cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b "
        "FROM e0 l JOIN e0 r USING (band_key) WHERE l.doc_id < r.doc_id), "
        f"sh AS (SELECT doc_id, list_distinct({sh}) AS sh FROM documents), "
        "p AS (SELECT a, b FROM (SELECT a, b, "
        "round(len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
        "len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard "
        "FROM cand JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b) "
        "WHERE jaccard >= 0.3), "
        "ed AS (SELECT a, b FROM p UNION SELECT b, a FROM p), "
        "walk(v, reach) AS ("
        "SELECT a AS v, a AS reach FROM ed "
        "UNION "
        "SELECT w.v, x.b FROM walk w JOIN ed x ON w.reach = x.a), "
        "comp AS (SELECT v, min(reach) AS component FROM walk GROUP BY v) "
        "SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component, "
        "coalesce(c.component, d.doc_id) = d.doc_id AS is_canonical "
        "FROM documents d LEFT JOIN comp c ON c.v = d.doc_id"
    )

    # benchmark decontamination: distinct benchmark 8-grams × training
    # grams, count distinct collisions per doc
    g8 = H.shingles_sql("text", 8)
    o["decontaminate_corpus"] = (
        f"WITH bg AS (SELECT DISTINCT unnest({g8}) AS gram FROM documents "
        "WHERE doc_id % 25 = 0), "
        f"tg AS (SELECT doc_id, unnest({g8}) AS gram FROM documents), "
        "hits AS (SELECT doc_id, count(DISTINCT gram) AS n_hits "
        "FROM tg JOIN bg USING (gram) GROUP BY doc_id) "
        "SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, "
        "coalesce(h.n_hits, 0) > 0 AS contaminated "
        "FROM documents d LEFT JOIN hits h USING (doc_id)"
    )

    # corpus-level line dedupe over the boilerplate-wrapped corpus
    o["line_dedupe_boilerplate"] = (
        "WITH d AS (SELECT doc_id, "
        "'copyright footer all rights reserved' || chr(10) || text || "
        "CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe to our "
        "newsletter' ELSE '' END AS text FROM documents), "
        "l AS (SELECT doc_id, generate_subscripts(ls, 1) AS idx, "
        "unnest(ls) AS line FROM (SELECT doc_id, "
        "string_split(text, chr(10)) AS ls FROM d)), "
        "hot AS (SELECT line FROM l WHERE trim(line) != '' "
        "GROUP BY line HAVING count(*) >= 2), "
        "m AS (SELECT l.doc_id, l.idx, l.line, "
        "h.line IS NOT NULL AS hot FROM l LEFT JOIN hot h USING (line)) "
        "SELECT doc_id, count(*) AS n_lines, "
        "CAST(sum(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, "
        "coalesce(string_agg(CASE WHEN NOT hot THEN line END, chr(10) "
        "ORDER BY idx), '') AS text_clean "
        "FROM m GROUP BY doc_id"
    )

    # exact-substring dedupe: same gram hashing, ranking, island merge,
    # and difference-array coverage as the engine, in pure SQL
    _ss_parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(8))
    o["dedupe_substrings"] = (
        "WITH w AS (SELECT doc_id AS id, list_filter(string_split(text, "
        "' '), t -> t != '') AS ws FROM documents), "
        "toks AS (SELECT id, i - 1 AS pos, ws[i] AS tok FROM "
        "(SELECT id, ws, unnest(generate_series(1, len(ws))) AS i FROM w)), "
        "g AS (SELECT id, i - 1 AS pos, md5(" + _ss_parts + ") AS gram "
        "FROM (SELECT id, ws, unnest(generate_series(1, len(ws) - 7)) "
        "AS i FROM w) WHERE len(ws) >= 8), "
        "rem AS (SELECT id, pos, pos + 8 AS e FROM (SELECT *, row_number()"
        " OVER (PARTITION BY gram ORDER BY id, pos) AS rnk FROM g) "
        "WHERE rnk > 1), "
        "isl AS (SELECT id, pos, e, sum(CASE WHEN pmax IS NULL OR "
        "pos >= pmax THEN 1 ELSE 0 END) OVER (PARTITION BY id ORDER BY "
        "pos ROWS UNBOUNDED PRECEDING) AS isl FROM (SELECT *, max(e) "
        "OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING) AS pmax FROM rem)), "
        "spans AS (SELECT id, isl, min(pos) AS s, max(e) AS e FROM isl "
        "GROUP BY 1, 2), "
        "ev AS (SELECT id, pos, CAST(sum(d) AS BIGINT) AS d FROM ("
        "SELECT id, s AS pos, 1 AS d FROM spans UNION ALL "
        "SELECT id, e AS pos, -1 AS d FROM spans) GROUP BY 1, 2), "
        "cov AS (SELECT t.id, t.pos, t.tok, sum(coalesce(ev.d, 0)) OVER "
        "(PARTITION BY t.id ORDER BY t.pos ROWS UNBOUNDED PRECEDING) "
        "AS cov FROM toks t LEFT JOIN ev ON t.id = ev.id AND "
        "t.pos = ev.pos), "
        "agg AS (SELECT id, count(*) AS n_tokens, CAST(sum(CASE WHEN "
        "cov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, "
        "coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' ' "
        "ORDER BY pos), '') AS text_clean FROM cov GROUP BY id) "
        "SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, "
        "coalesce(a.n_removed, 0) AS n_removed, "
        "md5(coalesce(a.text_clean, '')) AS clean_md5 "
        "FROM documents d LEFT JOIN agg a ON d.doc_id = a.id"
    )

    # the same recursive closure, final select = the KEPT corpus (one doc
    # per component — the min id — plus every unpaired doc)
    _cc_body = o["near_dup_clusters"]
    o["dedupe_corpus"] = (
        _cc_body[:_cc_body.index("SELECT d.doc_id,")]
        + "SELECT d.doc_id, d.lang, d.source "
        "FROM documents d LEFT JOIN comp c ON c.v = d.doc_id "
        "WHERE coalesce(c.component, d.doc_id) = d.doc_id"
    )

    gq = TX.gopher_filter_sqls("text")
    o["doc_quality_filters"] = (
        "SELECT doc_id, "
        + ", ".join(f"{sql} AS {name}" for name, sql in gq.items())
        + " FROM documents"
    )

    c4q = TX.c4_filter_sqls("text")
    o["c4_clean_docs"] = (
        "SELECT doc_id, "
        + ", ".join(f"{sql} AS {name}" for name, sql in c4q.items())
        + " FROM documents"
    )

    def _gram_cte(n: int) -> str:
        parts = " || ' ' || ".join(f"ws[i + {j}]" for j in range(n))
        return (f"SELECT doc_id, unnest(list_transform("
                f"generate_series(1, len(ws) - {n - 1}), i -> {parts})) "
                "AS gram FROM w")

    def _top_cte(src: str) -> str:
        return ("SELECT doc_id, cnt * length(replace(gram, ' ', '')) AS tc "
                "FROM (SELECT doc_id, gram, count(*) AS cnt, row_number() "
                "OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram DESC)"
                f" AS rn FROM {src} GROUP BY doc_id, gram) WHERE rn = 1")

    o["repetition_stats"] = (
        "WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), "
        "t -> t != '') AS ws FROM documents), "
        "tot AS (SELECT doc_id, greatest(length(replace(text, ' ', '')), 1)"
        "::DOUBLE AS chars FROM documents), "
        f"g2 AS ({_gram_cte(2)}), g3 AS ({_gram_cte(3)}), "
        f"g5 AS ({_gram_cte(5)}), "
        f"t2 AS ({_top_cte('g2')}), t3 AS ({_top_cte('g3')}), "
        "d5 AS (SELECT doc_id, sum(cnt * length(replace(gram, ' ', ''))) "
        "AS dc FROM (SELECT doc_id, gram, count(*) AS cnt FROM g5 "
        "GROUP BY 1, 2) WHERE cnt >= 2 GROUP BY doc_id) "
        "SELECT tot.doc_id, "
        "round(coalesce(t2.tc, 0) / chars, 4) AS top2_frac, "
        "round(coalesce(t3.tc, 0) / chars, 4) AS top3_frac, "
        "round(coalesce(d5.dc, 0) / chars, 4) AS dup5_frac "
        "FROM tot LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id) "
        "LEFT JOIN d5 USING (doc_id)"
    )

    from vtcomposite_spark.operators import chunking as CH
    o["chunk_documents"] = (
        "SELECT doc_id, chunk_idx, n_tokens, md5(chunk_text) AS chunk_md5 "
        f"FROM ({CH.chunk_documents_sql(32, 8)}) WHERE doc_id % 5 = 0"
    )
    o["hash_sampled_docs"] = (
        "SELECT doc_id, lang, n_chars FROM documents "
        f"WHERE {CH.sample_by_hash_sql(0.25, 'doc_id')}"
    )
    o["distinctive_terms"] = CH.distinctive_terms_sql(group_col="lang", k=5)

    mix_h = "md5('mix' || doc_id::VARCHAR)"
    mix_rate = ("CASE lang WHEN 'en' THEN 0.25 WHEN 'fr' THEN 1.0 "
                "WHEN 'de' THEN 0.75 ELSE 0.5 END")
    o["corpus_mixture_sample"] = (
        "SELECT doc_id, lang FROM documents "
        f"WHERE (({H.hex4_to_int_sql(mix_h)}) % 10000) < "
        f"CAST(round({mix_rate} * 10000) AS BIGINT)"
    )

    contact = ("(text || ' contact user' || doc_id || '@' || source || "
               "'.example.com or call +1 555-' || lpad(doc_id::VARCHAR, 4, '0'))")
    ne_sql, np_sql = TX.pii_counts_sqls(contact)
    o["pii_redaction"] = (
        f"SELECT doc_id, {ne_sql} AS n_emails, {np_sql} AS n_phones, "
        f"md5({TX.redact_pii_sql(contact)}) AS redacted_md5 FROM documents"
    )

    url = "('https://' || source || '.example.com/p/' || doc_id)"
    o["host_doc_stats"] = (
        f"SELECT {TX.url_host_sql(url)} AS host, count(*) AS n_docs, "
        f"CAST(sum({TX.TOKEN_COUNT_SQL.format(c='text')}) AS BIGINT) AS total_tokens, "
        f"round(sum(CAST(round({TX.quality_score_sql('text')} * 1000) AS BIGINT))"
        " / (count(*) * 1000.0), 4) AS avg_quality FROM documents GROUP BY 1"
    )

    from vtcomposite_spark.operators.chunking import unigram_surprisal_sql
    o["unigram_surprisal"] = unigram_surprisal_sql()

    o["dsir_importance"] = CH.dsir_logratio_sql("lang = 'en'",
                                                buckets=1024)
    o["cap_per_source"] = (
        "SELECT doc_id, source, n_chars, grp_rank FROM "
        f"({CH.cap_per_group_sql(10)})"
    )
    o["pack_sequences"] = CH.pack_sequences_sql(256)
    o["bigram_merges"] = CH.bigram_merge_candidates_sql(20, 2)
    o["bigram_surprisal"] = CH.bigram_surprisal_sql()

    from vtcomposite_spark.operators.retrieval import bm25_topk_sql
    _toks = "list_filter(string_split(text, ' '), t -> t != '')"
    o["bm25_topk"] = bm25_topk_sql(
        "SELECT doc_id AS query_id, "
        f"array_to_string(list_slice({_toks}, 1, 3), ' ') AS query "
        "FROM documents WHERE doc_id % 97 = 0", k=5)

    cos = H.cosine_sql("q.e", "c.e")
    o["ann_cosine_topk"] = (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), "
        "cand AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, "
        f"round({cos}, 6) AS cos FROM v q JOIN v c ON q.vec_id < 20 "
        "AND q.vec_id != c.vec_id) "
        "SELECT query_id, corpus_id, rank, cos FROM ("
        "SELECT query_id, corpus_id, cos, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank FROM cand) "
        "WHERE rank <= 5"
    )

    o["quantize_embeddings"] = SIM.quantize_embeddings_sql(8)

    # seed-IVF: replay every stage of ann_topk_ivf(centroids="seed") —
    # lowest-id seed centroids, 6-digit-rounded assignment/probe cosines
    # with centroid-id tie-breaks, bucket equi-join, rounded top-k
    cos_cc = H.cosine_sql("c.e", "ct.centv")
    cos_qc = H.cosine_sql("q.e", "ct.centv")
    cos_qv = H.cosine_sql("p.qv", "a.cv")
    o["ann_ivf_seed_topk"] = (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), "
        "cent AS (SELECT vec_id AS centroid_id, e AS centv FROM v "
        "ORDER BY vec_id LIMIT 8), "
        "assigned AS (SELECT corpus_id, cv, bucket FROM ("
        "SELECT c.vec_id AS corpus_id, c.e AS cv, ct.centroid_id AS bucket, "
        "row_number() OVER (PARTITION BY c.vec_id ORDER BY "
        f"round({cos_cc}, 6) DESC, ct.centroid_id ASC) AS r "
        "FROM v c CROSS JOIN cent ct) WHERE r = 1), "
        "probes AS (SELECT query_id, qv, bucket FROM ("
        "SELECT q.vec_id AS query_id, q.e AS qv, ct.centroid_id AS bucket, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        f"round({cos_qc}, 6) DESC, ct.centroid_id ASC) AS r "
        "FROM v q CROSS JOIN cent ct WHERE q.vec_id < 20) WHERE r <= 2), "
        "cand AS (SELECT p.query_id, a.corpus_id, "
        f"round({cos_qv}, 6) AS cos "
        "FROM assigned a JOIN probes p USING (bucket) "
        "WHERE p.query_id != a.corpus_id) "
        "SELECT query_id, corpus_id, rank, cos FROM ("
        "SELECT query_id, corpus_id, cos, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cos DESC, corpus_id ASC) AS rank "
        "FROM cand) WHERE rank <= 5"
    )

    from vtcomposite_spark.operators.similarity import semdedup_sql
    o["semdedup_keep"] = semdedup_sql(0.25, 8)

    from vtcomposite_spark.operators.similarity import (pq_encode_sql,
                                                        pq_topk_sql)
    o["pq_codes"] = pq_encode_sql(m=8, n_centroids=16, dims=64)
    o["pq_adc_topk"] = pq_topk_sql(5, m=8, n_centroids=16, dims=64,
                                   query_where="vid < 20")

    o["doc_pagerank"] = GR.pagerank_sql(
        GR.doc_link_edges_sql(3, 256), iters=5)

    _url_synth = (
        "(CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END || "
        "CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END || "
        "CASE WHEN doc_id % 11 = 0 THEN "
        "upper('site' || (doc_id // 4) % 7 || '.Example.com') "
        "ELSE 'site' || (doc_id // 4) % 7 || '.Example.com' END || "
        "CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN doc_id % 2 = 0 "
        "THEN ':80' ELSE ':443' END) ELSE '' END || "
        "'/p/' || (doc_id // 4) || "
        "CASE WHEN doc_id % 2 = 1 AND (doc_id // 4) % 2 = 1 "
        "THEN '/' ELSE '' END || "
        "CASE WHEN (doc_id // 4) % 2 = 0 "
        "THEN '?v=' || (doc_id // 4) % 3 ELSE '' END || "
        "CASE WHEN doc_id % 2 = 0 THEN (CASE WHEN (doc_id // 4) % 2 = 0 "
        "THEN '&' ELSE '?' END) || 'utm_source=s' || doc_id % 4 "
        "ELSE '' END || "
        "CASE WHEN doc_id % 3 = 1 THEN '#sec' || doc_id % 5 "
        "ELSE '' END)")
    o["url_canonical_dedupe"] = (
        f"WITH u AS (SELECT doc_id, {_url_synth} AS url FROM documents), "
        f"c AS (SELECT doc_id, {TX.canonicalize_url_sql('url')} "
        "AS canonical_url FROM u), "
        "k AS (SELECT canonical_url, min(doc_id) AS keep FROM c "
        "GROUP BY 1) "
        "SELECT c.doc_id, c.canonical_url, c.doc_id = k.keep AS kept "
        "FROM c JOIN k USING (canonical_url)")

    from vtcomposite_spark.operators.similarity import hard_negatives_sql
    o["hard_negative_mining"] = hard_negatives_sql(5, "q.vec_id < 15")

    o["hits_scores"] = GR.hits_sql(
        GR.doc_link_edges_sql(3, 256), iters=3)

    o["lpa_communities"] = GR.label_propagation_sql(
        GR.doc_link_edges_sql(3, 256), iters=3)

    from vtcomposite_spark.operators.sketches import (countmin_sql,
                                                      linear_count_sql)
    o["corpus_distinct_estimate"] = linear_count_sql(
        "SELECT text FROM documents", "text", k=4096)
    o["countmin_lang_counts"] = countmin_sql(
        "SELECT lang FROM documents", "lang",
        "SELECT DISTINCT lang AS item FROM documents",
        depth=4, width=256)

    from vtcomposite_spark.operators.web import frontier_schedule_sql
    o["crawl_frontier_schedule"] = frontier_schedule_sql(
        f"SELECT doc_id, {_link_url} AS url FROM documents",
        GR.pagerank_sql(GR.doc_link_edges_sql(3, 256), iters=3),
        "SELECT * FROM (VALUES ('site0.example.com', 2.0), "
        "('site1.example.com', 0.5)) AS _fd(host, delay_s)")

    from vtcomposite_spark.operators.dedupe import winnow_fingerprints_sql
    o["winnow_doc_fingerprints"] = winnow_fingerprints_sql(
        5, 4, table="(SELECT * FROM documents WHERE doc_id % 5 = 0)")

    from vtcomposite_spark.operators.sketches import exact_quantiles_sql
    o["doc_length_quantiles"] = exact_quantiles_sql(
        f"SELECT {TX.TOKEN_COUNT_SQL.format(c='text')} AS ntok "
        "FROM documents", "ntok", [0.5, 0.9, 0.99])

    from vtcomposite_spark.operators.sketches import bloom_sql
    o["bloom_seen_docs"] = bloom_sql(
        "SELECT text FROM documents WHERE doc_id % 2 = 0", "text",
        "SELECT DISTINCT text AS item FROM documents",
        m_bits=8192, k_hashes=4)

    from vtcomposite_spark.operators.sessions import (session_stats_sql,
                                                      sessionize_sql)
    o["sessionize_events"] = sessionize_sql("SELECT * FROM events")
    o["session_stats_events"] = session_stats_sql("SELECT * FROM events")

    from vtcomposite_spark.operators.sessions import \
        event_window_counts_sql
    o["event_window_rollup"] = event_window_counts_sql(
        "SELECT * FROM events", 60)

    from vtcomposite_spark.operators.chunking import ngram_counts_sql
    o["ngram_count_export"] = ngram_counts_sql(3, 2)

    from vtcomposite_spark.tilemath import morton_sql
    _tx8, _ty8 = tm.tile_xy_sql("lon", "lat", 8)
    o["zorder_tile_keys"] = (
        f"WITH p AS ({_EVENTS_POINTS_SQL}), "
        f"t AS (SELECT {_tx8} AS tx, {_ty8} AS ty FROM p) "
        f"SELECT {morton_sql('tx', 'ty')} AS zkey, "
        "count(*) AS n_events FROM t GROUP BY 1")

    o["trustrank_trust"] = GR.trustrank_sql(
        GR.doc_link_edges_sql(3, 256),
        "SELECT doc_id AS id FROM documents WHERE doc_id % 50 = 0",
        iters=5)

    _hb_host = ("'site' || (doc_id // 4) % 7 || (CASE WHEN "
                "(doc_id // 4) % 5 = 0 THEN '.example.org' "
                "ELSE '.example.com' END)")
    o["host_boilerplate_lines"] = (
        f"WITH d AS (SELECT doc_id, {_hb_host} AS host, "
        f"'nav menu for ' || {_hb_host} || chr(10) || text || "
        "CASE WHEN doc_id % 101 = 5 THEN chr(10) || "
        "'visit our partner site' ELSE '' END AS text FROM documents), "
        "l AS (SELECT doc_id, host, generate_subscripts(ls, 1) AS idx, "
        "unnest(ls) AS line FROM (SELECT doc_id, host, "
        "string_split(text, chr(10)) AS ls FROM d)), "
        "hot AS (SELECT host, line FROM l WHERE trim(line) != '' "
        "GROUP BY host, line HAVING count(*) >= 2), "
        "m AS (SELECT l.doc_id, l.idx, l.line, "
        "h.line IS NOT NULL AS hot FROM l LEFT JOIN hot h "
        "ON l.host = h.host AND l.line = h.line) "
        "SELECT doc_id, count(*) AS n_lines, "
        "CAST(sum(CASE WHEN hot THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_removed, "
        "coalesce(string_agg(CASE WHEN NOT hot THEN line END, chr(10) "
        "ORDER BY idx), '') AS text_clean "
        "FROM m GROUP BY doc_id")

    from vtcomposite_spark.operators.web import (blocklist_filter_sql,
                                                 host_concentration_sql)
    _host_synth = (
        "SELECT doc_id, 'site' || (doc_id // 4) % 7 || "
        "(CASE WHEN (doc_id // 4) % 5 = 0 THEN '.example.org' "
        "ELSE '.example.com' END) AS host FROM documents")
    o["domain_blocklist"] = blocklist_filter_sql(
        _host_synth, ["example.org", "site2.example.com"])

    from vtcomposite_spark.operators.web import robots_allowed_sql
    o["robots_crawl_filter"] = robots_allowed_sql(
        "SELECT 'https://site' || (doc_id // 4) % 7 || "
        "(CASE WHEN (doc_id // 4) % 5 = 0 THEN '.example.org' "
        "ELSE '.example.com' END) || '/p' || doc_id % 4 || '/d' || "
        "doc_id AS url FROM documents",
        _robots_corpus_sql(), agent="cc-bot")
    o["host_concentration"] = host_concentration_sql(_host_synth)

    from vtcomposite_spark.operators.web import latest_snapshot_sql
    o["latest_snapshot_urls"] = latest_snapshot_sql(
        "SELECT event_id AS doc_id, 'https://site' || event_id % 9 || "
        "'.example.com/p/' || event_id % 400 AS canonical_url, ts "
        "FROM events")

    o["link_degree_stats"] = GR.degree_stats_sql(
        GR.doc_link_edges_sql(3, 256))

    o["cocitation_related"] = GR.cocitation_pairs_sql(
        GR.doc_link_edges_sql(3, 256), min_count=2)

    from vtcomposite_spark.operators.chunking import bpe_train_sql
    o["bpe_merges"] = bpe_train_sql(4)
    from vtcomposite_spark.operators.chunking import bpe_apply_sql
    o["bpe_apply_tokens"] = bpe_apply_sql(
        3, table="(SELECT * FROM documents WHERE doc_id % 5 = 0)")

    from vtcomposite_spark.operators.web import crawl_diff_sql
    o["crawl_snapshot_diff"] = crawl_diff_sql(
        "SELECT 'p' || doc_id AS url, md5(text) AS fingerprint "
        "FROM documents",
        "SELECT 'p' || doc_id AS url, CASE WHEN doc_id % 7 = 0 "
        "THEN md5('v2' || text) ELSE md5(text) END AS fingerprint "
        "FROM documents WHERE doc_id % 10 != 0")

    # banded random-hyperplane LSH: same md5-seeded literal signs, same
    # integer milli-unit projection as operators.dedupe.embedding_near_dups
    band_keys = ", ".join(
        H.hyperplane_band_key_sql("embedding", t, bits=4, dim=64)
        for t in range(2))
    cos_ab = H.cosine_sql("a.e", "b.e")
    o["embedding_near_dup_pairs"] = (
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, "
        f"unnest([{band_keys}]) AS band_key "
        "FROM embeddings WHERE vec_id % 5 = 0), "
        "pairs AS (SELECT DISTINCT a.vec_id AS pa, b.vec_id AS pb "
        "FROM v a JOIN v b ON a.band_key = b.band_key AND a.vec_id < b.vec_id), "
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings) "
        f"SELECT pa AS a, pb AS b, cos FROM (SELECT pa, pb, round({cos_ab}, 4) AS cos "
        "FROM pairs JOIN e a ON a.vec_id = pa JOIN e b ON b.vec_id = pb) "
        "WHERE cos >= 0.3"
    )

    return o
