"""Headline benchmark — one JSON line on stdout.

Workload mirrors the reference's bench rule shapes (bench/rules.js:8-161:
points/lines/polygons × same-zoom/overzoom × properties) re-expressed at
table scale, plus the graft pipeline stages (geocode, spatial join, dedupe,
ANN, localize).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def build_workload(spark, sf_dir):
    """Return {name: fn} headline stages. Each fn triggers a full action."""
    import vtcomposite_spark.functions.text as TX
    from vtcomposite_spark.operators import dedupe as D
    from vtcomposite_spark.operators import similarity as SIM
    from vtcomposite_spark.operators.cells import encode_cells, rollup_counts, tile_pixels
    from vtcomposite_spark.operators.composite import composite_points
    from vtcomposite_spark.operators.joins import knn_join
    from vtcomposite_spark.operators.localize import localize
    from vtcomposite_spark.sources.ingest import targets_df
    from vtcomposite_spark.sources.pages import (extract_geotags, extract_text,
                                                 geo_cols, pages_from_documents)

    from vtcomposite_spark.sources.pages import synthesize_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    # pages table scaled with SF (documents barely scales); materialized once
    # so timed stages measure scan→pipeline, not synthesis
    n_pages = events.count() * 2
    pages_path = f"/tmp/vtc_bench_pages_{n_pages}"
    if not os.path.isdir(pages_path):
        synthesize_pages(spark, n_pages, partitions=32).write.mode("overwrite") \
            .parquet(pages_path)
    pages_src = spark.read.parquet(pages_path)

    counters: dict[str, int] = {}
    samples: dict[str, list] = {}   # stage → ALL measured wall samples
    cpus_hint = spark.sparkContext.defaultParallelism

    def pages_geocode():
        geo = extract_geotags(pages_src, keep=["url", "lang"]).filter(F.col("lat").isNotNull())
        out = encode_cells(geo, 12)
        counters["pages_geocoded"] = out.count()

    def pages_extract_text():
        # north-rule scan→extract: gzip-sniff seam + 5 JVM regex passes
        out = extract_text(pages_src, keep=["url"])
        counters["pages_extracted"] = out.filter(
            F.length("extracted") > 0).count()

    def tile_composite_overzoom():
        # pages → z8 point features → composite every z10 descendant tile
        geo = extract_geotags(pages_src, keep=["url", "lang"]).filter(F.col("lat").isNotNull())
        src = tile_pixels(encode_cells(geo, 8), 8)
        feats = src.select(
            F.lit(0).alias("tile_idx"),
            F.lit(8).alias("src_z"),
            F.col("tile_x").alias("src_x"), F.col("tile_y").alias("src_y"),
            F.lit("pages").alias("layer"), F.lit(2).alias("layer_version"),
            F.lit(4096).alias("extent"),
            # hash ordinal, not a per-tile window: the hot SF tile would
            # serialize row_number() into one task
            F.pmod(F.xxhash64("url"), F.lit(1 << 30)).cast("int").alias("feature_idx"),
            F.lit(None).cast("long").alias("feature_id"),
            F.lit(1).cast("byte").alias("geom_type"),
            F.array(F.col("px")).alias("xs"), F.array(F.col("py")).alias("ys"),
            F.array(F.lit(0)).alias("part_offsets"),
            F.array(F.lit(0).cast("byte")).alias("ring_types"),
            F.create_map(F.lit("url"), F.col("url")).alias("properties"))
        t10 = encode_cells(geo, 10).select("tile_x", "tile_y").distinct()
        targets = t10.select(
            F.lit(10).alias("z"), F.col("tile_x").alias("x"), F.col("tile_y").alias("y"),
            F.lit(128).alias("buffer_size"),
            F.lit(None).cast("array<string>").alias("keep_layers"),
            F.lit(False).alias("compress"))
        out = composite_points(feats, targets)
        row = out.agg(F.countDistinct("z", "x", "y").alias("tiles"),
                      F.count("*").alias("feats")).collect()[0]
        counters["tiles_composited"] = row.tiles
        counters["features_out"] = row.feats

    # --- Arrow geometry kernel at table scale (reference rules 10/11:
    # bench/rules.js:83-98 — full typed-property fixture tiles, one-level
    # overzoom, buffer 128; BASELINE.md rows 10/11: 1163 / 254 runs/s).
    # Each target tile processes the full fixture feature set, so one
    # output tile ≈ one reference run.
    FIXTURES = "/root/reference/test/fixtures"
    n_events = events.count()

    def _fixture_grid_paths(fixture_name, n_src, src_z=8, dz=1, compress=False):
        """Replicate a decoded fixture across n_src distinct source tiles
        (all 4^dz descendants of each requested) and MATERIALIZE
        features+targets to parquet once, so the timed stages measure
        scan→composite (the analog of the reference's per-run
        decode→composite), not synthetic input construction."""
        from vtcomposite_spark.sources.ingest import features_from_tiles
        tag = fixture_name.split("-")[0]
        fpath = f"/tmp/vtc_bench_{tag}_feats_{n_src}"
        suffix = (f"_dz{dz}" if dz != 1 else "") + ("_gz" if compress else "")
        tpath = f"/tmp/vtc_bench_{tag}_targets_{n_src}{suffix}"
        k = 1 << dz
        if not (os.path.isdir(fpath) and os.path.isdir(tpath)):
            buf = open(f"{FIXTURES}/{fixture_name}", "rb").read()
            template = features_from_tiles(spark, [(buf, 0, 0, 0)]) \
                .drop("src_z", "src_x", "src_y")
            grid = spark.range(n_src, numPartitions=32).select(
                (F.col("id") % 256).cast("long").alias("src_x"),
                (F.col("id") / 256).cast("long").alias("src_y"))
            if not os.path.isdir(fpath):
                feats = template.crossJoin(grid).withColumn("src_z", F.lit(src_z))
                feats.write.mode("overwrite").parquet(fpath)
            quad = spark.range(k * k).select(
                (F.col("id") % k).alias("dx"), (F.col("id") / k).cast("long").alias("dy"))
            targets = grid.crossJoin(quad).select(
                F.lit(src_z + dz).alias("z"),
                (F.col("src_x") * k + F.col("dx")).cast("long").alias("x"),
                (F.col("src_y") * k + F.col("dy")).cast("long").alias("y"),
                F.lit(128).alias("buffer_size"),
                F.lit(None).cast("array<string>").alias("keep_layers"),
                F.lit(compress).alias("compress"))
            targets.coalesce(1).write.mode("overwrite").parquet(tpath)
        return spark.read.parquet(fpath), spark.read.parquet(tpath)

    def _run_composite(fixture_name, n_src, steady_key, packed=False):
        """First action warms (codegen, page cache, python workers); the
        second is the steady-state measurement — the comparable of the
        reference's runs/s, which amortizes over thousands of repeats.
        The plan is REBUILT per run: re-collecting the same DataFrame lets
        Spark skip whole stages via shuffle-output reuse, which would fake
        the number. Both run with the source zoom declared (the fast mode,
        no winner pass) and the identical consumer agg; ``packed=True``
        calls it through the composite_packed name."""
        from vtcomposite_spark.operators.composite import (composite,
                                                           composite_packed)
        feats, targets = _fixture_grid_paths(fixture_name, n_src)

        def run():
            rows = composite_packed(feats, targets, src_zooms=[8]) if packed \
                else composite(feats, targets, src_zooms=[8])
            return rows.agg(
                F.countDistinct("z", "x", "y").alias("tiles"),
                F.count("*").alias("feats")).collect()[0]
        run()
        obs = samples.setdefault(steady_key, [])
        for _ in range(2):  # best-of-2: the sandbox host is noisy
            t0 = time.perf_counter()
            row = run()
            obs.append(round(time.perf_counter() - t0, 3))
        counters[steady_key] = min(obs)
        return row.tiles, row.feats

    N_LINE_SRC = max(32, n_events // 400)
    N_POLY_SRC = max(16, n_events // 800)
    # the sink stages run at 4× the relational grids: a sink run is mostly
    # per-run FIXED latency at the small grid (measured decomposition,
    # BENCH/BASELINE.md §sink fixed-cost: scan 0.30 + pack 0.23 + join
    # 0.20 + seam 0.45 + kernel 0.21 s at 1,000 tiles — the kernel is
    # ~15% of wall), and the reference's runs/s amortizes its fixed cost
    # over thousands of repeats; a larger grid is the comparable regime
    N_LINE_SINK_SRC = 4 * N_LINE_SRC
    N_POLY_SINK_SRC = 4 * N_POLY_SRC
    if os.path.isdir(FIXTURES):  # materialize inputs at build time, not in
        # the timed stages (mirrors the pages table's pre-synthesis)
        _fixture_grid_paths("linestrings-properties-16-10498-22872.mvt", N_LINE_SRC)
        _fixture_grid_paths("polygons-properties-16-10498-22872.mvt", N_POLY_SRC)
        _fixture_grid_paths("linestrings-properties-16-10498-22872.mvt", N_POLY_SRC)
        _fixture_grid_paths("linestrings-properties-16-10498-22872.mvt", N_LINE_SINK_SRC)
        _fixture_grid_paths("polygons-properties-16-10498-22872.mvt", N_POLY_SINK_SRC)

    def line_composite_overzoom():
        counters["line_tiles"], counters["line_features_out"] = _run_composite(
            "linestrings-properties-16-10498-22872.mvt", N_LINE_SRC,
            "line_steady_sec")

    def polygon_composite_overzoom():
        counters["poly_tiles"], counters["poly_features_out"] = _run_composite(
            "polygons-properties-16-10498-22872.mvt", N_POLY_SRC,
            "poly_steady_sec")

    # packed relational twins at the sinks' amortized 4× grid: the per-row
    # seam cost grows with FEATURE rows, the packed seam with TILE rows —
    # this pair of stages puts the measured gap (8×+ at this grid) in the
    # artifact next to the per-row numbers
    def line_composite_packed():
        counters["line_packed_tiles"], counters["line_packed_features_out"] = \
            _run_composite("linestrings-properties-16-10498-22872.mvt",
                           N_LINE_SINK_SRC, "line_packed_steady_sec",
                           packed=True)

    def poly_composite_packed():
        counters["poly_packed_tiles"], counters["poly_packed_features_out"] = \
            _run_composite("polygons-properties-16-10498-22872.mvt",
                           N_POLY_SINK_SRC, "poly_packed_steady_sec",
                           packed=True)

    def _run_fused(src_zooms, steady_key, tiles_key, mb_key):
        """composite_encode_tiles at the SAME amortized grid as the sinks,
        so the strategies' ratio is readable from one artifact (the r4
        artifact compared 1× vs 4× grids, which misled). src_zooms=[8] =
        the declared single-zoom fast mode, expected to converge to the
        line sink's number; None = undeclared zooms (winner pass, and
        multi-group targets encoded through encode_tiles) — the A/B."""
        from vtcomposite_spark.operators.composite import composite_encode_tiles
        feats, targets = _fixture_grid_paths(
            "linestrings-properties-16-10498-22872.mvt", N_LINE_SINK_SRC)

        def run():
            return composite_encode_tiles(
                feats, targets, src_zooms=src_zooms).agg(
                F.count("*").alias("tiles"),
                F.sum(F.length("tile")).alias("bytes")).collect()[0]
        run()
        obs = samples.setdefault(steady_key, [])
        for _ in range(4):  # short ~3s runs at the sink grid: same
            # best-of-4 noise resistance as the sink stages (the r5 sf0.1
            # run read 360 vs 1809 tiles/s for IDENTICAL plans on a
            # best-of-2; isolation showed all routes ~equal)
            t0 = time.perf_counter()
            row = run()
            obs.append(round(time.perf_counter() - t0, 3))
        counters[steady_key] = min(obs)
        counters[tiles_key] = row.tiles
        counters[mb_key] = round((row.bytes or 0) / 1e6, 1)

    def line_composite_encode_fused():
        """The closest analog of a reference bench run (whose output IS an
        encoded tile): scan -> composite -> encode with one shuffle + one
        python seam. The source zoom is declared."""
        _run_fused([8], "fused_steady_sec", "fused_tiles", "fused_mb")

    def line_fused_generic():
        """Undeclared zooms at the SAME grid — the mode A/B."""
        _run_fused(None, "fused_generic_steady_sec", "fused_generic_tiles",
                   "fused_generic_mb")

    def _run_sink(fixture_name, n_src, steady_key, mb_key,
                  dz=1, compress=False, partitions=None):
        """Specialized source-grouped fused sink (overzoom_encode_tiles) —
        the closest true analog of a reference bench run: the request names
        its source tile, the output IS an encoded (optionally gzipped)
        tile. Warm + best-of-3 on freshly built plans (one sample more
        than the heavier stages: sink runs are short enough that ambient
        host noise dominates two-sample minima)."""
        from vtcomposite_spark.operators.composite import overzoom_encode_tiles
        feats, targets = _fixture_grid_paths(fixture_name, n_src, dz=dz,
                                             compress=compress)

        def run():
            return overzoom_encode_tiles(
                feats, targets, src_zoom=8, partitions=partitions).agg(
                F.count("*").alias("tiles"),
                F.sum(F.length("tile")).alias("bytes")).collect()[0]
        run()
        obs = samples.setdefault(steady_key, [])
        for _ in range(4):  # best-of-4: ambient host noise is ±2× here and
            t0 = time.perf_counter()  # sink runs are only ~1-4s each
            row = run()
            obs.append(round(time.perf_counter() - t0, 3))
        counters[steady_key] = min(obs)
        counters[mb_key] = round((row.bytes or 0) / 1e6, 1)
        return row.tiles  # may be < requested if a target clips fully empty

    def line_overzoom_sink():
        counters["line_sink_tiles"] = _run_sink(
            "linestrings-properties-16-10498-22872.mvt", N_LINE_SINK_SRC,
            "line_sink_steady_sec", "line_sink_mb")

    def poly_overzoom_sink():
        # polygon overlay groups are compute-heavy (~40 ms each): ~3 tasks
        # per core balances stragglers; line groups are cheap enough that
        # the finer exchange costs more than it saves (measured)
        counters["poly_sink_tiles"] = _run_sink(
            "polygons-properties-16-10498-22872.mvt", N_POLY_SINK_SRC,
            "poly_sink_steady_sec", "poly_sink_mb",
            partitions=3 * cpus_hint)

    def line_overzoom_dz2_sink():
        """Two-zoom-apart overzoom. The reference gets FASTER per run when
        zooms are >1 apart because most features clip away: rules 3→4 on
        identical inputs go 633 → 1,429 runs/s (2.26×, bench/rules.js:
        25-42), SF polygons go 254 → 2,174 (rules 11→17). The envelope
        prune should reproduce that shape here — if dz=2 is NOT faster per
        tile than dz=1, the prune has a gap."""
        counters["dz2_sink_tiles"] = _run_sink(
            "linestrings-properties-16-10498-22872.mvt", N_POLY_SRC,
            "dz2_sink_steady_sec", "dz2_sink_mb", dz=2)

    def line_overzoom_gzip_sink():
        """Compressed-output variant (the reference's --compress bench rules,
        CONTRIBUTING.md:56-61): same clip+encode plus one zlib pass per
        output tile."""
        counters["gzip_sink_tiles"] = _run_sink(
            "linestrings-properties-16-10498-22872.mvt", N_POLY_SRC,
            "gzip_sink_steady_sec", "gzip_sink_mb",
            compress=True)

    def multizoom_sink():
        """Round-4 multi-zoom source-grouped sink: the same line fixture
        replicated at TWO source zooms (z7 under a renamed layer, z8
        plain, distinct tile_idx per zoom — the ingest contract), every
        z9 target drawing winners from both zooms. Exercises the keys-only
        cross-zoom first-wins plan and the multi-group half of the sink
        (clipped rows packed per target and encoded in one call by
        encode_tiles) end-to-end at table scale."""
        from vtcomposite_spark.operators.composite import composite_encode_tiles
        from vtcomposite_spark.sources.tables import read_features, write_features
        feats8, targets = _fixture_grid_paths(
            "linestrings-properties-16-10498-22872.mvt", N_LINE_SRC)
        # ONE src_z-partitioned features table (the 100-TB layout for
        # multi-zoom tilesets): each per-zoom pass prunes to its own
        # zoom's files instead of re-scanning the whole union
        mzpath = f"/tmp/vtc_bench_mz_table_{N_LINE_SRC}"
        if not os.path.isdir(mzpath):
            lo = (feats8.withColumn("src_z", F.lit(7))
                  .withColumn("src_x", F.expr("src_x >> 1").cast("long"))
                  .withColumn("src_y", F.expr("src_y >> 1").cast("long"))
                  .withColumn("tile_idx", F.lit(1))
                  .withColumn("layer", F.concat(F.col("layer"), F.lit("_lo"))))
            write_features(feats8.unionByName(lo), mzpath, mode="overwrite")
        feats = read_features(spark, mzpath).select(*feats8.columns)

        def run():
            return composite_encode_tiles(
                feats, targets, src_zooms=[7, 8]).agg(
                F.count("*").alias("tiles"),
                F.sum(F.length("tile")).alias("bytes")).collect()[0]
        run()
        obs = samples.setdefault("mz_sink_steady_sec", [])
        for _ in range(3):
            t0 = time.perf_counter()
            row = run()
            obs.append(round(time.perf_counter() - t0, 3))
        counters["mz_sink_steady_sec"] = min(obs)
        counters["mz_sink_tiles"] = row.tiles
        counters["mz_sink_mb"] = round((row.bytes or 0) / 1e6, 1)

    def encode_sink():
        """S3 sink throughput. The composite input is persisted+materialized
        first, so the reported encode_sec counter times the sink alone;
        the stage wall time additionally includes that preparation."""
        from vtcomposite_spark.operators.composite import composite, encode_tiles
        feats, targets = _fixture_grid_paths(
            "linestrings-properties-16-10498-22872.mvt", N_POLY_SRC)
        df = composite(feats, targets).withColumn("compress", F.lit(False)).persist()
        df.count()
        obs = samples.setdefault("encode_sec", [])
        agg = None
        for _ in range(2):
            t0 = time.perf_counter()
            agg = encode_tiles(df).agg(
                F.count("*").alias("n"),
                F.sum(F.length("tile")).alias("bytes")).collect()[0]
            obs.append(round(time.perf_counter() - t0, 3))
        counters["encode_sec"] = min(obs)
        counters["encoded_tiles"] = agg.n
        counters["encoded_mb"] = round((agg.bytes or 0) / 1e6, 1)
        df.unpersist()

    def localize_props():
        feats = docs.select(
            "doc_id",
            F.create_map(
                F.lit("name"), F.col("source"),
                F.lit("name_en"), F.upper(F.col("source")),
                F.lit("_mbx_name_de"), F.lower(F.col("source")),
                F.lit("_mbx_worldview"),
                F.when(F.col("doc_id") % 3 == 0, "US,CN").otherwise("all"),
                F.lit("class"), F.col("lang")).alias("properties"))
        out = localize(feats, languages=["en", "de"], worldviews=["US"])
        counters["localized"] = out.count()

    def knn_grid():
        tagged, lat, lon = geo_cols("event_id")
        pts = events.filter(tagged).select("event_id", lat.alias("lat"), lon.alias("lon"))
        sites = nation.select(
            F.col("n_nationkey").alias("site_id"),
            (((F.col("n_nationkey") * 7) % 160) - 80 + 0.5).cast("double").alias("lat"),
            (((F.col("n_nationkey") * 29) % 360) - 180 + 0.5).cast("double").alias("lon"))
        out = knn_join(pts, sites, k=3, point_id_col="event_id", zoom=3)
        counters["knn_rows"] = out.count()

    def pip_join_stage():
        from vtcomposite_spark.operators.joins import pip_join
        tagged, lat, lon = geo_cols("event_id")
        pts = events.filter(tagged).select("event_id", lat.alias("lat"), lon.alias("lon"))
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        polys = region.select(
            F.col("r_regionkey").alias("poly_id"),
            F.array(*[(F.col("r_regionkey") * 60 - 170 + d).cast("double")
                      for d in (0.005, 50.005, 50.005, 0.005, 0.005)]).alias("xs"),
            F.array(*[(F.col("r_regionkey") * 25 - 65 + d).cast("double")
                      for d in (0.005, 0.005, 20.005, 20.005, 0.005)]).alias("ys"),
            F.array(F.lit(0)).alias("part_offsets"))
        out = pip_join(pts, polys, zoom=3, point_cols=["event_id"])
        counters["pip_matches"] = out.count()

    def dedupe_minhash():
        counters["lsh_pairs"] = D.minhash_candidate_pairs(docs, k=8, bands=4).count()

    def text_quality():
        out = docs.select(
            TX.token_count_col(F.col("text")).alias("t"),
            TX.quality_score_col(F.col("text")).alias("q"),
            TX.lang_guess_col(F.col("text")).alias("l"))
        counters["text_rows"] = out.filter(F.col("q") >= 0).count()

    def ann_topk():
        q = emb.filter(F.col("vec_id") < 50)
        counters["ann_rows"] = SIM.ann_topk_brute(q, emb, k=10).count()

    def bm25():
        from vtcomposite_spark.operators import retrieval as R
        qdf = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.concat_ws(" ", F.slice(TX.tokens_col(F.col("text")), 1, 3))
            .alias("query"))
        counters["bm25_rows"] = R.bm25_topk(docs, qdf, k=5).count()

    def pagerank_stage():
        from vtcomposite_spark.operators import graph as GG
        edges = GG.doc_link_edges(docs, out_degree=3, mod=256)
        counters["pagerank_nodes"] = GG.pagerank(edges, iters=3).count()

    def semdedup_stage():
        counters["semdedup_kept"] = (
            SIM.semdedup(emb, threshold=0.25, n_centroids=8)
            .filter(F.col("kept")).count())

    def cell_rollup():
        tagged, lat, lon = geo_cols("event_id")
        pts = events.filter(tagged).select("event_id", lat.alias("lat"), lon.alias("lon"))
        counters["rollup_rows"] = rollup_counts(encode_cells(pts, 12), 12, 2).count()

    stages = {
        "pages_geocode": pages_geocode,
        "pages_extract_text": pages_extract_text,
        "tile_composite_overzoom": tile_composite_overzoom,
        "line_composite_overzoom": line_composite_overzoom,
        "polygon_composite_overzoom": polygon_composite_overzoom,
        "line_composite_packed": line_composite_packed,
        "poly_composite_packed": poly_composite_packed,
        "line_composite_encode_fused": line_composite_encode_fused,
        "line_fused_generic": line_fused_generic,
        "line_overzoom_sink": line_overzoom_sink,
        "poly_overzoom_sink": poly_overzoom_sink,
        "line_overzoom_dz2_sink": line_overzoom_dz2_sink,
        "line_overzoom_gzip_sink": line_overzoom_gzip_sink,
        "multizoom_sink": multizoom_sink,
        "encode_sink": encode_sink,
        "localize_props": localize_props,
        "knn_grid": knn_grid,
        "pip_join": pip_join_stage,
        "dedupe_minhash": dedupe_minhash,
        "text_quality": text_quality,
        "ann_topk": ann_topk,
        "bm25": bm25,
        "pagerank": pagerank_stage,
        "semdedup": semdedup_stage,
        "cell_rollup": cell_rollup,
    }
    if not os.path.isdir(FIXTURES):  # reference fixtures absent: skip those
        for k in ("line_composite_overzoom", "polygon_composite_overzoom",
                  "line_composite_packed", "poly_composite_packed",
                  "line_composite_encode_fused", "line_fused_generic",
                  "line_overzoom_sink",
                  "poly_overzoom_sink", "line_overzoom_dz2_sink",
                  "line_overzoom_gzip_sink", "multizoom_sink",
                  "encode_sink"):
            stages.pop(k)
    return stages, counters, samples


def _calibration_stamp() -> dict:
    """Same-process hardware snapshot so a BENCH artifact is interpretable
    WITHOUT re-running: a degraded host window (the BENCH_r03 lesson — its
    numbers read as a 2× regression that three same-code re-runs could not
    reproduce) shows up as an inflated calibration, not as a silent
    engine slowdown. Two single-core micro-benchmarks (ALU loop and a
    memory-bandwidth-bound numpy pass, the scaling_bench.py pair) plus an
    8-way parallel bandwidth probe and the kernel load averages."""
    import multiprocessing as mp

    import numpy as np

    def alu_once() -> float:
        t0 = time.perf_counter()
        s = 0
        for i in range(4_000_000):
            s += i * i
        return time.perf_counter() - t0

    a = np.random.default_rng(1).integers(0, 255, 20_000_000, dtype=np.uint8)

    def mem_once() -> float:
        t0 = time.perf_counter()
        s = 0
        for _ in range(4):
            s += int(a.copy()[::4096].sum())
        return time.perf_counter() - t0

    stamp = {
        "alu_1core_sec": round(min(alu_once() for _ in range(3)), 3),
        "mem_1core_sec": round(min(mem_once() for _ in range(3)), 3),
    }
    try:
        from tools.scaling_bench import _membound
        t0 = time.perf_counter()
        with mp.Pool(8) as p:
            p.map(_membound, range(8))
        stamp["mem_8core_sec"] = round(time.perf_counter() - t0, 3)
    except Exception:
        pass
    try:
        stamp["loadavg"] = [float(v) for v in
                            open("/proc/loadavg").read().split()[:3]]
    except OSError:
        pass
    return stamp


def run(sf_dir=None, cpus=None, quiet=False):
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from vtcomposite_spark.schema import get_spark
    spark = get_spark(app=f"bench-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8),
                      # keep AQE's partition coalescing from shrinking the
                      # (CPU-bound) Arrow-kernel stages below one task/core —
                      # a small-scale artifact: at 100-TB partition sizes the
                      # coalescer never goes this low
                      extra_conf={"spark.sql.adaptive.coalescePartitions"
                                  ".minPartitionNum": str(cpus)})
    spark.sparkContext.setLogLevel("ERROR")
    calib_before = _calibration_stamp()
    stages, counters, samples = build_workload(spark, sf_dir)

    # geometry stages warm + best-of-2 internally (steady counters); the
    # light stages run twice and report the min — this sandbox host shows
    # ±50% noise blips between runs (one stage measured 1.5s and 61.8s)
    internal_steady = {"line_composite_overzoom", "polygon_composite_overzoom",
                       "line_composite_packed", "poly_composite_packed",
                       "line_composite_encode_fused", "line_fused_generic",
                       "line_overzoom_sink",
                       "poly_overzoom_sink", "line_overzoom_dz2_sink",
                       "line_overzoom_gzip_sink", "multizoom_sink",
                       "encode_sink"}
    times: dict[str, float] = {}
    t_all = time.perf_counter()
    for name, fn in stages.items():
        t0 = time.perf_counter()
        fn()
        times[name] = round(time.perf_counter() - t0, 3)
        samples.setdefault(name, []).append(times[name])
        if name not in internal_steady:
            t0 = time.perf_counter()
            fn()
            second = round(time.perf_counter() - t0, 3)
            samples[name].append(second)
            times[name] = min(times[name], second)
    total = round(time.perf_counter() - t_all, 3)
    calib_after = _calibration_stamp()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline pipeline wall seconds (pages geocode → composite → localize → joins → dedupe → ann)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        # full counters + per-stage samples + hardware calibration live in
        # the sidecar (see "detail" below): the r4 artifact proved that one
        # stdout line carrying everything outgrows the driver's tail-capture
        # window and the gate records parsed:null
        "detail": "BENCH/last_run.json",
        "tiles_per_sec": round(counters.get("tiles_composited", 0)
                               / max(times.get("tile_composite_overzoom", 1e-9), 1e-9), 1),
        "pages_per_sec": round(counters.get("pages_geocoded", 0)
                               / max(times.get("pages_geocode", 1e-9), 1e-9), 1),
        "extract_pages_per_sec": round(
            counters.get("pages_extracted", 0)
            / max(times.get("pages_extract_text", 1e-9), 1e-9), 1),
        # per-tile work ≈ one reference bench run (rules 10/11); compare to
        # BASELINE.md rows 10 (1163 runs/s) and 11 (254 runs/s). Steady-state
        # (2nd run in-session) — the reference's runs/s also amortizes over
        # thousands of repeats.
        "line_tiles_per_sec": round(counters.get("line_tiles", 0)
                                    / max(counters.get("line_steady_sec", 1e-9), 1e-9), 1),
        "poly_tiles_per_sec": round(counters.get("poly_tiles", 0)
                                    / max(counters.get("poly_steady_sec", 1e-9), 1e-9), 1),
        # packed relational twins (composite_packed, declared zoom),
        # at the sinks' amortized grid — relational ROWS out, compare to
        # BASELINE.md rows 10/11 like the sinks
        "line_packed_tiles_per_sec": round(
            counters.get("line_packed_tiles", 0)
            / max(counters.get("line_packed_steady_sec", 1e-9), 1e-9), 1),
        "poly_packed_tiles_per_sec": round(
            counters.get("poly_packed_tiles", 0)
            / max(counters.get("poly_packed_steady_sec", 1e-9), 1e-9), 1),
        "encode_tiles_per_sec": round(counters.get("encoded_tiles", 0)
                                      / max(counters.get("encode_sec", 1e-9), 1e-9), 1),
        "fused_tiles_per_sec": round(counters.get("fused_tiles", 0)
                                     / max(counters.get("fused_steady_sec", 1e-9), 1e-9), 1),
        "fused_generic_tiles_per_sec": round(
            counters.get("fused_generic_tiles", 0)
            / max(counters.get("fused_generic_steady_sec", 1e-9), 1e-9), 1),
        # specialized source-grouped sink (overzoom_encode_tiles) — the
        # true analog of a reference run; compare line/poly to BASELINE.md
        # rows 10/11, dz2 to row 15, gzip to the --compress rules
        "line_sink_tiles_per_sec": round(counters.get("line_sink_tiles", 0)
                                         / max(counters.get("line_sink_steady_sec", 1e-9), 1e-9), 1),
        "poly_sink_tiles_per_sec": round(counters.get("poly_sink_tiles", 0)
                                         / max(counters.get("poly_sink_steady_sec", 1e-9), 1e-9), 1),
        "dz2_sink_tiles_per_sec": round(counters.get("dz2_sink_tiles", 0)
                                        / max(counters.get("dz2_sink_steady_sec", 1e-9), 1e-9), 1),
        "gzip_sink_tiles_per_sec": round(counters.get("gzip_sink_tiles", 0)
                                         / max(counters.get("gzip_sink_steady_sec", 1e-9), 1e-9), 1),
        "mz_sink_tiles_per_sec": round(counters.get("mz_sink_tiles", 0)
                                       / max(counters.get("mz_sink_steady_sec", 1e-9), 1e-9), 1),
    }
    spark.stop()
    # Sidecar carries the noise evidence (VERDICT r3 item 1a, kept per r4
    # item 1): every measured wall sample per stage plus the before/after
    # hardware calibration stamps — a reader can see the spread and detect a
    # degraded host window without re-running. The stdout headline stays
    # compact so the driver's tail capture can always parse it.
    detail = dict(result)
    detail["counters"] = counters
    detail["samples"] = samples
    detail["calibration"] = {"before": calib_before, "after": calib_after}
    try:
        sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH", "last_run.json")
        os.makedirs(os.path.dirname(sidecar), exist_ok=True)
        with open(sidecar, "w") as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    except OSError as e:  # a read-only checkout must not fail the bench
        print(f"bench: could not write sidecar: {e}", file=sys.stderr)
    if not quiet:
        print(json.dumps(result))
    return detail


if __name__ == "__main__":
    run()
