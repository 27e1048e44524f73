"""Table IO: parquet twin is fully real; the Iceberg branch fails with a
clear actionable error in this runtime-less sandbox (the declared seam)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from vtcomposite_spark.sources import tables
from vtcomposite_spark.sources.pages import synthesize_pages


def test_parquet_roundtrip_and_z_partition_pruning(spark):
    src = tempfile.mkdtemp(prefix="vtc_tbl_pages_")
    out = tempfile.mkdtemp(prefix="vtc_tbl_tiles_")
    try:
        synthesize_pages(spark, 100, partitions=2).write \
            .mode("overwrite").parquet(src)
        pages = tables.read_pages(spark, src)
        assert pages.count() == 100
        assert set(pages.columns) >= {"url", "warc_ts", "html", "text", "lang"}

        tiles = spark.createDataFrame(
            [(z, x, x, bytes([z, x])) for z in (3, 4) for x in range(4)],
            "z int, x long, y long, tile binary")
        shutil.rmtree(out)
        tables.write_tiles(tiles, out, mode="overwrite")
        back = spark.read.parquet(out)
        assert back.count() == 8
        # partitioned by z: a z-filter prunes to the z=4 directory
        plan = back.filter(F.col("z") == 4)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "PartitionFilters" in plan and back.filter(
            F.col("z") == 4).count() == 4
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_iceberg_seam_reports_missing_runtime(spark):
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        tables.read_pages(spark, "catalog.db.pages")  # table name => iceberg
    tiles = spark.createDataFrame([(1, 0, 0, b"x")],
                                  "z int, x long, y long, tile binary")
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        tables.write_tiles(tiles, "catalog.db.tiles")


def test_auto_routes_plain_paths_to_parquet(spark, tmp_path):
    """fmt='auto' must NOT send slash-free parquet paths to Iceberg: a bare
    relative directory, a dotted filename, and an existing dotted path all
    route to parquet; only non-existent dotted catalog identifiers do not."""
    assert not tables._looks_like_iceberg("tiles_out")       # no dot
    assert not tables._looks_like_iceberg("data.parquet")    # file extension
    assert not tables._looks_like_iceberg("out/tiles")       # path separator
    assert not tables._looks_like_iceberg("s3://bucket/t")   # URI
    assert tables._looks_like_iceberg("catalog.db.tiles")
    assert tables._looks_like_iceberg("db.tiles")
    # an existing directory wins over the dotted-name heuristic
    d = tmp_path / "cat.alog"
    d.mkdir()
    import os
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        assert not tables._looks_like_iceberg("cat.alog")
    finally:
        os.chdir(cwd)
    # end-to-end: bare relative dir writes parquet instead of raising
    tiles = spark.createDataFrame([(1, 0, 0, b"x")],
                                  "z int, x long, y long, tile binary")
    out = str(tmp_path / "rel_tiles_out")
    tables.write_tiles(tiles, out, mode="overwrite")
    assert tables.read_pages(spark, out).count() == 1


def test_scaling_bench_template_matches_curated_baseline_md():
    """tools/scaling_bench.py REGENERATES BENCH/BASELINE.md; the curated
    comparison/seam-floor/noise sections must exist verbatim in the
    template or a regeneration silently reverts them."""
    md = open("BENCH/BASELINE.md").read()
    sb = open("tools/scaling_bench.py").read()
    marker = "## Comparison to the reference's published throughput"
    tail = md[md.index(marker):].rstrip()
    assert tail in sb


def test_auto_routing_ambiguity_warns(spark, tmp_path):
    """Round-5: ambiguous fmt='auto' routings are LOUD. A dotted identifier
    shadowed by a same-named local directory still routes to the path but
    warns; a bare single-segment read of a non-existent path warns that an
    Iceberg table needs fmt='iceberg'; a bare WRITE to a fresh directory
    (the normal create case) stays quiet."""
    import os
    import warnings

    import pytest

    d = tmp_path / "amb.cat"
    d.mkdir()
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        with pytest.warns(UserWarning, match="same-named local path"):
            assert not tables._looks_like_iceberg("amb.cat")
        with pytest.warns(UserWarning, match="fmt='iceberg'"):
            assert not tables._looks_like_iceberg("no_such_table",
                                                  reading=True)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            assert not tables._looks_like_iceberg("fresh_out_dir")
    finally:
        os.chdir(cwd)


def test_features_table_prunes_on_src_z(spark, fixture_bytes, tmp_path):
    """Round-5: the src_z-partitioned features table makes each per-zoom
    pass of the multi-zoom composite prune to its own zoom's files, and a
    composite over the re-read table stays byte-identical to one over the
    in-memory features."""
    import shutil

    from vtcomposite_spark.operators import composite as C
    from vtcomposite_spark.sources import ingest

    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    feats = ingest.features_from_tiles(
        spark, [(lbuf, 4, 2, 3), (lbuf, 5, 4, 6)])
    out = str(tmp_path / "feature_table")
    tables.write_features(feats, out, mode="overwrite")
    back = tables.read_features(spark, out)
    plan = back.filter(F.col("src_z") == 5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters" in plan
    assert back.count() == feats.count()
    targets = spark.createDataFrame(
        [(6, 8, 12, 128, None, False), (5, 4, 6, 0, None, True)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    want = {(r.z, r.x, r.y): bytes(r.tile)
            for r in C.composite_encode_tiles(
                feats, targets, src_zooms=[4, 5]).collect()}
    got = {(r.z, r.x, r.y): bytes(r.tile)
           for r in C.composite_encode_tiles(
               back.select(*feats.columns), targets,
               src_zooms=[4, 5]).collect()}
    assert got == want and want
    shutil.rmtree(out, ignore_errors=True)


def test_zordered_sink_prunes_spatial_ranges(spark, tmp_path):
    """Z-order-clustered tile sink: (1) range read == brute filter,
    row-exact; (2) the zkey BETWEEN predicate reaches the parquet scan
    (PushedFilters); (3) the layout actually prunes — per-FILE zkey
    min/max stats are disjoint enough that the queried subtree touches
    a strict subset of files."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vtcomposite_spark import tilemath as TM
    from vtcomposite_spark.sources.tables import (read_tiles_zrange,
                                                  write_tiles_zordered)

    z = 6
    rows = [(z, x, y, f"t{x}_{y}") for x in range(1 << z)
            for y in range(1 << z)]
    df = spark.createDataFrame(rows, "z int, x long, y long, tile string")
    path = str(tmp_path / "ztiles")
    write_tiles_zordered(df, path, partitions=8)

    got = {(r.x, r.y) for r in
           read_tiles_zrange(spark, path, 2, 1, 2, z).collect()}
    want = {(x, y) for _, x, y, _ in rows
            if x >> (z - 2) == 1 and y >> (z - 2) == 2}
    assert got == want and len(got) == 256

    plan = read_tiles_zrange(spark, path, 2, 1, 2, z) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "zkey" in plan

    lo, hi = TM.tile_zrange(2, 1, 2, z)
    files = sorted(glob.glob(f"{path}/*.parquet"))
    assert len(files) >= 4
    touching = 0
    for f in files:
        md = pq.read_metadata(f)
        stats = [md.row_group(i).column(
            md.schema.to_arrow_schema().get_field_index("zkey"))
            .statistics for i in range(md.num_row_groups)]
        fmin = min(s.min for s in stats)
        fmax = max(s.max for s in stats)
        if fmin <= hi and fmax >= lo:
            touching += 1
    assert 1 <= touching < len(files)
