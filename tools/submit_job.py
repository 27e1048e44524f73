"""spark-submit entry point for the engine's headline jobs.

The north rule's run shape: the library ships to executors via
``--py-files`` (see tools/package_pyfiles.py) and this script is the
application — no master is hard-coded, so the SAME invocation runs on
local[N], YARN, or Kubernetes; only ``--master``/deploy-mode on the
spark-submit line changes between the two cluster sizes of the scaling
criterion:

    spark-submit --master <cluster> --py-files dist/vtcomposite_spark.zip \
        tools/submit_job.py geocode --pages <pages table> --out <dir>

Jobs (each one of the engine's benched pipelines):

* ``geocode``      pages → geotag extraction → cell index → per-cell
                   rollup counts, written as parquet. ``--pages`` reads an
                   Iceberg table or parquet path via the table adapter;
                   ``--synthesize N`` generates the deterministic pages
                   table instead (smoke runs, no input data needed).
* ``materialize``  feature table → ``composite_encode_tiles`` (declared
                   source zoom, the fast mode) over the full descendant grid
                   at ``--target-zoom`` → z-partitioned (z, x, y, tile)
                   parquet via the table adapter.
* ``relational``   same input/grid through ``composite_packed`` —
                   relational feature rows out instead of encoded tiles.
"""

from __future__ import annotations

import argparse


def _targets_for(spark, feats, src_zoom: int, target_zoom: int,
                 buffer_size: int, compress: bool):
    from pyspark.sql import functions as F

    dz = target_zoom - src_zoom
    if dz < 0:
        raise SystemExit("--target-zoom must be >= --src-zoom")
    k = 1 << dz
    srcs = (feats.filter(F.col("src_z") == src_zoom)
            .select("src_x", "src_y").distinct())
    quad = spark.range(k * k).select(
        (F.col("id") % k).alias("dx"),
        (F.col("id") / k).cast("long").alias("dy"))
    return srcs.crossJoin(quad).select(
        F.lit(target_zoom).alias("z"),
        (F.col("src_x") * k + F.col("dx")).cast("long").alias("x"),
        (F.col("src_y") * k + F.col("dy")).cast("long").alias("y"),
        F.lit(buffer_size).alias("buffer_size"),
        F.lit(None).cast("array<string>").alias("keep_layers"),
        F.lit(compress).alias("compress"))


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="job", required=True)

    g = sub.add_parser("geocode")
    g.add_argument("--pages", help="Iceberg table or parquet path of pages")
    g.add_argument("--synthesize", type=int, default=0,
                   help="generate N deterministic pages instead of reading")
    g.add_argument("--zoom", type=int, default=10)
    g.add_argument("--out", required=True)
    g.add_argument("--shuffle-partitions", type=int, default=None)

    for name in ("materialize", "relational"):
        m = sub.add_parser(name)
        m.add_argument("--features", required=True,
                       help="features table/path (read_features)")
        m.add_argument("--src-zoom", type=int, required=True)
        m.add_argument("--target-zoom", type=int, required=True)
        m.add_argument("--buffer-size", type=int, default=128)
        m.add_argument("--compress", action="store_true")
        m.add_argument("--out", required=True)
        m.add_argument("--shuffle-partitions", type=int, default=None)

    args = p.parse_args(argv)

    # imported AFTER spark-submit has placed the --py-files zip on the path
    from vtcomposite_spark.schema import get_spark

    # pass the knob as get_spark's OWN kwarg: extra_conf is applied before
    # get_spark's hard-coded shuffle-partitions config, which would
    # silently overwrite it (builder options are last-write-wins)
    kw = {}
    if args.shuffle_partitions is not None:
        kw["shuffle_partitions"] = args.shuffle_partitions
    # no master here: spark-submit owns it (local[N] / YARN / k8s)
    spark = get_spark(app=f"vtcomposite-{args.job}", master=None, **kw)

    if args.job == "geocode":
        from pyspark.sql import functions as F

        from vtcomposite_spark.operators.cells import (encode_cells,
                                                       rollup_counts)
        from vtcomposite_spark.sources.pages import (extract_geotags,
                                                     synthesize_pages)
        if args.synthesize:
            pages = synthesize_pages(spark, args.synthesize)
        elif args.pages:
            from vtcomposite_spark.sources.tables import read_pages
            pages = read_pages(spark, args.pages)
        else:
            raise SystemExit("geocode needs --pages or --synthesize N")
        geo = extract_geotags(pages).filter(F.col("lat").isNotNull())
        out = rollup_counts(encode_cells(geo, args.zoom), args.zoom, 2)
        out.write.mode("overwrite").parquet(args.out)
    else:
        from vtcomposite_spark.sources.tables import read_features
        feats = read_features(spark, args.features)
        targets = _targets_for(spark, feats, args.src_zoom,
                               args.target_zoom, args.buffer_size,
                               args.compress)
        if args.job == "materialize":
            from vtcomposite_spark.operators.composite import \
                composite_encode_tiles
            from vtcomposite_spark.sources.tables import write_tiles
            tiles = composite_encode_tiles(feats, targets,
                                           src_zooms=[args.src_zoom])
            write_tiles(tiles, args.out, mode="overwrite")
        else:
            from vtcomposite_spark.operators.composite import composite_packed
            rows = composite_packed(feats, targets,
                                    src_zooms=[args.src_zoom])
            rows.write.mode("overwrite").parquet(args.out)
    spark.stop()


if __name__ == "__main__":
    main()
