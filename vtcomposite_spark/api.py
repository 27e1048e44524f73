"""Drop-in style request API — the reference's two exported functions
(lib/index.js:3-4) with the same call shapes, returning tile buffers.

``composite(tiles, zxy, options)`` / ``localize(params)`` validate exactly
like the reference (validate.py), then run the DataFrame operators on a
(provided or ambient) SparkSession and serialize back to one MVT buffer.

This is the compatibility surface; the DataFrame operators
(operators.composite / operators.localize) are the engine — use those
directly for table-scale work. A single-tile request through Spark pays
session overhead the reference doesn't have; this API exists for parity
and for tests, not throughput. (Throughput parity is measured table-at-
a-time, BENCH/BASELINE.md.)
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import validate as V
from .operators import composite as C
from .operators import localize as L
from .schema import get_spark
from .sources import ingest, mvt


def _session(spark: SparkSession | None) -> SparkSession:
    return spark or get_spark(master="local[4]", shuffle_partitions=4)


def composite(tiles: list[dict], zxy: dict, options: dict | None = None,
              spark: SparkSession | None = None) -> bytes:
    """tiles: [{'buffer': bytes, 'z': int, 'x': int, 'y': int,
    'layers': [str, ...]?}, ...]; zxy: {'z','x','y'};
    options: {'buffer_size': int, 'compress': bool}.

    Raises ValueError with the reference's exact messages on bad params and
    CompositeRequestError on ancestry violations
    (src/vtcomposite.cpp:283-291).
    """
    V.validate_composite_request(tiles, zxy, options)
    options = options or {}
    C.validate_request([(t["z"], t["x"], t["y"]) for t in tiles],
                       zxy["z"], zxy["x"], zxy["y"])
    spark = _session(spark)

    feats = ingest.features_from_tiles(
        spark, [(bytes(t["buffer"]), t["z"], t["x"], t["y"]) for t in tiles])
    # per-tile keep-lists (reference: TileObject.layers) — drop rows from
    # tiles whose keep-list excludes the layer, BEFORE first-wins
    keep_lists = {i: t.get("layers") for i, t in enumerate(tiles) if t.get("layers")}
    if keep_lists:
        cond = None
        for i, layers in keep_lists.items():
            c = (F.col("tile_idx") == i) & ~F.col("layer").isin(layers)
            cond = c if cond is None else (cond | c)
        feats = feats.filter(~cond)

    targets = ingest.targets_df(spark, [{
        "z": zxy["z"], "x": zxy["x"], "y": zxy["y"],
        "buffer_size": options.get("buffer_size", 0),
        "compress": options.get("compress", False),
    }])
    # the fused clip+encode path crosses the python seam once
    # (byte-parity-tested vs the per-row reference). The request names its
    # source zooms, so declare them: a single-zoom request takes the fast
    # mode (no winner pass)
    tiles_out = C.composite_encode_tiles(
        feats, targets, src_zooms=sorted({t["z"] for t in tiles})).collect()
    if not tiles_out:
        return mvt.gzip_sink(b"", options.get("compress", False))
    return bytes(tiles_out[0].tile)


def localize(params: dict, spark: SparkSession | None = None) -> bytes:
    """params mirrors the reference exactly (src/vtcomposite.cpp:1074-1331):
    buffer (required), hidden_prefix, languages, language_property,
    worldviews, worldview_property, worldview_default, class_property,
    omit_scripts, compress."""
    V.validate_localize_request(params)
    spark = _session(spark)

    feats = ingest.features_from_tiles(spark, [(bytes(params["buffer"]), 0, 0, 0)])
    kwargs = {}
    for k in ("languages", "language_property", "worldviews",
              "worldview_property", "worldview_default", "class_property",
              "hidden_prefix", "omit_scripts"):
        if k in params:
            kwargs[k] = params[k]
    out = L.localize(feats, **kwargs)
    rows = (out.withColumn("z", F.lit(0)).withColumn("x", F.lit(0).cast("long"))
            .withColumn("y", F.lit(0).cast("long"))
            .withColumn("compress", F.lit(bool(params.get("compress", False)))))
    tiles_out = C.encode_tiles(rows).collect()
    if not tiles_out:
        return mvt.gzip_sink(b"", params.get("compress", False))
    return bytes(tiles_out[0].tile)
