"""Cell index: geotagged rows → Web-Mercator quadtree cells (F11).

The H3/S2-style stand-in of BASELINE.json's north rule: a packed z/x/y cell
id (``tilemath.pack_cell``), computed entirely JVM-side as column
expressions — tile assignment never crosses into Python, so Catalyst keeps
it inside whole-stage codegen and can prune/push down around it.

The lon/lat→tile formula matches the reference's own test helper
(test/vtcomposite-points.test.js:11-17) and TUTORIAL.md:87-113.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import tilemath as tm


def _ident(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def encode_cells(df: DataFrame, zoom: int,
                 lat_col: str = "lat", lon_col: str = "lon",
                 out_col: str = "cell") -> DataFrame:
    """Add packed cell id + tile_x/tile_y at ``zoom``; null-geo rows get null."""
    if not 0 <= zoom <= tm.MAX_CELL_ZOOM:
        raise ValueError(
            f"encode_cells: zoom must be in [0, {tm.MAX_CELL_ZOOM}] "
            "(cell ids pack x/y into 29-bit fields)")
    lat, lon = _ident(lat_col), _ident(lon_col)
    tx, ty = tm.tile_xy_sql(lon, lat, zoom)
    cell = (f"CASE WHEN {lat} IS NOT NULL AND {lon} IS NOT NULL "
            f"THEN {tm.pack_cell_sql(zoom, 'tile_x', 'tile_y')} END")
    return (df.withColumns({"tile_x": F.expr(tx), "tile_y": F.expr(ty)})
            .withColumn(out_col, F.expr(cell)))


def tile_pixels(df: DataFrame, zoom: int, extent: int = 4096,
                lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Add tile-local integer pixel coords (px, py) at ``zoom`` — the MVT
    quantization step, as column math."""
    fx, fy = tm.tile_frac_sql(_ident(lon_col), _ident(lat_col), zoom)
    return df.withColumns({
        c: F.expr(f"CAST(round(({f} - floor({f})) * {extent}) AS BIGINT)")
        for c, f in (("px", fx), ("py", fy))})


def rollup_counts(df: DataFrame, from_zoom: int, to_zoom: int,
                  cell_col: str = "cell") -> DataFrame:
    """Hypertable-style rollup: per-cell counts at every zoom in
    [to_zoom, from_zoom], produced from the finest level by repeated
    parent halving — one aggregation per level over the (already tiny)
    previous level, not over the input."""
    cur = df.filter(F.col(cell_col).isNotNull()) \
        .groupBy(cell_col).agg(F.count("*").alias("n")) \
        .withColumn("zoom", F.lit(from_zoom))
    out = cur
    for z in range(from_zoom - 1, to_zoom - 1, -1):
        zc, xc, yc = tm.unpack_cell_cols(F.col(cell_col))
        cur = (
            cur.select(
                tm.pack_cell_col(F.lit(z), F.call_function("shiftright", xc, zc - F.lit(z)),
                                 F.call_function("shiftright", yc, zc - F.lit(z))).alias(cell_col),
                F.col("n"))
            .groupBy(cell_col).agg(F.sum("n").alias("n"))
            .withColumn("zoom", F.lit(z))
        )
        out = out.unionByName(cur)
    return out
