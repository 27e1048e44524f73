"""Web-Mercator tile math — pure numpy + Spark Column expressions.

From-scratch re-expression of the reference's zxy math:

* ``within_target`` — tile-ancestry predicate
  (reference: src/zxy_math.hpp:8-17).
* ``displacement``  — origin offset of a target tile inside its overzoomed
  ancestor, in scaled coordinates (reference: src/zxy_math.hpp:19-40).
  We use the closed form ``dx = (x mod 2^dz) * extent`` of the reference's
  bit-walk loop.
* ``lon/lat → tile`` — Web-Mercator forward projection, identical formula to
  the reference's test helper (test/vtcomposite-points.test.js:11-17) and
  TUTORIAL.md:87-113.
* cell ids — packed z/x/y quadtree key (H3/S2-style stand-in; pure integer
  math so it is reproducible in any engine).

Everything exists twice: a numpy form (used inside Arrow kernels and unit
tests) and a Spark form — SQL text or a Column expression — used in
DataFrame plans so Catalyst can push down / codegen (tile assignment never
crosses into Python). The lon/lat → tile math is SQL text only
(``tile_frac_sql`` / ``tile_xy_sql``): the DuckDB oracles parse the same
text, and building a plan from it takes one Python-to-JVM round trip per
expression instead of several per Column operator.
"""

from __future__ import annotations

import math

import numpy as np

try:  # Column-expression variants need pyspark; numpy variants do not.
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    _HAVE_SPARK = True
except ImportError:  # pragma: no cover
    _HAVE_SPARK = False

MAX_ZOOM = 30
# cell ids pack x/y into 29-bit fields; z=30 coords would silently corrupt
# the z and x fields, so cells cap one zoom below tile math's MAX_ZOOM
MAX_CELL_ZOOM = 29


# ---------------------------------------------------------------------------
# numpy forms
# ---------------------------------------------------------------------------

def lon_to_tilex(lon, zoom):
    """Fractional tile x at ``zoom`` (test/vtcomposite-points.test.js:11-13)."""
    return (np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * (1 << zoom)


def lat_to_tiley(lat, zoom):
    """Fractional tile y at ``zoom`` (test/vtcomposite-points.test.js:15-17)."""
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    return (1.0 - np.log(np.tan(phi) + 1.0 / np.cos(phi)) / math.pi) / 2.0 * (1 << zoom)


def lonlat_to_tile(lon, lat, zoom):
    """Integer (x, y) tile containing each lon/lat at ``zoom``."""
    n = 1 << zoom
    tx = np.clip(np.floor(lon_to_tilex(lon, zoom)).astype(np.int64), 0, n - 1)
    ty = np.clip(np.floor(lat_to_tiley(lat, zoom)).astype(np.int64), 0, n - 1)
    return tx, ty


def within_target(src_z, src_x, src_y, z, x, y):
    """Ancestry predicate (reference src/zxy_math.hpp:8-17).

    True iff the source tile is the target tile or one of its ancestors.
    """
    src_z = np.asarray(src_z, dtype=np.int64)
    src_x = np.asarray(src_x, dtype=np.int64)
    src_y = np.asarray(src_y, dtype=np.int64)
    dz = np.maximum(np.int64(z) - src_z, 0)
    ok_z = src_z <= z
    return ok_z & ((np.int64(x) >> dz) == src_x) & ((np.int64(y) >> dz) == src_y)


def displacement(src_z, extent, z, x, y):
    """Closed form of reference src/zxy_math.hpp:19-40 bit-walk.

    dx = (x mod 2^dz) * extent ; dy = (y mod 2^dz) * extent.
    """
    dz = np.int64(z) - np.asarray(src_z, dtype=np.int64)
    mask = (np.int64(1) << dz) - 1
    dx = (np.asarray(x, dtype=np.int64) & mask) * np.int64(extent)
    dy = (np.asarray(y, dtype=np.int64) & mask) * np.int64(extent)
    return dx, dy


def pack_cell(z, x, y):
    """Pack (z, x, y) into one int64 quadkey-style cell id.

    Layout: cell = (z << 58) | (x << 29) | y — valid for z <= MAX_CELL_ZOOM
    (= 29, so x,y < 2^29 fit their bit fields; tile math's MAX_ZOOM=30 does
    NOT apply to cell ids). Pure integer math so the same expression is
    writable in ANSI SQL.
    """
    z = np.asarray(z, dtype=np.int64)
    if np.any(z > MAX_CELL_ZOOM) or np.any(z < 0):
        raise ValueError(f"pack_cell: zoom must be in [0, {MAX_CELL_ZOOM}]")
    return (z << 58) | (np.asarray(x, dtype=np.int64) << 29) | np.asarray(y, dtype=np.int64)


# ---------------------------------------------------------------------------
# Morton / Z-order keys — the locality-preserving STORAGE order
# (pack_cell is the LOOKUP key: exact-tile equi-joins; morton_key is the
# layout key: nearby tiles get nearby keys, and a quadtree subtree is one
# contiguous key range, so parquet min/max stats prune spatial reads)
# ---------------------------------------------------------------------------

# Part1By1 magic-mask bit spreading (the classical constant-time Morton
# construction): after the five steps the low 29 bits of v occupy the
# even bit positions of a 58-bit word. Pure shifts/masks — the identical
# structure renders as a Spark expression and as DuckDB SQL.
_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread1(v):
    v = np.asarray(v, dtype=np.uint64)
    for sh, m in _SPREAD_STEPS:
        v = (v | (v << np.uint64(sh))) & np.uint64(m)
    return v.astype(np.int64)


def morton_key(x, y):
    """Bit-interleave (x, y) (x in the odd bits) — valid for
    x, y < 2^29 (MAX_CELL_ZOOM coordinates), key < 2^58."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    if np.any((x < 0) | (x >= 1 << 29) | (y < 0) | (y >= 1 << 29)):
        raise ValueError("morton_key: coordinates must be in [0, 2^29)")
    return (_spread1(x) << 1) | _spread1(y)


def tile_zrange(z, x, y, data_z):
    """The contiguous Morton range covered by tile (z, x, y) at zoom
    ``data_z`` >= z: every descendant's key lies in [lo, hi] and no
    other tile's does — the quadkey ancestor-prefix property, which is
    what makes a z-ordered table range-prunable by subtree."""
    if data_z < z:
        raise ValueError("tile_zrange: data_z must be >= z")
    dz = int(data_z) - int(z)
    lo = int(morton_key(x, y)) << (2 * dz)
    return lo, lo + (1 << (2 * dz)) - 1


def _morton_expr(x: str, y: str, shl) -> str:
    """Shared expression-string builder for the Morton key: ``shl``
    renders a left shift in the target dialect; masks/& / | are common
    syntax. Guarantees the Spark and DuckDB forms are the SAME tree."""
    def spread(v: str) -> str:
        for sh, m in _SPREAD_STEPS:
            v = f"(({v} | {shl(v, sh)}) & {m})"
        return v

    return f"({shl(spread(f'CAST({x} AS BIGINT)'), 1)} | " \
           f"{spread(f'CAST({y} AS BIGINT)')})"


def morton_sql(x: str, y: str) -> str:
    """DuckDB form of ``morton_key`` over SQL expressions x, y."""
    return _morton_expr(x, y, lambda v, s: f"({v} << {s})")


def morton_spark_sql(x: str, y: str) -> str:
    """Spark-SQL form (shiftleft instead of the << operator)."""
    return _morton_expr(x, y, lambda v, s: f"shiftleft({v}, {s})")


def tile_frac_sql(lon: str, lat: str, zoom: int) -> tuple[str, str]:
    """Fractional tile x/y at ``zoom`` over SQL expressions ``lon``/``lat``
    — the one lon/lat → tile formula of the Spark plans (``encode_cells``,
    ``tile_pixels``) and of the DuckDB oracles, as text both dialects
    parse. The evaluation order is the numpy form's: ``(lon + 180) / 360
    * n`` is not the same double as ``(lon + 180) * (n / 360)``. One
    ``F.expr`` of this text costs one Python-to-JVM round trip, where the
    equivalent Column tree costs several per operator."""
    n = 1 << zoom
    merc = f"ln(tan(radians({lat})) + 1.0 / cos(radians({lat})))"
    return (f"({lon} + 180.0) / 360.0 * {n}",
            f"(1.0 - {merc} / pi()) / 2.0 * {n}")


def tile_xy_sql(lon: str, lat: str, zoom: int) -> tuple[str, str]:
    """Integer tile x/y containing lon/lat at ``zoom``, clipped to the
    grid like ``lonlat_to_tile`` (SQL text; see ``tile_frac_sql``)."""
    top = (1 << zoom) - 1
    return tuple(f"greatest(0, least(CAST(floor({f}) AS BIGINT), {top}))"
                 for f in tile_frac_sql(lon, lat, zoom))


def pack_cell_sql(zoom: int, x: str, y: str) -> str:
    """Spark-SQL form of ``pack_cell`` for a constant ``zoom`` (callers
    check it against MAX_CELL_ZOOM, as ``encode_cells`` does)."""
    return (f"({zoom << 58} | shiftleft(CAST({x} AS BIGINT), 29)"
            f" | CAST({y} AS BIGINT))")


# ---------------------------------------------------------------------------
# Spark Column forms (kept JVM-side: codegen'd, pushdown-friendly)
# ---------------------------------------------------------------------------

if _HAVE_SPARK:

    def within_target_col(src_z: Column, src_x: Column, src_y: Column,
                          z: Column, x: Column, y: Column) -> Column:
        dz = z - src_z
        return (src_z <= z) & (F.call_function("shiftright", x, dz) == src_x) & (F.call_function("shiftright", y, dz) == src_y)

    def displacement_cols(src_z: Column, extent: Column,
                          z: Column, x: Column, y: Column) -> tuple[Column, Column]:
        mask = F.call_function("shiftleft", F.lit(1).cast("long"), z - src_z) - F.lit(1).cast("long")
        return (x.bitwiseAND(mask) * extent).cast("long"), (y.bitwiseAND(mask) * extent).cast("long")

    def pack_cell_col(z: Column, x: Column, y: Column) -> Column:
        return (
            F.shiftleft(z.cast("long"), 58)
            .bitwiseOR(F.shiftleft(x.cast("long"), 29))
            .bitwiseOR(y.cast("long"))
        )

    def unpack_cell_cols(cell: Column) -> tuple[Column, Column, Column]:
        lo29 = F.lit((1 << 29) - 1).cast("long")
        return (
            F.shiftright(cell, 58),
            F.shiftright(cell, 29).bitwiseAND(lo29),
            cell.bitwiseAND(lo29),
        )

    def morton_col(x: str, y: str) -> Column:
        """Column form of ``morton_key`` (x, y are column NAMES or SQL
        expressions — the string builder keeps it tree-identical to the
        DuckDB twin)."""
        return F.expr(morton_spark_sql(x, y))
