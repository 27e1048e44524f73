"""Parity references: composite's per-row plan and row encoder, and a
brute-force point-in-polygon join.

The composite pair is written straight from the composite semantics, one
step per reference stage, with no source grouping, packing or splicing —
the library's plan (``operators.composite._source_grouped``) must
reproduce their rows as a multiset and their tiles byte for byte.

* ``composite_rows``: ancestor join → keep-list → first-wins semi-join
  (``first_wins_semi``) → dz/displacement prep with the envelope prune →
  the Arrow clip kernel (``overzoom_clip``), one feature row per
  (feature, target) pair.
* ``encode_rows``: one ``applyInPandas`` group per target tile, rebuilt
  as ``mvt.Feature`` objects and serialized by ``mvt.encode_tile``.
* ``pip_rows``: every point against every polygon (a cross join, no cell
  index), even-odd ray casting per ring — ``operators.joins.pip_join``
  must return the same pairs.
* ``encode_cells_columns`` / ``tile_pixels_columns``: the lon/lat → tile
  math as a Column-operator tree, the form the library built before it
  rendered that math as SQL text (``tilemath.tile_frac_sql``) — the SQL
  text must give the same doubles, tiles and cells bit for bit.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtcomposite_spark.operators import composite as C
from vtcomposite_spark.sources import mvt


def composite_rows(features, targets, src_zooms=None):
    """The per-row composite plan (``composite``'s rows and column order).
    Targets without a ``keep_layers`` column keep every layer."""
    if "keep_layers" not in targets.columns:
        targets = targets.withColumn(
            "keep_layers", F.lit(None).cast("array<string>"))
    j = C.ancestor_join(features, targets, src_zooms=src_zooms)
    j = first_wins_semi(C.apply_keep_layers(j))
    return overzoom_clip(j).drop("keep_layers")


def first_wins_semi(df):
    """First-wins as an aggregate and a semi-join: the winners are
    min(tile_idx) per (target, layer), and the rows that match one stay.
    No join hint. Independent of the library's window form
    (``operators.composite.first_wins``), which must keep the same rows
    in the same column order."""
    winners = (df.groupBy("z", "x", "y", "layer")
               .agg(F.min("tile_idx").alias("tile_idx")))
    return df.join(winners, on=["z", "x", "y", "layer", "tile_idx"],
                   how="left_semi")


def overzoom_clip(df):
    """Per-feature overzoom affine + clip over target-joined rows as ONE
    Arrow crossing: the dz/displacement prep with the JVM envelope prune
    (``operators.composite._overzoom_prep``), then the clip kernel
    (``_overzoom_clip_batches``). Same-zoom rows (dz == 0) pass through
    untouched inside the kernel — the reference's raw-copy fast path
    (src/vtcomposite.cpp:253-256)."""
    df = C._overzoom_prep(df)
    out_fields = [f for f in df.schema.fields
                  if f.name not in C._KERNEL_HELPER_COLS]
    out_schema = pa.schema([pa.field(f.name, C._to_arrow(f.dataType))
                            for f in out_fields])
    return df.mapInArrow(
        lambda it: C._overzoom_clip_batches(it, out_schema),
        schema=T.StructType(out_fields))


def encode_rows(composited):
    """Row encoder: (z, x, y, tile) per target tile of ``composited``."""

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tile_idx", "feature_idx"], kind="stable")
        z, x, y = (int(pdf[c].iloc[0]) for c in ("z", "x", "y"))
        compress = bool(pdf["compress"].iloc[0]) if "compress" in pdf else False
        has_types = "prop_types" in pdf.columns
        layers: dict[str, mvt.Layer] = {}
        for row in pdf.itertuples(index=False):
            if row.layer not in layers:
                layers[row.layer] = mvt.Layer(
                    name=row.layer, extent=int(row.extent),
                    version=int(row.layer_version or 2))
            starts = list(row.part_offsets) + [len(row.xs)]
            parts = [list(zip([int(v) for v in row.xs[a:b]],
                              [int(v) for v in row.ys[a:b]]))
                     for a, b in zip(starts[:-1], starts[1:])]
            raw = dict(row.properties) if row.properties is not None else {}
            if has_types and row.prop_types is not None:
                # typed re-materialization: canonical string + tag → the
                # original MVT value variant; untagged keys encode as strings
                tags = {k: int(t) for k, t in dict(row.prop_types).items()}
                props = {k: mvt.from_canonical(tags.get(k, mvt.TAG_STRING), v)
                         for k, v in raw.items()}
                ptypes = {k: tags.get(k, mvt.TAG_STRING) for k in raw}
            else:
                props, ptypes = raw, None
            fid = row.feature_id
            layers[row.layer].features.append(mvt.Feature(
                geom_type=int(row.geom_type), parts=parts,
                ring_types=[int(r) for r in (row.ring_types
                                             if row.ring_types is not None
                                             else [])],
                properties=props, prop_types=ptypes,
                fid=None if fid is None or pd.isna(fid) else int(fid)))
        buf = mvt.gzip_sink(mvt.encode_tile(list(layers.values())), compress)
        return pd.DataFrame({"z": [z], "x": [x], "y": [y], "tile": [buf]})

    return composited.groupBy("z", "x", "y").applyInPandas(
        encode, schema=C._ENCODE_OUT_SCHEMA)


def encode_reference(features, targets, src_zooms=None):
    """Reference tiles: ``encode_rows`` over ``composite_rows``, with
    ``compress`` defaulting to False when targets omit it."""
    rows = composite_rows(features, targets, src_zooms)
    if "compress" not in rows.columns:
        rows = rows.withColumn("compress", F.lit(False))
    return encode_rows(rows)


def canon_rows(df):
    """Composite rows as a multiset, comparable across plans."""

    def cell(v):
        if isinstance(v, list):
            return tuple(v)
        if isinstance(v, dict):
            return tuple(sorted(v.items()))
        return v

    cols = sorted(df.columns)
    return Counter(tuple(cell(r[c]) for c in cols) for r in df.collect())


def _inside(px: float, py: float, xs, ys, part_offsets) -> bool:
    """Even-odd rule over all rings of one polygon (holes included): an
    edge crosses when it straddles ``py`` half-open and its intersection
    lies right of ``px`` — the crossing rule ``pip_join`` refines with."""
    xs = np.asarray(xs, np.float64)
    ys = np.asarray(ys, np.float64)
    starts = list(part_offsets) + [len(xs)]
    crossings = 0
    for a, b in zip(starts[:-1], starts[1:]):  # one closed ring
        x0, y0, x1, y1 = xs[a:b - 1], ys[a:b - 1], xs[a + 1:b], ys[a + 1:b]
        straddle = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (py - y0) / (y1 - y0) * (x1 - x0)
        crossings += int(np.count_nonzero(straddle & (px < xint)))
    return crossings % 2 == 1


def pip_rows(points, polys, point_cols, poly_id_col="poly_id"):
    """Sorted (*point_cols, poly_id) for every (point, polygon) pair whose
    point lies inside the polygon; points without a location match
    nothing."""
    pairs = points.crossJoin(polys.select(
        F.col(poly_id_col).alias("_poly_id"), F.col("xs").alias("_xs"),
        F.col("ys").alias("_ys"), F.col("part_offsets").alias("_po")))
    return sorted(
        (*(r[c] for c in point_cols), r["_poly_id"])
        for r in pairs.collect()
        if r["lat"] is not None and r["lon"] is not None
        and _inside(r["lon"], r["lat"], r["_xs"], r["_ys"], r["_po"]))


def tile_frac_columns(lon, lat, zoom: int):
    """Fractional tile x/y at ``zoom`` as a Column tree."""
    n = F.call_function("shiftleft", F.lit(1), F.lit(zoom))
    phi = F.radians(lat)
    merc = F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi))
    return ((lon + F.lit(180.0)) / F.lit(360.0) * n,
            (F.lit(1.0) - merc / F.lit(math.pi)) / F.lit(2.0) * n)


def encode_cells_columns(df, zoom: int):
    """``operators.cells.encode_cells`` over ``lat``/``lon`` as Columns."""
    n = F.call_function("shiftleft", F.lit(1), F.lit(zoom)).cast("long")
    fx, fy = tile_frac_columns(F.col("lon"), F.col("lat"), zoom)

    def clip(c):
        return F.greatest(F.lit(0).cast("long"),
                          F.least(F.floor(c).cast("long"),
                                  n - F.lit(1).cast("long")))

    df = df.withColumn("tile_x", clip(fx)).withColumn("tile_y", clip(fy))
    cell = F.when(
        F.col("lat").isNotNull() & F.col("lon").isNotNull(),
        F.shiftleft(F.lit(zoom).cast("long"), 58)
        .bitwiseOR(F.shiftleft(F.col("tile_x").cast("long"), 29))
        .bitwiseOR(F.col("tile_y").cast("long")))
    return df.withColumn("cell", cell)


def tile_pixels_columns(df, zoom: int, extent: int = 4096):
    """``operators.cells.tile_pixels`` over ``lat``/``lon`` as Columns."""
    fx, fy = tile_frac_columns(F.col("lon"), F.col("lat"), zoom)
    return (df.withColumn("px", F.round((fx - F.floor(fx)) * extent)
                          .cast("long"))
            .withColumn("py", F.round((fy - F.floor(fy)) * extent)
                        .cast("long")))
