"""Fixture ingestion: MVT tile buffers → relational feature rows (S2).

One-time decode of opaque tile protobufs into the engine's exploded form
(SURVEY.md §1.2). Inside the engine there is no decode — data is relational.
Property values travel as a lossless canonical-string map (the reference's
property algebra is string-only, src/vtcomposite.cpp:787,806) PLUS a
parallel ``prop_types`` tag map, so the encode sink re-emits every value
with its original MVT wire type (int/uint/sint/float/double/bool/string —
typed parity with the reference's property_mapper,
src/feature_builder.hpp:169-180).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import FEATURES_SCHEMA
from . import mvt


def feature_rows(tiles: list[tuple[bytes, int, int, int]],
                 keep_malformed: bool = False) -> list[dict]:
    """Decode (buffer, z, x, y) tiles into FEATURES_SCHEMA dicts.

    ``keep_malformed=False`` mirrors the reference's v1 tolerance: malformed
    geometries inside v1 tiles are skipped, not fatal
    (src/vtcomposite.cpp:159-178).
    """
    def geometry_malformed(f: mvt.Feature) -> bool:
        """vtzero's strict geometry checks: a polygon ring needs ≥4 points
        (closed), a linestring part ≥2, a point geometry ≥1 point. The
        reference skips such features in v1 layers (the try/catch at
        src/vtcomposite.cpp:159-178) and fails the request for v2."""
        if f.geom_type == 3:
            return any(len(p) < 4 for p in f.parts) or not f.parts
        if f.geom_type == 2:
            return any(len(p) < 2 for p in f.parts) or not f.parts
        return not f.parts

    rows: list[dict] = []
    for tile_idx, (buf, z, x, y) in enumerate(tiles):
        try:
            layers = mvt.decode_tile(buf)
        except Exception:
            if keep_malformed:
                raise
            continue
        fidx = 0  # stream ordinal across the WHOLE tile: output layer and
        # feature order must equal the reference's streaming decode order
        # (src/vtcomposite.cpp:239,742 — first-seen layer order, O3)
        for layer in layers:
            for f in layer.features:
                if geometry_malformed(f):
                    if layer.version == 1:
                        continue  # v1 tolerance: skip the feature
                    raise ValueError(
                        f"malformed geometry in v{layer.version} layer "
                        f"'{layer.name}' feature {fidx}")
                xs: list[int] = []
                ys: list[int] = []
                offsets: list[int] = []
                for part in f.parts:
                    offsets.append(len(xs))
                    for px, py in part:
                        xs.append(px)
                        ys.append(py)
                ptypes = f.prop_types or {}
                tags = {k: ptypes.get(k) or mvt.infer_tag(v)
                        for k, v in f.properties.items()}
                props = {k: mvt.to_canonical(tags[k], v)
                         for k, v in f.properties.items()}
                fidx += 1
                rows.append({
                    "tile_idx": tile_idx,
                    "src_z": z, "src_x": x, "src_y": y,
                    "layer": layer.name,
                    "layer_version": layer.version,
                    "extent": layer.extent,
                    "feature_idx": fidx,
                    "feature_id": f.fid,
                    "geom_type": f.geom_type,
                    "xs": xs, "ys": ys,
                    "part_offsets": offsets,
                    "ring_types": [int(r) for r in f.ring_types],
                    "properties": props,
                    "prop_types": tags,
                })
    return rows


def _entry_rows(tiles: list[tuple[bytes, int, int, int]]) -> list[dict]:
    """``feature_rows`` with both maps as entries arrays in property
    order: one entries array drives BOTH maps so their entry orders
    align, and ``_with_maps`` rebuilds the maps JVM-side in that order."""
    rows = feature_rows(tiles)
    for r in rows:
        r["prop_types"] = [{"key": k, "value": r["prop_types"][k]}
                           for k in r["properties"]]
        r["properties"] = [{"key": k, "value": v}
                           for k, v in r["properties"].items()]
    return rows


def _entry_t(vt):
    return T.ArrayType(T.StructType([
        T.StructField("key", T.StringType()), T.StructField("value", vt)]))


# FEATURES_SCHEMA with the two maps as ``_entry_rows``' entries arrays
_ENTRIES_SCHEMA = T.StructType([
    T.StructField(f.name, _entry_t(
        T.StringType() if f.name == "properties" else T.ByteType()))
    if f.name in ("properties", "prop_types") else f
    for f in FEATURES_SCHEMA.fields])


def _with_maps(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F
    return df.withColumns({"properties": F.map_from_entries("properties"),
                           "prop_types": F.map_from_entries("prop_types")})


def features_from_tiles(spark: SparkSession,
                        tiles: list[tuple[bytes, int, int, int]]) -> DataFrame:
    """createDataFrame does NOT preserve python-dict entry order for map
    columns (it round-trips through a JVM hash map); the reference's
    ``languages=all`` last-wins semantics depend on input PROPERTY ORDER
    (src/vtcomposite.cpp:871-877), so properties travel as an ordered
    entries array and become a map via map_from_entries (order-preserving).
    """
    return _with_maps(spark.createDataFrame(_entry_rows(tiles),
                                            schema=_ENTRIES_SCHEMA))


def features_from_tiles_df(tiles: DataFrame, buf_col: str = "tile",
                           tile_idx_col: str | None = None) -> DataFrame:
    """Distributed tileset RE-INGEST: a (z, x, y, tile) DataFrame decodes
    back to FEATURES_SCHEMA rows — the S2 scan over a MATERIALIZED
    tileset. ``features_from_tiles`` takes driver-side buffers; this one
    scales to a planet pyramid (one decode per tile inside mapInPandas,
    no driver round-trip) and closes the loop sink → table → re-ingest →
    composite again.

    ``tile_idx`` defaults to the tile's ZOOM unless ``tile_idx_col`` names
    an ordinal column. Re-ingested tiles are independent inputs: within one
    zoom, first-wins only arbitrates between input tiles sharing a source
    address, which a tileset's unique (z, x, y) makes impossible — so a
    per-zoom constant loses nothing there, while keeping the multi-zoom
    contract (tile_idx ↦ one zoom, which composite's winner pass
    checks) satisfied by construction and giving a deterministic
    lower-zoom-wins order across zooms. A constant 0 (the old default)
    violated that contract for every multi-zoom re-ingest.
    Property-map entry order survives the seam (entries
    arrays cross Arrow; ``map_from_entries`` builds the maps JVM-side —
    a python dict through mapInPandas would scramble it, the
    languages=all wire-order lesson).
    """
    from typing import Iterator

    import pandas as pd

    cols = [f.name for f in _ENTRIES_SCHEMA.fields]
    sel = ["z", "x", "y", buf_col] + ([tile_idx_col] if tile_idx_col else [])

    def decode(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out: list[dict] = []
            for row in pdf.itertuples(index=False):
                ti = int(getattr(row, tile_idx_col)) if tile_idx_col \
                    else int(row.z)
                for r in _entry_rows([(bytes(getattr(row, buf_col)),
                                       int(row.z), int(row.x), int(row.y))]):
                    r["tile_idx"] = ti
                    out.append(r)
            yield pd.DataFrame(out, columns=cols) if out \
                else pd.DataFrame({c: [] for c in cols})

    return _with_maps(tiles.select(*sel).mapInPandas(
        decode, schema=_ENTRIES_SCHEMA))


def targets_df(spark: SparkSession, targets: list[dict]) -> DataFrame:
    """targets: [{'z':..,'x':..,'y':..,'buffer_size':0,'keep_layers':None,'compress':False}]"""
    from ..schema import TARGETS_SCHEMA
    full = [{"buffer_size": 0, "keep_layers": None, "compress": False, **t}
            for t in targets]
    return spark.createDataFrame(full, schema=TARGETS_SCHEMA)
