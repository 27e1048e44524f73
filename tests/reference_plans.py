"""The parity reference for composite: the per-row plan and the row encoder.

Both are written straight from the composite semantics, one step per
reference stage, with no source grouping, packing or splicing — the
library's plan (``operators.composite._source_grouped``) must reproduce
their rows as a multiset and their tiles byte for byte.

* ``composite_rows``: ancestor join → keep-list → first-wins semi-join →
  dz/displacement prep with the envelope prune → the Arrow clip kernel,
  one feature row per (feature, target) pair.
* ``encode_rows``: one ``applyInPandas`` group per target tile, rebuilt
  as ``mvt.Feature`` objects and serialized by ``mvt.encode_tile``.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from vtcomposite_spark.operators import composite as C
from vtcomposite_spark.sources import mvt


def composite_rows(features, targets, src_zooms=None):
    """The per-row composite plan (``composite``'s rows and column order).
    Targets without a ``keep_layers`` column keep every layer."""
    if "keep_layers" not in targets.columns:
        targets = targets.withColumn(
            "keep_layers", F.lit(None).cast("array<string>"))
    j = C.ancestor_join(features, targets, src_zooms=src_zooms)
    j = C.first_wins(C.apply_keep_layers(j))
    return C.overzoom_clip(j).drop("keep_layers")


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
