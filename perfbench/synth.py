"""Seeded MVT tile synthesizer for the benchmark.

Tiles are built from a seed alone and encoded with the engine's public
encoder (``sources.mvt.encode_tile``), so the benchmark needs no fixture
files. ``SHAPE`` fixes the content distribution; it was set before the
first timing and is not tuned against measured times. ``TileStats``
records what was actually generated, so a run states its input shape.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from vtcomposite_spark.sources import mvt

SHAPE = {
    "extent": 4096,
    "features_per_tile": 800,
    # geometry mix of the v2 layers: share of polygons, lines, points
    "mix": {"polygon": 0.35, "line": 0.40, "point": 0.25},
    # v2 layers by geometry type; two polygon layers so keep_layers can
    # drop one without emptying the polygon class
    "layers": {"polygon": ["water", "landuse"], "line": ["roads"],
               "point": ["poi"]},
    "v1_layer": "legacy",
    "v1_share": 0.05,             # share of features in the v1 layer
    "ring_vertices": (6, 32),     # per polygon ring, inclusive
    "ring_radius": (16, 300),     # px
    "hole_share": 0.30,           # polygons with one interior ring
    "multipolygon_share": 0.20,   # polygons with two outer rings
    "line_vertices": (2, 40),
    "line_step": 120,             # px, max random-walk step
    "multiline_share": 0.10,
    "multipoint_share": 0.10,
    "spill": 64,                  # px beyond the extent a feature may reach
    "localized_share": 0.30,      # features with name_en/name_de
    "worldview_share": 0.20,      # features with a hidden worldview
}

CLASSES = ["park", "river", "residential", "primary", "cafe", "school"]
WORLDVIEWS = ["all", "US", "CN,US", "JP", "IN"]


@dataclass
class TileStats:
    """Measured statistics of the generated tiles."""
    tiles: int = 0
    features: int = 0
    vertices: int = 0
    polygons: int = 0
    polygons_with_holes: int = 0
    multipolygons: int = 0
    lines: int = 0
    points: int = 0
    v1_features: int = 0
    bytes: int = 0
    prop_types: dict = field(default_factory=dict)

    def add(self, other: "TileStats") -> None:
        for k in ("tiles", "features", "vertices", "polygons",
                  "polygons_with_holes", "multipolygons", "lines", "points",
                  "v1_features", "bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for tag, n in other.prop_types.items():
            self.prop_types[tag] = self.prop_types.get(tag, 0) + n

    def summary(self) -> dict:
        f = max(self.features, 1)
        p = max(self.polygons, 1)
        names = {mvt.TAG_STRING: "string", mvt.TAG_FLOAT: "float",
                 mvt.TAG_DOUBLE: "double", mvt.TAG_INT: "int",
                 mvt.TAG_UINT: "uint", mvt.TAG_SINT: "sint",
                 mvt.TAG_BOOL: "bool"}
        return {
            "tiles": self.tiles,
            "features_per_tile": self.features / max(self.tiles, 1),
            "vertices_per_feature": self.vertices / f,
            "hole_share": self.polygons_with_holes / p,
            "multipolygon_share": self.multipolygons / p,
            "mix": {"polygon": self.polygons / f, "line": self.lines / f,
                    "point": self.points / f},
            "v1_share": self.v1_features / f,
            "prop_values_by_type": {names[t]: n for t, n in
                                    sorted(self.prop_types.items())},
            "mb": self.bytes / 1e6,
        }


def _ring(rng, cx, cy, r, n, clockwise: bool):
    """Simple star-shaped ring around (cx, cy), closed, no repeated
    consecutive vertex. One vertex per angular sector keeps the centre
    inside, so exterior rings wind with ``mvt.ring_area2`` > 0."""
    ang = (np.arange(n) + rng.uniform(0.1, 0.9, n)) * (2 * math.pi / n)
    rad = r * rng.uniform(0.6, 1.0, n)
    xs = np.rint(cx + rad * np.cos(ang)).astype(np.int64)
    ys = np.rint(cy + rad * np.sin(ang)).astype(np.int64)
    pts = []
    for p in zip(xs.tolist(), ys.tolist()):
        if not pts or p != pts[-1]:
            pts.append(p)
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts.pop()
    if clockwise:
        pts.reverse()
    return pts + [pts[0]]


def _polygon(rng, stats: TileStats):
    lo, hi = SHAPE["ring_vertices"]
    r0, r1 = SHAPE["ring_radius"]
    ext, spill = SHAPE["extent"], SHAPE["spill"]
    parts, types = [], []
    nparts = 2 if rng.random() < SHAPE["multipolygon_share"] else 1
    hole = rng.random() < SHAPE["hole_share"]
    for k in range(nparts):
        r = rng.uniform(r0, r1)
        cx = rng.uniform(-spill + r, ext + spill - r)
        cy = rng.uniform(-spill + r, ext + spill - r)
        if k == 1:  # keep the second part clear of the first
            cx = (cx + ext / 2) % ext
        outer = _ring(rng, cx, cy, r, int(rng.integers(lo, hi + 1)), False)
        parts.append(outer)
        types.append(1)
        if hole and k == 0:
            # inside the outer ring's minimum radius (0.6 r)
            parts.append(_ring(rng, cx, cy, 0.4 * r,
                               int(rng.integers(lo, hi + 1)), True))
            types.append(2)
    stats.polygons += 1
    stats.polygons_with_holes += hole
    stats.multipolygons += nparts == 2
    return 3, parts, types


def _line(rng, stats: TileStats):
    lo, hi = SHAPE["line_vertices"]
    ext, spill, step = SHAPE["extent"], SHAPE["spill"], SHAPE["line_step"]
    parts = []
    for _ in range(2 if rng.random() < SHAPE["multiline_share"] else 1):
        n = int(rng.integers(lo, hi + 1))
        x0, y0 = rng.uniform(-spill, ext + spill, 2)
        d = rng.integers(-step, step + 1, size=(n - 1, 2))
        d[np.all(d == 0, axis=1)] = 1  # no zero-length segment
        xs = np.concatenate([[int(x0)], int(x0) + np.cumsum(d[:, 0])])
        ys = np.concatenate([[int(y0)], int(y0) + np.cumsum(d[:, 1])])
        parts.append(list(zip(xs.tolist(), ys.tolist())))
    stats.lines += 1
    return 2, parts, [0] * len(parts)


def _point(rng, stats: TileStats):
    ext = SHAPE["extent"]
    n = int(rng.integers(2, 5)) if rng.random() < SHAPE["multipoint_share"] \
        else 1
    pts = rng.integers(0, ext, size=(n, 2)).tolist()
    stats.points += 1
    return 1, [[(x, y)] for x, y in pts], [0] * n


def _properties(rng, i: int, geom: int):
    props = {
        "name": f"feature {i}",
        "class": CLASSES[int(rng.integers(len(CLASSES)))],
        "rank": int(rng.integers(0, 1 << 20)),
        "elev": int(rng.integers(-500, 9000)),
        "pop": int(rng.integers(0, 1 << 40)),
        "area": float(rng.uniform(0, 1e6)),
        "ratio": float(np.float32(rng.random())),
        "oneway": bool(geom == 2 and rng.random() < 0.5),
    }
    types = {"name": mvt.TAG_STRING, "class": mvt.TAG_STRING,
             "rank": mvt.TAG_UINT, "elev": mvt.TAG_SINT,
             "pop": mvt.TAG_INT, "area": mvt.TAG_DOUBLE,
             "ratio": mvt.TAG_FLOAT, "oneway": mvt.TAG_BOOL}
    if rng.random() < SHAPE["localized_share"]:
        props["name_en"] = f"feature {i} en"
        props["name_de"] = f"Merkmal {i}"
        types["name_en"] = types["name_de"] = mvt.TAG_STRING
    if rng.random() < SHAPE["worldview_share"]:
        props["_mbx_worldview"] = WORLDVIEWS[int(rng.integers(len(WORLDVIEWS)))]
        types["_mbx_worldview"] = mvt.TAG_STRING
    return props, types


def synth_tile(seed: int, z: int, x: int, y: int,
               stats: TileStats | None = None) -> bytes:
    """One MVT tile; the same (seed, z, x, y) always gives the same bytes."""
    rng = np.random.default_rng([seed, z, x, y])
    st = TileStats(tiles=1)
    n = SHAPE["features_per_tile"]
    n_v1 = int(round(n * SHAPE["v1_share"]))
    mix = SHAPE["mix"]
    kinds = rng.choice(["polygon", "line", "point"], size=n - n_v1,
                       p=[mix["polygon"], mix["line"], mix["point"]])
    makers = {"polygon": _polygon, "line": _line, "point": _point}
    layers: dict[str, mvt.Layer] = {}
    for name in [*SHAPE["layers"]["polygon"], *SHAPE["layers"]["line"],
                 *SHAPE["layers"]["point"]]:
        layers[name] = mvt.Layer(name=name, extent=SHAPE["extent"])
    v1 = mvt.Layer(name=SHAPE["v1_layer"], extent=SHAPE["extent"], version=1)
    for i in range(n):
        if i < n - n_v1:
            kind = str(kinds[i])
            names = SHAPE["layers"][kind]
            layer = layers[names[int(rng.integers(len(names)))]]
        else:
            kind = "point" if i % 2 else "line"
            layer = v1
            st.v1_features += 1
        geom, parts, rtypes = makers[kind](rng, st)
        props, ptypes = _properties(rng, i, geom)
        for t in ptypes.values():
            st.prop_types[t] = st.prop_types.get(t, 0) + 1
        st.features += 1
        st.vertices += sum(len(p) for p in parts)
        layer.features.append(mvt.Feature(
            geom_type=geom, parts=parts, ring_types=rtypes,
            properties=props, prop_types=ptypes,
            fid=None if i % 10 == 9 else i + 1))
    buf = mvt.encode_tile([*layers.values(), v1])
    st.bytes = len(buf)
    if stats is not None:
        stats.add(st)
    return buf
