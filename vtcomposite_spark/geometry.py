"""Vectorized geometry kernels over packed coordinate arrays (pure numpy).

From-scratch numpy re-expression of the reference's per-feature geometry
pipeline (reference: src/feature_builder.hpp). The reference streams one
feature at a time through boost::geometry; we operate on *batches* of
features whose coordinates are flattened into contiguous arrays — the shape
Arrow hands us for ``array<long>`` columns — so every step is a whole-batch
numpy op, never per-row Python.

Packed layout for a batch of F features / P parts / V vertices:

* ``vx, vy``        int64[V]  — all vertices, feature-major, part-major
* ``part_start``    int64[P+1] — absolute offset of each part into vx/vy
* ``part_feat``     int64[P]  — owning feature row per part
* ``ring_type``     int8[P]   — 1=outer 2=inner (polygons only; mirrors
  vtzero ring annotation, reference src/feature_builder.hpp:102)

Polygon rings are stored CLOSED (first vertex repeated at the end), the
shape MVT decoders emit; kernels strip/restore the closure internally.

Semantics ported (with file:line cites):

* consecutive-duplicate suppression on decode
  (src/feature_builder.hpp:79-87, :123-131)
* overzoom affine  p' = p * 2^dz − displacement
  (src/feature_builder.hpp:39-40,81-82,125-126; src/vtcomposite.cpp:236)
* closed-box point clip, ``covered_by`` (src/feature_builder.hpp:42-45)
* linestring clip via Liang–Barsky with run-stitching + output-side
  consecutive-dup suppression and ≥2-point validity
  (src/feature_builder.hpp:189-216; boost intersection equivalent)
* polygon ring assembly (outer starts polygon, inners attach) and the
  envelope pre-test (src/feature_builder.hpp:225-243); the clip of the
  assembled polygons is ``polyclip.clip_polygons_packed``, an exact
  polygon overlay (outer and holes jointly, like boost) that also applies
  the >3-point ring filter after clipping (src/feature_builder.hpp:255-271).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

_I64 = np.int64
EMPTY_I64 = np.empty(0, _I64)


class PackedParts(NamedTuple):
    """A batch of multi-part geometries in flat form."""

    vx: np.ndarray        # int64 [V]
    vy: np.ndarray        # int64 [V]
    part_start: np.ndarray  # int64 [P+1]
    part_feat: np.ndarray   # int64 [P] -> feature row index


def part_sizes(part_start: np.ndarray) -> np.ndarray:
    return np.diff(part_start)


def multi_arange(starts: np.ndarray, stops: np.ndarray) -> np.ndarray:
    """Concatenate arange(starts[i], stops[i]) for all i — no Python loop."""
    starts = np.asarray(starts, _I64)
    stops = np.asarray(stops, _I64)
    lens = stops - starts
    total = int(lens.sum())
    if total == 0:
        return EMPTY_I64
    shift = np.repeat(starts - np.concatenate([[0], np.cumsum(lens)[:-1]]), lens)
    return shift + np.arange(total, dtype=_I64)


def vert_part_ids(part_start: np.ndarray) -> np.ndarray:
    """Part index of every vertex."""
    p = len(part_start) - 1
    return np.repeat(np.arange(p, dtype=_I64), np.diff(part_start))


def dedupe_consecutive(g: PackedParts) -> PackedParts:
    """Drop vertices equal to their predecessor within the same part.

    Mirrors the decode-side suppression (src/feature_builder.hpp:79-87).
    A polygon ring's closing vertex equals its *first* vertex, not its
    predecessor, so closure survives — same as the reference.
    """
    v = len(g.vx)
    if v == 0:
        return g
    keep = np.ones(v, bool)
    keep[1:] = (g.vx[1:] != g.vx[:-1]) | (g.vy[1:] != g.vy[:-1])
    keep[g.part_start[:-1]] = True  # first vertex of each part always kept
    if keep.all():
        return g
    sizes = (np.add.reduceat(keep.astype(_I64), g.part_start[:-1])
             if len(g.part_feat) else EMPTY_I64)
    new_start = np.concatenate([[0], np.cumsum(sizes)]).astype(_I64)
    return PackedParts(g.vx[keep], g.vy[keep], new_start, g.part_feat)


def affine(g: PackedParts, zf: np.ndarray, dx: np.ndarray, dy: np.ndarray) -> PackedParts:
    """p' = p * zf − d with per-feature zf/dx/dy (src/feature_builder.hpp:39-41)."""
    vp = vert_part_ids(g.part_start)
    vf = g.part_feat[vp] if len(vp) else vp
    return PackedParts(
        g.vx * zf[vf] - dx[vf] if len(vp) else g.vx,
        g.vy * zf[vf] - dy[vf] if len(vp) else g.vy,
        g.part_start,
        g.part_feat,
    )


# ---------------------------------------------------------------------------
# points
# ---------------------------------------------------------------------------

def clip_points(g: PackedParts, lo: np.ndarray, hi: np.ndarray) -> PackedParts:
    """Closed-box point clip (covered_by — boundary kept).

    ``lo``/``hi`` are per-feature clip bounds (−buffer, extent+buffer).
    Reference: src/feature_builder.hpp:42-45, box src/vtcomposite.cpp:266-268.
    Each point of a multipoint is its own part.
    """
    vp = vert_part_ids(g.part_start)
    if len(vp) == 0:
        return g
    vf = g.part_feat[vp]
    keep = (g.vx >= lo[vf]) & (g.vx <= hi[vf]) & (g.vy >= lo[vf]) & (g.vy <= hi[vf])
    sizes = np.add.reduceat(keep.astype(_I64), g.part_start[:-1])
    part_keep = sizes > 0
    new_start = np.concatenate([[0], np.cumsum(sizes[part_keep])]).astype(_I64)
    return PackedParts(g.vx[keep], g.vy[keep], new_start, g.part_feat[part_keep])


# ---------------------------------------------------------------------------
# linestrings — Liang–Barsky per segment, vectorized, with run stitching
# ---------------------------------------------------------------------------

def clip_lines(g: PackedParts, lo: np.ndarray, hi: np.ndarray) -> PackedParts:
    """Clip polyline parts to per-feature closed boxes.

    Re-expresses boost::geometry::intersection(multi_line, box) +
    the emit loop of src/feature_builder.hpp:189-216: pieces with fewer
    than 2 distinct points are dropped; consecutive duplicate output
    vertices are suppressed.
    """
    n = len(g.vx)
    if n == 0:
        return g
    seg_mask = np.ones(n - 1, bool)
    # last vertex of every part (except the batch-final one) starts no segment
    ends = g.part_start[1:-1] - 1
    seg_mask[ends[ends < n - 1]] = False
    # parts of size 1 contribute no segment and are dropped implicitly
    seg_idx = np.nonzero(seg_mask)[0]
    if len(seg_idx) == 0:
        return PackedParts(EMPTY_I64, EMPTY_I64, np.zeros(1, _I64), EMPTY_I64)

    vp = vert_part_ids(g.part_start)
    seg_part = vp[seg_idx]
    seg_feat = g.part_feat[seg_part]
    x0 = g.vx[seg_idx].astype(np.float64)
    y0 = g.vy[seg_idx].astype(np.float64)
    x1 = g.vx[seg_idx + 1].astype(np.float64)
    y1 = g.vy[seg_idx + 1].astype(np.float64)
    dx, dy = x1 - x0, y1 - y0
    slo = lo[seg_feat].astype(np.float64)
    shi = hi[seg_feat].astype(np.float64)

    t0 = np.zeros(len(seg_idx))
    t1 = np.ones(len(seg_idx))
    visible = np.ones(len(seg_idx), bool)
    for p, q in ((-dx, x0 - slo), (dx, shi - x0), (-dy, y0 - slo), (dy, shi - y0)):
        nz = p != 0
        r = np.where(nz, q / np.where(nz, p, 1.0), 0.0)
        visible &= nz | (q >= 0)
        t0 = np.where(nz & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(nz & (p > 0), np.minimum(t1, r), t1)
    visible &= t0 <= t1

    ax = np.where(t0 == 0.0, x0, np.rint(x0 + t0 * dx)).astype(_I64)
    ay = np.where(t0 == 0.0, y0, np.rint(y0 + t0 * dy)).astype(_I64)
    bx = np.where(t1 == 1.0, x1, np.rint(x0 + t1 * dx)).astype(_I64)
    by = np.where(t1 == 1.0, y1, np.rint(y0 + t1 * dy)).astype(_I64)

    # a run = maximal chain of visible segments whose clipped endpoints join
    cont = np.zeros(len(seg_idx), bool)
    cont[1:] = (
        visible[1:]
        & visible[:-1]
        & (seg_part[1:] == seg_part[:-1])
        & (ax[1:] == bx[:-1])
        & (ay[1:] == by[:-1])
    )
    new_run = visible & ~cont

    counts = np.where(visible, np.where(new_run, 2, 1), 0)
    pos = np.concatenate([[0], np.cumsum(counts)])
    total = int(pos[-1])
    ox = np.empty(total, _I64)
    oy = np.empty(total, _I64)
    i2 = np.nonzero(new_run)[0]
    ox[pos[i2]] = ax[i2]
    oy[pos[i2]] = ay[i2]
    iv = np.nonzero(visible)[0]
    off = np.where(new_run[iv], 1, 0)
    ox[pos[iv] + off] = bx[iv]
    oy[pos[iv] + off] = by[iv]

    run_start = np.concatenate([pos[i2], [total]]).astype(_I64)
    run_feat = seg_feat[i2]
    out = dedupe_consecutive(PackedParts(ox, oy, run_start, run_feat))
    # pieces with <2 points vanish (reference: l.size() > 1 plus `valid`)
    sizes = part_sizes(out.part_start)
    keep = sizes >= 2
    if keep.all():
        return out
    vkeep = np.repeat(keep, sizes)
    new_start = np.concatenate([[0], np.cumsum(sizes[keep])]).astype(_I64)
    return PackedParts(out.vx[vkeep], out.vy[vkeep], new_start, out.part_feat[keep])


# ---------------------------------------------------------------------------
# polygons — ring assembly (the clip itself is polyclip.clip_polygons_packed)
# ---------------------------------------------------------------------------

def ring_bboxes(g: PackedParts):
    """(minx, miny, maxx, maxy) per part — the envelope pre-test input
    (src/feature_builder.hpp:232-238)."""
    if len(g.part_feat) == 0:
        return EMPTY_I64, EMPTY_I64, EMPTY_I64, EMPTY_I64
    s = g.part_start[:-1]
    return (
        np.minimum.reduceat(g.vx, s),
        np.minimum.reduceat(g.vy, s),
        np.maximum.reduceat(g.vx, s),
        np.maximum.reduceat(g.vy, s),
    )


def assemble_polygons(g: PackedParts, ring_type: np.ndarray,
                      lo: np.ndarray, hi: np.ndarray):
    """Reference polygon assembly + envelope gate (src/feature_builder.hpp:228-243).

    * an OUTER ring opens a new polygon and sets ``process`` =
      (outer envelope intersects clip box)
    * any ring is kept only while ``process`` and its closed size > 3
    * inner rings preceding any outer are dropped (process starts False)

    Returns (kept PackedParts, kept ring_type, poly_id per kept ring).
    """
    nrings = len(g.part_feat)
    if nrings == 0:
        return g, ring_type, EMPTY_I64
    minx, miny, maxx, maxy = ring_bboxes(g)
    is_outer = ring_type == 1
    flo = lo[g.part_feat]
    fhi = hi[g.part_feat]
    env_ok = (maxx >= flo) & (minx <= fhi) & (maxy >= flo) & (miny <= fhi)

    # `process` per ring = env_ok of the most recent OUTER ring of the same
    # feature; rings before any outer in their feature get False. A feature's
    # rings are contiguous, so a global forward-fill + owner-feature check
    # implements the per-feature reset.
    idx = np.arange(nrings, dtype=_I64)
    latest = np.maximum.accumulate(np.where(is_outer, idx, -1))
    ok = latest >= 0
    ok[ok] = g.part_feat[latest[ok]] == g.part_feat[np.nonzero(ok)[0]]
    process = np.zeros(nrings, bool)
    process[ok] = env_ok[latest[ok]]
    sizes = part_sizes(g.part_start)
    keep = process & (sizes > 3)
    if not keep.any():
        return (PackedParts(EMPTY_I64, EMPTY_I64, np.zeros(1, _I64), EMPTY_I64),
                np.empty(0, ring_type.dtype), EMPTY_I64)
    vkeep = np.repeat(keep, sizes)
    new_start = np.concatenate([[0], np.cumsum(sizes[keep])]).astype(_I64)
    poly_id = latest[keep]  # polygon identity = ordinal of owning outer ring
    return (PackedParts(g.vx[vkeep], g.vy[vkeep], new_start, g.part_feat[keep]),
            ring_type[keep], poly_id)
