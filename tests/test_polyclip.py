"""Exact polygon-overlay clipper tests, including the boost-parity golden
(test/vtcomposite-polygons.test.js:133-167: the ring-count matrix that
per-ring clipping cannot reproduce)."""

import os

import numpy as np
import pytest

from tests.reference_plans import clip_polygon
from vtcomposite_spark import polyclip
from vtcomposite_spark.geometry import PackedParts
from vtcomposite_spark.sources import mvt

I = np.int64

FIXTURES = "/root/reference/test/fixtures"


def ring(pts):
    xs = np.array([p[0] for p in pts], I)
    ys = np.array([p[1] for p in pts], I)
    return xs, ys


def counts(polys):
    return sorted([len(r[0]) for r in p] for p in polys)


def test_fully_inside_passthrough():
    outer = ring([(1, 1), (9, 1), (9, 9), (1, 9), (1, 1)])
    hole = ring([(3, 3), (3, 5), (5, 5), (5, 3), (3, 3)])
    out = clip_polygon([outer, hole], 0, 10)
    assert counts(out) == [[5, 5]]


def test_simple_bite():
    # CW square half outside the right edge
    outer = ring([(5, 2), (15, 2), (15, 8), (5, 8), (5, 2)])
    out = clip_polygon([outer], 0, 10)
    assert len(out) == 1
    xs, ys = out[0][0]
    assert set(zip(xs.tolist(), ys.tolist())) == {(5, 2), (10, 2), (10, 8), (5, 8)}


def test_outer_surrounds_window():
    outer = ring([(-100, -100), (100, -100), (100, 100), (-100, 100), (-100, -100)])
    out = clip_polygon([outer], 0, 10)
    assert counts(out) == [[5]]
    xs, ys = out[0][0]
    assert set(zip(xs.tolist(), ys.tolist())) == {(0, 0), (10, 0), (10, 10), (0, 10)}


def test_hole_surrounds_window():
    outer = ring([(-100, -100), (100, -100), (100, 100), (-100, 100), (-100, -100)])
    hole = ring([(-50, -50), (-50, 50), (50, 50), (50, -50), (-50, -50)])
    assert clip_polygon([outer, hole], 0, 10) == []


def test_fully_outside_dropped():
    outer = ring([(20, 20), (30, 20), (30, 30), (20, 30), (20, 20)])
    assert clip_polygon([outer], 0, 10) == []


def test_hole_crossing_boundary_carves_outer():
    # outer surrounds window; hole bites into the window's right side
    outer = ring([(-100, -100), (100, -100), (100, 100), (-100, 100), (-100, -100)])
    hole = ring([(8, 4), (8, 6), (20, 6), (20, 4), (8, 4)])  # CCW (hole)
    out = clip_polygon([outer, hole], 0, 10)
    assert len(out) == 1
    xs, ys = out[0][0]
    pts = set(zip(xs.tolist(), ys.tolist()))
    # the carved notch's corners appear on the boundary ring
    assert {(8, 4), (8, 6), (10, 6), (10, 4)} <= pts
    assert len(out[0]) == 1  # no separate hole ring — carved into the outer


def test_hole_splitting_window():
    # hole slices the window horizontally through the middle -> 2 polygons
    outer = ring([(-100, -100), (100, -100), (100, 100), (-100, 100), (-100, -100)])
    hole = ring([(-50, 4), (-50, 6), (50, 6), (50, 4), (-50, 4)])
    out = clip_polygon([outer, hole], 0, 10)
    assert len(out) == 2
    all_pts = [set(zip(r[0][0].tolist(), r[0][1].tolist())) for r in out]
    assert {(0, 0), (10, 0), (10, 4), (0, 4)} in all_pts
    assert {(0, 6), (10, 6), (10, 10), (0, 10)} in all_pts


@pytest.mark.skipif(not os.path.isdir(FIXTURES), reason="fixtures unavailable")
def test_boost_parity_polygons_with_holes_golden():
    """test/vtcomposite-polygons.test.js:133-167 — z4/13/6 → z8/221/99,
    buffer 4080: 2 polygons with ring vertex counts
    [95,25,23,18,26,18,14,16] and [6]."""
    raw = open(os.path.join(FIXTURES, "polygons-with-holes-4-13-6.mvt"), "rb").read()
    lay = mvt.decode_tile(raw)[0]
    dx, dy = (221 % 16) * 4096, (99 % 16) * 4096
    lo, hi = -4080, 4096 + 4080
    all_polys = []
    for f in lay.features:
        polys = []
        for rpts, rt in zip(f.parts, f.ring_types):
            xs = np.array([x * 16 - dx for x, y in rpts], I)
            ys = np.array([y * 16 - dy for x, y in rpts], I)
            keep = np.ones(len(xs), bool)
            keep[1:] = (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
            xs, ys = xs[keep], ys[keep]
            if rt == 1:
                polys.append([(xs, ys)])
            elif polys:
                polys[-1].append((xs, ys))
        for poly in polys:
            all_polys.extend(clip_polygon(poly, lo, hi))
    assert counts(all_polys) == [[6], [95, 25, 23, 18, 26, 18, 14, 16]]


def test_packed_driver_matches_scalar(spark=None):
    outer1 = [(1, 1), (9, 1), (9, 9), (1, 9), (1, 1)]             # inside
    outer2 = [(5, 2), (15, 2), (15, 8), (5, 8), (5, 2)]           # crossing
    vx, vy, starts, feat = [], [], [0], []
    for pts in (outer1, outer2):
        for x, y in pts:
            vx.append(x)
            vy.append(y)
        starts.append(len(vx))
        feat.append(0)
    g = PackedParts(np.array(vx, I), np.array(vy, I), np.array(starts, I),
                    np.array(feat, I))
    rt = np.array([1, 1], np.int8)
    pid = np.array([0, 1], I)
    out, out_rt = polyclip.clip_polygons_packed(
        g, rt, pid, np.array([0], I), np.array([10], I))
    assert out_rt.tolist() == [1, 1]
    sizes = np.diff(out.part_start).tolist()
    assert sizes[0] == 5  # passthrough
    assert sizes[1] == 5  # clipped square


def _packed_from_fixture(name):
    from vtcomposite_spark import geometry as geo
    layers = mvt.decode_tile(open(f"{FIXTURES}/{name}", "rb").read())
    rows = [(f.parts, f.ring_types) for l in layers for f in l.features]
    vx, vy, pstart, pfeat, rts = [], [], [0], [], []
    n = 0
    for i, (parts, rtypes) in enumerate(rows):
        for part, rt in zip(parts, rtypes):
            pfeat.append(i)
            rts.append(rt)
            vx.extend(p[0] for p in part)
            vy.extend(p[1] for p in part)
            n += len(part)
            pstart.append(n)
    return (PackedParts(np.array(vx, I), np.array(vy, I),
                        np.array(pstart, I), np.array(pfeat, I)),
            np.array(rts, np.int8), len(rows))


@pytest.mark.skipif(not os.path.isdir(FIXTURES), reason="no fixtures")
@pytest.mark.parametrize("name,buf", [
    ("polygons-properties-16-10498-22872.mvt", 128),
    ("polygons-buildings-sf-15-5239-12666.mvt", 128),
    ("polygons-with-holes-4-13-6.mvt", 4080),
])
@pytest.mark.parametrize("dz,ddx,ddy", [
    (1, 0, 0), (1, 4096, 0), (1, 0, 4096), (2, 4096, 8192), (0, 0, 0)])
def test_batch_driver_equals_per_polygon_reference(name, buf, dz, ddx, ddy):
    """The globally-vectorized batch driver must emit EXACTLY what the
    per-polygon clip_polygon reference path emits — same rings, same
    vertices, same order — on real fixture tiles across overzoom shifts."""
    from vtcomposite_spark import geometry as geo
    g0, rts, nfeat = _packed_from_fixture(name)
    zf = np.full(nfeat, 1 << dz, I)
    lo = np.full(nfeat, -buf, I)
    hi = np.full(nfeat, 4096 + buf, I)
    g = geo.affine(geo.dedupe_consecutive(g0), zf,
                   np.full(nfeat, ddx, I), np.full(nfeat, ddy, I))
    asm, kept_rt, poly = geo.assemble_polygons(g, rts, lo, hi)

    nrings = len(asm.part_feat)
    key_change = np.ones(nrings, bool)
    key_change[1:] = ((asm.part_feat[1:] != asm.part_feat[:-1])
                      | (poly[1:] != poly[:-1]))
    starts = np.nonzero(key_change)[0]
    ends = np.concatenate([starts[1:], [nrings]])
    flo = lo[asm.part_feat]
    want = []
    for s, e in zip(starts, ends):
        rings = [(asm.vx[asm.part_start[ri]:asm.part_start[ri + 1]],
                  asm.vy[asm.part_start[ri]:asm.part_start[ri + 1]])
                 for ri in range(s, e)]
        for p in clip_polygon(rings, int(flo[s]), int(hi[asm.part_feat[s]])):
            for k, (xs, ys) in enumerate(p):
                want.append((int(asm.part_feat[s]), 1 if k == 0 else 2,
                             xs.tolist(), ys.tolist()))

    out, ort = polyclip.clip_polygons_packed(asm, kept_rt, poly, lo, hi)
    got = []
    for ri in range(len(out.part_feat)):
        s, e = out.part_start[ri], out.part_start[ri + 1]
        got.append((int(out.part_feat[ri]), int(ort[ri]),
                    out.vx[s:e].tolist(), out.vy[s:e].tolist()))
    assert got == want
