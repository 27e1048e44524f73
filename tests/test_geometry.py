"""Geometry-kernel unit tests (pure numpy, no Spark).

Golden values ported from the reference tests:
* point overzoom (1280,1664) / (1024,2560): test/vtcomposite-points.test.js:41-112
* simple-line overzoom endpoints (784,1848)/(4224,3398):
  test/vtcomposite-linestrings.test.js:8-39
* polygon-with-hole survives overzoom with both rings:
  test/vtcomposite-polygons.test.js:104-131
"""

import numpy as np
import pytest

from vtcomposite_spark import geometry as geo
from vtcomposite_spark import polyclip
from vtcomposite_spark.geometry import PackedParts

I = np.int64


def pack(parts_per_feature):
    """parts_per_feature: list (per feature) of list of [(x,y)...] parts."""
    vx, vy, starts, feat = [], [], [0], []
    for fi, parts in enumerate(parts_per_feature):
        for part in parts:
            for x, y in part:
                vx.append(x)
                vy.append(y)
            starts.append(len(vx))
            feat.append(fi)
    return PackedParts(np.array(vx, I), np.array(vy, I),
                       np.array(starts, I), np.array(feat, I))


def unpack(g: PackedParts):
    out = []
    for p in range(len(g.part_feat)):
        s, e = g.part_start[p], g.part_start[p + 1]
        out.append((int(g.part_feat[p]),
                    list(zip(g.vx[s:e].tolist(), g.vy[s:e].tolist()))))
    return out


def test_dedupe_consecutive():
    g = pack([[[(0, 0), (0, 0), (1, 1), (1, 1), (2, 2)]], [[(5, 5), (5, 5)]]])
    d = geo.dedupe_consecutive(g)
    assert unpack(d) == [(0, [(0, 0), (1, 1), (2, 2)]), (1, [(5, 5)])]


def test_four_points_overzoom_z1():
    # original z0 pixel coords of the four quadrant points
    pts = [(640, 832), (3040, 912), (800, 2576), (2928, 2288)]
    g = pack([[[p]] for p in pts])
    zf = np.full(4, 2, I)
    # z1/0/0 sits at the origin of z0/0/0: displacement (0, 0)
    g2 = geo.affine(g, zf, np.zeros(4, I), np.zeros(4, I))
    lo = np.full(4, 0, I)
    hi = np.full(4, 4096, I)
    out = geo.clip_points(g2, lo, hi)
    # only the top-left point survives, at exactly (1280, 1664)
    assert unpack(out) == [(0, [(1280, 1664)])]


def test_four_points_overzoom_z3():
    pts = [(640, 832), (3040, 912), (800, 2576), (2928, 2288)]
    g = pack([[[p]] for p in pts])
    zf = np.full(4, 8, I)
    # z3/1/1 inside z0/0/0: (x mod 8, y mod 8) * 4096 = (4096, 4096)
    g2 = geo.affine(g, zf, np.full(4, 4096, I), np.full(4, 4096, I))
    out = geo.clip_points(g2, np.zeros(4, I), np.full(4, 4096, I))
    assert unpack(out) == [(0, [(1024, 2560)])]


def test_simple_line_overzoom_buffer128():
    # z0 pixels of the simple-line fixture endpoints
    p0 = (392, 924)
    p1 = (2380, 1820)
    g = pack([[[p0, p1]]])
    zf = np.array([2], I)
    g2 = geo.affine(g, zf, np.zeros(1, I), np.zeros(1, I))
    out = geo.clip_lines(g2, np.array([-128], I), np.array([4096 + 128], I))
    parts = unpack(out)
    assert len(parts) == 1
    pts = parts[0][1]
    assert pts[0] == (784, 1848)
    assert pts[1] == (4224, 3398)


def test_line_crossing_box_produces_two_runs():
    # line exits and re-enters the box → two output parts
    g = pack([[[(-10, 5), (5, 5), (20, 5), (20, 8), (5, 8), (-10, 8)]]])
    out = geo.clip_lines(g, np.array([0], I), np.array([10], I))
    parts = unpack(out)
    assert len(parts) == 2
    assert parts[0][1] == [(0, 5), (5, 5), (10, 5)]
    assert parts[1][1] == [(10, 8), (5, 8), (0, 8)]


def test_line_fully_outside_dropped():
    g = pack([[[(-10, -10), (-5, -5)]]])
    out = geo.clip_lines(g, np.array([0], I), np.array([10], I))
    assert len(out.part_feat) == 0


def clip_polygons(g, ring_type, lo, hi):
    """The engine's polygon path: dedupe, ring assembly, polygon clip."""
    g = geo.dedupe_consecutive(g)
    asm, rt, poly_id = geo.assemble_polygons(
        g, np.asarray(ring_type, np.int8), lo, hi)
    return polyclip.clip_polygons_packed(asm, rt, poly_id, lo, hi)


def test_ring_clip_square():
    # CW square (y-down outer) half outside the box
    ring = [(-5, 0), (5, 0), (5, 10), (-5, 10), (-5, 0)]
    clipped, rt = clip_polygons(pack([[ring]]), [1],
                                np.array([0], I), np.array([10], I))
    assert rt.tolist() == [1]
    parts = unpack(clipped)
    assert len(parts) == 1
    pts = parts[0][1]
    assert pts[0] == pts[-1]  # closed
    assert pts == [(0, 0), (5, 0), (5, 10), (0, 10), (0, 0)]
    assert geo.ring_bboxes(clipped)[0][0] >= 0


def test_ring_fully_inside_unchanged():
    ring = [(1, 1), (9, 1), (9, 9), (1, 9), (1, 1)]
    clipped, _ = clip_polygons(pack([[ring]]), [1],
                               np.array([0], I), np.array([10], I))
    assert unpack(clipped) == [(0, ring)]


def test_ring_fully_outside_dropped():
    ring = [(20, 20), (30, 20), (30, 30), (20, 30), (20, 20)]
    clipped, rt = clip_polygons(pack([[ring]]), [1],
                                np.array([0], I), np.array([10], I))
    assert len(clipped.part_feat) == 0 and len(rt) == 0


def test_polygon_with_hole_overzoom():
    # polygon with hole entirely in the NW quadrant: overzoom z0→z1/0/0
    outer = [(100, 100), (1900, 100), (1900, 1900), (100, 1900), (100, 100)]
    hole = [(500, 500), (500, 1000), (1000, 1000), (1000, 500), (500, 500)]
    g = pack([[outer, hole]])
    ring_type = np.array([1, 2], np.int8)
    zf = np.full(1, 2, I)
    g2 = geo.affine(g, zf, np.zeros(1, I), np.zeros(1, I))
    lo, hi = np.zeros(1, I), np.full(1, 4096, I)
    asm, rt, poly_id = geo.assemble_polygons(g2, ring_type, lo, hi)
    assert rt.tolist() == [1, 2]
    assert poly_id.tolist() == [0, 0]
    clipped, out_rt = polyclip.clip_polygons_packed(asm, rt, poly_id, lo, hi)
    # both rings survive (test/vtcomposite-polygons.test.js:104-131: 1 feature, 2 rings)
    assert len(clipped.part_feat) == 2 and out_rt.tolist() == [1, 2]
    pts = unpack(clipped)
    assert pts[0][1][0] == (200, 200)


def test_assemble_drops_orphan_inner_and_failed_envelope():
    far = [(50000, 50000), (50010, 50000), (50010, 50010), (50000, 50010), (50000, 50000)]
    near = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
    inner = [(2, 2), (2, 4), (4, 4), (4, 2), (2, 2)]
    # feature 0: orphan inner first, then a far outer (fails envelope) with its inner
    g = pack([[inner, far, inner], [near]])
    ring_type = np.array([2, 1, 2, 1], np.int8)
    lo = np.zeros(2, I)
    hi = np.full(2, 4096, I)
    asm, rt, poly_id = geo.assemble_polygons(g, ring_type, lo, hi)
    # only the near outer of feature 1 survives
    assert len(asm.part_feat) == 1
    assert asm.part_feat.tolist() == [1]
    assert rt.tolist() == [1]


def test_degenerate_ring_dropped_after_clip():
    # sliver collapses to fewer than 3 distinct vertices after rounding
    ring = [(0, 0), (10, 0), (10, 0), (0, 0), (0, 0)]
    clipped, _ = clip_polygons(pack([[ring]]), [1],
                               np.array([0], I), np.array([100], I))
    assert len(clipped.part_feat) == 0


def test_point_on_boundary_kept():
    # covered_by semantics: boundary counts (src/feature_builder.hpp:42-45)
    g = pack([[[(0, 0)]], [[(4096, 4096)]], [[(4097, 0)]]])
    out = geo.clip_points(g, np.zeros(3, I), np.full(3, 4096, I))
    assert [f for f, _ in unpack(out)] == [0, 1]
