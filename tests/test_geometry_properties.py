"""Property-based invariants for the geometry kernels (hypothesis).

These guard the numerics the golden tests can't: arbitrary inputs must
never produce out-of-window output, clipping must be idempotent, and the
line clipper must preserve inside geometry exactly.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.reference_plans import clip_polygon
from vtcomposite_spark import geometry as geo
from vtcomposite_spark.geometry import PackedParts

I = np.int64
LO, HI = 0, 4096

coord = st.integers(min_value=-10000, max_value=14000)
point = st.tuples(coord, coord)


def pack_lines(parts):
    vx, vy, starts, feat = [], [], [0], []
    for part in parts:
        for x, y in part:
            vx.append(x)
            vy.append(y)
        starts.append(len(vx))
        feat.append(0)
    return PackedParts(np.array(vx, I), np.array(vy, I),
                       np.array(starts, I), np.array(feat, I))


@settings(max_examples=200, deadline=None)
@given(st.lists(point, min_size=2, max_size=12))
def test_line_clip_output_within_window(pts):
    g = pack_lines([pts])
    out = geo.clip_lines(g, np.array([LO], I), np.array([HI], I))
    if len(out.vx):
        assert out.vx.min() >= LO and out.vx.max() <= HI
        assert out.vy.min() >= LO and out.vy.max() <= HI
    # every part has >= 2 points and no consecutive duplicates
    for p in range(len(out.part_feat)):
        s, e = out.part_start[p], out.part_start[p + 1]
        assert e - s >= 2
        seg = list(zip(out.vx[s:e].tolist(), out.vy[s:e].tolist()))
        assert all(seg[i] != seg[i + 1] for i in range(len(seg) - 1))


@settings(max_examples=200, deadline=None)
@given(st.lists(point, min_size=2, max_size=12))
def test_line_clip_idempotent(pts):
    g = pack_lines([pts])
    once = geo.clip_lines(g, np.array([LO], I), np.array([HI], I))
    if not len(once.vx):
        return
    twice = geo.clip_lines(once, np.array([0], I), np.array([HI], I))
    assert once.vx.tolist() == twice.vx.tolist()
    assert once.vy.tolist() == twice.vy.tolist()
    assert once.part_start.tolist() == twice.part_start.tolist()


inside_point = st.tuples(st.integers(LO, HI), st.integers(LO, HI))


@settings(max_examples=200, deadline=None)
@given(st.lists(inside_point, min_size=2, max_size=12))
def test_line_fully_inside_unchanged(pts):
    g = geo.dedupe_consecutive(pack_lines([pts]))
    sizes = np.diff(g.part_start)
    if not len(g.vx) or sizes[0] < 2:
        return
    out = geo.clip_lines(g, np.array([LO], I), np.array([HI], I))
    assert out.vx.tolist() == g.vx.tolist()
    assert out.vy.tolist() == g.vy.tolist()


def _closed_ring(pts):
    ring = list(dict.fromkeys(pts))  # drop duplicate vertices
    if len(ring) < 3:
        return None
    # order by angle around the centroid → simple (star-shaped) polygon
    cx = sum(p[0] for p in ring) / len(ring)
    cy = sum(p[1] for p in ring) / len(ring)
    import math
    ring.sort(key=lambda p: math.atan2(p[1] - cy, p[0] - cx))
    # positive-area orientation (exterior per MVT convention)
    xs = np.array([p[0] for p in ring] + [ring[0][0]], I)
    ys = np.array([p[1] for p in ring] + [ring[0][1]], I)
    area2 = int(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1]))
    if area2 == 0:
        return None
    if area2 < 0:
        xs, ys = xs[::-1].copy(), ys[::-1].copy()
    return xs, ys


@settings(max_examples=200, deadline=None)
@given(st.lists(point, min_size=3, max_size=10))
def test_polygon_clip_output_within_window(pts):
    ring = _closed_ring(pts)
    if ring is None:
        return
    out = clip_polygon([ring], LO, HI)
    for poly in out:
        for xs, ys in poly:
            assert xs.min() >= LO and xs.max() <= HI
            assert ys.min() >= LO and ys.max() <= HI
            assert xs[0] == xs[-1] and ys[0] == ys[-1]  # closed
            assert len(xs) >= 4


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(LO, HI), st.integers(LO, HI)),
                min_size=3, max_size=10))
def test_polygon_fully_inside_unchanged(pts):
    ring = _closed_ring(pts)
    if ring is None:
        return
    out = clip_polygon([ring], LO, HI)
    assert len(out) == 1 and len(out[0]) == 1
    xs, ys = out[0][0]
    assert xs.tolist() == ring[0].tolist()
    assert ys.tolist() == ring[1].tolist()


@settings(max_examples=100, deadline=None)
@given(st.lists(point, min_size=3, max_size=10))
def test_polygon_clip_idempotent(pts):
    ring = _closed_ring(pts)
    if ring is None:
        return
    once = clip_polygon([ring], LO, HI)
    for poly in once:
        again = clip_polygon(poly, LO, HI)
        assert len(again) == 1
        for (xs1, ys1), (xs2, ys2) in zip(poly, again[0]):
            assert xs1.tolist() == xs2.tolist()
            assert ys1.tolist() == ys2.tolist()
