"""Raster↔vector operators: burn-in semantics, the batch burns against
the per-feature references, and the exact point round-trip."""

import numpy as np
import pytest

from tests import reference_plans as RP
from vtcomposite_spark.operators import raster as R
from vtcomposite_spark.operators.multimodal import decode_pnm


def _feat_rows(spark, rows):
    """rows: (geom_type, xs, ys, part_offsets) burned into tile (8, 1, 2)."""
    data = [(8, 1, 2, 4096, int(g), [int(v) for v in xs], [int(v) for v in ys],
             [int(p) for p in po]) for g, xs, ys, po in rows]
    return spark.createDataFrame(
        data, "z int, x long, y long, extent int, geom_type tinyint, "
              "xs array<long>, ys array<long>, part_offsets array<int>")


def _grid(spark, df, res):
    out = R.rasterize_tiles(df, resolution=res).collect()
    assert len(out) == 1
    w, h, c, px = decode_pnm(bytes(out[0].raster))
    assert (w, h, c) == (res, res, 1)
    return px.reshape(res, res), out[0]


def test_rasterize_points(spark):
    df = _feat_rows(spark, [
        (1, [0], [0], [0]),            # pixel (0, 0)
        (1, [4095], [4095], [0]),      # pixel (R-1, R-1)
        (1, [2048], [1024], [0]),      # pixel (32, 16)
        (1, [2049], [1025], [0]),      # same pixel at R=64
    ])
    img, row = _grid(spark, df, 64)
    assert img[0, 0] == 1 and img[63, 63] == 1 and img[16, 32] == 2
    assert row.n_nonzero == 3 and row.total_weight == 4


def test_rasterize_polygon_fill_with_hole(spark):
    # outer ring covering pixels cols 8..23, rows 8..23 at R=32 (tile
    # coords *128), hole covering 12..19 — even-odd parity carves it
    o = [8, 24, 24, 8, 8]
    oy = [8, 8, 24, 24, 8]
    hxs = [12, 20, 20, 12, 12]
    hys = [12, 12, 20, 20, 12]
    df = _feat_rows(spark, [
        (3, [v * 128 for v in o + hxs], [v * 128 for v in oy + hys], [0, 5])])
    img, row = _grid(spark, df, 32)
    assert img[10, 10] == 1       # inside outer
    assert img[15, 15] == 0       # inside hole
    assert img[4, 4] == 0         # outside
    assert row.total_weight == 16 * 16 - 8 * 8


def test_rasterize_line_burn(spark):
    # horizontal segment across pixels (y=8) cols 4..27 at R=32
    df = _feat_rows(spark, [(2, [4 * 128, 27 * 128 + 64], [8 * 128 + 64] * 2,
                             [0])])
    img, row = _grid(spark, df, 32)
    assert img[8, 4:28].all() and img[8, :4].sum() == 0
    assert row.n_nonzero == 24


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_batch_burn_equals_per_feature_reference(spark, seed):
    """The batch-global line/polygon/point burns must match the
    per-feature references (tests/reference_plans.py burn_points /
    burn_lines / fill_polygon)
    pixel-for-pixel on randomized mixed-geometry multi-tile batches —
    the polyclip batch==per-polygon equivalence pattern."""
    rng = np.random.default_rng(seed)
    RES = 48
    rows = []          # (z, x, y, extent, gt, xs, ys, po)
    for tx in range(3):
        for _ in range(rng.integers(1, 6)):
            gt = int(rng.integers(1, 4))
            if gt == 1:
                n = int(rng.integers(1, 4))
                xs = rng.integers(-100, 4200, n)
                ys = rng.integers(-100, 4200, n)
                po = [0]
            elif gt == 2:
                parts, po, off = [], [], 0
                for _ in range(rng.integers(1, 3)):
                    n = int(rng.integers(2, 6))
                    po.append(off)
                    parts.append(rng.integers(-200, 4300, (n, 2)))
                    off += n
                v = np.concatenate(parts)
                xs, ys = v[:, 0], v[:, 1]
            else:
                rings, po, off = [], [], 0
                for _ in range(rng.integers(1, 3)):
                    cx, cy = rng.integers(200, 3800, 2)
                    w, h = rng.integers(60, 1200, 2)
                    ring = np.array([(cx, cy), (cx, cy + h),
                                     (cx + w, cy + h), (cx + w, cy),
                                     (cx, cy)])
                    po.append(off)
                    rings.append(ring)
                    off += len(ring)
                v = np.concatenate(rings)
                xs, ys = v[:, 0], v[:, 1]
            rows.append((8, tx, 2, 4096, gt,
                         [int(v) for v in xs], [int(v) for v in ys],
                         [int(p) for p in po]))
    df = spark.createDataFrame(
        rows, "z int, x long, y long, extent int, geom_type tinyint, "
              "xs array<long>, ys array<long>, part_offsets array<int>")
    got = {(r.x): r for r in R.rasterize_tiles(df, resolution=RES).collect()}

    # per-feature reference accumulation
    want = {}
    for (z, x, y, ext, gt, xs, ys, po) in rows:
        acc = want.setdefault(x, np.zeros((RES, RES), np.int64))
        vx = np.array(xs, np.int64)
        vy = np.array(ys, np.int64)
        starts = np.concatenate([np.array(po, np.int64), [len(vx)]])
        if gt == 1:
            RP.burn_points(acc, vx, vy, RES, ext)
        elif gt == 2:
            RP.burn_lines(acc, vx, vy, starts, RES, ext)
        else:
            RP.fill_polygon(acc, vx, vy, starts, RES, ext)
    assert set(got) == set(want)
    from vtcomposite_spark.operators.multimodal import decode_pnm as dec
    for x, acc in want.items():
        w, h, c, px = dec(bytes(got[x].raster))
        assert (px.reshape(RES, RES)
                == np.minimum(acc, 255).astype(np.uint8)).all(), x
        assert got[x].total_weight == int(acc.sum())
        assert got[x].n_nonzero == int((acc > 0).sum())


def test_raster_to_points_exact_inverse(spark):
    df = _feat_rows(spark, [(1, [i * 64 + 1] , [i * 128 + 3], [0])
                            for i in range(20)])
    ras = R.rasterize_tiles(df, resolution=64)
    pts = {(r.px, r.py): r.value for r in R.raster_to_points(ras).collect()}
    want = {}
    for i in range(20):
        k = ((i * 64 + 1) * 64 // 4096, (i * 128 + 3) * 64 // 4096)
        want[k] = want.get(k, 0) + 1
    assert pts == want
