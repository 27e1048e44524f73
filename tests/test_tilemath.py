"""Tile-math unit tests against reference golden values.

Golden sources:
* four-points fixture lon/lats: reference test/fixtures/four-points.js
* lon/lat→tile formulas: reference test/vtcomposite-points.test.js:11-17
* displacement/ancestry: reference src/zxy_math.hpp
"""

import numpy as np
from pyspark.sql import functions as F

from tests.reference_plans import lonlat_to_tile_px
from vtcomposite_spark import tilemath as tm

FOUR_POINTS = [
    (-123.74999999999999, 72.39570570653261),   # top-left
    (87.1875, 74.77584300649235),                # top-right
    (-109.6875, -42.03297433244139),             # bottom-left
    (77.34374999999999, -20.632784250388013),    # bottom-right
]


def test_four_points_z0_pixels():
    lon = np.array([p[0] for p in FOUR_POINTS])
    lat = np.array([p[1] for p in FOUR_POINTS])
    tx, ty, px, py = lonlat_to_tile_px(lon, lat, 0)
    assert (tx == 0).all() and (ty == 0).all()
    # first point quantizes to (640, 832): ×2 == golden (1280,1664)
    # (test/vtcomposite-points.test.js:41-73 asserts 2× original)
    assert px[0] == 640 and py[0] == 832


def test_displacement_matches_reference_bitwalk(spark):
    """The composite plan's disp_x/disp_y columns
    (``operators.composite._overzoom_prep``) equal the reference's
    bit-walk loop (src/zxy_math.hpp:19-40)."""
    from vtcomposite_spark.operators.composite import _overzoom_prep

    def ref_disp(source_z, tile_size, z, x, y):
        half = tile_size >> 1
        dx = dy = 0
        for _ in range(z - source_z, 0, -1):
            half <<= 1
            if x & 1:
                dx += half
            if y & 1:
                dy += half
            x >>= 1
            y >>= 1
        return dx, dy

    # the golden overzoom z0 → z3/1/1 first, then random tiles
    cases = [(0, 3, 1, 1)]
    rng = np.random.default_rng(42)
    for _ in range(200):
        sz = int(rng.integers(0, 10))
        z = sz + int(rng.integers(0, 8))
        x = int(rng.integers(0, 1 << z)) if z else 0
        y = int(rng.integers(0, 1 << z)) if z else 0
        cases.append((sz, z, x, y))
    # one vertex at the origin and a buffer wider than any displacement,
    # so the envelope prune keeps every row
    df = spark.createDataFrame(
        [(i, *c, 4096, [0], [0], 1 << 30) for i, c in enumerate(cases)],
        "i int, src_z int, z int, x long, y long, extent int, "
        "xs array<int>, ys array<int>, buffer_size int")
    got = {r.i: (r.disp_x, r.disp_y)
           for r in _overzoom_prep(df).select("i", "disp_x", "disp_y")
           .collect()}
    assert got == {i: ref_disp(sz, 4096, z, x, y)
                   for i, (sz, z, x, y) in enumerate(cases)}
    # overzoom z0→z3/1/1 of the first four-points pixel (640, 832):
    # p*8 − 4096 == golden (1024, 2560)
    assert got[0] == (4096, 4096)
    assert (640 * 8 - got[0][0], 832 * 8 - got[0][1]) == (1024, 2560)


def test_within_target(spark):
    """``within_target_col`` (the __spark_entry__ keep predicate) on the
    reference src/zxy_math.hpp:8-17 semantics: (src tile, target, want)."""
    cases = [((0, 0, 0), (3, 5, 2), True),
             ((3, 5, 2), (3, 5, 2), True),
             ((2, 1, 1), (3, 5, 2), False),   # wrong branch
             ((4, 10, 4), (3, 5, 2), False),  # deeper than target
             # z1 ancestor of z3/5/2 is (5>>2, 2>>2) = (1, 0)
             ((1, 1, 0), (3, 5, 2), True)]
    df = spark.createDataFrame(
        [(i, *s, *t) for i, (s, t, _) in enumerate(cases)],
        "i int, src_z int, src_x long, src_y long, z int, x long, y long")
    keep = tm.within_target_col(*(F.col(c) for c in (
        "src_z", "src_x", "src_y", "z", "x", "y")))
    got = {r.i: r.keep for r in df.select("i", keep.alias("keep")).collect()}
    assert got == {i: want for i, (_, _, want) in enumerate(cases)}


def test_cell_pack_roundtrip(spark):
    """``pack_cell_col`` lays a cell out as (z << 58) | (x << 29) | y and
    ``unpack_cell_cols`` inverts it."""
    rng = np.random.default_rng(7)
    z = rng.integers(0, 29, 1000)
    x = rng.integers(0, 1 << 28, 1000) % (1 << z)
    y = rng.integers(0, 1 << 28, 1000) % (1 << z)
    df = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(z, x, y)],
        "z int, x long, y long")
    cell = df.withColumn("cell", tm.pack_cell_col(
        F.col("z"), F.col("x"), F.col("y")))
    back = tm.unpack_cell_cols(F.col("cell"))
    rows = cell.select("z", "x", "y", "cell", *(
        c.alias(n) for c, n in zip(back, ("z2", "x2", "y2")))).collect()
    assert len(rows) == 1000
    for r in rows:
        assert r.cell == (r.z << 58) | (r.x << 29) | r.y
        assert (r.z2, r.x2, r.y2) == (r.z, r.x, r.y)


# --- Morton / Z-order keys ---

def test_morton_hand_cases_and_bounds():
    assert int(tm.morton_key(1, 0)) == 2      # x rides the odd bits
    assert int(tm.morton_key(0, 1)) == 1
    assert int(tm.morton_key(3, 3)) == 15
    assert int(tm.morton_key((1 << 29) - 1, (1 << 29) - 1)) == (1 << 58) - 1
    import pytest
    with pytest.raises(ValueError):
        tm.morton_key(1 << 29, 0)
    with pytest.raises(ValueError):
        tm.morton_key(-1, 0)
    with pytest.raises(ValueError):
        tm.tile_zrange(3, 0, 0, 2)


def test_morton_bitwise_reference_parity():
    """Magic-mask spreading == the per-bit definition."""
    rng = np.random.default_rng(11)
    xs = rng.integers(0, 1 << 29, 300)
    ys = rng.integers(0, 1 << 29, 300)
    got = tm.morton_key(xs, ys)
    for a, b, k in zip(xs[:50], ys[:50], got[:50]):
        want = sum(((int(a) >> i) & 1) << (2 * i + 1)
                   | ((int(b) >> i) & 1) << (2 * i) for i in range(29))
        assert int(k) == want


def test_morton_zrange_prefix_property():
    """Every descendant of (z,x,y) at data_z — and ONLY those — lands
    inside tile_zrange; the range is exactly the 4^dz subtree."""
    rng = np.random.default_rng(13)
    for _ in range(20):
        z = int(rng.integers(0, 6))
        x = int(rng.integers(0, 1 << z)) if z else 0
        y = int(rng.integers(0, 1 << z)) if z else 0
        dz = int(rng.integers(0, 4))
        lo, hi = tm.tile_zrange(z, x, y, z + dz)
        kids = {int(tm.morton_key(x * (1 << dz) + dx, y * (1 << dz) + dy))
                for dx in range(1 << dz) for dy in range(1 << dz)}
        assert min(kids) == lo and max(kids) == hi
        assert len(kids) == hi - lo + 1  # contiguous, no strangers


def test_morton_three_form_parity(spark):
    """numpy == Spark expression == DuckDB SQL on random coords."""
    import duckdb

    rng = np.random.default_rng(17)
    xs = rng.integers(0, 1 << 29, 400)
    ys = rng.integers(0, 1 << 29, 400)
    want = sorted(int(v) for v in tm.morton_key(xs, ys))
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], "x long, y long")
    got_spark = sorted(
        r.k for r in df.select(tm.morton_col("x", "y").alias("k")).collect())
    assert got_spark == want
    import pandas as pd
    duckdb.register("_mz", pd.DataFrame({"x": xs, "y": ys}))
    got_duck = sorted(
        int(r[0]) for r in duckdb.sql(
            f"select {tm.morton_sql('x', 'y')} from _mz").fetchall())
    assert got_duck == want
