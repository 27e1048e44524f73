"""composite / composite_packed — row-identical parity with the per-row
reference plan (tests/reference_plans.py).

The plan crosses the python seam one row per SOURCE GROUP in both
directions (pack → fan/clip kernel → re-pack → JVM inline); every
re-arrangement must be invisible in the relational rows. Mirrors the
fused-sink parity matrix (tests/test_overzoom_fused.py) shape-for-shape.
"""

import pytest
from pyspark.sql import functions as F

from tests import reference_plans as R
from vtcomposite_spark.operators import composite as C
from vtcomposite_spark.sources import ingest

_canon = R.canon_rows


def _check(feats, targets, src_zooms=None):
    """composite_packed (undeclared zooms by default) against the per-row
    reference: same columns, same rows as a multiset."""
    want = R.composite_rows(feats, targets)
    got = C.composite_packed(feats, targets, src_zooms=src_zooms)
    assert got.columns == want.columns
    w, g = _canon(want), _canon(got)
    assert w  # non-trivial
    assert g == w


def _grid_feats(spark, fixture_bytes, name, src_zoom=8, n=4):
    template = ingest.features_from_tiles(
        spark, [(fixture_bytes(name), 0, 0, 0)]).drop("src_z", "src_x", "src_y")
    grid = spark.range(n).select(
        (F.col("id") % 2).cast("long").alias("src_x"),
        (F.col("id") / 2).cast("long").alias("src_y"))
    return template.crossJoin(grid).withColumn("src_z", F.lit(src_zoom)), grid


def _targets(spark, grid, z, src_zoom, buffer_size=128):
    k = 1 << (z - src_zoom)
    fan = spark.range(k * k).select(
        (F.col("id") % k).alias("dx"), (F.col("id") / k).cast("long").alias("dy"))
    return grid.crossJoin(fan).select(
        F.lit(z).alias("z"),
        (F.col("src_x") * k + F.col("dx")).cast("long").alias("x"),
        (F.col("src_y") * k + F.col("dy")).cast("long").alias("y"),
        F.lit(buffer_size).alias("buffer_size"),
        F.lit(None).cast("array<string>").alias("keep_layers"),
        F.lit(False).alias("compress"))


@pytest.mark.parametrize("fixture", [
    "linestrings-properties-16-10498-22872.mvt",
    "polygons-properties-16-10498-22872.mvt",
    "points-properties-16-10498-22872.mvt",
])
def test_dz1_parity(spark, fixture_bytes, fixture):
    feats, grid = _grid_feats(spark, fixture_bytes, fixture)
    _check(feats, _targets(spark, grid, 9, 8))


def test_mixed_dz0_dz2_parity(spark, fixture_bytes):
    """Same-zoom pass-through targets and dz=2 grandchildren in ONE request."""
    feats, grid = _grid_feats(
        spark, fixture_bytes, "linestrings-properties-16-10498-22872.mvt")
    t0 = grid.select(
        F.lit(8).alias("z"), F.col("src_x").alias("x"), F.col("src_y").alias("y"),
        F.lit(0).alias("buffer_size"),
        F.lit(None).cast("array<string>").alias("keep_layers"),
        F.lit(False).alias("compress"))
    t2 = _targets(spark, grid, 10, 8)
    _check(feats, t0.unionByName(t2))


def test_first_wins_keep_holes_parity(spark, fixture_bytes):
    """Two input tiles share one source address (first-wins before the
    seam), per-target keep-lists, polygons with holes, and a dz=0 target."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    pbuf = fixture_bytes("polygons-with-holes-4-13-6.mvt")
    f2 = ingest.features_from_tiles(
        spark, [(lbuf, 4, 2, 3), (pbuf, 4, 2, 3), (lbuf, 4, 2, 2)])
    name = f2.select("layer").distinct().orderBy("layer").collect()[0].layer
    t3 = spark.createDataFrame(
        [(5, 4, 6, 128, None, False), (5, 5, 7, 4080, [name], False),
         (4, 2, 3, 0, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    _check(f2, t3)


def test_null_buffer_size_parity(spark, fixture_bytes):
    """NULL buffer_size (dz>0) drops all its features via the envelope
    predicate in both paths — the packed seam must not resurrect them.
    A dz=0 NULL-buffer target PASSES THROUGH (the fast path ignores the
    buffer) and must survive the packed seam's integer tile-column
    rebuild even when its batch also carries clip rows — the NaN-cast
    crash a review repro found."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    feats = ingest.features_from_tiles(spark, [(lbuf, 4, 2, 3)])
    targets = spark.createDataFrame(
        [(5, 4, 6, None, None, False),
         (5, 5, 7, 128, None, False),
         (4, 2, 3, None, None, False)],   # dz=0, NULL buffer: pass-through
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    _check(feats, targets)                      # undeclared zooms
    _check(feats, targets, src_zooms=[4])      # declared single zoom
    got = C.composite_packed(feats, targets)
    assert {(r.z, r.x, r.y) for r in got.select("z", "x", "y").collect()} \
        == {(5, 5, 7), (4, 2, 3)}


@pytest.mark.parametrize("fixture", [
    "linestrings-properties-16-10498-22872.mvt",
    "polygons-properties-16-10498-22872.mvt",
    "points-properties-16-10498-22872.mvt",
])
def test_source_grouped_dz1_parity(spark, fixture_bytes, fixture):
    """composite with a declared single zoom (features shuffle once,
    in-kernel fan-out, packed emit) must be row-identical to the per-row
    reference."""
    feats, grid = _grid_feats(spark, fixture_bytes, fixture)
    targets = _targets(spark, grid, 9, 8)
    want = R.composite_rows(feats, targets)
    got = C.composite(feats, targets, [8])
    assert got.columns == want.columns
    w = _canon(want)
    assert w and _canon(got) == w


def test_source_grouped_mixed_dz0_dz2_first_wins_keep(spark, fixture_bytes):
    """The fused-sink parity shapes, relational: shared source address
    (first-wins), keep-list target, dz=0 pass-through + dz=2, null buffer."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    pbuf = fixture_bytes("polygons-with-holes-4-13-6.mvt")
    f2 = ingest.features_from_tiles(
        spark, [(lbuf, 4, 2, 3), (pbuf, 4, 2, 3), (lbuf, 4, 2, 2)])
    name = f2.select("layer").distinct().orderBy("layer").collect()[0].layer
    t3 = spark.createDataFrame(
        [(5, 4, 6, 128, None, False), (5, 5, 7, 4080, [name], False),
         (4, 2, 3, 0, None, False), (6, 11, 14, 64, None, True),
         (5, 4, 7, None, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    want = R.composite_rows(f2, t3)
    got = C.composite(f2, t3, [4])
    assert got.columns == want.columns
    w = _canon(want)
    assert w and _canon(got) == w


def test_undeclared_single_zoom(spark, fixture_bytes):
    """A single-zoom input with no declared zoom runs the winner pass and
    still produces the reference's exact rows; declared runs the fast
    mode."""
    feats, grid = _grid_feats(
        spark, fixture_bytes, "linestrings-properties-16-10498-22872.mvt")
    targets = _targets(spark, grid, 9, 8)
    _check(feats, targets)
    _check(feats, targets, src_zooms=[8])


def test_multizoom_declared_and_undeclared(spark, fixture_bytes):
    """Two source zooms through the one winner pass, undeclared and
    declared — cross-zoom first-wins included (both sources contribute
    the same layer name; the z4 tile has the lower tile_idx, so it owns
    the layer at every target both cover)."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    pbuf = fixture_bytes("polygons-properties-16-10498-22872.mvt")
    feats = ingest.features_from_tiles(
        spark, [(lbuf, 4, 2, 3), (pbuf, 5, 4, 6)])
    targets = spark.createDataFrame(
        [(5, 4, 6, 128, None, False), (6, 8, 12, 64, None, False),
         (6, 9, 13, 128, None, False), (4, 2, 3, 0, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    _check(feats, targets)
    _check(feats, targets, src_zooms=[4, 5])


def test_source_grouped_targets_without_keep_layers(spark, fixture_bytes):
    """The sink contract tolerates a missing keep_layers column; the
    relational wrapper must too (rows == composite with a null keep)."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    feats = ingest.features_from_tiles(spark, [(lbuf, 4, 2, 3)])
    bare = spark.createDataFrame(
        [(5, 4, 6, 128, False)],
        "z int, x long, y long, buffer_size int, compress boolean")
    got = C.composite(feats, bare, [4])
    want = R.composite_rows(feats, bare)
    assert got.columns == want.columns
    w = _canon(want)
    assert w and _canon(got) == w


@pytest.mark.parametrize("seed", [20, 21, 22])
def test_randomized_multizoom_relational_parity(spark, seed):
    """Randomized MIXED-ZOOM tilesets (sources at two zooms, shared layer
    names, targets descending from either or both, keep-lists, varying
    buffers) — the multi-zoom source-grouped relational route must be
    row-identical to the per-row reference on shapes no hand case pins,
    declared and undeclared."""
    import numpy as np

    from vtcomposite_spark.sources import mvt

    rng = np.random.default_rng(seed)

    def rand_feature(gt):
        if gt == 1:
            parts = [[(int(rng.integers(-200, 4300)),
                       int(rng.integers(-200, 4300)))]
                     for _ in range(rng.integers(1, 3))]
            rts = [0] * len(parts)
        elif gt == 2:
            parts = [[(int(x), int(y)) for x, y in
                      rng.integers(-200, 4300, size=(rng.integers(2, 6), 2))]
                     for _ in range(rng.integers(1, 3))]
            rts = [0] * len(parts)
        else:
            x, y = int(rng.integers(-100, 3800)), int(rng.integers(-100, 3800))
            w, h = int(rng.integers(50, 600)), int(rng.integers(50, 600))
            ring = [(x, y), (x, y + h), (x + w, y + h), (x + w, y), (x, y)]
            parts, rts = [ring], [1 if mvt.ring_area2(ring) > 0 else 2]
        props = {f"k{j}": v for j, v in enumerate(
            [int(rng.integers(-5, 5)), float(round(rng.normal(), 3)),
             "s" + str(rng.integers(0, 3))][:rng.integers(0, 4)])}
        return mvt.Feature(geom_type=gt, parts=parts, ring_types=rts,
                           properties=props, prop_types=None,
                           fid=int(rng.integers(0, 99)) if rng.random() < .5
                           else None)

    def rand_tile(nlayers):
        return mvt.encode_tile([
            mvt.Layer(name=f"L{li % 2}",
                      features=[rand_feature(int(rng.integers(1, 4)))
                                for _ in range(rng.integers(1, 5))])
            for li in range(nlayers)])

    ZLO, ZHI = 4, 5
    srcs = []
    for _ in range(5):
        if rng.random() < 0.5:
            srcs.append((ZLO, int(rng.integers(0, 2)), int(rng.integers(0, 2))))
        else:
            srcs.append((ZHI, int(rng.integers(0, 4)), int(rng.integers(0, 4))))
    tiles = [(rand_tile(int(rng.integers(1, 3))), *s) for s in srcs]
    feats = ingest.features_from_tiles(spark, tiles)

    trows = []
    for (sz, sx, sy) in srcs:
        for _ in range(int(rng.integers(1, 3))):
            dz = int(rng.integers(0, 3))
            trows.append((
                sz + dz,
                (sx << dz) + int(rng.integers(0, 1 << dz)),
                (sy << dz) + int(rng.integers(0, 1 << dz)),
                int(rng.choice([0, 128, 4080])),
                ["L0"] if rng.random() < 0.3 else None,
                bool(rng.random() < 0.3)))
    seen: dict = {}
    for r in trows:
        seen.setdefault(r[:3], r)
    targets = spark.createDataFrame(
        list(seen.values()), "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    _check(feats, targets, src_zooms=[ZLO, ZHI])
    _check(feats, targets)


@pytest.mark.parametrize("seed", [30, 31, 32, 33])
def test_randomized_composite_points_parity(spark, seed):
    """Randomized POINT tilesets — multipoints with one part per point, as
    ingest produces them, at two zooms sharing layer names — through
    ``composite_points`` (per-row plan, first-wins window, pure JVM
    clip): the same columns and the same rows as a multiset as
    ``composite`` and the per-row reference (first-wins as a semi-join).
    The generator covers keep-lists, dz=0 targets (raw pass-through,
    points outside the extent included), points exactly on ±buffer and a
    NULL ``buffer_size`` on a dz=0 and on a dz>0 target, and asserts that
    it hit a layer won by the higher zoom, a dz=0 target and an edge
    point."""
    import numpy as np

    from vtcomposite_spark.sources import mvt

    rng = np.random.default_rng(seed)
    ZLO, ZHI, EXT = 4, 5, 4096

    def point_feature(parts):
        return mvt.Feature(geom_type=1, parts=[[p] for p in parts],
                           ring_types=[],
                           properties={"k": int(rng.integers(0, 5))},
                           prop_types=None,
                           fid=int(rng.integers(0, 99))
                           if rng.random() < .5 else None)

    def rand_points():
        return [(int(rng.integers(-300, EXT + 300)),
                 int(rng.integers(-300, EXT + 300)))
                for _ in range(rng.integers(1, 4))]

    lo = [(ZLO, int(rng.integers(0, 2)), int(rng.integers(0, 2)))
          for _ in range(2)]
    hi = []
    for _ in range(4):
        _, px, py = lo[int(rng.integers(0, len(lo)))]
        hi.append((ZHI, 2 * px + int(rng.integers(0, 2)),
                   2 * py + int(rng.integers(0, 2))))
    # tile order (tile_idx) shuffled across zooms, a z5 tile first: it
    # wins L0 over its z4 parent
    srcs = [hi[0]] + [(lo + hi[1:])[i] for i in rng.permutation(
        len(lo) + len(hi) - 1)]

    def target(src, dz, buffer_size):
        sz, sx, sy = src
        return (sz + dz, (sx << dz) + int(rng.integers(0, 1 << dz)),
                (sy << dz) + int(rng.integers(0, 1 << dz)), buffer_size,
                [f"L{li}" for li in rng.choice(3, size=int(
                    rng.integers(1, 3)), replace=False)]
                if rng.random() < 0.3 else None,
                bool(rng.random() < 0.3))

    # a NULL buffer on a dz=0 and on a dz>0 target, then random targets
    placed = [(hi[0], target(hi[0], 0, None)),
              (hi[1], target(hi[1], 1, None))]
    placed += [(s, target(s, int(rng.integers(0, 3)),
                          int(rng.choice([0, 128, 4080]))))
               for s in srcs for _ in range(int(rng.integers(1, 4)))]

    def edge_points(src):
        """Points that land exactly on -buffer / extent + buffer of one of
        ``src``'s overzoomed targets, mid-window on the other axis."""
        out = []
        for s, (tz, tx, ty, b, _, _) in placed:
            dz = tz - src[0]
            if s != src or dz == 0 or b is None:
                continue
            cx, cy = tx - (src[1] << dz), ty - (src[2] << dz)
            mid = (cy * EXT + EXT // 2) >> dz
            out += [((cx * EXT - b) >> dz, mid),
                    ((cx * EXT + EXT + b) >> dz, mid)]
        return out

    def tile(src):
        # every tile has L0, so zooms compete for it; its edge points ride
        # a layer of its own, which no other tile's first-wins can take
        names = [0] + [li for li in (1, 2) if rng.random() < 0.5]
        layers = [mvt.Layer(name=f"L{names[i]}", features=[
            point_feature(rand_points()) for _ in range(rng.integers(1, 5))])
            for i in rng.permutation(len(names))]
        edge = edge_points(src)
        if edge:
            layers.append(mvt.Layer(name=f"E{src}",
                                    features=[point_feature(edge)]))
        return mvt.encode_tile(layers)

    feats = ingest.features_from_tiles(spark, [(tile(s), *s) for s in srcs])
    trows = [t for _, t in placed]
    seen: dict = {}
    for r in trows:
        seen.setdefault(r[:3], r)
    targets = spark.createDataFrame(
        list(seen.values()), "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")

    want = R.composite_rows(feats, targets)
    rows = want.collect()
    # coverage: a (target, layer) with candidates at both zooms that the
    # higher zoom wins, a dz=0 target, an edge point
    cand = C.apply_keep_layers(C.ancestor_join(feats, targets)).select(
        "z", "x", "y", "layer", "src_z", "tile_idx").collect()
    best: dict = {}
    zooms: dict = {}
    for r in cand:
        k = (r.z, r.x, r.y, r.layer)
        zooms.setdefault(k, set()).add(r.src_z)
        best[k] = min(best.get(k, (r.tile_idx, r.src_z)),
                      (r.tile_idx, r.src_z))
    assert any(len(zooms[k]) > 1 and best[k][1] == ZHI for k in best)
    assert any(r.z == r.src_z and any(v < 0 or v >= EXT
                                      for v in r.xs + r.ys) for r in rows)
    assert any(r.z > r.src_z and r.buffer_size is not None and any(
        v in (-r.buffer_size, EXT + r.buffer_size) for v in r.xs + r.ys)
        for r in rows)
    w = _canon(want)
    assert w  # non-trivial
    for got in (C.composite_points(feats, targets),
                C.composite(feats, targets)):
        assert got.columns == want.columns
        assert _canon(got) == w


def test_empty_declared_zooms_yield_empty(spark, fixture_bytes):
    """An explicitly-declared EMPTY src_zooms list (e.g. computed from an
    empty catalog) must yield an empty result with the right schema in
    both the relational path and the fused sink."""
    buf = fixture_bytes("four-points-quadrants.mvt")
    feats = ingest.features_from_tiles(spark, [(buf, 0, 0, 0)])
    targets = spark.createDataFrame(
        [(1, 0, 0, 0, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    rel = C.composite_packed(feats, targets, src_zooms=[])
    assert rel.count() == 0
    assert rel.columns == C.composite(feats, targets).columns
    sink = C.composite_encode_tiles(feats, targets, src_zooms=[])
    assert sink.count() == 0 and sink.columns == ["z", "x", "y", "tile"]
    # ANY empty iterable means declared-empty
    assert C.composite_packed(feats, targets, src_zooms=()).count() == 0


def test_all_clipped_away_yields_nothing(spark, fixture_bytes):
    """A target whose window every feature misses: the packed row inlines
    to zero rows, exactly like the per-row path."""
    buf = fixture_bytes("four-points-quadrants.mvt")
    feats = ingest.features_from_tiles(spark, [(buf, 0, 0, 0)])
    # deep overzoom into a corner none of the four quadrant points hits
    targets = spark.createDataFrame(
        [(8, 129, 129, 0, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    want = R.composite_rows(feats, targets).count()
    got = C.composite_packed(feats, targets).count()
    assert got == want == 0
