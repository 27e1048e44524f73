"""The fused sink (composite_encode_tiles / overzoom_encode_tiles) — byte
parity with the per-row reference (tests/reference_plans.py).

The source-grouped plan moves the target fan-out from the join into the
kernel (numpy gathers), computes first-wins per source group or from the
keys-only winner lists, applies keep-lists/envelope-prune per (feature,
target) pair and encodes a target drawing from several source groups
from its clipped rows in one call — every one of those re-arrangements
must be invisible in the output bytes.
"""

import pytest
from pyspark.sql import functions as F

from vtcomposite_spark.operators import composite as C
from vtcomposite_spark.sources import ingest

from tests import reference_plans as R


def _tiles(df):
    return {(r.z, r.x, r.y): bytes(r.tile) for r in df.collect()}


def _check(feats, targets, src_zoom, partitions=None):
    want = _tiles(R.encode_reference(feats, targets))
    got = _tiles(C.overzoom_encode_tiles(feats, targets, src_zoom=src_zoom,
                                         partitions=partitions))
    assert set(got) == set(want)
    assert want  # non-trivial
    for k in want:
        assert got[k] == want[k], k


def _grid_feats(spark, fixture_bytes, name, src_zoom=8, n=4):
    template = ingest.features_from_tiles(
        spark, [(fixture_bytes(name), 0, 0, 0)]).drop("src_z", "src_x", "src_y")
    grid = spark.range(n).select(
        (F.col("id") % 2).cast("long").alias("src_x"),
        (F.col("id") / 2).cast("long").alias("src_y"))
    return template.crossJoin(grid).withColumn("src_z", F.lit(src_zoom)), grid


def _targets(spark, grid, z, src_zoom, buffer_size=128, compress=False):
    k = 1 << (z - src_zoom)
    fan = spark.range(k * k).select(
        (F.col("id") % k).alias("dx"), (F.col("id") / k).cast("long").alias("dy"))
    return grid.crossJoin(fan).select(
        F.lit(z).alias("z"),
        (F.col("src_x") * k + F.col("dx")).cast("long").alias("x"),
        (F.col("src_y") * k + F.col("dy")).cast("long").alias("y"),
        F.lit(buffer_size).alias("buffer_size"),
        F.lit(None).cast("array<string>").alias("keep_layers"),
        F.lit(compress).alias("compress"))


@pytest.mark.parametrize("fixture,partitions", [
    ("linestrings-properties-16-10498-22872.mvt", None),
    ("polygons-properties-16-10498-22872.mvt", 16),
    ("points-properties-16-10498-22872.mvt", None),
])
def test_dz1_parity(spark, fixture_bytes, fixture, partitions):
    feats, grid = _grid_feats(spark, fixture_bytes, fixture)
    targets = _targets(spark, grid, 9, 8)
    _check(feats, targets, 8, partitions=partitions)


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
    _check(feats, t0.unionByName(t2), 8)


def test_first_wins_keep_compress_parity(spark, fixture_bytes):
    """Two input tiles share one source address (in-kernel first-wins must
    equal the generic keys-agg + semi-join), plus per-target keep-lists,
    gzip output, and a dz=0 target."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    pbuf = fixture_bytes("polygons-properties-16-10498-22872.mvt")
    f2 = ingest.features_from_tiles(
        spark, [(lbuf, 4, 2, 3), (pbuf, 4, 2, 3), (lbuf, 4, 2, 2)])
    name = f2.select("layer").distinct().collect()[0].layer
    t3 = spark.createDataFrame(
        [(5, 4, 6, 128, None, True), (5, 5, 7, 4080, [name], False),
         (4, 2, 3, 0, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    _check(f2, t3, 4)


def test_targets_above_source_zoom_yield_nothing(spark, fixture_bytes):
    """z < src_zoom targets drop, matching the generic inner join."""
    feats, grid = _grid_feats(
        spark, fixture_bytes, "linestrings-properties-16-10498-22872.mvt")
    bad = spark.createDataFrame([(7, 0, 0, 0, None, False)],
                                "z int, x long, y long, buffer_size int, "
                                "keep_layers array<string>, compress boolean")
    out = C.overzoom_encode_tiles(feats, bad, src_zoom=8)
    assert out.count() == 0


def test_null_buffer_size_parity(spark, fixture_bytes):
    """A NULL buffer_size target (dz>0) drops all its features in the
    generic path (the JVM envelope predicate evaluates NULL); the fused
    kernel must match — not read NaN→undefined int64 prune bounds."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    feats = ingest.features_from_tiles(spark, [(lbuf, 4, 2, 3)])
    targets = spark.createDataFrame(
        [(5, 4, 6, None, None, False),   # dz=1, NULL buffer → no tile
         (5, 5, 7, 128, None, False)],   # normal sibling
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    want = _tiles(R.encode_reference(feats, targets))
    got = _tiles(C.overzoom_encode_tiles(feats, targets, src_zoom=4))
    assert got == want and set(want) == {(5, 5, 7)}


def test_generic_fused_src_zooms_routes_to_specialized(spark, fixture_bytes):
    """composite_encode_tiles(src_zooms=[z]) must byte-match its own
    generic plan — the single-zoom declaration is a physical strategy
    switch (source-grouped), never a semantic one."""
    feats, grid = _grid_feats(
        spark, fixture_bytes, "linestrings-properties-16-10498-22872.mvt")
    targets = _targets(spark, grid, 9, 8)
    want = _tiles(R.encode_reference(feats, targets))
    got = _tiles(C.composite_encode_tiles(feats, targets, src_zooms=[8]))
    assert got == want and want


def test_multizoom_layer_interleave_parity(spark, fixture_bytes):
    """Mixed-zoom sources feeding ONE target with interleaved layer
    ownership (z4 tile wins layer A, z5 tile wins layer B, input-tile
    order A-tile < B-tile < another A-contributor): the multi-zoom
    source-grouped path must encode the per-zoom winners in the generic
    path's exact byte order."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    pbuf = fixture_bytes("polygons-properties-16-10498-22872.mvt")
    # tile 0 at z4, tile 1 at z5 (child of tile 0), tile 2 at z4 again —
    # all ancestors of the z6 targets below
    feats = ingest.features_from_tiles(
        spark, [(lbuf, 4, 2, 3), (pbuf, 5, 4, 6), (lbuf, 5, 5, 7)])
    # rename tile 1's layers so both zooms own layers in the output
    feats = feats.withColumn(
        "layer", F.when(F.col("tile_idx") == 1,
                        F.concat(F.col("layer"), F.lit("_poly")))
        .otherwise(F.col("layer")))
    targets = spark.createDataFrame(
        [(6, 8, 13, 128, None, False), (6, 9, 12, 64, None, True),
         (5, 4, 6, 0, None, False), (4, 2, 3, 0, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    want = _tiles(R.encode_reference(feats, targets))
    got = _tiles(C.composite_encode_tiles(feats, targets, src_zooms=[4, 5]))
    assert set(got) == set(want) and want
    for k in want:
        assert got[k] == want[k], k


def test_multizoom_keep_layers_and_first_wins_parity(spark, fixture_bytes):
    """Cross-zoom first-wins (same layer name at both zooms: the lower
    tile_idx wins regardless of zoom) + per-target keep-lists through the
    multi-zoom winner plan."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    feats = ingest.features_from_tiles(
        spark, [(lbuf, 5, 4, 6), (lbuf, 4, 2, 3)])
    name = feats.select("layer").distinct().collect()[0].layer
    targets = spark.createDataFrame(
        [(6, 8, 12, 128, None, False), (6, 8, 13, 128, [name], True),
         (6, 9, 13, 128, ["nope"], False),
         # z5 ancestor empty, z4 ancestor populated → the z4 source wins
         (6, 10, 13, 128, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    want = _tiles(R.encode_reference(feats, targets))
    got = _tiles(C.composite_encode_tiles(feats, targets, src_zooms=[4, 5]))
    assert got == want and want


def test_undeclared_zooms_match_reference(spark, fixture_bytes):
    """The richest mixed-zoom scenario (cross-zoom first-wins, renamed
    layers, keep-lists, gzip, dz=0 passthrough, NULL buffer_size, a
    target with no source) through the undeclared-zoom plan: winner pass,
    one source-address-grouped shuffle, one encode per target."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    pbuf = fixture_bytes("polygons-properties-16-10498-22872.mvt")
    feats = ingest.features_from_tiles(
        spark, [(lbuf, 4, 2, 3), (pbuf, 5, 4, 6), (lbuf, 5, 5, 7)])
    feats = feats.withColumn(
        "layer", F.when(F.col("tile_idx") == 1,
                        F.concat(F.col("layer"), F.lit("_poly")))
        .otherwise(F.col("layer")))
    name = "water"
    targets = spark.createDataFrame(
        [(6, 8, 13, 128, None, False), (6, 9, 12, 64, None, True),
         (5, 4, 6, 0, None, False), (4, 2, 3, 0, None, False),
         (6, 8, 12, 128, [name], False), (6, 9, 13, 128, ["nope"], True),
         (5, 5, 7, None, None, False), (6, 63, 63, 128, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    want = _tiles(R.encode_reference(feats, targets))
    got = _tiles(C.composite_encode_tiles(feats, targets))
    assert set(got) == set(want) and want
    for k in want:
        assert got[k] == want[k], k


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_randomized_parity_specialized_vs_generic(spark, seed):
    """Randomized tiles (typed props, all geometry types) × randomized
    target sets (dz 0-2, varying buffers, keep-lists, gzip, several input
    tiles sharing source addresses) — the source-grouped plan must match
    the generic plan byte-for-byte on shapes no hand-written case pins."""
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
                                for _ in range(rng.integers(1, 6))])
            for li in range(nlayers)])

    SRC_Z = 5
    srcs = [(SRC_Z, int(rng.integers(0, 4)), int(rng.integers(0, 4)))
            for _ in range(4)]  # duplicates likely → shared source addresses
    tiles = [(rand_tile(int(rng.integers(1, 3))), *s) for s in srcs]
    feats = ingest.features_from_tiles(spark, tiles)

    trows = []
    for (sz, sx, sy) in srcs:
        for _ in range(int(rng.integers(1, 3))):
            dz = int(rng.integers(0, 3))
            trows.append((
                SRC_Z + dz,
                (sx << dz) + int(rng.integers(0, 1 << dz)),
                (sy << dz) + int(rng.integers(0, 1 << dz)),
                int(rng.choice([0, 128, 4080])),
                ["L0"] if rng.random() < 0.3 else None,
                bool(rng.random() < 0.3)))
    targets = spark.createDataFrame(
        trows, "z int, x long, y long, buffer_size int, "
               "keep_layers array<string>, compress boolean").distinct()
    _check(feats, targets, SRC_Z)
    want = _tiles(R.encode_reference(feats, targets))
    # declared single zoom against undeclared, on the same input: the
    # winner-pass plan must give the fast mode's bytes and rows
    assert _tiles(C.composite_encode_tiles(feats, targets)) == want
    rows = C.composite(feats, targets)
    ref_rows = R.canon_rows(R.composite_rows(feats, targets))
    assert R.canon_rows(rows) == ref_rows
    assert R.canon_rows(C.composite(feats, targets, src_zooms=[SRC_Z])) \
        == ref_rows
    # the unfused sink at the sources' own addresses (dz=0, nothing
    # clipped), where layers keep all their features
    own = spark.createDataFrame(
        [(*s, 0, None, False) for s in sorted(set(srcs))], targets.schema)
    rows = C.composite(feats, own)
    assert rows.groupBy("z", "x", "y", "layer").count() \
        .agg(F.max("count")).collect()[0][0] > 1
    assert _tiles(C.encode_tiles(rows)) \
        == _tiles(R.encode_reference(feats, own))


@pytest.mark.parametrize("seed", [10, 11, 12])
def test_randomized_parity_multizoom_vs_generic(spark, seed):
    """Randomized MIXED-ZOOM tilesets (sources at two zooms, each tile's
    layers drawn from four shared names, targets descending from either
    or both) — the multi-zoom source-grouped plan (per-zoom fan-out +
    keys-only cross-zoom first-wins + one encode per multi-group target)
    must match the generic join plan byte-for-byte. Every seed must give
    at least one target whose winners come from both zooms."""
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

    def rand_tile():
        # one or two of four shared layer names, in random order: a z4
        # tile and its z5 child then often win different layers of one
        # target
        names = rng.choice(4, size=int(rng.integers(1, 3)), replace=False)
        return mvt.encode_tile([
            mvt.Layer(name=f"L{li}",
                      features=[rand_feature(int(rng.integers(1, 4)))
                                for _ in range(rng.integers(2, 9))])
            for li in names])

    ZLO, ZHI = 4, 5
    # two z4 sources; four z5 sources, most of them children of a z4
    # source, so the targets below them descend from both zooms; tile
    # order (tile_idx) shuffled across zooms
    lo = [(ZLO, int(rng.integers(0, 2)), int(rng.integers(0, 2)))
          for _ in range(2)]
    hi = []
    for _ in range(4):
        if rng.random() < 0.9:
            _, px, py = lo[int(rng.integers(0, len(lo)))]
            hi.append((ZHI, 2 * px + int(rng.integers(0, 2)),
                       2 * py + int(rng.integers(0, 2))))
        else:
            hi.append((ZHI, int(rng.integers(0, 4)), int(rng.integers(0, 4))))
    srcs = [(lo + hi)[i] for i in rng.permutation(len(lo) + len(hi))]
    tiles = [(rand_tile(), *s) for s in srcs]
    from vtcomposite_spark.sources import ingest as ing
    feats = ing.features_from_tiles(spark, tiles)

    trows = []
    for (sz, sx, sy) in srcs:
        for _ in range(int(rng.integers(2, 5))):
            dz = int(rng.integers(0, 3))
            trows.append((
                sz + dz,
                (sx << dz) + int(rng.integers(0, 1 << dz)),
                (sy << dz) + int(rng.integers(0, 1 << dz)),
                int(rng.choice([0, 128, 4080])),
                [f"L{li}" for li in rng.choice(4, size=int(
                    rng.integers(1, 3)), replace=False)]
                if rng.random() < 0.3 else None,
                bool(rng.random() < 0.3)))
    # ONE options row per (z, x, y): duplicate target keys with
    # conflicting options are out of contract in every path (the packed
    # seam takes first(options) and the join duplicates features)
    seen: dict = {}
    for r in trows:
        seen.setdefault(r[:3], r)
    targets = spark.createDataFrame(
        list(seen.values()), "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    want = _tiles(R.encode_reference(feats, targets))
    assert want  # non-trivial
    per_target = (R.composite_rows(feats, targets).groupBy("z", "x", "y")
                  .agg(F.countDistinct("src_z").alias("n")))
    assert per_target.filter(F.col("n") > 1).count() >= 1  # both zooms win
    for zooms in ([ZLO, ZHI], None):  # declared and undeclared
        got = _tiles(C.composite_encode_tiles(feats, targets,
                                              src_zooms=zooms))
        assert set(got) == set(want)
        for k in want:
            assert got[k] == want[k], (zooms, k)


def _two_zoom_shared_tile_idx(spark):
    """Two source tiles at z4 and z5 (the z5 tile is a child of the z4
    one) that share tile_idx 0 and a layer name — the ingest contract
    violation — plus one z6 target descending from both."""
    from vtcomposite_spark.sources import mvt

    def tile(x):
        return mvt.encode_tile([mvt.Layer(name="water", features=[
            mvt.Feature(geom_type=1, parts=[[(x, 100)]], ring_types=[0],
                        properties={"k": "v"})])])

    feats = ingest.features_from_tiles(
        spark, [(tile(1000), 4, 2, 3), (tile(2000), 5, 4, 6)]) \
        .withColumn("tile_idx", F.lit(0))
    targets = spark.createDataFrame(
        [(6, 8, 12, 4096, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    return feats, targets


def test_multizoom_shared_tile_idx_raises(spark):
    """The ingest contract guard: a tile_idx shared by source tiles at
    DIFFERENT zooms would emit one layer from two source groups and
    silently corrupt the tile. The check sits inside the plan: building
    it succeeds, and the first action fails with the tile_idx message on
    every multi-zoom route — declared and undeclared, sink and rows."""
    from pyspark.errors import SparkRuntimeException

    feats, targets = _two_zoom_shared_tile_idx(spark)
    for zooms in ([4, 5], None):
        for build in (C.composite_encode_tiles, C.composite):
            df = build(feats, targets, src_zooms=zooms)
            with pytest.raises(SparkRuntimeException, match="tile_idx"):
                df.collect()


def test_src_zooms_string_raises(spark):
    """A zoom list given as a string (e.g. the removed "auto" mode) is
    refused at plan build time, not read as digits."""
    feats, targets = _two_zoom_shared_tile_idx(spark)
    with pytest.raises(ValueError, match="src_zooms"):
        C.composite_encode_tiles(feats, targets, src_zooms="auto")


def test_multizoom_reingest_default_loop(spark, fixture_bytes):
    """The advertised sink → re-ingest → composite loop over a MULTI-zoom
    tileset: features_from_tiles_df's per-zoom default tile_idx satisfies
    the multi-zoom contract by construction (the old constant-0 default
    violated it for every such loop), and the re-composited bytes match
    re-ingesting with an explicit distinct ordinal."""
    lbuf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    feats = ingest.features_from_tiles(
        spark, [(lbuf, 4, 2, 3), (lbuf, 5, 4, 6)])
    own = spark.createDataFrame(
        [(4, 2, 3, 0, None, False), (5, 4, 6, 0, None, False)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    tiles = C.composite_encode_tiles(feats, own, src_zooms=[4, 5])
    re_def = ingest.features_from_tiles_df(tiles)
    # default = the tile's zoom: distinct across zooms, so the multizoom
    # route must ACCEPT it (no guard error) and match the explicit-ordinal
    # re-ingest byte-for-byte
    tgt = spark.createDataFrame(
        [(6, 8, 12, 128, None, False), (6, 9, 13, 128, None, True)],
        "z int, x long, y long, buffer_size int, "
        "keep_layers array<string>, compress boolean")
    got = _tiles(C.composite_encode_tiles(re_def, tgt, src_zooms=[4, 5]))
    re_exp = ingest.features_from_tiles_df(
        tiles.withColumn("ti", F.col("z").cast("int")), tile_idx_col="ti")
    want = _tiles(C.composite_encode_tiles(re_exp, tgt, src_zooms=[4, 5]))
    assert got == want and want
