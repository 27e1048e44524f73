"""End-to-end composite operator tests over Spark, porting the golden cases
of FIXTURES.md §4 (reference test/vtcomposite*.test.js assertions)."""

import gzip

import pytest

from vtcomposite_spark.operators import composite as C
from vtcomposite_spark.sources import ingest, mvt


def run(spark, tiles, targets):
    f = ingest.features_from_tiles(spark, tiles)
    t = ingest.targets_df(spark, targets)
    return C.composite(f, t)


def geom_of(row):
    starts = list(row.part_offsets) + [len(row.xs)]
    return [list(zip(row.xs[starts[i]:starts[i + 1]], row.ys[starts[i]:starts[i + 1]]))
            for i in range(len(starts) - 1)]


def test_overzoom_four_points_z1(spark, fixture_bytes):
    buf = fixture_bytes("four-points-quadrants.mvt")
    out = run(spark, [(buf, 0, 0, 0)], [{"z": 1, "x": 0, "y": 0}]).collect()
    assert len(out) == 1
    assert geom_of(out[0]) == [[(1280, 1664)]]
    assert out[0].properties == {"quadrant": "top-left"}


def test_overzoom_four_points_z3(spark, fixture_bytes):
    buf = fixture_bytes("four-points-quadrants.mvt")
    out = run(spark, [(buf, 0, 0, 0)], [{"z": 3, "x": 1, "y": 1}]).collect()
    assert len(out) == 1
    assert geom_of(out[0]) == [[(1024, 2560)]]


def test_overzoom_gzipped_input(spark, fixture_bytes):
    buf = gzip.compress(fixture_bytes("four-points-quadrants.mvt"))
    out = run(spark, [(buf, 0, 0, 0)], [{"z": 1, "x": 0, "y": 0}]).collect()
    assert len(out) == 1
    assert geom_of(out[0]) == [[(1280, 1664)]]


def test_overzoom_simple_line_buffer128(spark, fixture_bytes):
    buf = fixture_bytes("simple-line.mvt")
    out = run(spark, [(buf, 0, 0, 0)],
              [{"z": 1, "x": 0, "y": 0, "buffer_size": 128}]).collect()
    assert len(out) == 1
    pts = geom_of(out[0])[0]
    assert pts[0] == (784, 1848)
    assert pts[1] == (4224, 3398)


def test_same_zoom_identity_fast_path(spark, fixture_bytes):
    buf = fixture_bytes("four-points-quadrants.mvt")
    out = run(spark, [(buf, 5, 10, 20)], [{"z": 5, "x": 10, "y": 20}]).collect()
    # all 4 features untouched (test/vtcomposite.test.js:13-25)
    assert len(out) == 4
    coords = sorted(g[0][0] for g in map(geom_of, out))
    assert coords == [(640, 832), (800, 2576), (2928, 2288), (3040, 736)]


def test_first_wins_merge(spark):
    # two tiles, same layer name 'water' (test/vtcomposite.test.js:50-71)
    def tile(feature_name):
        layer = mvt.Layer(name="water", features=[mvt.Feature(
            geom_type=1, parts=[[(100, 100)]], ring_types=[0],
            properties={"name": feature_name})])
        return mvt.encode_tile([layer])

    out = run(spark, [(tile("mud lake"), 3, 1, 1), (tile("crater lake"), 3, 1, 1)],
              [{"z": 3, "x": 1, "y": 1}]).collect()
    assert len(out) == 1
    assert out[0].properties == {"name": "mud lake"}


def test_first_wins_respects_keep_layers(spark):
    # regression shape of reference v0.5.1 (CHANGELOG.md:71-73): a layer
    # filtered out by the keep-list must NOT consume the first-wins slot
    def tile(layer_name, feature_name):
        layer = mvt.Layer(name=layer_name, features=[mvt.Feature(
            geom_type=1, parts=[[(100, 100)]], ring_types=[0],
            properties={"name": feature_name})])
        return mvt.encode_tile([layer])

    f = ingest.features_from_tiles(spark, [
        (tile("water", "skipped"), 3, 1, 1),
        (tile("water", "kept"), 3, 1, 1),
    ])
    # drop tile 0's rows via keep_layers=[] on... keep-list is per target here,
    # so emulate per-tile keep by filtering the features frame (tile 0 keeps
    # nothing) before compositing — the window must then pick tile 1's layer.
    f = f.filter("tile_idx = 1")
    t = ingest.targets_df(spark, [{"z": 3, "x": 1, "y": 1}])
    out = C.composite(f, t).collect()
    assert len(out) == 1 and out[0].properties["name"] == "kept"


def test_huge_overzoom_z14(spark, fixture_bytes):
    buf = fixture_bytes("four-points-quadrants.mvt")
    out = run(spark, [(buf, 0, 0, 0)], [{"z": 14, "x": 2579, "y": 3261}]).collect()
    # exactly one feature survives any deep overzoom of the quadrant points
    # (test/vtcomposite.test.js:179-199 shape)
    assert len(out) <= 1


def test_clip_envelope_buffer_4080(spark, fixture_bytes):
    buf = fixture_bytes("polygons-with-holes-4-13-6.mvt")
    out = run(spark, [(buf, 4, 13, 6)],
              [{"z": 5, "x": 27, "y": 13, "buffer_size": 4080}]).collect()
    assert out
    lo, hi = -4080, 4096 + 4080
    for row in out:
        assert all(lo <= v <= hi for v in row.xs)
        assert all(lo <= v <= hi for v in row.ys)


def test_polygon_with_hole_overzoom(spark, fixture_bytes):
    buf = fixture_bytes("polygon-with-hole.mvt")
    layers = mvt.decode_tile(buf)
    # find the quadrant the polygon lives in so overzoom keeps it
    f0 = layers[0].features[0]
    xs = [p[0] for r in f0.parts for p in r]
    ys = [p[1] for r in f0.parts for p in r]
    qx = 0 if max(xs) < 2048 else (1 if min(xs) >= 2048 else None)
    qy = 0 if max(ys) < 2048 else (1 if min(ys) >= 2048 else None)
    if qx is None or qy is None:
        pytest.skip("fixture polygon spans quadrants")
    out = run(spark, [(buf, 0, 0, 0)], [{"z": 1, "x": qx, "y": qy}]).collect()
    assert len(out) == 1
    assert len(out[0].part_offsets) == 2  # both rings survive
    assert sorted(out[0].ring_types) == [1, 2]


def test_drop_layers(spark, fixture_bytes):
    buf = fixture_bytes("points-poi-sf-15-5239-12666.mvt")
    f = ingest.features_from_tiles(spark, [(buf, 15, 5239, 12666)])
    names = [r.layer for r in f.select("layer").distinct().collect()]
    keep = names[:1]
    t = ingest.targets_df(spark, [{"z": 15, "x": 5239, "y": 12666,
                                   "keep_layers": keep}])
    out = C.composite(f, t)
    got = [r.layer for r in out.select("layer").distinct().collect()]
    assert got == keep


def test_non_ancestor_features_dropped(spark, fixture_bytes):
    buf = fixture_bytes("four-points-quadrants.mvt")
    out = run(spark, [(buf, 2, 3, 3)], [{"z": 3, "x": 1, "y": 1}]).collect()
    assert out == []


def test_validate_request_error_string():
    with pytest.raises(C.CompositeRequestError) as ei:
        C.validate_request([(3, 1, 1)], 2, 1, 1)
    assert str(ei.value) == "Invalid tile composite request: SOURCE(3,1,1) TARGET(2,1,1)"
    # valid request raises nothing
    C.validate_request([(0, 0, 0), (2, 1, 1)], 2, 1, 1)


def test_encode_tiles_roundtrip(spark, fixture_bytes):
    buf = fixture_bytes("four-points-quadrants.mvt")
    f = ingest.features_from_tiles(spark, [(buf, 0, 0, 0)])
    t = ingest.targets_df(spark, [{"z": 1, "x": 0, "y": 0, "compress": True}])
    df = C.composite(f, t).withColumn("compress", __import__("pyspark").sql.functions.lit(True))
    tiles = C.encode_tiles(df).collect()
    assert len(tiles) == 1
    blob = bytes(tiles[0].tile)
    assert blob[:2] == b"\x1f\x8b"  # compressed
    layers = mvt.decode_tile(blob)
    assert layers[0].name == "quadrants"
    assert layers[0].features[0].parts == [[(1280, 1664)]]


def test_composite_points_expr_equals_kernel(spark, fixture_bytes):
    """The zero-Python point path must match the Arrow kernel exactly."""
    from vtcomposite_spark.operators.composite import composite_points

    buf = fixture_bytes("four-points-quadrants.mvt")
    f = ingest.features_from_tiles(spark, [(buf, 0, 0, 0)])
    t = ingest.targets_df(spark, [
        {"z": 1, "x": 0, "y": 0, "buffer_size": 128},
        {"z": 3, "x": 1, "y": 1},
        {"z": 0, "x": 0, "y": 0},  # same-zoom fast path
    ])

    def canon(df):
        return sorted((r.z, r.x, r.y, r.layer, tuple(r.xs), tuple(r.ys),
                       tuple(r.part_offsets), tuple(r.ring_types))
                      for r in df.collect())

    assert canon(C.composite(f, t)) == canon(composite_points(f, t))


def test_envelope_prefilter_preserves_output(spark, fixture_bytes):
    """The hoisted JVM-side envelope filter must never drop a feature the
    kernel would keep — polygons crossing the window included."""
    buf = fixture_bytes("polygons-with-holes-4-13-6.mvt")
    out = run(spark, [(buf, 4, 13, 6)],
              [{"z": 8, "x": 221, "y": 99, "buffer_size": 4080}]).collect()
    # boost golden (test/vtcomposite-polygons.test.js:133-167): 1 feature,
    # 9 rings across 2 polygons with these exact vertex counts
    assert len(out) == 1
    starts = list(out[0].part_offsets) + [len(out[0].xs)]
    sizes = sorted(starts[i + 1] - starts[i] for i in range(len(starts) - 1))
    assert sizes == sorted([95, 25, 23, 18, 26, 18, 14, 16, 6])


def test_v1_malformed_geometry_tolerance(spark, fixture_bytes):
    """test/vtcomposite.test.js:223-248 — v1 tiles with malformed geometries
    composite successfully; 567 features total."""
    out = run(spark, [
        (fixture_bytes("0.mvt"), 14, 4396, 6458),
        (fixture_bytes("1.mvt"), 14, 4396, 6458),
        (fixture_bytes("2.mvt"), 12, 1099, 1614),
    ], [{"z": 14, "x": 4396, "y": 6458}])
    assert out.count() == 567


def test_v1_overzoom_zero_length_linestrings(spark, fixture_bytes):
    """test/vtcomposite.test.js:249-268 — 11 output layers, no error."""
    out = run(spark, [
        (fixture_bytes("3.mvt"), 14, 5088, 5937),
        (fixture_bytes("4.mvt"), 14, 5088, 5937),
        (fixture_bytes("5.mvt"), 12, 1272, 1484),
    ], [{"z": 14, "x": 5088, "y": 5937, "buffer_size": 4080}])
    assert out.select("layer").distinct().count() == 11


def test_encode_deterministic_bytes(spark, fixture_bytes):
    """Two runs over the same input produce byte-identical tiles (O3:
    deterministic feature order at the sink)."""
    buf = fixture_bytes("points-poi-sf-15-5239-12666.mvt")
    from pyspark.sql import functions as F

    def one():
        f = ingest.features_from_tiles(spark, [(buf, 15, 5239, 12666)])
        # shuffle the input rows to prove sink ordering restores determinism
        f = f.repartition(7)
        t = ingest.targets_df(spark, [{"z": 16, "x": 10478, "y": 25332,
                                       "buffer_size": 128}])
        tiles = C.encode_tiles(C.composite(f, t)
                               .withColumn("compress", F.lit(False))).collect()
        return bytes(tiles[0].tile) if tiles else b""

    assert one() == one() != b""


def test_road_segments_overzoom_buffer4080(spark, fixture_bytes):
    """test/vtcomposite-linestrings.test.js:75-96 — z15→z16 buffer 4080
    keeps 5 road features (we are also consistent at 4079/4081, unlike the
    boost edge-case quirk noted in the reference's comment)."""
    buf = fixture_bytes("z15-road-segments.mvt")
    for b in (4079, 4080, 4081):
        out = run(spark, [(buf, 15, 29570, 20109)],
                  [{"z": 16, "x": 59140, "y": 40218, "buffer_size": b}])
        assert out.count() == 5


def test_multi_geometries_overzoom_buffer(spark, fixture_bytes):
    """test/vtcomposite-multis.test.js:62-91 — multipoint+multiline overzoomed
    z15→z16 with multipolygon at target zoom: 1 surviving layer without
    buffer, all 3 with buffer 4096."""
    tiles = [
        (fixture_bytes("multipoint.mvt"), 15, 5239, 12666),
        (fixture_bytes("multiline.mvt"), 15, 5239, 12666),
        (fixture_bytes("multipolygon.mvt"), 16, 10479, 25332),
    ]
    no_buf = run(spark, tiles, [{"z": 16, "x": 10479, "y": 25332}])
    assert no_buf.select("layer").distinct().count() == 1
    with_buf = run(spark, tiles, [{"z": 16, "x": 10479, "y": 25332,
                                   "buffer_size": 4096}])
    assert with_buf.select("layer").distinct().count() == 3


def test_multi_geometries_with_v1_tile(spark, fixture_bytes):
    """test/vtcomposite-multis.test.js:93-123 — same with a v1 multipoint."""
    tiles = [
        (fixture_bytes("v1-multipoint.mvt"), 15, 5239, 12666),
        (fixture_bytes("multiline.mvt"), 15, 5239, 12666),
        (fixture_bytes("multipolygon.mvt"), 16, 10479, 25332),
    ]
    out = run(spark, tiles, [{"z": 16, "x": 10479, "y": 25332,
                              "buffer_size": 4096}])
    assert out.select("layer").distinct().count() == 3


def test_clipping_test_tile_all_within_extent(spark, fixture_bytes):
    """test/vtcomposite.test.js:270-298 — every output feature bbox within
    [-4080, 4096+4080]² for z1/1/1 → z4/10/14, buffer 4080."""
    buf = fixture_bytes("clipping-test-tile.mvt")
    out = run(spark, [(buf, 1, 1, 1)],
              [{"z": 4, "x": 10, "y": 14, "buffer_size": 4080}]).collect()
    assert out
    lo, hi = -4080, 4096 + 4080
    for row in out:
        assert min(row.xs) >= lo and max(row.xs) <= hi
        assert min(row.ys) >= lo and max(row.ys) <= hi


def test_v1_zlib_tiles_polygon_clockwise(spark, fixture_bytes):
    """test/vtcomposite.test.js:303-324 — zlib-coded v1 tiles with zero-area
    polygons composite without error; 7 output layers."""
    out = run(spark, [
        (fixture_bytes("v1-6.mvt"), 3, 4, 2),
        (fixture_bytes("v1-7.mvt"), 3, 4, 2),
        (fixture_bytes("v1-8.mvt"), 2, 2, 1),
    ], [{"z": 4, "x": 8, "y": 5, "buffer_size": 4080}])
    assert out.select("layer").distinct().count() == 7


def test_features_from_tiles_df_matches_local_ingest(spark, fixture_bytes):
    """Distributed tileset re-ingest == driver-side ingest, row-exact
    INCLUDING property-map entry order (the wire-order invariant), on two
    real typed-property fixtures; and sink → re-ingest → re-encode is a
    byte fixpoint."""
    import pyspark.sql.functions as F

    bufs = [(fixture_bytes("linestrings-properties-16-10498-22872.mvt"),
             8, 1, 2),
            (fixture_bytes("points-properties-16-10498-22872.mvt"), 8, 3, 4)]
    local = ingest.features_from_tiles(spark, bufs)
    tiles_df = spark.createDataFrame(
        [(z, x, y, buf, i) for i, (buf, z, x, y) in enumerate(bufs)],
        "z int, x long, y long, tile binary, ti int")
    dist = ingest.features_from_tiles_df(tiles_df, tile_idx_col="ti")

    def canon(df):
        return sorted(
            (r.tile_idx, r.src_z, r.src_x, r.src_y, r.layer, r.feature_idx,
             r.feature_id, r.geom_type, tuple(r.xs), tuple(r.ys),
             tuple(r.part_offsets), tuple(r.ring_types),
             tuple(r.pe), tuple(r.te))
            for r in df.select(
                "*", F.map_entries("properties").alias("pe"),
                F.map_entries("prop_types").alias("te")).collect())
    assert canon(dist) == canon(local) and local.count() > 500

    # fixpoint: encode the re-ingested features at their own address and
    # get the identical bytes back
    t = ingest.targets_df(spark, [{"z": 8, "x": 1, "y": 2},
                                  {"z": 8, "x": 3, "y": 4}])
    first = {(r.z, r.x, r.y): bytes(r.tile) for r in
             C.composite_encode_tiles(local, t).collect()}
    again_src = ingest.features_from_tiles_df(
        spark.createDataFrame(
            [(z, x, y, b) for (z, x, y), b in first.items()],
            "z int, x long, y long, tile binary"))
    again = {(r.z, r.x, r.y): bytes(r.tile) for r in
             C.composite_encode_tiles(again_src, t).collect()}
    assert again == first and len(first) == 2
