"""Pages source, cell encoding, PIP join, kNN join tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vtcomposite_spark import tilemath as tm
from vtcomposite_spark.operators.cells import encode_cells, rollup_counts, tile_pixels
from vtcomposite_spark.operators.joins import knn_join, pip_join
from vtcomposite_spark.sources.pages import (
    extract_geotags, pages_from_documents, synthesize_pages)

from .test_plans import _final_plan, _no_broadcast

POINT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
])

POLY_SCHEMA = T.StructType([
    T.StructField("poly_id", T.LongType()),
    T.StructField("xs", T.ArrayType(T.DoubleType())),
    T.StructField("ys", T.ArrayType(T.DoubleType())),
    T.StructField("part_offsets", T.ArrayType(T.IntegerType())),
])


def test_synthesize_and_extract_roundtrip(spark):
    pages = synthesize_pages(spark, 200, partitions=2)
    geo = extract_geotags(pages)
    rows = geo.select("url", "lat", "lon", "text").collect()
    assert len(rows) == 200
    tagged = [r for r in rows if r.lat is not None]
    # ~80% geotagged
    assert 120 <= len(tagged) <= 190
    # text invariant: byte-identical per url
    for r in rows[:20]:
        i = int(r.url.rsplit("/", 1)[1])
        assert r.text == f"text body {i} lorem"
    # skew: at least half of tagged rows in the SF cluster
    sf = [r for r in tagged if abs(r.lat - 37.76) < 0.1 and abs(r.lon + 122.44) < 0.1]
    assert len(sf) >= len(tagged) * 0.45


def test_gzip_fraction_exercised(spark):
    pages = synthesize_pages(spark, 100, partitions=1)
    gz = pages.filter(F.expr("substring(html, 1, 2) = X'1F8B'")).count()
    assert 20 <= gz <= 40  # ~30%


def test_pages_from_documents_matches_numpy_assignment(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = pages_from_documents(docs)
    geo = extract_geotags(pages).select("url", "lat", "lon").collect()
    from vtcomposite_spark.sources.pages import _geo_for_ids
    ids = np.array([int(r.url.rsplit("/", 1)[1]) for r in geo])
    tagged, lat, lon = _geo_for_ids(ids)
    for i, r in enumerate(geo):
        if not tagged[i]:
            assert r.lat is None
        else:
            assert abs(r.lat - lat[i]) < 1e-5
            assert abs(r.lon - lon[i]) < 1e-5


def test_encode_cells_matches_numpy(spark):
    pts = [("a", 37.76, -122.44), ("b", 0.0, 0.0), ("c", -42.03, -109.69),
           ("d", 74.77, 87.19)]
    df = spark.createDataFrame(pts, POINT_SCHEMA)
    out = {r.url: (r.tile_x, r.tile_y) for r in encode_cells(df, 12).collect()}
    for url, la, lo in pts:
        tx, ty = tm.lonlat_to_tile(np.array([lo]), np.array([la]), 12)
        assert out[url] == (tx[0], ty[0])


def test_tile_pixels_matches_numpy(spark):
    df = spark.createDataFrame([("a", 72.39570570653261, -123.74999999999999)],
                               POINT_SCHEMA)
    r = tile_pixels(df, 0).collect()[0]
    assert (r.px, r.py) == (640, 832)


def test_tile_sql_matches_column_form(spark):
    """encode_cells and tile_pixels build the lon/lat → tile math from SQL
    text (tilemath.tile_frac_sql); it must equal the Column-operator tree
    (tests.reference_plans) bit for bit — the fractional doubles, tiles,
    cells and pixels — over 2M random points, every exact z12 tile edge,
    nulls and the poles, at zooms 0 to 29."""
    from tests import reference_plans as R
    edge = np.arange(4097, dtype=np.float64)
    rows = [(float(a), float(b)) for a, b in zip(
        np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * edge / 4096)))),
        edge / 4096 * 360.0 - 180.0)]
    rows += [(None, 10.0), (10.0, None), (None, None), (90.0, 180.0),
             (-90.0, -180.0), (85.0511287798066, 0.0),
             (-85.0511287798066, 0.0)]
    pts = spark.createDataFrame(rows, "lat double, lon double").unionByName(
        spark.range(2_000_000, numPartitions=4).select(
            (F.rand(1) * 180 - 90).alias("lat"),
            (F.rand(2) * 360 - 180).alias("lon")))
    cols = ("fx", "fy", "tile_x", "tile_y", "cell", "px", "py")
    forms = {
        "sql": lambda d, z: tile_pixels(encode_cells(d, z), z).withColumns(
            dict(zip(("fx", "fy"), map(F.expr, tm.tile_frac_sql(
                "lon", "lat", z))))),
        "col": lambda d, z: R.tile_pixels_columns(
            R.encode_cells_columns(d, z), z).withColumns(dict(zip(
                ("fx", "fy"), R.tile_frac_columns(F.col("lon"),
                                                  F.col("lat"), z))))}
    df, diffs = pts, []
    for z in (0, 3, 8, 12, 20, 29):
        for name, form in forms.items():
            df = form(df, z).withColumnsRenamed(
                {c: f"{name}{z}_{c}" for c in cols})
        diffs += [F.sum((~F.col(f"sql{z}_{c}").eqNullSafe(
            F.col(f"col{z}_{c}"))).cast("int")).alias(f"z{z}_{c}")
            for c in cols]
    got = df.agg(F.count("*").alias("rows"), *diffs).collect()[0].asDict()
    assert got.pop("rows") == 2_000_000 + len(rows)
    assert not any(got.values()), {k: v for k, v in got.items() if v}


def test_rollup_counts(spark):
    df = spark.createDataFrame(
        [("a", 37.76, -122.44), ("b", 37.77, -122.45), ("c", -10.0, 10.0)],
        POINT_SCHEMA)
    cells = encode_cells(df, 10)
    roll = rollup_counts(cells, 10, 0).collect()
    by_zoom = {}
    for r in roll:
        by_zoom.setdefault(r.zoom, 0)
        by_zoom[r.zoom] += r.n
    assert all(v == 3 for v in by_zoom.values())  # counts conserved per level
    z0 = [r for r in roll if r.zoom == 0]
    assert len(z0) == 1 and z0[0].n == 3


def test_pip_join_square_with_hole(spark):
    # square (0..10) with hole (4..6)
    polys = spark.createDataFrame([
        (1, [0.0, 10.0, 10.0, 0.0, 0.0, 4.0, 6.0, 6.0, 4.0, 4.0],
            [0.0, 0.0, 10.0, 10.0, 0.0, 4.0, 4.0, 6.0, 6.0, 4.0],
            [0, 5]),
    ], POLY_SCHEMA)
    pts = spark.createDataFrame([
        ("inside", 2.0, 2.0),
        ("in_hole", 5.0, 5.0),
        ("outside", 20.0, 20.0),
        ("inside2", 8.0, 1.0),
    ], POINT_SCHEMA)
    out = pip_join(pts, polys, zoom=4, point_cols=["url", "lat", "lon"])
    got = sorted(r.url for r in out.collect())
    assert got == ["inside", "inside2"]


def test_pip_join_multiple_polys(spark):
    polys = spark.createDataFrame([
        (1, [0.0, 10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0, 0.0], [0]),
        (2, [5.0, 15.0, 15.0, 5.0, 5.0], [5.0, 5.0, 15.0, 15.0, 5.0], [0]),
    ], POLY_SCHEMA)
    pts = spark.createDataFrame([("p", 7.0, 7.0)], POINT_SCHEMA)
    out = pip_join(pts, polys, zoom=5, point_cols=["url"])
    assert sorted(r.poly_id for r in out.collect()) == [1, 2]


SITE_SCHEMA = T.StructType([
    T.StructField("site_id", T.LongType()),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
])


def _site_frame(spark, sites):
    """A site table the optimizer can size: built from pandas through
    Arrow it is a LocalRelation, so knn_join's exact path takes the brute
    route in the default session. (A frame built from a Python list is
    RDD-backed, reports no size and always takes the grid route.)"""
    return spark.createDataFrame(
        pd.DataFrame(sites, columns=SITE_SCHEMA.names), SITE_SCHEMA)


def _collect_route(df, route):
    """``df.collect()``, asserting from the final plan which kNN route
    ran: brute force is a BroadcastNestedLoopJoin, the grid has none."""
    rows = df.collect()
    assert ("BroadcastNestedLoopJoin" in _final_plan(df)) \
        == (route == "brute"), route
    return rows


def test_knn_grid_matches_brute(spark):
    rng = np.random.default_rng(42)
    pts = [(f"u{i}", float(la), float(lo)) for i, (la, lo) in enumerate(
        zip(rng.uniform(37.0, 38.0, 60), rng.uniform(-123.0, -122.0, 60)))]
    sites = [(int(i), float(la), float(lo)) for i, (la, lo) in enumerate(
        zip(rng.uniform(37.0, 38.0, 25), rng.uniform(-123.0, -122.0, 25)))]
    pdf = spark.createDataFrame(pts, POINT_SCHEMA)
    sdf = _site_frame(spark, sites)
    b = {(r.url, r.knn_rank): r.site_id
         for r in _collect_route(knn_join(pdf, sdf, 3), "brute")}
    # zoom chosen so one cell (~0.7° at z9... ) covers the knn radius: z7
    with _no_broadcast(spark):
        g = {(r.url, r.knn_rank): r.site_id
             for r in _collect_route(knn_join(pdf, sdf, 3, zoom=7), "grid")}
    assert b == g
    assert len(b) == 60 * 3


def test_extract_geotags_keep_projection(spark):
    pages = synthesize_pages(spark, 50, partitions=1)
    slim = extract_geotags(pages, keep=["url"])
    assert slim.columns == ["url", "lat", "lon"]
    full = extract_geotags(pages)
    a = {r.url: (r.lat, r.lon) for r in slim.collect()}
    b = {r.url: (r.lat, r.lon) for r in full.collect()}
    assert a == b


def test_extract_geotags_malformed_position(spark):
    """A geo.position value the tag regex accepts but that is not two
    numbers (``1.2.3;4``, ``.;4``) leaves the page untagged (NULL lat/lon,
    like a page with no tag) instead of failing the task — in a plain
    and in a gzipped payload; well-formed neighbours still parse."""
    import gzip

    def tag(v):
        return f'<html><meta name="geo.position" content="{v}"></html>' \
            .encode()

    rows = [("bad", tag("1.2.3;4")), ("bad_gz", gzip.compress(tag("1.2.3;4"))),
            ("dot", tag(".;4")), ("good", tag("37.5;-122.25")),
            ("good_gz", gzip.compress(tag("-1.5;2"))),
            ("untagged", b"<html></html>"), ("null", None)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    got = {r.url: (r.lat, r.lon)
           for r in extract_geotags(pages, keep=["url"]).collect()}
    assert got == {"bad": (None, None), "bad_gz": (None, None),
                   "dot": (None, None), "good": (37.5, -122.25),
                   "good_gz": (-1.5, 2.0), "untagged": (None, None),
                   "null": (None, None)}


def test_pip_interior_cell_shortcut(spark):
    """P9 filter-refine upgrade: classified covering cells produce results
    identical to a brute-force point × polygon ray cast, interior cells
    exist at a fine enough zoom, and a measurable share of candidates
    skips the ray cast."""
    from tests.reference_plans import pip_rows
    from vtcomposite_spark.operators.cells import encode_cells
    from vtcomposite_spark.operators.joins import (cover_cells_classified,
                                                   pip_join)

    pts = spark.range(0, 800).select(
        F.col("id").alias("pid"),
        (((F.col("id") * 37) % 400) / 10.0 - 15.0).alias("lat"),
        (((F.col("id") * 53) % 900) / 10.0 - 40.0).alias("lon"))
    polys = spark.createDataFrame(
        [(1, [-30.0, 20.0, 20.0, -30.0, -30.0],
          [-10.0, -10.0, 18.0, 18.0, -10.0], [0]),
         (2, [25.0, 40.0, 40.0, 25.0, 25.0],
          [0.0, 0.0, 12.0, 12.0, 0.0], [0])],
        "poly_id int, xs array<double>, ys array<double>, part_offsets array<int>")

    a = sorted((r.pid, r.poly_id) for r in
               pip_join(pts, polys, zoom=6, point_cols=["pid"]).collect())
    assert a == pip_rows(pts, polys, ["pid"]) and a

    cls = cover_cells_classified(polys, 6)
    n_int = cls.filter("interior").count()
    assert n_int > 0
    # interior rows carry no ring geometry into the probe-side join
    assert cls.filter("interior").filter(F.size("poly_xs") > 0).count() == 0
    # refine-row reduction: candidates landing on interior cells skip the cast
    pc = encode_cells(pts, 6).filter(F.col("cell").isNotNull())
    skipped = pc.join(cls.filter("interior"), "cell").count()
    total = pc.join(cls, "cell").count()
    assert skipped > 0.1 * total, (skipped, total)  # 85/525 measured


def test_knn_grid_exactness_fallback(spark):
    """VERDICT r2 done-criterion: a point whose true k-th neighbor lies TWO
    cells outside its 3x3 neighborhood still returns the true answer — the
    per-point guarantee check (k-th distance vs distance to the box edge)
    routes it through the brute fallback. At zoom=6 a cell is 5.625° of
    longitude; the far sites sit ~12-17° away."""
    pts = [("near", 0.5, 0.5), ("lonely", 0.5, 40.0)]
    sites = [
        (1, 0.6, 0.6), (2, 0.4, 0.4),          # close to "near"
        (3, 0.5, 12.5), (4, 0.5, 17.0),        # 2-3 cells from both points
        (5, -40.0, -170.0),
    ]
    pdf = spark.createDataFrame(pts, POINT_SCHEMA).withColumnRenamed("url", "url")
    sdf = _site_frame(spark, sites)
    brute = {(r.url, r.knn_rank): r.site_id
             for r in _collect_route(knn_join(pdf, sdf, 3), "brute")}
    with _no_broadcast(spark):
        grid = {(r.url, r.knn_rank): r.site_id for r in _collect_route(
            knn_join(pdf, sdf, 3, zoom=6), "grid")}
    assert grid == brute
    # "near" finds sites 1,2 in-box but its k-th (site 3, ~12° away) is
    # outside the box; "lonely" has an EMPTY 3x3 box — both must fall back
    assert grid[("near", 3)] == 3
    assert grid[("lonely", 1)] == 4
    # the unguarded contract mode reproduces the old truncated answer
    loose = knn_join(pdf, sdf, 3, zoom=6, exact=False)
    by_pt = {}
    for r in _collect_route(loose, "grid"):
        by_pt.setdefault(r.url, []).append(r.site_id)
    assert len(by_pt.get("near", [])) < 3  # k-th neighbor missed
    assert "lonely" not in by_pt


def test_knn_exact_skips_fallback_when_guaranteed(spark):
    """When every point's k-th neighbor is provably in-box, exact=True must
    return the grid answer (same rows as exact=False) — the fallback set
    is empty, not a hidden brute re-run of everything."""
    rng = np.random.default_rng(11)
    pts = [(f"u{i}", float(la), float(lo)) for i, (la, lo) in enumerate(
        zip(rng.uniform(37.2, 37.8, 30), rng.uniform(-122.8, -122.2, 30)))]
    sites = [(int(i), float(la), float(lo)) for i, (la, lo) in enumerate(
        zip(rng.uniform(37.0, 38.0, 40), rng.uniform(-123.0, -122.0, 40)))]
    pdf = spark.createDataFrame(pts, POINT_SCHEMA)
    sdf = _site_frame(spark, sites)
    with _no_broadcast(spark):
        a = {(r.url, r.knn_rank): r.site_id
             for r in _collect_route(knn_join(pdf, sdf, 2, zoom=5), "grid")}
    b = {(r.url, r.knn_rank): r.site_id for r in _collect_route(
        knn_join(pdf, sdf, 2, zoom=5, exact=False), "grid")}
    brute = {(r.url, r.knn_rank): r.site_id
             for r in _collect_route(knn_join(pdf, sdf, 2), "brute")}
    assert a == brute
    assert b == brute  # zoom=5 cell (11.25°) >> knn radius: grid already exact


KNN_POINT_SCHEMA = ("url string, tile_x long, lat double, lang string, "
                    "lon double, cell long, weight double")


def _knn_sweep_input(seed: int):
    """Points and sites for the grid-vs-brute sweep, from ``seed``: a
    dense site cluster (in-box exact answers), sparse sites over the
    globe (answers outside the 3×3 box), polar points far from every
    site (empty boxes), coincident site pairs with a point on each
    (equal-distance ties, broken by site_id), null coordinates on both
    sides, extra point columns, and a point input that already carries
    tile_x and cell."""
    rng = np.random.default_rng(seed)
    c_lat, c_lon = 37.76 + rng.uniform(-1, 1), -122.44 + rng.uniform(-1, 1)
    site_xy = [(c_lat + a, c_lon + b)
               for a, b in rng.uniform(-0.02, 0.02, (12, 2))]
    site_xy += [(a, b) for a, b in zip(rng.uniform(-55, 55, 20),
                                        rng.uniform(-175, 175, 20))]
    tie_xy = [site_xy[0], site_xy[12]]  # one in the cluster, one sparse
    site_xy += tie_xy
    ids = rng.permutation(1000)[:len(site_xy) + 2]
    sites = [(int(i), float(a), float(b)) for i, (a, b) in zip(ids, site_xy)]
    sites += [(int(ids[-2]), None, 1.0), (int(ids[-1]), 1.0, None)]
    pt_xy = [(c_lat + a, c_lon + b)
             for a, b in rng.uniform(-0.015, 0.015, (40, 2))]
    pt_xy += [(a, b) for a, b in zip(rng.uniform(-55, 55, 40),
                                      rng.uniform(-175, 175, 40))]
    pt_xy += [(a, b) for a, b in zip(rng.uniform(-80, -72, 8),
                                      rng.uniform(-175, 175, 8))]
    pt_xy += tie_xy + [(None, 5.0), (5.0, None), (None, None)]
    points = [(f"p{i}", -1, a if a is None else float(a), f"l{i % 3}",
               b if b is None else float(b), -1, float(i) / 2)
              for i, (a, b) in enumerate(pt_xy)]
    # the generator covers what it claims
    coords = [(la, lo) for _, la, lo in sites]
    for xy in tie_xy:
        assert coords.count(xy) == 2 and xy in pt_xy
    assert any(la is None or lo is None for _, la, lo in sites)
    assert any(p[2] is None or p[4] is None for p in points)
    return points, sites


def test_knn_grid_matches_brute_randomized(spark):
    """The exact grid route (no broadcast) returns the brute route's rows
    (the default session) — every column,
    dist_sq and knn_rank included, in the same column order — over seeds
    0-2, zooms 3/6/9 and k 1/3. Against ``exact=False`` (the unguarded
    grid) the sweep checks that it covered points whose grid answer was
    already exact, points whose box held candidates but not the answer
    (the guarantee must fail), and points with an empty box."""
    seen = {"in_box": 0, "failed": 0, "empty": 0}

    def by_url(df, route):
        out = {}
        for r in _collect_route(df, route):
            out.setdefault(r.url, []).append(tuple(r))
        return {u: sorted(v, key=repr) for u, v in out.items()}

    for seed in range(3):
        points, sites = _knn_sweep_input(seed)
        pdf = spark.createDataFrame(points, KNN_POINT_SCHEMA)
        sdf = _site_frame(spark, sites)
        for zoom in (3, 6, 9):
            for k in (1, 3):
                brute = knn_join(pdf, sdf, k)
                with _no_broadcast(spark):
                    grid = knn_join(pdf, sdf, k, zoom=zoom)
                    got = by_url(grid, "grid")
                assert grid.columns == brute.columns == [
                    "url", "lat", "lang", "lon", "weight", "site_id",
                    "dist_sq", "knn_rank"]
                want = by_url(brute, "brute")
                assert got == want, (seed, zoom, k)
                assert len(want) == len(points) - 3  # null points drop
                loose = by_url(knn_join(pdf, sdf, k, zoom=zoom, exact=False),
                               "grid")
                for url, rows in want.items():
                    if url not in loose:
                        seen["empty"] += 1
                    elif loose[url] != rows:
                        seen["failed"] += 1
                    else:
                        seen["in_box"] += 1
    assert all(seen.values()), seen


def test_knn_grid_narrow_grids(spark):
    """On grids one or two cells wide the 3×3 box covers the world: the
    grid answer equals brute force with and without the guarantee, and
    no site is a candidate twice in one cell."""
    points, sites = _knn_sweep_input(5)
    pdf = spark.createDataFrame(points, KNN_POINT_SCHEMA)
    sdf = _site_frame(spark, sites)
    key = lambda df, route: sorted(  # noqa: E731
        map(tuple, _collect_route(df, route)), key=repr)
    want = key(knn_join(pdf, sdf, 3), "brute")
    with _no_broadcast(spark):
        for zoom in (0, 1):
            for exact in (True, False):
                assert key(knn_join(pdf, sdf, 3, zoom=zoom, exact=exact),
                           "grid") == want, (zoom, exact)
