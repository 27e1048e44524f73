"""Columnar encode sink (sources.mvt_vec) — byte parity with the row
encoder (tests/reference_plans.py).

The vectorized encoder must produce EXACTLY the bytes of the
mvt.Feature-based path for every fixture shape: typed properties, v1
tiles, multi-geometries, holes, compression.
"""

import pytest
from pyspark.sql import functions as F

from tests import reference_plans as R
from vtcomposite_spark.operators import composite as C
from vtcomposite_spark.sources import ingest, mvt, mvt_vec

CASES = [
    ("points-properties-16-10498-22872.mvt", (16, 10498, 22872),
     {"z": 16, "x": 10498, "y": 22872}),
    ("linestrings-properties-16-10498-22872.mvt", (0, 0, 0),
     {"z": 1, "x": 0, "y": 0, "buffer_size": 128}),
    ("polygons-properties-16-10498-22872.mvt", (0, 0, 0),
     {"z": 1, "x": 0, "y": 0, "buffer_size": 128}),
    ("points-poi-sf-15-5239-12666.mvt", (15, 5239, 12666),
     {"z": 16, "x": 10478, "y": 25332, "buffer_size": 128}),
    ("polygons-with-holes-4-13-6.mvt", (4, 13, 6),
     {"z": 5, "x": 27, "y": 13, "buffer_size": 4080}),
    ("multipoint.mvt", (15, 5239, 12666),
     {"z": 16, "x": 10479, "y": 25332, "buffer_size": 4096}),
    ("v1-6.mvt", (3, 4, 2), {"z": 4, "x": 8, "y": 5, "buffer_size": 4080}),
    ("four-points-quadrants.mvt", (0, 0, 0),
     {"z": 1, "x": 0, "y": 0, "compress": True}),
]


@pytest.mark.parametrize("name,src,tgt", CASES)
def test_columnar_rows_byte_parity(spark, fixture_bytes, name, src, tgt):
    buf = fixture_bytes(name)
    f = ingest.features_from_tiles(spark, [(buf, *src)])
    t = ingest.targets_df(spark, [tgt])
    out = C.composite(f, t).withColumn(
        "compress", F.lit(bool(tgt.get("compress", False))))
    a = {(r.z, r.x, r.y): bytes(r.tile)
         for r in C.encode_tiles(out).collect()}
    b = {(r.z, r.x, r.y): bytes(r.tile)
         for r in R.encode_rows(out).collect()}
    assert a == b
    assert a  # non-trivial


def test_factorize_first_seen_nul_safe():
    """pandas.factorize hashes object strings as NUL-terminated C strings
    and collapses 'a\\x00b' with 'a\\x00c' — the encoder's factorize
    (``_dict_encode``) must not (property values are arbitrary)."""
    import pyarrow as pa
    codes, uniq = mvt_vec._dict_encode(
        pa.array(["a\x00b", "a\x00c", "a\x00b"]))
    assert codes.tolist() == [0, 1, 0]
    assert list(uniq) == ["a\x00b", "a\x00c"]


def test_gzip_sink_deterministic():
    """Compressed tiles are byte-deterministic (mtime pinned)."""
    a = mvt.gzip_sink(b"payload-bytes", True)
    b = mvt.gzip_sink(b"payload-bytes", True)
    assert a == b and a[:2] == b"\x1f\x8b"


def test_varint_encode_matches_reference():
    import numpy as np
    vals = [0, 1, 127, 128, 300, 2 ** 21, 2 ** 35, 2 ** 63, 2 ** 64 - 1]
    blob, nb = mvt_vec.varint_encode(np.array(vals, dtype=np.uint64))
    want = bytearray()
    for v in vals:
        mvt._write_uvarint(want, v)
    assert blob.tobytes() == bytes(want)
    assert int(nb.sum()) == len(want)


@pytest.mark.parametrize("name,src,tgt", CASES)
def test_fused_composite_encode_byte_parity(spark, fixture_bytes, name, src, tgt):
    """composite_encode_tiles (one shuffle + one seam) and composite() +
    encode_tiles() must emit exactly the reference's tiles, including which
    tiles exist (fully-clipped groups produce no row in any path)."""
    buf = fixture_bytes(name)
    f = ingest.features_from_tiles(spark, [(buf, *src)])
    t = ingest.targets_df(spark, [dict(tgt)])
    want = {(r.z, r.x, r.y): bytes(r.tile)
            for r in R.encode_reference(f, t).collect()}
    got = {(r.z, r.x, r.y): bytes(r.tile)
           for r in C.composite_encode_tiles(f, t).collect()}
    assert got == want
    unfused = {(r.z, r.x, r.y): bytes(r.tile)
               for r in C.encode_tiles(C.composite(f, t)).collect()}
    assert unfused == want


def test_nan_double_value_dedupe_parity(spark):
    """All-NaN double properties must share ONE value-table entry in BOTH
    encode paths: the columnar path dedupes by canonical string ('nan'),
    and the row path's val_idx must not mint a fresh entry per NaN
    (NaN != NaN under dict equality)."""
    layer = mvt.Layer(name="n", features=[
        mvt.Feature(geom_type=1, parts=[[(10 * (i + 1), 10)]], ring_types=[0],
                    properties={"d": float("nan")}, fid=None,
                    prop_types={"d": mvt.TAG_DOUBLE})
        for i in range(3)
    ], extent=4096, version=2)
    buf = mvt.encode_tile([layer])
    # the row encoder alone: one shared 'nan' entry, not three
    dec = mvt.decode_tile(buf)
    assert len(dec[0].features) == 3
    f = ingest.features_from_tiles(spark, [(buf, 0, 0, 0)])
    t = ingest.targets_df(spark, [{"z": 0, "x": 0, "y": 0}])
    out = C.composite(f, t).withColumn("compress", F.lit(False))
    a = {(r.z, r.x, r.y): bytes(r.tile)
         for r in C.encode_tiles(out).collect()}
    b = {(r.z, r.x, r.y): bytes(r.tile)
         for r in R.encode_rows(out).collect()}
    assert a == b and a
    # value table is shared: re-encoding the decoded layer through the row
    # path again must be byte-stable (one entry) and match the columnar bytes
    tile_bytes = next(iter(a.values()))
    dec2 = mvt.decode_tile(tile_bytes)
    assert all(v != v for feat in dec2[0].features
               for v in feat.properties.values())


def test_multi_tile_encode_parity(spark, fixture_bytes):
    """encode_tiles_table over MANY tiles in one table must yield, per
    tile, exactly the bytes of encoding that tile's rows alone (the
    amortized global factorize/varint/framing passes must not leak state
    across tiles)."""
    import numpy as np
    import pyarrow as pa

    buf = fixture_bytes("linestrings-properties-16-10498-22872.mvt")
    template = ingest.features_from_tiles(spark, [(buf, 0, 0, 0)]) \
        .drop("src_z", "src_x", "src_y")
    grid = spark.range(4).select(
        (F.col("id") % 2).cast("long").alias("src_x"),
        (F.col("id") / 2).cast("long").alias("src_y"))
    feats = template.crossJoin(grid).withColumn("src_z", F.lit(8))
    quad = spark.range(4).select(
        (F.col("id") % 2).alias("dx"), (F.col("id") / 2).cast("long").alias("dy"))
    targets = grid.crossJoin(quad).select(
        F.lit(9).alias("z"),
        (F.col("src_x") * 2 + F.col("dx")).cast("long").alias("x"),
        (F.col("src_y") * 2 + F.col("dy")).cast("long").alias("y"),
        F.lit(128).alias("buffer_size"),
        F.lit(None).cast("array<string>").alias("keep_layers"),
        F.lit(False).alias("compress"))
    ct = R.composite_rows(feats, targets) \
        .withColumn("compress", F.lit(False)).toArrow().combine_chunks()
    multi = {(z, x, y): b for z, x, y, b in mvt_vec.encode_tiles_table(ct)}
    assert len(multi) == 16
    xc = ct.column("x").to_numpy(zero_copy_only=False)
    yc = ct.column("y").to_numpy(zero_copy_only=False)
    key = (xc.astype(np.int64) << 32) | yc.astype(np.int64)
    for k in np.unique(key):
        one = mvt_vec.encode_tiles_table(ct.filter(pa.array(key == k)))
        assert len(one) == 1
        z, x, y, b = one[0]
        assert multi[(z, x, y)] == b, (z, x, y)

