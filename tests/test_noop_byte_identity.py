"""The reference's byte-level no-op contract, re-expressed for this engine.

`test/vtcomposite.test.js:13-25` asserts a no-op composite (one input tile
at the target z/x/y) returns a buffer of the SAME LENGTH as the input. The
reference passes it by memcpy (add_existing_layer raw-copies the layer,
src/vtcomposite.cpp:253-256); this engine re-encodes, so length identity
here is a STRONGER statement: our decode→encode round trip reproduces,
byte for byte in count, the wire size the original producer chose —
key/value table dedupe, varint widths, framing, geometry command stream.

Full byte EQUALITY with a reference-produced output buffer is not
checkable in this sandbox (the reference is a node native module and no
expected-output buffers ship in its repo — only inline assertions);
protobuf field ORDER within the layer message legitimately differs from
the third-party producers of these fixtures while decoding identically,
which the structural assertions below pin.

Re-verified round 4: node + g++ ARE present but the registry/mason
fetches its native build needs are network-blocked (no node_modules, no
prebuilt .node, `fetch(registry.npmjs.org)` fails), so the reference
cannot be built to vendor expected buffers. Measured why producer bytes
differ while lengths match: these fixtures' producers emit the key/value
tables LAZILY INTERLEAVED with features (field sequence 15,1,5 then
3/4/2 in first-reference order — parsed from the raw buffers), whereas
this encoder (like vtzero's builder, the reference's output path) writes
each table as one block; same entries, same varints, same total length,
different field order.
"""

import pytest

from pyspark.sql import functions as F

from vtcomposite_spark.operators import composite as C
from vtcomposite_spark.sources import ingest, mvt

# real-world + synthetic fixtures whose producers' encodings our encoder
# reproduces to the byte COUNT on a no-op
SAME_LENGTH = [
    "points-properties-16-10498-22872.mvt",
    "linestrings-properties-16-10498-22872.mvt",
    "polygons-properties-16-10498-22872.mvt",
    "points-poi-sf-15-5239-12666.mvt",
    "four-points-quadrants.mvt",
    "points-16-10498-22872.mvt",
    "linestrings-16-10498-22872.mvt",
    "mapbox-vector-terrain-v2-hillshade-15-6105-12723.mvt",
    "clipping-test-tile.mvt",
]
# hand-built fixtures that OMIT the optional extent field (default 4096);
# this encoder (like vtzero's builder) always emits it: +3 bytes
OMITS_EXTENT = ["multipoint.mvt", "multiline.mvt", "multipolygon.mvt"]


def _noop(spark, buf):
    feats = ingest.features_from_tiles(spark, [(buf, 15, 5238, 12666)])
    targets = ingest.targets_df(spark, [{"z": 15, "x": 5238, "y": 12666}])
    rows = C.composite_encode_tiles(feats, targets).collect()
    assert len(rows) == 1
    return bytes(rows[0].tile)


@pytest.mark.parametrize("name", SAME_LENGTH)
def test_noop_composite_same_byte_length(spark, fixture_bytes, name):
    buf = fixture_bytes(name)
    out = _noop(spark, buf)
    assert len(out) == len(buf)
    # and decodes to the identical tile (field order within the layer
    # message is the only freedom the producer used differently)
    a, b = mvt.decode_tile(buf), mvt.decode_tile(out)
    assert a == b


@pytest.mark.parametrize("name", OMITS_EXTENT)
def test_noop_composite_extent_field_delta(spark, fixture_bytes, name):
    buf = fixture_bytes(name)
    out = _noop(spark, buf)
    assert len(out) == len(buf) + 3  # 0x28 + uvarint(4096) == 3 bytes
    assert mvt.decode_tile(buf) == mvt.decode_tile(out)
