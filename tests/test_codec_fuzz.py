"""Codec fuzz hardening (hypothesis): random typed tiles must round-trip
encode→decode→encode to a byte fixpoint through BOTH encoders, and
malformed/truncated buffers must fail cleanly (raise or decode to a
re-encodable tile — never hang, never silently corrupt).

Complements the golden fixture tests: those pin known shapes, these pin
the wire format's algebra on arbitrary input (typed values incl. NUL
strings and int64 edges, multi-part geometry, v1/v2, fids).
"""

import os

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from vtcomposite_spark.sources import ingest, mvt, mvt_vec

# FUZZ_SCALE=10 multiplies every example budget — one-off deep runs
_SCALE = int(os.environ.get("FUZZ_SCALE", "1"))

coord = st.integers(min_value=-500, max_value=5000)
vertex = st.tuples(coord, coord)

_string_val = st.tuples(st.just(mvt.TAG_STRING), st.text(max_size=12))
_double_val = st.tuples(st.just(mvt.TAG_DOUBLE),
                        st.floats(allow_nan=False, allow_infinity=False))
_float_val = st.tuples(st.just(mvt.TAG_FLOAT),
                       st.floats(allow_nan=False, allow_infinity=False,
                                 width=32))
_int_val = st.tuples(st.just(mvt.TAG_INT),
                     st.integers(-2 ** 63, 2 ** 63 - 1))
_uint_val = st.tuples(st.just(mvt.TAG_UINT), st.integers(0, 2 ** 64 - 1))
_sint_val = st.tuples(st.just(mvt.TAG_SINT),
                      st.integers(-2 ** 63, 2 ** 63 - 1))
_bool_val = st.tuples(st.just(mvt.TAG_BOOL), st.booleans())
typed_value = st.one_of(_string_val, _double_val, _float_val, _int_val,
                        _uint_val, _sint_val, _bool_val)
props = st.dictionaries(st.text(max_size=8), typed_value, max_size=5)


@st.composite
def feature(draw):
    gt = draw(st.integers(1, 3))
    if gt == 1:
        parts = [[v] for v in draw(st.lists(vertex, min_size=1, max_size=4))]
        rts = [0] * len(parts)
    elif gt == 2:
        parts = draw(st.lists(st.lists(vertex, min_size=2, max_size=6),
                              min_size=1, max_size=3))
        rts = [0] * len(parts)
    else:
        parts, rts = [], []
        for _ in range(draw(st.integers(1, 2))):
            x = draw(st.integers(-100, 4000))
            y = draw(st.integers(-100, 4000))
            w = draw(st.integers(1, 500))
            h = draw(st.integers(1, 500))
            if draw(st.booleans()):  # CW (positive area2 in tile coords)
                ring = [(x, y), (x, y + h), (x + w, y + h), (x + w, y), (x, y)]
            else:
                ring = [(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)]
            parts.append(ring)
            rts.append(1 if mvt.ring_area2(ring) > 0 else 2)
    tp = draw(props)
    fid = draw(st.one_of(st.none(), st.integers(0, 2 ** 40)))
    return mvt.Feature(
        geom_type=gt, parts=parts, ring_types=rts,
        properties={k: v for k, (t, v) in tp.items()},
        prop_types={k: t for k, (t, v) in tp.items()}, fid=fid)


tile = st.lists(
    st.builds(mvt.Layer,
              name=st.text(min_size=1, max_size=6),
              features=st.lists(feature(), min_size=1, max_size=4),
              extent=st.just(4096), version=st.just(2)),
    min_size=1, max_size=3, unique_by=lambda l: l.name)


def _norm_geom(f: mvt.Feature):
    """Geometry modulo the encoder's canonical form: points flatten to the
    vertex list (multipoint parts merge on the wire)."""
    if f.geom_type == 1:
        return [v for p in f.parts for v in p]
    return f.parts


@settings(max_examples=60 * _SCALE, deadline=None)
@given(tile)
def test_roundtrip_fixpoint_and_typed_values(layers):
    buf1 = mvt.encode_tile(layers)
    dec = mvt.decode_tile(buf1)
    buf2 = mvt.encode_tile(dec)
    assert buf1 == buf2  # decode→encode is the identity on the wire form
    assert [l.name for l in dec] == [l.name for l in layers]
    for li, l in enumerate(layers):
        for fi, f in enumerate(l.features):
            g = dec[li].features[fi]
            assert g.geom_type == f.geom_type
            assert g.fid == f.fid
            assert g.properties == f.properties
            assert (g.prop_types or {}) == (f.prop_types or {})
            assert _norm_geom(g) == _norm_geom(f)


@settings(max_examples=25 * _SCALE, deadline=None)
@given(tile)
def test_columnar_encoder_fuzz_parity(layers):
    """The vectorized encoder must reproduce the row encoder's bytes on
    arbitrary typed tiles, not just the fixture shapes — same value-table
    dedupe, same framing, fed through the real ingest row form."""
    from vtcomposite_spark.operators.composite import _to_arrow
    from vtcomposite_spark.schema import FEATURES_SCHEMA

    buf1 = mvt.encode_tile(layers)
    rows = ingest.feature_rows([(buf1, 0, 0, 0)])
    assert rows  # generated tiles are v2-valid
    for r in rows:
        r.update({"z": 0, "x": 0, "y": 0, "compress": False})
    fields = ([pa.field(f.name, _to_arrow(f.dataType))
               for f in FEATURES_SCHEMA.fields]
              + [pa.field("z", pa.int32()), pa.field("x", pa.int64()),
                 pa.field("y", pa.int64()), pa.field("compress", pa.bool_())])
    tbl = pa.Table.from_pylist(rows, schema=pa.schema(fields))
    out = mvt_vec.encode_tiles_table(tbl)
    assert len(out) == 1
    assert out[0][3] == buf1


@pytest.fixture(scope="module")
def fixture_buf():
    """The four-points tile of FIXTURES.md §4: one point per quadrant of
    z0/0/0 — the listed lon/lats at extent 4096 are (640, 832),
    (3040, 736), (800, 2576) and (2928, 2288)."""
    pts = [((640, 832), "top-left"), ((3040, 736), "top-right"),
           ((800, 2576), "bottom-left"), ((2928, 2288), "bottom-right")]
    return mvt.encode_tile([mvt.Layer(name="points", features=[
        mvt.Feature(geom_type=1, parts=[[xy]], ring_types=[0],
                    properties={"quadrant": q}) for xy, q in pts])])


def test_truncated_buffers_fail_cleanly(fixture_buf):
    """Every truncation either raises or decodes to a re-encodable tile —
    no hangs, no exceptions from deep inside numpy, no silent garbage."""
    for cut in range(len(fixture_buf)):
        try:
            dec = mvt.decode_tile(fixture_buf[:cut])
        except Exception:
            continue
        mvt.encode_tile(dec)  # whatever decoded must be re-encodable


@settings(max_examples=80 * _SCALE, deadline=None)
@given(st.binary(max_size=64))
def test_garbage_bytes_fail_cleanly(buf):
    try:
        dec = mvt.decode_tile(buf)
    except Exception:
        return
    mvt.encode_tile(dec)


@settings(max_examples=40 * _SCALE, deadline=None)
@given(st.binary(min_size=1, max_size=64))
def test_ingest_tolerates_garbage(buf):
    """The ingest surface mirrors the reference's decode tolerance: a
    malformed BUFFER is skipped, not fatal (src/vtcomposite.cpp:159-178)."""
    rows = ingest.feature_rows([(buf, 0, 0, 0)])
    assert isinstance(rows, list)


@settings(max_examples=30 * _SCALE, deadline=None)
@given(tile, st.data())
def test_v1_tolerance_skips_only_malformed(layers, data):
    """v1 layers with injected DEGENERATE features (empty geometry,
    1-point lines, 3-point rings) must ingest with exactly the malformed
    features skipped and every valid one kept — the reference's v1
    tolerance (src/vtcomposite.cpp:159-178). In v2 the same tile raises."""
    for l in layers:
        l.version = 1
        bad_kind = data.draw(st.integers(0, 2))
        if bad_kind == 0:
            bad = mvt.Feature(geom_type=2, parts=[[(0, 0)]], ring_types=[0],
                              properties={}, prop_types={})
        elif bad_kind == 1:
            bad = mvt.Feature(geom_type=3, parts=[[(0, 0), (1, 0), (0, 0)]],
                              ring_types=[1], properties={}, prop_types={})
        else:
            bad = None
        if bad is not None:
            l.features.insert(data.draw(st.integers(0, len(l.features))), bad)
    buf = mvt.encode_tile(layers)
    rows = ingest.feature_rows([(buf, 0, 0, 0)])
    n_valid = sum(
        1 for l in layers for f in l.features
        if not ((f.geom_type == 2 and any(len(p) < 2 for p in f.parts))
                or (f.geom_type == 3 and any(len(p) < 4 for p in f.parts))
                or not f.parts))
    assert len(rows) == n_valid
