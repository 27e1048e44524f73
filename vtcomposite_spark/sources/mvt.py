"""Minimal Mapbox Vector Tile (MVT) codec — pure Python/numpy.

Implements the public MVT 2.1 protobuf spec (https://github.com/mapbox/
vector-tile-spec) from scratch: varint/zigzag wire format, layer/feature/
value messages, and the MoveTo/LineTo/ClosePath geometry command stream.

Role in the engine (SURVEY.md §2.1):

* **S2 fixture ingestion** — decode reference ``.mvt`` fixtures into the
  relational packed-array rows the engine operates on (one row per feature).
  Inside the engine there is no decode: data is already relational.
* **S3 encode sink** — terminal ``groupBy(z,x,y).applyInPandas`` kernel that
  rebuilds a tile buffer from relational rows, including the layer-level
  key/value string tables (the analog of the reference's ``property_mapper``
  re-indexing, src/vtcomposite.cpp:262).
* **S1/S4 gzip** — sniff 0x1f8b on input; on output, compress non-empty
  tiles only (empty tile stays a 0-byte raw buffer,
  src/vtcomposite.cpp:300-311).
"""

from __future__ import annotations

import gzip as _gzip
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# protobuf wire helpers
# ---------------------------------------------------------------------------

def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _write_uvarint(out: bytearray, value: int) -> None:
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _write_tag(out: bytearray, field_no: int, wire: int) -> None:
    _write_uvarint(out, (field_no << 3) | wire)


def _write_len_delim(out: bytearray, field_no: int, payload: bytes) -> None:
    _write_tag(out, field_no, 2)
    _write_uvarint(out, len(payload))
    out += payload


# ---------------------------------------------------------------------------
# model
# ---------------------------------------------------------------------------

# MVT Value message field numbers double as the engine's type tags
# (spec 4.1): 1=string 2=float(32) 3=double 4=int 5=uint 6=sint 7=bool
TAG_STRING, TAG_FLOAT, TAG_DOUBLE, TAG_INT, TAG_UINT, TAG_SINT, TAG_BOOL = \
    1, 2, 3, 4, 5, 6, 7


def infer_tag(v) -> int:
    """Type tag for a plain python value (decode-less construction paths):
    matches the historical encoder's dispatch — bool→bool_value, str→string,
    float→double, int→int (sint when negative)."""
    if isinstance(v, bool):
        return TAG_BOOL
    if isinstance(v, str):
        return TAG_STRING
    if isinstance(v, float):
        return TAG_DOUBLE
    if isinstance(v, int):
        return TAG_INT if v >= 0 else TAG_SINT
    raise TypeError(f"unsupported property value type {type(v)}")


@dataclass
class Feature:
    geom_type: int                     # 1=point 2=linestring 3=polygon
    parts: list[list[tuple[int, int]]]  # per part/ring vertex lists; rings CLOSED
    ring_types: list[int]              # per part: 1=outer 2=inner (polygons)
    properties: dict                   # key -> typed python value
    fid: int | None = None
    prop_types: dict | None = None     # key -> MVT value-type tag; None ⇒ infer


@dataclass
class Layer:
    name: str
    features: list[Feature] = field(default_factory=list)
    extent: int = 4096
    version: int = 2


def to_canonical(tag: int, v) -> str:
    """Lossless string transport for a typed MVT value: the relational layer
    carries ``properties: map<string,string>`` (the reference's property
    algebra is string-only anyway, src/vtcomposite.cpp:787,806) plus a
    parallel ``prop_types`` tag map; this pair round-trips exactly through
    ``from_canonical``. Floats use repr (shortest round-trip — a float32's
    exact double survives), bools the MVT-ish lowercase true/false."""
    if tag == TAG_BOOL:
        return "true" if v else "false"
    if tag in (TAG_FLOAT, TAG_DOUBLE):
        return repr(float(v))
    return str(v)


def from_canonical(tag: int, s: str):
    """Inverse of ``to_canonical``: canonical string + tag → typed value."""
    if tag == TAG_BOOL:
        return s == "true"
    if tag in (TAG_FLOAT, TAG_DOUBLE):
        return float(s)
    if tag in (TAG_INT, TAG_UINT, TAG_SINT):
        return int(s)
    return s


def ring_area2(pts) -> int:
    """Twice the signed surveyor's-formula area (spec 4.3.3.3):
    > 0 ⇒ exterior ring, < 0 ⇒ interior ring (tile grid, y down)."""
    a = 0
    n = len(pts)
    for i in range(n - 1):
        a += pts[i][0] * pts[i + 1][1] - pts[i + 1][0] * pts[i][1]
    return a


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def maybe_gunzip(buf: bytes) -> bytes:
    """Compression sniff (reference src/vtcomposite.cpp:224-235; its gzip
    lib accepts both gzip and raw zlib streams — v1-6.mvt is zlib-coded)."""
    if len(buf) >= 2 and buf[0] == 0x1F and buf[1] == 0x8B:
        return _gzip.decompress(buf)
    # generic zlib sniff: CM==8 (deflate) with any window size, and the
    # CMF/FLG pair a valid mod-31 checksum (RFC 1950 §2.2) — not just 0x78
    if (len(buf) >= 2 and (buf[0] & 0x0F) == 8
            and ((buf[0] << 8) | buf[1]) % 31 == 0):
        import zlib
        return zlib.decompress(buf)
    return buf


def _decode_value(buf: bytes):
    """MVT Value message → (type_tag, python value). The tag is the Value
    field number itself (TAG_*); the reference carries values as a typed
    union end-to-end (src/vtcomposite.cpp:768-828) and re-emits them with
    their original wire types (src/feature_builder.hpp:169-180), so decode
    must preserve which variant was set — int/uint/sint all surface as
    python int and would otherwise be indistinguishable."""
    pos = 0
    import struct
    while pos < len(buf):
        tag, pos = _uvarint(buf, pos)
        f, wire = tag >> 3, tag & 7
        if f == TAG_STRING:
            ln, pos = _uvarint(buf, pos)
            return TAG_STRING, buf[pos:pos + ln].decode("utf-8")
        if f == TAG_FLOAT:
            return TAG_FLOAT, struct.unpack_from("<f", buf, pos)[0]
        if f == TAG_DOUBLE:
            return TAG_DOUBLE, struct.unpack_from("<d", buf, pos)[0]
        if f == TAG_INT:
            v, pos = _uvarint(buf, pos)
            return TAG_INT, (v - (1 << 64) if v >= 1 << 63 else v)
        if f == TAG_UINT:
            v, pos = _uvarint(buf, pos)
            return TAG_UINT, v
        if f == TAG_SINT:
            v, pos = _uvarint(buf, pos)
            return TAG_SINT, _unzigzag(v)
        if f == TAG_BOOL:
            v, pos = _uvarint(buf, pos)
            return TAG_BOOL, bool(v)
    return TAG_STRING, None


def _decode_geometry(geom: list[int], geom_type: int):
    """Run the command stream → (parts, ring_types). Rings come out CLOSED
    (ClosePath repeats the first vertex, the shape decoders expose)."""
    parts: list[list[tuple[int, int]]] = []
    ring_types: list[int] = []
    x = y = 0
    i = 0
    cur: list[tuple[int, int]] = []
    pending_rings: list[list[tuple[int, int]]] = []

    def flush_polygon_rings():
        for ring in pending_rings:
            parts.append(ring)
            ring_types.append(1 if ring_area2(ring) > 0 else 2)
        pending_rings.clear()

    while i < len(geom):
        cmd = geom[i]
        i += 1
        cid, count = cmd & 7, cmd >> 3
        if cid == 1:  # MoveTo
            if geom_type == 2 and cur:
                parts.append(cur)
                ring_types.append(0)
            cur = []
            for _ in range(count):
                x += _unzigzag(geom[i]); y += _unzigzag(geom[i + 1]); i += 2
                if geom_type == 1:
                    parts.append([(x, y)])
                    ring_types.append(0)
                else:
                    cur.append((x, y))
        elif cid == 2:  # LineTo
            for _ in range(count):
                x += _unzigzag(geom[i]); y += _unzigzag(geom[i + 1]); i += 2
                cur.append((x, y))
        elif cid == 7:  # ClosePath
            if not cur:
                raise ValueError("ClosePath with no open ring")
            cur.append(cur[0])
            pending_rings.append(cur)
            cur = []
        else:  # pragma: no cover - malformed
            break
    if geom_type == 2 and cur:
        parts.append(cur)
        ring_types.append(0)
    if geom_type == 3:
        flush_polygon_rings()
    return parts, ring_types


def decode_tile(buf: bytes) -> list[Layer]:
    buf = maybe_gunzip(bytes(buf))
    layers: list[Layer] = []
    pos = 0
    while pos < len(buf):
        tag, pos = _uvarint(buf, pos)
        if tag >> 3 == 3 and tag & 7 == 2:
            ln, pos = _uvarint(buf, pos)
            layers.append(_decode_layer(buf[pos:pos + ln]))
            pos += ln
        else:  # skip unknown
            wire = tag & 7
            if wire == 0:
                _, pos = _uvarint(buf, pos)
            elif wire == 2:
                ln, pos = _uvarint(buf, pos)
                pos += ln
            else:
                raise ValueError(f"unsupported wire type {wire}")
    return layers


def _decode_layer(buf: bytes) -> Layer:
    name = ""
    extent = 4096
    version = 2
    keys: list[str] = []
    values: list = []
    raw_features: list[bytes] = []
    pos = 0
    while pos < len(buf):
        tag, pos = _uvarint(buf, pos)
        f, wire = tag >> 3, tag & 7
        if f == 1:
            ln, pos = _uvarint(buf, pos)
            name = buf[pos:pos + ln].decode("utf-8"); pos += ln
        elif f == 2:
            ln, pos = _uvarint(buf, pos)
            raw_features.append(buf[pos:pos + ln]); pos += ln
        elif f == 3:
            ln, pos = _uvarint(buf, pos)
            keys.append(buf[pos:pos + ln].decode("utf-8")); pos += ln
        elif f == 4:
            ln, pos = _uvarint(buf, pos)
            values.append(_decode_value(buf[pos:pos + ln])); pos += ln
        elif f == 5:
            extent, pos = _uvarint(buf, pos)
        elif f == 15:
            version, pos = _uvarint(buf, pos)
        else:
            if wire == 0:
                _, pos = _uvarint(buf, pos)
            else:
                ln, pos = _uvarint(buf, pos)
                pos += ln
    layer = Layer(name=name, extent=extent, version=version)
    for raw in raw_features:
        layer.features.append(_decode_feature(raw, keys, values))
    return layer


def _decode_feature(buf: bytes, keys: list[str], values: list) -> Feature:
    fid = None
    geom_type = 0
    tags: list[int] = []
    geom: list[int] = []
    pos = 0
    while pos < len(buf):
        tag, pos = _uvarint(buf, pos)
        f, wire = tag >> 3, tag & 7
        if f == 1:
            fid, pos = _uvarint(buf, pos)
        elif f == 2:
            ln, pos = _uvarint(buf, pos)
            end = pos + ln
            while pos < end:
                v, pos = _uvarint(buf, pos)
                tags.append(v)
        elif f == 3:
            geom_type, pos = _uvarint(buf, pos)
        elif f == 4:
            ln, pos = _uvarint(buf, pos)
            end = pos + ln
            while pos < end:
                v, pos = _uvarint(buf, pos)
                geom.append(v)
        else:
            if wire == 0:
                _, pos = _uvarint(buf, pos)
            else:
                ln, pos = _uvarint(buf, pos)
                pos += ln
    props = {}
    ptypes = {}
    for i in range(0, len(tags) - 1, 2):
        vtag, val = values[tags[i + 1]]
        props[keys[tags[i]]] = val
        ptypes[keys[tags[i]]] = vtag
    try:
        parts, ring_types = _decode_geometry(geom, geom_type)
    except Exception:
        # malformed geometry: keep the feature shell with empty parts —
        # ingestion classifies it malformed (skip in v1 layers, error in
        # v2), matching vtzero's per-feature decode failure semantics
        parts, ring_types = [], []
    return Feature(geom_type=geom_type, parts=parts, ring_types=ring_types,
                   properties=props, fid=fid, prop_types=ptypes)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def _encode_value(v, tag: int | None = None) -> bytes:
    """Encode one MVT Value. With an explicit ``tag`` the original wire
    variant is re-emitted exactly (typed parity with the reference's
    property_mapper, src/feature_builder.hpp:169-180); without one the tag
    is inferred from the python type."""
    import struct
    if tag is None:
        tag = infer_tag(v)
    out = bytearray()
    if tag == TAG_BOOL:
        _write_tag(out, TAG_BOOL, 0); _write_uvarint(out, int(bool(v)))
    elif tag == TAG_STRING:
        _write_len_delim(out, TAG_STRING, str(v).encode("utf-8"))
    elif tag == TAG_FLOAT:
        _write_tag(out, TAG_FLOAT, 5); out += struct.pack("<f", v)
    elif tag == TAG_DOUBLE:
        _write_tag(out, TAG_DOUBLE, 1); out += struct.pack("<d", v)
    elif tag == TAG_INT:
        _write_tag(out, TAG_INT, 0)
        _write_uvarint(out, v + (1 << 64) if v < 0 else v)
    elif tag == TAG_UINT:
        _write_tag(out, TAG_UINT, 0); _write_uvarint(out, v)
    elif tag == TAG_SINT:
        _write_tag(out, TAG_SINT, 0); _write_uvarint(out, _zigzag(v))
    else:
        raise TypeError(f"unsupported property value tag {tag}")
    return bytes(out)


def _encode_geometry(feature: Feature) -> list[int]:
    cmds: list[int] = []
    x = y = 0

    def move_to(pts):
        nonlocal x, y
        cmds.append((len(pts) << 3) | 1)
        for px, py in pts:
            cmds.append(_zigzag(px - x))
            cmds.append(_zigzag(py - y))
            x, y = px, py

    def line_to(pts):
        nonlocal x, y
        if not pts:
            return
        cmds.append((len(pts) << 3) | 2)
        for px, py in pts:
            cmds.append(_zigzag(px - x))
            cmds.append(_zigzag(py - y))
            x, y = px, py

    if feature.geom_type == 1:
        pts = [p[0] for p in feature.parts]
        move_to(pts)
    elif feature.geom_type == 2:
        for part in feature.parts:
            move_to(part[:1])
            line_to(part[1:])
    else:
        for ring in feature.parts:
            body = ring[:-1] if len(ring) > 1 and ring[0] == ring[-1] else ring
            move_to(body[:1])
            line_to(body[1:])
            cmds.append(7)  # ClosePath
    return cmds


def encode_tile(layers: list[Layer]) -> bytes:
    out = bytearray()
    for layer in layers:
        _write_len_delim(out, 3, _encode_layer(layer))
    return bytes(out)


def _encode_layer(layer: Layer) -> bytes:
    # layer-level key/value string tables with first-seen dedupe — the
    # re-expression of the reference's property_mapper (src/vtcomposite.cpp:262)
    keys: dict[str, int] = {}
    values: dict = {}
    value_list: list = []

    def key_idx(k: str) -> int:
        if k not in keys:
            keys[k] = len(keys)
        return keys[k]

    def val_idx(v, tag: int) -> int:
        # NaN != NaN would mint a fresh value entry per NaN property; key
        # NaN on a sentinel so all NaNs share ONE entry, matching the
        # columnar path's canonical-string dedupe (mvt_vec value table)
        kv = (tag, "nan") if isinstance(v, float) and v != v else (tag, v)
        if kv not in values:
            values[kv] = len(value_list)
            value_list.append((v, tag))
        return values[kv]

    feats = bytearray()
    for f in layer.features:
        fb = bytearray()
        if f.fid is not None:
            _write_tag(fb, 1, 0)
            _write_uvarint(fb, f.fid)
        if f.properties:
            ptypes = f.prop_types or {}
            tags = bytearray()
            for k, v in f.properties.items():
                _write_uvarint(tags, key_idx(k))
                _write_uvarint(tags, val_idx(v, ptypes.get(k) or infer_tag(v)))
            _write_len_delim(fb, 2, bytes(tags))
        _write_tag(fb, 3, 0)
        _write_uvarint(fb, f.geom_type)
        geom = bytearray()
        for c in _encode_geometry(f):
            _write_uvarint(geom, c)
        _write_len_delim(fb, 4, bytes(geom))
        _write_len_delim(feats, 2, bytes(fb))

    out = bytearray()
    _write_tag(out, 15, 0)
    _write_uvarint(out, layer.version)
    _write_len_delim(out, 1, layer.name.encode("utf-8"))
    out += feats
    for k in keys:
        _write_len_delim(out, 3, k.encode("utf-8"))
    for v, tag in value_list:
        _write_len_delim(out, 4, _encode_value(v, tag))
    _write_tag(out, 5, 0)
    _write_uvarint(out, layer.extent)
    return bytes(out)


def gzip_sink(buf: bytes, compress: bool) -> bytes:
    """Empty tiles stay 0-byte raw buffers (src/vtcomposite.cpp:300-311).
    mtime pinned to 0 so compressed output is byte-deterministic (O3) —
    python's default stamps the current time into the gzip header."""
    if compress and len(buf) > 0:
        return _gzip.compress(buf, mtime=0)
    return buf

