"""Columnar MVT encoder — the S3 sink's hot path, numpy over Arrow buffers.

Byte-identical to ``mvt.encode_tile`` over ``mvt.Feature`` objects (the
row-at-a-time reference path, kept for tests), but built from the flat
Arrow arrays a grouped tile arrives as, with NO per-feature python:

* ONE vectorized pass builds the geometry command stream for every feature
  of a layer (MoveTo/LineTo/ClosePath headers scattered between zigzag'd
  per-feature-cursor deltas), ONE vectorized varint pass emits the blob.
* property key/value tables factorize with Arrow's dictionary_encode
  (``_dict_encode`` — NUL-safe, unlike pandas' C-string hashing), reorder
  per tile × layer to first-seen (``_local_first_seen``), with a typed
  post-dedupe so the value table is keyed on (tag, typed value) exactly
  like the row path.
* feature protobuf framing is assembled by scattering constant bytes,
  vectorized length varints, and bulk blob gathers into one output buffer.

Measured ~9× over the itertuples row path on the 2000-feature
linestrings-properties fixture (45 → ~5 ms/tile single-thread).
"""

from __future__ import annotations

import struct

import numpy as np

from ..geometry import multi_arange
from . import mvt

_I64 = np.int64
_U64 = np.uint64
_U8 = np.uint8


def varint_encode(vals: np.ndarray):
    """Vectorized protobuf varints: (blob uint8 array, per-value counts)."""
    vals = vals.astype(_U64)
    n = len(vals)
    if n == 0:
        return np.empty(0, _U8), np.zeros(0, _I64)
    nb = np.ones(n, _I64)
    for k in range(1, 10):
        more = vals >= (_U64(1) << _U64(7 * k))
        if not more.any():
            break
        nb += more.astype(_I64)
    pos = np.concatenate([[0], np.cumsum(nb)]).astype(_I64)
    out = np.zeros(int(pos[-1]), _U8)
    for k in range(10):
        mask = nb > k
        if not mask.any():
            break
        v = (vals[mask] >> _U64(7 * k)) & _U64(0x7F)
        cont = (nb[mask] - 1 > k).astype(_U8)
        out[pos[:-1][mask] + k] = v.astype(_U8) | (cont << 7)
    return out, nb


def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << 1) ^ (v >> 63)).astype(_U64)


_UV_SMALL = [bytes([i]) for i in range(128)]


def _uv(n: int) -> bytes:
    if n < 128:
        return _UV_SMALL[n]
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode_value_fast(tag: int, tv) -> bytes:
    """MVT Value message, minimal-overhead twin of mvt._encode_value."""
    if tag == mvt.TAG_STRING:
        b = str(tv).encode("utf-8")
        return b"\x0a" + _uv(len(b)) + b
    if tag == mvt.TAG_DOUBLE:
        return b"\x19" + struct.pack("<d", tv)
    if tag == mvt.TAG_FLOAT:
        return b"\x15" + struct.pack("<f", tv)
    if tag == mvt.TAG_INT:
        return b"\x20" + _uv(tv + (1 << 64) if tv < 0 else tv)
    if tag == mvt.TAG_UINT:
        return b"\x28" + _uv(tv)
    if tag == mvt.TAG_SINT:
        return b"\x30" + _uv(((tv << 1) ^ (tv >> 63)) & ((1 << 64) - 1))
    if tag == mvt.TAG_BOOL:
        return b"\x38" + _uv(int(bool(tv)))
    raise TypeError(f"unsupported property value tag {tag}")


def _geometry_blob(gt, vst, ven, xs_vals, ys_vals, pst, pen, po_vals):
    """Vectorized geometry command stream for one layer's features.

    Returns (blob uint8 array, per-feature byte offsets int64[F+1]).
    Replicates mvt._encode_geometry exactly: per-feature cursor, points
    collapse multipoint parts into one MoveTo of their first vertices,
    polygons drop the closing vertex and append ClosePath.
    """
    F = len(gt)
    nparts = pen - pst
    pf = np.repeat(np.arange(F, dtype=_I64), nparts)
    if len(pf) == 0:
        return np.empty(0, _U8), np.zeros(F + 1, _I64)
    rel = po_vals[multi_arange(pst, pen)].astype(_I64)
    abs_start = rel + vst[pf]
    abs_end = np.empty_like(abs_start)
    abs_end[:-1] = abs_start[1:]
    last_part = np.cumsum(nparts)[nparts > 0] - 1
    abs_end[last_part] = ven[nparts > 0]

    pk = gt[pf]
    sizes = abs_end - abs_start
    closed = np.zeros(len(pf), bool)
    poly = pk == 3
    if poly.any():
        s = abs_start[poly]
        e = abs_end[poly]
        closed[poly] = (sizes[poly] > 1) & (xs_vals[s] == xs_vals[e - 1]) \
            & (ys_vals[s] == ys_vals[e - 1])
    kept_end = np.where(pk == 1, np.minimum(abs_start + 1, abs_end),
                        abs_end - closed.astype(_I64))
    kept_end = np.maximum(kept_end, abs_start)

    # units: one per part, except consecutive point-parts of a feature merge
    new_unit = np.ones(len(pf), bool)
    new_unit[1:] = (pf[1:] != pf[:-1]) | (pk[1:] != 1) | (pk[:-1] != 1)
    unit_id = np.cumsum(new_unit) - 1
    nunits = int(unit_id[-1]) + 1
    unit_feat = pf[new_unit]
    unit_kind = pk[new_unit]

    nkept_part = kept_end - abs_start
    unit_nv = np.bincount(unit_id, weights=nkept_part, minlength=nunits).astype(_I64)
    is_pt = unit_kind == 1
    has_cmd2 = (~is_pt) & (unit_nv >= 2)
    words_per_unit = np.where(
        is_pt, 1 + 2 * unit_nv,
        3 + has_cmd2.astype(_I64) + 2 * np.maximum(unit_nv - 1, 0)
        + (unit_kind == 3).astype(_I64))
    unit_off = np.concatenate([[0], np.cumsum(words_per_unit)]).astype(_I64)
    words = np.zeros(int(unit_off[-1]), _U64)

    cmd1 = np.where(is_pt, (unit_nv.astype(_U64) << _U64(3)) | _U64(1), _U64(9))
    words[unit_off[:-1]] = cmd1
    c2 = np.nonzero(has_cmd2)[0]
    words[unit_off[:-1][c2] + 3] = \
        ((unit_nv[c2] - 1).astype(_U64) << _U64(3)) | _U64(2)
    cp = np.nonzero(unit_kind == 3)[0]
    words[unit_off[1:][cp] - 1] = _U64(7)

    kept_take = multi_arange(abs_start, kept_end)
    kx = xs_vals[kept_take].astype(_I64)
    ky = ys_vals[kept_take].astype(_I64)
    kv_part = np.repeat(np.arange(len(pf), dtype=_I64), nkept_part)
    kv_unit = unit_id[kv_part]
    kv_feat = pf[kv_part]
    dx = np.empty_like(kx)
    dy = np.empty_like(ky)
    dx[0] = kx[0]
    dy[0] = ky[0]
    dx[1:] = kx[1:] - kx[:-1]
    dy[1:] = ky[1:] - ky[:-1]
    feat_first = np.ones(len(kx), bool)
    feat_first[1:] = kv_feat[1:] != kv_feat[:-1]
    dx[feat_first] = kx[feat_first]
    dy[feat_first] = ky[feat_first]

    unit_kv_start = np.concatenate([[0], np.cumsum(unit_nv)]).astype(_I64)
    j = np.arange(len(kx), dtype=_I64) - unit_kv_start[kv_unit]
    posx = unit_off[kv_unit] + 1 + 2 * j \
        + ((unit_kind[kv_unit] != 1) & (j >= 1)).astype(_I64)
    words[posx] = _zigzag(dx)
    words[posx + 1] = _zigzag(dy)

    blob, nb = varint_encode(words)
    wf = np.repeat(unit_feat, words_per_unit)
    feat_bytes = np.bincount(wf, weights=nb, minlength=F).astype(_I64)
    return blob, np.concatenate([[0], np.cumsum(feat_bytes)]).astype(_I64)


def _np_col(tbl, name):
    import pyarrow as pa
    col = tbl.column(name)
    return col.chunk(0) if isinstance(col, pa.ChunkedArray) else col


def _dict_encode(arr):
    """(codes int64, dictionary as object ndarray) via Arrow's hash-based
    dictionary_encode — C++-speed factorization of large string columns
    (np.unique on object arrays pays a python compare per element)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    if len(arr) == 0:
        return np.empty(0, _I64), np.empty(0, object)
    d = pc.dictionary_encode(arr)
    if isinstance(d, pa.ChunkedArray):
        d = d.combine_chunks()
    codes = d.indices.to_numpy(zero_copy_only=False).astype(_I64)
    return codes, np.asarray(d.dictionary.to_pylist(), dtype=object)


def _bytes_blob(chunks: list[bytes]):
    """Concatenate small byte chunks into (uint8 blob, offsets int64[N+1])
    for vectorized gathers."""
    if not chunks:
        return np.empty(0, _U8), np.zeros(1, _I64)
    blob = np.frombuffer(b"".join(chunks), dtype=_U8)
    off = np.concatenate([[0], np.cumsum([len(c) for c in chunks])]).astype(_I64)
    return blob, off


def _local_first_seen(unit_of_item: np.ndarray, code: np.ndarray,
                      ncodes: int, nunits: int):
    """Per-unit first-seen factorization of (unit, code) pairs.

    ``unit_of_item`` must be NON-DECREASING (items grouped by unit in
    order). ``nunits`` is the TOTAL unit count — units with no items
    (features without properties) still need empty table slots, so it
    cannot be derived from the items. Returns (local_idx per item,
    per-unit table starts int64[U+1], code per table slot in per-unit
    first-seen order, FIRST item index per slot — the slot's
    representative, e.g. so a 0.0/-0.0 value class encodes the variant
    the unit actually saw first, exactly like the row path's per-layer
    table).
    """
    pair = unit_of_item * _I64(ncodes) + code
    uniq, first_idx, inv = np.unique(pair, return_index=True,
                                     return_inverse=True)
    order = np.argsort(first_idx, kind="stable")  # grouped by unit, in
    rank = np.empty(len(uniq), _I64)              # first-seen order
    rank[order] = np.arange(len(uniq), dtype=_I64)
    pair_unit = (uniq // ncodes)[order]
    per_unit = np.bincount(pair_unit, minlength=nunits).astype(_I64)
    starts = np.concatenate([[0], np.cumsum(per_unit)]).astype(_I64)
    local_of_pair = np.empty(len(uniq), _I64)
    local_of_pair[order] = np.arange(len(uniq), dtype=_I64) - starts[pair_unit]
    return (local_of_pair[inv], starts, (uniq % ncodes)[order],
            first_idx[order])


def encode_tiles_table(tbl):
    """MANY tiles in one call — the per-tile fixed cost amortizer.

    ``tbl``: composite-output rows for any number of (z, x, y) tiles.
    Returns [(z, x, y, tile bytes), ...], byte-identical per tile to
    encoding each group alone (the parity matrix in
    tests/test_encode_columnar.py gates this). Every tile is encoded
    whole, from all of its rows, in the call that sees them — a caller
    holding one tile's rows in several batches packs them first
    (``operators.composite.encode_tiles``).

    Why it exists: per-tile encoding pays ~6 ms of fixed cost per call
    (~80 small numpy dispatches, object-string np.unique, one
    _encode_value_fast per distinct value). Across a batch those
    amortize: ONE geometry pass, ONE varint pass, ONE framing scatter for
    every feature of every tile; keys/values factorize once globally
    (Arrow dictionary_encode) and each distinct value's bytes are encoded
    once, however many tiles repeat it. Per-tile work left is slicing the
    frame blob and joining pre-encoded key/value table entries.
    """
    import pyarrow as pa

    tbl = tbl.combine_chunks()
    n = tbl.num_rows
    if n == 0:
        return []

    z_all = _np_col(tbl, "z").to_numpy(zero_copy_only=False).astype(_I64)
    x_all = _np_col(tbl, "x").to_numpy(zero_copy_only=False).astype(_I64)
    y_all = _np_col(tbl, "y").to_numpy(zero_copy_only=False).astype(_I64)
    ti_all = _np_col(tbl, "tile_idx").to_numpy(zero_copy_only=False).astype(_I64)
    fi_all = _np_col(tbl, "feature_idx").to_numpy(zero_copy_only=False).astype(_I64)

    # --- row order: tiles contiguous, (tile_idx, feature_idx) within tile
    order1 = np.lexsort((fi_all, ti_all, y_all, x_all, z_all))
    zs, xs_, ys_ = z_all[order1], x_all[order1], y_all[order1]
    new_tile = np.ones(n, bool)
    new_tile[1:] = (zs[1:] != zs[:-1]) | (xs_[1:] != xs_[:-1]) | (ys_[1:] != ys_[:-1])
    tile_of_row = np.cumsum(new_tile) - 1
    ntiles = int(tile_of_row[-1]) + 1

    # --- units: (tile, layer) in per-tile first-seen order, rows within a
    # unit in sorted order. One more stable gather makes units contiguous.
    lcode_raw, layer_dict = _dict_encode(_np_col(tbl, "layer").take(
        pa.array(order1, pa.int64())))
    pair = tile_of_row * _I64(len(layer_dict)) + lcode_raw
    uniq_u, first_u, inv_u = np.unique(pair, return_index=True,
                                       return_inverse=True)
    order_u = np.argsort(first_u, kind="stable")
    rank_u = np.empty(len(uniq_u), _I64)
    rank_u[order_u] = np.arange(len(uniq_u), dtype=_I64)
    unit_of_row_raw = rank_u[inv_u]
    order2 = np.argsort(unit_of_row_raw, kind="stable")
    total_order = order1[order2]
    unit_of_row = unit_of_row_raw[order2]
    nunits = len(uniq_u)
    unit_first_row = np.searchsorted(unit_of_row, np.arange(nunits, dtype=_I64))
    unit_row_start = np.concatenate([unit_first_row, [n]]).astype(_I64)
    unit_tile = tile_of_row[order2][unit_first_row]
    unit_lcode = lcode_raw[order2][unit_first_row]

    tbl = tbl.take(pa.array(total_order, pa.int64())).combine_chunks()

    def list_parts(colname, dtype):
        arr = _np_col(tbl, colname)
        off = arr.offsets.to_numpy(zero_copy_only=False).astype(_I64)
        vals = arr.values.to_numpy(zero_copy_only=False).astype(dtype)
        return off, vals

    xs_off, xs_vals = list_parts("xs", _I64)
    _, ys_vals = list_parts("ys", _I64)
    po_off, po_vals = list_parts("part_offsets", _I64)
    gt_all = _np_col(tbl, "geom_type").to_numpy(zero_copy_only=False).astype(_I64)
    lv_arr = _np_col(tbl, "layer_version").fill_null(2) \
        .to_numpy(zero_copy_only=False).astype(_I64)
    ext_arr = _np_col(tbl, "extent").to_numpy(zero_copy_only=False).astype(_I64)
    fid_arr = _np_col(tbl, "feature_id")
    fid_valid = ~fid_arr.is_null().to_numpy(zero_copy_only=False)
    fid_vals = fid_arr.fill_null(0).to_numpy(zero_copy_only=False).astype(_I64)
    if "compress" in tbl.column_names:
        compress_rows = _np_col(tbl, "compress").fill_null(False) \
            .to_numpy(zero_copy_only=False).astype(bool)
    else:
        compress_rows = np.zeros(n, bool)

    has_types = "prop_types" in tbl.column_names
    parr = _np_col(tbl, "properties")
    p_off = parr.offsets.to_numpy(zero_copy_only=False).astype(_I64)
    # entry arrays are used POSITIONALLY (entry j of the flat children is
    # row ef[j]'s) — normalize a sliced map child to zero-based dense
    if p_off[0] != 0 or p_off[-1] != len(parr.keys):
        base = int(p_off[0])
        p_keys = parr.keys.slice(base, int(p_off[-1]) - base)
        p_vals = parr.items.slice(base, int(p_off[-1]) - base)
        p_off = p_off - base
    else:
        p_keys = parr.keys
        p_vals = parr.items
    if has_types:
        tarr = _np_col(tbl, "prop_types")
        t_off = tarr.offsets.to_numpy(zero_copy_only=False).astype(_I64)
        tk_arr = tarr.keys
        tv_arr = tarr.items
        if t_off[0] != 0 or t_off[-1] != len(tk_arr):
            tbase = int(t_off[0])
            tk_arr = tk_arr.slice(tbase, int(t_off[-1]) - tbase)
            tv_arr = tv_arr.slice(tbase, int(t_off[-1]) - tbase)
            t_off = t_off - tbase
        t_keys = tk_arr.to_numpy(zero_copy_only=False)
        if tv_arr.null_count == 0:
            t_vals = tv_arr.to_numpy(zero_copy_only=False).astype(_I64)
        else:
            t_vals = np.array(
                [mvt.TAG_STRING if v is None else int(v)
                 for v in tv_arr.to_pylist()], dtype=_I64)
        # fast path: both maps share entry order (ingestion + localize keep
        # them aligned); else per-row dict matching
        pk_np = p_keys.to_numpy(zero_copy_only=False)
        if (len(t_keys) == len(pk_np) and np.array_equal(t_off, p_off)
                and bool(np.all(t_keys == pk_np))):
            p_tags = t_vals
        else:
            p_tags = np.empty(len(pk_np), _I64)
            for r in range(len(p_off) - 1):
                d = {t_keys[i]: t_vals[i] for i in range(t_off[r], t_off[r + 1])}
                for i in range(p_off[r], p_off[r + 1]):
                    p_tags[i] = d.get(pk_np[i]) or mvt.TAG_STRING
    else:
        p_tags = np.full(len(p_keys), mvt.TAG_STRING, _I64)

    # --- ONE geometry pass over every feature of every tile
    geoblob, geo_starts = _geometry_blob(
        gt_all, xs_off[:-1], xs_off[1:], xs_vals, ys_vals,
        po_off[:-1], po_off[1:], po_vals)

    # --- property tag words, per-unit local key/value indices
    nent = np.diff(p_off)
    total_ent = int(nent.sum())
    tag_starts = np.zeros(n + 1, _I64)
    key_starts = np.zeros(nunits + 1, _I64)
    val_starts = np.zeros(nunits + 1, _I64)
    unit_key_codes = np.empty(0, _I64)
    unit_val_codes = np.empty(0, _I64)
    key_entry_bytes: list[bytes] = []
    val_entry_bytes: list[bytes] = []
    tagblob = np.empty(0, _U8)
    if total_ent:
        ef = np.repeat(np.arange(n, dtype=_I64), nent)
        unit_of_ent = unit_of_row[ef]
        kcode, key_dict = _dict_encode(p_keys)
        scode, sdict = _dict_encode(p_vals)
        tg = p_tags
        # global typed value dedupe: each distinct (tag, canonical string)
        # COMBO encodes once; combos with equal (tag, typed value) — every
        # NaN, 0.0 vs -0.0 — share one dedupe CLASS (gcanon) for local
        # indexing, exactly like the row path's per-layer val_idx dict
        M = _I64(len(sdict) + 1)
        combo = tg * M + scode
        uc, uinv = np.unique(combo, return_inverse=True)
        gcanon_of_combo = np.empty(len(uc), _I64)
        seen: dict = {}
        nclasses = 0
        combo_bytes: list[bytes] = []
        sdict_l = list(sdict)
        for u, c in enumerate(uc.tolist()):
            tag, sc = divmod(c, int(M))
            tv = mvt.from_canonical(tag, sdict_l[sc])
            vb = _encode_value_fast(tag, tv)
            combo_bytes.append(b"\x22" + _uv(len(vb)) + vb)
            kk = (tag, tv)
            g = seen.get(kk)
            if g is None:
                g = seen[kk] = nclasses
                nclasses += 1
            gcanon_of_combo[u] = g
        gcanon = gcanon_of_combo[uinv]
        val_entry_bytes = combo_bytes
        key_entry_bytes = [
            b"\x1a" + _uv(len(kb)) + kb
            for kb in (k.encode("utf-8") for k in key_dict)]

        k_local, key_starts, unit_key_codes, _ = _local_first_seen(
            unit_of_ent, kcode, len(key_dict), nunits)
        v_local, val_starts, _, v_slot_first = _local_first_seen(
            unit_of_ent, gcanon, nclasses, nunits)
        # table slot bytes = the unit's FIRST-SEEN variant of the class
        # (a later -0.0 reuses the slot of an earlier 0.0, and vice versa)
        unit_val_codes = uinv[v_slot_first]

        twords = np.empty(2 * total_ent, _U64)
        twords[0::2] = k_local.astype(_U64)
        twords[1::2] = v_local.astype(_U64)
        tagblob, tnb = varint_encode(twords)
        tb = np.bincount(np.repeat(ef, 2), weights=tnb, minlength=n).astype(_I64)
        tag_starts = np.concatenate([[0], np.cumsum(tb)]).astype(_I64)

    # --- ONE framing scatter for every feature
    taglen = np.diff(tag_starts)
    geolen = np.diff(geo_starts)
    has_tags = taglen > 0
    fid_uv, fid_nb_p = varint_encode(fid_vals[fid_valid])
    fid_nb = np.zeros(n, _I64)
    fid_nb[fid_valid] = fid_nb_p
    fid_len = np.where(fid_valid, 1 + fid_nb, 0)
    taglen_uv, tagl_nb_p = varint_encode(taglen[has_tags])
    tag_hdr = np.zeros(n, _I64)
    tag_hdr[has_tags] = 1 + tagl_nb_p
    geolen_uv, geol_nb = varint_encode(geolen)
    fb_len = fid_len + tag_hdr + taglen + 2 + 1 + geol_nb + geolen
    fb_uv, fb_nb = varint_encode(fb_len)
    frame_sizes = 1 + fb_nb + fb_len
    out = np.zeros(int(frame_sizes.sum()), _U8)
    frame_bounds = np.concatenate([[0], np.cumsum(frame_sizes)]).astype(_I64)
    fstart = frame_bounds[:-1]

    out[fstart] = 0x12
    p = fstart + 1
    out[multi_arange(p, p + fb_nb)] = fb_uv
    p = p + fb_nb
    pv = p[fid_valid]
    out[pv] = 0x08
    out[multi_arange(pv + 1, pv + 1 + fid_nb[fid_valid])] = fid_uv
    p = p + fid_len
    pt = p[has_tags]
    out[pt] = 0x12
    out[multi_arange(pt + 1, pt + tag_hdr[has_tags])] = taglen_uv
    out[multi_arange(p + tag_hdr, p + tag_hdr + taglen)] = tagblob
    p = p + tag_hdr + taglen
    out[p] = 0x18
    out[p + 1] = gt_all.astype(_U8)
    out[p + 2] = 0x22
    out[multi_arange(p + 3, p + 3 + geol_nb)] = geolen_uv
    out[multi_arange(p + 3 + geol_nb, p + 3 + geol_nb + geolen)] = geoblob
    frames = out.tobytes()

    # --- per-unit key/value table bytes: ONE vectorized gather of the
    # pre-encoded per-code chunks, sliced per unit
    kblob, kb_off = _bytes_blob(key_entry_bytes)
    vblob, vb_off = _bytes_blob(val_entry_bytes)
    ktab = kblob[multi_arange(kb_off[unit_key_codes],
                               kb_off[unit_key_codes + 1])].tobytes()
    vtab = vblob[multi_arange(vb_off[unit_val_codes],
                               vb_off[unit_val_codes + 1])].tobytes()
    klen = kb_off[unit_key_codes + 1] - kb_off[unit_key_codes]
    vlen = vb_off[unit_val_codes + 1] - vb_off[unit_val_codes]
    unit_ktab = np.zeros(nunits + 1, _I64)
    unit_vtab = np.zeros(nunits + 1, _I64)
    if len(klen):
        slot_unit = np.repeat(np.arange(nunits, dtype=_I64), np.diff(key_starts))
        unit_ktab[1:] = np.cumsum(
            np.bincount(slot_unit, weights=klen, minlength=nunits)).astype(_I64)
        slot_unit_v = np.repeat(np.arange(nunits, dtype=_I64), np.diff(val_starts))
        unit_vtab[1:] = np.cumsum(
            np.bincount(slot_unit_v, weights=vlen, minlength=nunits)).astype(_I64)

    # --- per-unit layer messages, per-tile concatenation
    ext_vals = np.unique(ext_arr[unit_first_row]).tolist()
    ext_map = {int(e): b"\x28" + _uv(int(e)) for e in ext_vals}
    name_heads = [b"\x0a" + _uv(len(nb)) + nb
                  for nb in (str(s).encode("utf-8") for s in layer_dict)]
    def unit_msg(u: int) -> bytes:
        r0 = int(unit_first_row[u])
        body = b"".join((
            b"\x78", _uv(int(lv_arr[r0])),
            name_heads[int(unit_lcode[u])],
            frames[int(frame_bounds[r0]):
                   int(frame_bounds[unit_row_start[u + 1]])],
            ktab[int(unit_ktab[u]):int(unit_ktab[u + 1])],
            vtab[int(unit_vtab[u]):int(unit_vtab[u + 1])],
            ext_map[int(ext_arr[r0])]))
        return b"\x1a" + _uv(len(body)) + body

    results: list[tuple[int, int, int, bytes]] = []
    tile_unit_start = np.searchsorted(unit_tile, np.arange(ntiles, dtype=_I64))
    tile_unit_bounds = np.concatenate([tile_unit_start, [nunits]]).astype(_I64)
    for t in range(ntiles):
        msgs = [unit_msg(u) for u in range(int(tile_unit_bounds[t]),
                                           int(tile_unit_bounds[t + 1]))]
        r0 = int(unit_first_row[int(tile_unit_bounds[t])])
        orig = int(total_order[r0])
        results.append((int(z_all[orig]), int(x_all[orig]), int(y_all[orig]),
                        mvt.gzip_sink(b"".join(msgs), bool(compress_rows[r0]))))
    return results
