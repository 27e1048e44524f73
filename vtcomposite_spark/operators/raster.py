"""Raster↔vector conversion over tiles — the north rule's fourth spatial
primitive (BASELINE.json: "H3/S2 index, point-in-polygon, kNN,
raster↔vector").

Vector→raster: per output tile, burn composite-output features onto an
R×R pixel grid — points scatter counts, linestrings burn every pixel the
segment passes at unit steps, polygons fill by even-odd scanline (holes
carve naturally, same parity rule as the PIP kernel). The raster payload
is a real netpbm PGM (operators.multimodal codecs), counts clipped to
uint8.

Raster→vector: ``raster_to_points`` explodes nonzero pixels back to
(px, py, value) rows — the exact inverse for point rasters, which makes
the round trip SQL-replayable and oracle-gated.

Kernels run over packed-per-tile Arrow batches (the encode sinks'
`_pack_tiles` pattern). ALL three geometry types burn batch-globally with
zero per-feature python (VERDICT r3 item 4): points are ONE flat bincount
over (tile, py, px); lines flatten every segment of the batch into one
edge table, `np.repeat`-interpolate unit steps, collapse consecutive
duplicates per part, and scatter with one bincount; polygons explode
every non-horizontal edge to its scanline crossings, pair the sorted
crossings per (feature, row) by even-odd parity, and fill the intervals
with a difference-array + cumsum (one bincount pair). The per-feature
reference burns (``burn_points`` / ``burn_lines`` / ``fill_polygon``)
live in tests/reference_plans.py — the batch kernels must match them
pixel-for-pixel (the equivalence matrix in tests/test_raster.py, the
polyclip batch==per-polygon pattern).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..geometry import multi_arange
from .composite import _TILE_LEVEL_COLS, _pack_tiles, _unpack_batch
from .multimodal import decode_pnm, encode_pgm

RASTER_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("resolution", T.IntegerType()),
    T.StructField("raster", T.BinaryType()),   # netpbm P5, counts clipped
    T.StructField("n_nonzero", T.LongType()),
    T.StructField("total_weight", T.LongType()),
])


def _scatter_points_batch(counts, sx_i, sy_i, tile_of_pt, R):
    """Point burn for the whole batch: ONE flat bincount over the linear
    (tile, py, px) index. ``sx_i``/``sy_i`` are already integer pixel
    coords (the (v * R) // extent of the reference ``burn_points``)."""
    ok = (sx_i >= 0) & (sx_i < R) & (sy_i >= 0) & (sy_i < R)
    if not ok.any():
        return
    lin = (tile_of_pt[ok] * R + sy_i[ok]) * R + sx_i[ok]
    counts += np.bincount(lin, minlength=counts.size) \
        .reshape(counts.shape).astype(np.int64)


def _burn_lines_batch(counts, sx, sy, part_starts, part_tile, R):
    """Line burn for ALL parts of a batch in one edge-table pass.

    ``sx``/``sy``: scaled (pixel-space float) vertex coords of every line
    part, concatenated; ``part_starts``: (P+1,) vertex offsets;
    ``part_tile``: (P,) tile ordinal per part. Semantics are the
    reference ``burn_lines`` exactly: per segment
    ``n = floor(max(|dx|,|dy|)) + 1`` unit steps sampled at t = k/n (linspace endpoints reproduced
    bit-for-bit: t = k * (1/n), t_n forced to 1.0), floor to pixels,
    consecutive duplicates collapsed PER PART (across segment joints)."""
    nvert = len(sx)
    if nvert == 0 or len(part_tile) == 0:
        return
    # segment = consecutive vertex pair within a part
    seg_ok = np.ones(nvert, bool)
    seg_ok[part_starts[1:] - 1] = False  # a part's last vertex starts none
    s0 = np.nonzero(seg_ok[:-1] if nvert > 1 else np.zeros(0, bool))[0]
    if len(s0) == 0:
        return
    part_of_vertex = np.repeat(np.arange(len(part_tile), dtype=np.int64),
                               np.diff(part_starts))
    part_of_seg = part_of_vertex[s0]
    x0, y0 = sx[s0], sy[s0]
    dx, dy = sx[s0 + 1] - x0, sy[s0 + 1] - y0
    n = np.floor(np.maximum(np.abs(dx), np.abs(dy))).astype(np.int64) + 1
    m = n + 1  # samples per segment
    seg_of = np.repeat(np.arange(len(n), dtype=np.int64), m)
    within = np.arange(int(m.sum()), dtype=np.int64) \
        - np.repeat(np.cumsum(m) - m, m)
    inv = 1.0 / n.astype(np.float64)
    t = within * inv[seg_of]
    t[within == n[seg_of]] = 1.0  # linspace pins the endpoint exactly
    px = np.floor(x0[seg_of] + t * dx[seg_of]).astype(np.int64)
    py = np.floor(y0[seg_of] + t * dy[seg_of]).astype(np.int64)
    pof = part_of_seg[seg_of]
    keep = np.ones(len(px), bool)
    keep[1:] = (px[1:] != px[:-1]) | (py[1:] != py[:-1]) \
        | (pof[1:] != pof[:-1])
    ok = keep & (px >= 0) & (px < R) & (py >= 0) & (py < R)
    if not ok.any():
        return
    lin = (part_tile[pof[ok]] * R + py[ok]) * R + px[ok]
    counts += np.bincount(lin, minlength=counts.size) \
        .reshape(counts.shape).astype(np.int64)


def _fill_polygons_batch(counts, sx, sy, ring_starts, ring_feat, feat_tile, R):
    """Even-odd scanline fill for ALL polygon features of a batch in one
    edge-table pass.

    ``ring_starts``: (Q+1,) vertex offsets of every ring; ``ring_feat``:
    (Q,) feature ordinal per ring (parity pools ALL rings of a feature —
    holes carve); ``feat_tile``: feature ordinal → tile ordinal.
    Semantics are the reference ``fill_polygon`` exactly: non-horizontal
    edges explode to their candidate scanlines, the (y0 > yc) != (y1 > yc) parity test
    keeps true crossings, crossings sort per (feature, row) and pair up,
    and each [a, b) pair fills ceil(a-0.5)..floor(b-0.5) via a
    difference-array scatter + one cumsum."""
    nvert = len(sx)
    if nvert == 0 or len(ring_feat) == 0:
        return
    e_ok = np.ones(nvert, bool)
    e_ok[ring_starts[1:] - 1] = False
    e0 = np.nonzero(e_ok[:-1] if nvert > 1 else np.zeros(0, bool))[0]
    if len(e0) == 0:
        return
    ring_of_vertex = np.repeat(np.arange(len(ring_feat), dtype=np.int64),
                               np.diff(ring_starts))
    x0, y0 = sx[e0], sy[e0]
    x1, y1 = sx[e0 + 1], sy[e0 + 1]
    feat_e = ring_feat[ring_of_vertex[e0]]
    nonh = y0 != y1
    if not nonh.any():
        return
    x0, y0, x1, y1, feat_e = (a[nonh] for a in (x0, y0, x1, y1, feat_e))
    lo = np.minimum(y0, y1)
    hi = np.maximum(y0, y1)
    r0 = np.maximum(0, np.ceil(lo - 0.5)).astype(np.int64)
    r1 = np.minimum(R - 1, np.floor(hi - 0.5 - 1e-12)).astype(np.int64)
    m = r1 - r0 + 1
    sel = m > 0
    if not sel.any():
        return
    x0, y0, x1, y1, feat_e, r0, m = (
        a[sel] for a in (x0, y0, x1, y1, feat_e, r0, m))
    edge_of = np.repeat(np.arange(len(m), dtype=np.int64), m)
    within = np.arange(int(m.sum()), dtype=np.int64) \
        - np.repeat(np.cumsum(m) - m, m)
    r = r0[edge_of] + within
    yc = r + 0.5
    cross = (y0[edge_of] > yc) != (y1[edge_of] > yc)
    if not cross.any():
        return
    e_c = edge_of[cross]
    r_c = r[cross]
    yc_c = yc[cross]
    xi = x0[e_c] + (yc_c - y0[e_c]) / (y1[e_c] - y0[e_c]) * (x1[e_c] - x0[e_c])
    f_c = feat_e[e_c]
    order = np.lexsort((xi, r_c, f_c))
    xi_s, r_s, f_s = xi[order], r_c[order], f_c[order]
    new_grp = np.ones(len(xi_s), bool)
    new_grp[1:] = (r_s[1:] != r_s[:-1]) | (f_s[1:] != f_s[:-1])
    grp_start = np.nonzero(new_grp)[0]
    pos = np.arange(len(xi_s), dtype=np.int64) \
        - np.repeat(grp_start, np.diff(np.concatenate([grp_start,
                                                       [len(xi_s)]])))
    bmask = pos % 2 == 1  # each odd-position crossing ends an interval
    if not bmask.any():
        return
    bidx = np.nonzero(bmask)[0]
    a = xi_s[bidx - 1]
    b = xi_s[bidx]
    c0 = np.maximum(0, np.ceil(a - 0.5)).astype(np.int64)
    c1 = np.minimum(R - 1, np.floor(b - 0.5)).astype(np.int64)
    okp = c1 >= c0
    if not okp.any():
        return
    tiles = feat_tile[f_s[bidx[okp]]]
    rr = r_s[bidx[okp]]
    W = R + 1
    lin0 = (tiles * R + rr) * W + c0[okp]
    lin1 = (tiles * R + rr) * W + c1[okp] + 1
    nflat = counts.shape[0] * R * W
    d = np.bincount(lin0, minlength=nflat) - np.bincount(lin1,
                                                         minlength=nflat)
    counts += d.reshape(counts.shape[0], R, W).cumsum(
        axis=2)[:, :, :R].astype(np.int64)


def rasterize_tiles(composited: DataFrame, resolution: int = 256) -> DataFrame:
    """Composite-output feature rows → one R×R count raster per (z, x, y).

    Same packed one-row-per-tile seam as the encode sinks; the kernel
    burns the whole batch's tiles. Counts clip to uint8 in the PGM
    payload (the full weights survive in ``total_weight``).
    """
    import pyarrow as pa

    R = int(resolution)
    # manual projection BEFORE the seam (column pruning doesn't cross
    # mapInArrow): the kernel reads geometry + 2 scalars, never the
    # property/tag maps a composite-output row carries
    need = ["z", "x", "y", "extent", "geom_type", "xs", "ys", "part_offsets"]
    packed = _pack_tiles(composited.select(*need))
    tile_cols = [c for c in _TILE_LEVEL_COLS if c in packed.columns]

    def kernel(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            cols, total, _foff = _unpack_batch(batch, tile_cols)
            if total == 0:
                continue
            xs = cols["xs"]
            xo = xs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            xv = xs.values.to_numpy(zero_copy_only=False).astype(np.int64)
            ys = cols["ys"]
            yv = ys.values.to_numpy(zero_copy_only=False).astype(np.int64)
            po = cols["part_offsets"]
            poo = po.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            pov = po.values.to_numpy(zero_copy_only=False).astype(np.int64)
            gt = cols["geom_type"].to_numpy(zero_copy_only=False)
            ext = cols["extent"].to_numpy(zero_copy_only=False).astype(np.int64)
            zc = cols["z"].to_numpy(zero_copy_only=False)
            xc = cols["x"].to_numpy(zero_copy_only=False)
            yc = cols["y"].to_numpy(zero_copy_only=False)

            fl = batch.column("feats")
            foff = fl.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            foff = foff - foff[0]
            out = {"z": [], "x": [], "y": [], "resolution": [],
                   "raster": [], "n_nonzero": [], "total_weight": []}

            # chunk tiles so the dense (nc, R, R) count grid (and the
            # polygon difference array, nc*R*(R+1)) stays bounded
            tiles_per_chunk = max(1, (1 << 24) // (R * R))
            nb = batch.num_rows
            for t0 in range(0, nb, tiles_per_chunk):
                t1 = min(nb, t0 + tiles_per_chunk)
                f0, f1 = int(foff[t0]), int(foff[t1])
                if f0 == f1:
                    continue
                nc = t1 - t0
                counts = np.zeros((nc, R, R), np.int64)
                fsel = np.arange(f0, f1, dtype=np.int64)
                tile_of_feat = np.repeat(
                    np.arange(nc, dtype=np.int64), np.diff(foff[t0:t1 + 1]))
                gts = gt[fsel]

                def gather(sel):
                    """(scaled float verts, part starts, part→feature) for
                    the selected absolute feature indices."""
                    vtake = multi_arange(xo[sel], xo[sel + 1])
                    nv = xo[sel + 1] - xo[sel]
                    new_off = np.concatenate(
                        [[0], np.cumsum(nv)]).astype(np.int64)
                    ptake = multi_arange(poo[sel], poo[sel + 1])
                    npart = poo[sel + 1] - poo[sel]
                    part_feat = np.repeat(
                        np.arange(len(sel), dtype=np.int64), npart)
                    part_starts = np.concatenate(
                        [pov[ptake] + new_off[part_feat],
                         [new_off[-1]]]).astype(np.int64)
                    ve = np.repeat(ext[sel], nv)
                    sxv = xv[vtake] * R / ve
                    syv = yv[vtake] * R / ve
                    return sxv, syv, part_starts, part_feat

                psel = fsel[gts == 1]
                if len(psel):
                    vtake = multi_arange(xo[psel], xo[psel + 1])
                    nv = xo[psel + 1] - xo[psel]
                    ve = np.repeat(ext[psel], nv)
                    vt = np.repeat(tile_of_feat[psel - f0], nv)
                    _scatter_points_batch(
                        counts, (xv[vtake] * R) // ve,
                        (yv[vtake] * R) // ve, vt, R)
                lsel = fsel[gts == 2]
                if len(lsel):
                    sxv, syv, pst, pfe = gather(lsel)
                    _burn_lines_batch(counts, sxv, syv, pst,
                                      tile_of_feat[lsel - f0][pfe], R)
                gsel = fsel[gts == 3]
                if len(gsel):
                    sxv, syv, pst, pfe = gather(gsel)
                    _fill_polygons_batch(counts, sxv, syv, pst, pfe,
                                         tile_of_feat[gsel - f0], R)

                for t in range(t0, t1):
                    if foff[t] == foff[t + 1]:
                        continue
                    acc = counts[t - t0]
                    fz = int(foff[t])
                    out["z"].append(int(zc[fz]))
                    out["x"].append(int(xc[fz]))
                    out["y"].append(int(yc[fz]))
                    out["resolution"].append(R)
                    out["raster"].append(
                        encode_pgm(np.minimum(acc, 255).astype(np.uint8)))
                    out["n_nonzero"].append(int((acc > 0).sum()))
                    out["total_weight"].append(int(acc.sum()))
            if out["z"]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out["z"], pa.int32()),
                     pa.array(out["x"], pa.int64()),
                     pa.array(out["y"], pa.int64()),
                     pa.array(out["resolution"], pa.int32()),
                     pa.array(out["raster"], pa.binary()),
                     pa.array(out["n_nonzero"], pa.int64()),
                     pa.array(out["total_weight"], pa.int64())],
                    names=[f.name for f in RASTER_SCHEMA.fields])

    return packed.mapInArrow(kernel, schema=RASTER_SCHEMA)


POINTS_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("px", T.IntegerType()),
    T.StructField("py", T.IntegerType()),
    T.StructField("value", T.IntegerType()),
])


def raster_to_points(rasters: DataFrame) -> DataFrame:
    """Raster→vector, exact inverse for count rasters: one row per nonzero
    pixel. For POINT rasterizations the round trip is lossless (≤255
    points per pixel), which is what the SQL oracle replays."""

    def kernel(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            zs, xs, ys, pxs, pys, vals = [], [], [], [], [], []
            for row in pdf.itertuples(index=False):
                w, h, c, px = decode_pnm(bytes(row.raster))
                img = px.reshape(h, w)
                ry, rx = np.nonzero(img)
                n = len(ry)
                zs.append(np.full(n, row.z, np.int32))
                xs.append(np.full(n, row.x, np.int64))
                ys.append(np.full(n, row.y, np.int64))
                pxs.append(rx.astype(np.int32))
                pys.append(ry.astype(np.int32))
                vals.append(img[ry, rx].astype(np.int32))
            if not zs:
                yield pd.DataFrame({f.name: [] for f in POINTS_SCHEMA.fields})
                continue
            yield pd.DataFrame({
                "z": np.concatenate(zs), "x": np.concatenate(xs),
                "y": np.concatenate(ys), "px": np.concatenate(pxs),
                "py": np.concatenate(pys), "value": np.concatenate(vals)})

    return rasters.select("z", "x", "y", "raster").mapInPandas(
        kernel, schema=POINTS_SCHEMA)

