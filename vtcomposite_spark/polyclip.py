"""Exact polygon-with-holes ∩ rectangle clipping (Weiler–Atherton for a
convex window) — the boost::geometry::intersection parity path.

Per-ring Sutherland–Hodgman (the usual tiler clip) cannot reproduce two
reference behaviors (test/vtcomposite-polygons.test.js:133-167):

* a hole crossing the clip boundary must CARVE the clipped outer ring
  (the hole's inside-window arcs become part of the output boundary);
* that carving can SPLIT the clipped polygon into multiple output
  polygons.

Algorithm (window = closed box [lo, hi]²; screen coords, y down; exterior
rings have positive shoelace area in this orientation — MVT spec 4.3.3.3):

1. Every ring of the polygon (outer first, then holes) is cut into
   *chains*: maximal runs of the ring inside the window, with entry/exit
   points computed by parametric edge clipping and rounded to int64.
   Rings that never touch the window contribute either nothing (fully
   outside, not surrounding), full untouched rings (fully inside), or —
   for an outer that surrounds the whole window — the window itself.
2. All chains from all rings participate in ONE trace: follow a chain to
   its exit, walk the window boundary in canonical orientation
   (right → down → left → up, which preserves the positive-area
   convention) to the next entry point of any chain (inserting window
   corners passed), continue that chain; repeat until the ring closes.
3. Untouched full holes are attached to whichever traced/untouched outer
   contains them (even-odd point test).

Degeneracy policy: the window is closed (boundary points are inside,
matching covered_by in src/feature_builder.hpp:42-45); intersection
points are rounded half-to-even; consecutive duplicates and sub-3-vertex
rings are dropped after rounding (the reference's >3-closed filter,
src/feature_builder.hpp:255-266).
"""

from __future__ import annotations

import numpy as np

from . import geometry as geo

_I64 = np.int64


def _point_in_ring(px: int, py: int, xs: np.ndarray, ys: np.ndarray) -> bool:
    x0, y0 = xs[:-1], ys[:-1]
    x1, y1 = xs[1:], ys[1:]
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x0 + (py - y0) / (y1 - y0) * (x1 - x0)
    return bool(np.count_nonzero(cond & (px < xi)) % 2)


def _perimeter_pos(x: float, y: float, lo: float, hi: float) -> float:
    """Position along the window boundary in canonical orientation.

    side 0: y=lo, x lo→hi ; side 1: x=hi, y lo→hi ;
    side 2: y=hi, x hi→lo ; side 3: x=lo, y hi→lo.
    Corners are assigned to the side they START (s = k*w).
    """
    w = hi - lo
    if y == lo and x < hi:
        return x - lo
    if x == hi and y < hi:
        return w + (y - lo)
    if y == hi and x > lo:
        return 2 * w + (hi - x)
    if x == lo and y > lo:
        return 3 * w + (hi - y)
    return 0.0  # (lo, lo)


def _corners_between(s0: float, s1: float, lo: int, hi: int):
    """Window corners strictly between perimeter positions s0 → s1
    (walking forward, cyclic)."""
    w = hi - lo
    corners = [(0.0, (lo, lo)), (w, (hi, lo)), (2 * w, (hi, hi)), (3 * w, (lo, hi))]
    total = 4 * w
    out = []
    if s1 <= s0:
        s1 += total
    for k in range(0, 8):
        s, (cx, cy) = corners[k % 4]
        s += (k // 4) * total
        if s0 < s < s1:
            out.append((cx, cy))
    return out


def _ring_chains(xs: np.ndarray, ys: np.ndarray, lo: int, hi: int):
    """Cut a CLOSED ring into inside-window chains.

    Returns (status, chains): status ∈ {"inside", "outside", "crossing"};
    chains = list of (points list, s_entry, s_exit).
    """
    oxs, oys = xs[:-1], ys[:-1]  # open ring
    ins = (oxs >= lo) & (oxs <= hi) & (oys >= lo) & (oys <= hi)
    n = len(oxs)

    # fast classifications
    if ins.all():
        return "inside", []

    # rotate so vertex 0 is strictly outside (exists when not all inside)
    start = int(np.argmax(~ins))
    rx = np.concatenate([oxs[start:], oxs[:start]])
    ry = np.concatenate([oys[start:], oys[:start]])

    # walk edges (closed): vertex i -> i+1 (mod n)
    ex0 = rx.astype(np.float64)
    ey0 = ry.astype(np.float64)
    ex1 = np.concatenate([ex0[1:], ex0[:1]])
    ey1 = np.concatenate([ey0[1:], ey0[:1]])
    dx, dy = ex1 - ex0, ey1 - ey0
    t0 = np.zeros(n)
    t1 = np.ones(n)
    visible = np.ones(n, bool)
    for p, q in ((-dx, ex0 - lo), (dx, hi - ex0), (-dy, ey0 - lo), (dy, hi - ey0)):
        nz = p != 0
        r = np.where(nz, q / np.where(nz, p, 1.0), 0.0)
        visible &= nz | (q >= 0)
        t0 = np.where(nz & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(nz & (p > 0), np.minimum(t1, r), t1)
    visible &= t0 <= t1

    if not visible.any():
        return "outside", []

    ax = np.where(t0 == 0.0, ex0, np.rint(ex0 + t0 * dx))
    ay = np.where(t0 == 0.0, ey0, np.rint(ey0 + t0 * dy))
    bx = np.where(t1 == 1.0, ex1, np.rint(ex0 + t1 * dx))
    by = np.where(t1 == 1.0, ey1, np.rint(ey0 + t1 * dy))

    rins = np.concatenate([ins[start:], ins[:start]])
    rins_next = np.concatenate([rins[1:], rins[:1]])

    chains = []
    cur: list[tuple[int, int]] | None = None
    for i in range(n):
        if not visible[i]:
            continue
        a = (int(ax[i]), int(ay[i]))
        b = (int(bx[i]), int(by[i]))
        if cur is None:
            cur = [a]
        elif not rins[i]:  # edge starts outside: previous chain ended earlier
            # (can happen when visibility is a single touching point)
            chains.append(cur)
            cur = [a]
        if not cur or cur[-1] != b:
            cur.append(b)
        if not rins_next[i]:  # edge leaves the window (or ends outside)
            chains.append(cur)
            cur = None
    if cur is not None:
        chains.append(cur)

    out = []
    for ch in chains:
        # drop consecutive dups already handled; degenerate single points out
        if len(ch) < 2 and True:
            # a touch-point chain: keep only if it truly has extent
            if len(ch) == 1:
                continue
        s_in = _perimeter_pos(ch[0][0], ch[0][1], lo, hi)
        s_out = _perimeter_pos(ch[-1][0], ch[-1][1], lo, hi)
        out.append((ch, s_in, s_out))
    if not out:
        return "outside", []
    return "crossing", out


def _ring_area2_py(pts) -> int:
    """Twice the shoelace area of a CLOSED ring of (x, y) tuples — pure
    python (exact int math; small rings, no numpy alloc overhead)."""
    a = 0
    for i in range(len(pts) - 1):
        a += pts[i][0] * pts[i + 1][1] - pts[i + 1][0] * pts[i][1]
    return a


def _point_in_ring_py(px, py, pts) -> bool:
    """Even-odd test against a CLOSED ring of tuples — pure-python twin of
    ``_point_in_ring`` (identical float64 formula per crossing edge)."""
    cnt = 0
    for i in range(len(pts) - 1):
        x0, y0 = pts[i]
        x1, y1 = pts[i + 1]
        if (y0 > py) != (y1 > py):
            if px < x0 + (py - y0) / (y1 - y0) * (x1 - x0):
                cnt += 1
    return bool(cnt % 2)


def clip_polygon(rings: list[tuple[np.ndarray, np.ndarray]], lo: int, hi: int):
    """Clip one polygon (ring 0 = outer, rest holes; CLOSED int64 arrays)
    to the window. Returns a list of output polygons, each a list of CLOSED
    (xs, ys) rings (ring 0 outer). Reference path for tests; the batch
    driver feeds the same assembly from globally-vectorized chain cutting."""
    infos = []
    for xs, ys in rings:
        status, ch = _ring_chains(xs, ys, lo, hi)
        surrounds = False
        pts = None
        if status == "outside":
            c = (lo + hi) / 2.0
            surrounds = _point_in_ring(c, c, xs.astype(np.float64),
                                       ys.astype(np.float64))
        elif status == "inside":
            pts = list(zip(xs.tolist(), ys.tolist()))
        infos.append((status, ch, surrounds, pts))
    return _trace_and_assemble(infos, lo, hi)


def _trace_and_assemble(infos, lo: int, hi: int):
    """Shared per-polygon assembly: trace chains along the window boundary,
    classify traced rings by area sign, attach holes.

    ``infos``: per input ring, (status, chains, surrounds, pts) —
    status ∈ {inside, crossing, outside}; chains = [(pts, s_in, s_out)];
    surrounds = window-center-in-ring (meaningful for outside rings);
    pts = CLOSED ring as tuples (required for inside rings only).
    """
    full_inside_rings: list[int] = []
    chains = []  # (points, s_entry, s_exit)
    outer_status = infos[0][0]
    window_is_inside_outer = False

    for ri, (status, ch, surrounds, _pts) in enumerate(infos):
        if status == "inside":
            full_inside_rings.append(ri)
        elif status == "crossing":
            chains.extend(ch)
        elif surrounds:  # outside: may still surround the window
            if ri == 0:
                window_is_inside_outer = True
            else:
                return []  # a hole swallows the whole window

    traced: list[list[tuple[int, int]]] = []
    if chains:
        entries = sorted(range(len(chains)), key=lambda i: chains[i][1])
        used = [False] * len(chains)

        total = 4 * (hi - lo)

        def next_entry(s: float):
            """Nearest entry point strictly forward (cyclic) along the
            boundary from s, over ALL chains — reaching a used chain's
            entry closes the ring."""
            best = None
            best_d = None
            for i in entries:
                si = chains[i][1]
                d = (si - s) % total
                if best is None or d < best_d:
                    best, best_d = i, d
            return best

        for si in range(len(chains)):
            if used[si]:
                continue
            ring_pts: list[tuple[int, int]] = []
            cur = si
            while True:
                used[cur] = True
                pts, s_in, s_out = chains[cur]
                ring_pts.extend(pts)
                nxt = next_entry(s_out)
                if nxt is None:
                    nxt = si
                target_s = chains[nxt][1]
                # walk window boundary s_out -> target_s inserting corners
                for c in _corners_between(s_out, target_s, lo, hi):
                    ring_pts.append(c)
                if nxt == si or used[nxt]:
                    break
                cur = nxt
            # close + clean ring
            if ring_pts[0] != ring_pts[-1]:
                ring_pts.append(ring_pts[0])
            cleaned = [ring_pts[0]]
            for p in ring_pts[1:]:
                if p != cleaned[-1]:
                    cleaned.append(p)
            if len(cleaned) > 1 and cleaned[0] == cleaned[-1]:
                pass
            else:
                cleaned.append(cleaned[0])
            if len(cleaned) >= 4:  # closed ring with ≥3 distinct vertices
                traced.append(cleaned)
    elif window_is_inside_outer:
        w_ring = [(lo, lo), (hi, lo), (hi, hi), (lo, hi), (lo, lo)]
        traced.append(w_ring)

    # assemble outputs: traced rings classified by area sign
    outers: list[list[tuple[int, int]]] = []
    traced_holes: list[list[tuple[int, int]]] = []
    for ring in traced:
        if _ring_area2_py(ring) > 0:
            outers.append(ring)
        else:
            traced_holes.append(ring)

    if outer_status == "inside":
        outers.insert(0, infos[0][3])

    if not outers:
        return []

    polygons = [[o] for o in outers]

    def attach(hole_pts):
        hx, hy = hole_pts[0]
        for poly in polygons:
            if _point_in_ring_py(hx, hy, poly[0]):
                poly.append(hole_pts)
                return

    for ri in full_inside_rings:
        if ri == 0:
            continue
        attach(infos[ri][3])
    for hole in traced_holes:
        attach(hole)

    # final ring arrays, dropping degenerate rings
    out = []
    for poly in polygons:
        rr = []
        for ring in poly:
            xs = np.array([p[0] for p in ring], _I64)
            ys = np.array([p[1] for p in ring], _I64)
            if len(xs) >= 4:
                rr.append((xs, ys))
        if rr:
            out.append(rr)
    return out


def _perimeter_pos_vec(x, y, lo, hi):
    """Vectorized ``_perimeter_pos`` — identical branch order via np.select
    (first condition wins)."""
    w = hi - lo
    conds = [(y == lo) & (x < hi), (x == hi) & (y < hi),
             (y == hi) & (x > lo), (x == lo) & (y > lo)]
    vals = [x - lo, w + (y - lo), 2 * w + (hi - x), 3 * w + (hi - y)]
    return np.select(conds, vals, default=0.0)


def _cut_chains_global(flo: np.ndarray, fhi: np.ndarray,
                       cand: np.ndarray, v_in: np.ndarray,
                       ox: np.ndarray, oy: np.ndarray,
                       ostart: np.ndarray, osizes: np.ndarray):
    """``_ring_chains`` over ALL candidate rings at once.

    One Liang–Barsky pass over every edge of every boundary-candidate ring
    (rotated so vertex 0 is outside, exactly as the per-ring version), then
    vectorized chain segmentation/dedup. Returns per-ring chain-count plus
    flat chain arrays for the per-polygon assembly, and the surround-parity
    flags for rings that produced no usable chain.
    """
    nrings = len(osizes)
    cidx = np.nonzero(cand)[0]
    empty = (np.zeros(nrings, _I64), np.zeros(0, _I64), np.zeros(0, _I64),
             geo.EMPTY_I64, geo.EMPTY_I64, EMPTY_F64, EMPTY_F64,
             np.zeros(nrings, bool))
    if len(cidx) == 0:
        return empty

    # first outside vertex per ring (rotation origin)
    BIG = np.int64(1) << 60
    local = np.arange(len(ox), dtype=_I64) - np.repeat(ostart[:-1], osizes)
    first_out = np.minimum.reduceat(np.where(v_in, BIG, local), ostart[:-1])

    # rotated edge endpoint indices for candidate rings
    en = osizes[cidx]
    e_ring = np.repeat(cidx, en)
    e_loc = geo.multi_arange(np.zeros(len(cidx), _I64), en)
    e_fo = np.repeat(first_out[cidx], en)
    nn = np.repeat(en, en)
    base = np.repeat(ostart[:-1][cidx], en)
    i0 = base + (e_fo + e_loc) % nn
    i1 = base + (e_fo + e_loc + 1) % nn
    x0 = ox[i0].astype(np.float64)
    y0 = oy[i0].astype(np.float64)
    x1 = ox[i1].astype(np.float64)
    y1 = oy[i1].astype(np.float64)
    rins = v_in[i0]
    rins_next = v_in[i1]
    elo = flo[e_ring].astype(np.float64)
    ehi = fhi[e_ring].astype(np.float64)

    dx, dy = x1 - x0, y1 - y0
    ne = len(i0)
    t0 = np.zeros(ne)
    t1 = np.ones(ne)
    visible = np.ones(ne, bool)
    for p, q in ((-dx, x0 - elo), (dx, ehi - x0), (-dy, y0 - elo), (dy, ehi - y0)):
        nz = p != 0
        r = np.where(nz, q / np.where(nz, p, 1.0), 0.0)
        visible &= nz | (q >= 0)
        t0 = np.where(nz & (p < 0), np.maximum(t0, r), t0)
        t1 = np.where(nz & (p > 0), np.minimum(t1, r), t1)
    visible &= t0 <= t1

    ax = np.where(t0 == 0.0, x0, np.rint(x0 + t0 * dx))
    ay = np.where(t0 == 0.0, y0, np.rint(y0 + t0 * dy))
    bx = np.where(t1 == 1.0, x1, np.rint(x0 + t1 * dx))
    by = np.where(t1 == 1.0, y1, np.rint(y0 + t1 * dy))

    # surround parity for rings with no usable chains (computed for all
    # candidate edges; rotation does not change even-odd parity)
    ecx = (elo + ehi) / 2.0
    cond = (y0 > ecx) != (y1 > ecx)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x0 + (ecx - y0) / (y1 - y0) * dx
    hits = cond & (ecx < xi)
    parity = (np.bincount(e_ring[hits], minlength=nrings) % 2).astype(bool)

    vis_idx = np.nonzero(visible)[0]
    if len(vis_idx) == 0:
        return empty[:-1] + (parity,)

    # chain segmentation: a chain starts at each visible edge whose start
    # vertex is outside; every ring's first visible edge starts a chain
    # (vertex 0 is outside by rotation, and an edge ENDING inside is always
    # visible, so a visible edge starting inside always has a visible
    # predecessor)
    cs_vis = (~rins)[vis_idx]
    cs_vis[0] = True
    # defensive: force a break at ring boundaries (proof above makes this a
    # no-op, but it keeps chains from ever spanning rings)
    ring_change = np.zeros(len(vis_idx), bool)
    ring_change[1:] = e_ring[vis_idx][1:] != e_ring[vis_idx][:-1]
    cs_vis |= ring_change
    chain_of_vis = np.cumsum(cs_vis) - 1
    nchains = int(chain_of_vis[-1]) + 1
    chain_ring = e_ring[vis_idx[cs_vis]]

    # emit [a, b] per visible edge, consecutive-dedupe within chain — the
    # per-ring builder appends a only at chain start and suppresses b == last
    npts = 2 * len(vis_idx)
    px = np.empty(npts)
    py = np.empty(npts)
    px[0::2] = ax[vis_idx]
    py[0::2] = ay[vis_idx]
    px[1::2] = bx[vis_idx]
    py[1::2] = by[vis_idx]
    pchain = np.repeat(chain_of_vis, 2)
    pxi = px.astype(_I64)
    pyi = py.astype(_I64)
    keep = np.ones(npts, bool)
    keep[1:] = ((pchain[1:] != pchain[:-1]) | (pxi[1:] != pxi[:-1])
                | (pyi[1:] != pyi[:-1]))
    kx = pxi[keep]
    ky = pyi[keep]
    kchain = pchain[keep]

    csizes = np.bincount(kchain, minlength=nchains).astype(_I64)
    cstart = np.concatenate([[0], np.cumsum(csizes)]).astype(_I64)
    good = csizes >= 2  # single-point (touch) chains dropped

    c_lo = flo[chain_ring].astype(np.float64)
    c_hi = fhi[chain_ring].astype(np.float64)
    s_in = _perimeter_pos_vec(kx[cstart[:-1]].astype(np.float64),
                              ky[cstart[:-1]].astype(np.float64), c_lo, c_hi)
    s_out = _perimeter_pos_vec(kx[cstart[1:] - 1].astype(np.float64),
                               ky[cstart[1:] - 1].astype(np.float64), c_lo, c_hi)

    ring_nchains = np.bincount(chain_ring[good], minlength=nrings).astype(_I64)
    # keep only good chains, preserving order (== per-ring edge order)
    gidx = np.nonzero(good)[0]
    gkeep = good[kchain]
    # re-point chain starts into the compacted point arrays
    gsizes = csizes[gidx]
    gstart = np.concatenate([[0], np.cumsum(gsizes)]).astype(_I64)
    return (ring_nchains, gstart, chain_ring[gidx], kx[gkeep], ky[gkeep],
            s_in[gidx], s_out[gidx], parity)


EMPTY_F64 = np.empty(0, np.float64)


def clip_polygons_packed(g: "geo.PackedParts", ring_type: np.ndarray,
                         poly_id: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """Batch driver over packed arrays (the composite kernel's polygon path).

    ``g``/``ring_type``/``poly_id`` as produced by geometry.assemble_polygons
    (rings of a polygon are contiguous). ``lo``/``hi`` are per-FEATURE clip
    bounds.

    All heavy geometry is GLOBAL numpy: per-vertex inside flags, one
    Liang–Barsky + chain-segmentation pass over every boundary ring at once
    (``_cut_chains_global``), and VECTORIZED emission for the three
    dominant polygon classes — all-rings-inside passthrough, single-ring/
    single-chain trace (chain + window corners + close, deduped and
    area-signed in bulk), and no-chain surround/drop. Python touches only
    the residual complex polygons (multi-ring or multi-chain boundary
    cases) through the shared ``_trace_and_assemble`` reference path.
    Outputs merge back in input polygon order, ring order preserved —
    bit-identical to running the reference path per polygon (equivalence
    matrix in tests/test_polyclip.py; measured 3.5× over the per-polygon
    loop on the polygons-overzoom bench fixture batch).

    Returns (PackedParts, ring_types) with output polygons' rings contiguous
    (outer first).
    """
    nrings = len(g.part_feat)
    if nrings == 0:
        return (geo.PackedParts(geo.EMPTY_I64, geo.EMPTY_I64,
                                np.zeros(1, _I64), geo.EMPTY_I64),
                np.empty(0, np.int8))

    sizes = geo.part_sizes(g.part_start)
    flo = lo[g.part_feat]
    fhi = hi[g.part_feat]

    # open-ring arrays + per-vertex inside flags (whole batch)
    osizes = sizes - 1
    ostart = np.concatenate([[0], np.cumsum(osizes)]).astype(_I64)
    take = geo.multi_arange(g.part_start[:-1], g.part_start[1:] - 1)
    ox = g.vx[take]
    oy = g.vy[take]
    vr = np.repeat(np.arange(nrings, dtype=_I64), osizes)
    v_in = (ox >= flo[vr]) & (ox <= fhi[vr]) & (oy >= flo[vr]) & (oy <= fhi[vr])
    in_cnt = np.add.reduceat(v_in.astype(_I64), ostart[:-1])
    ring_inside = in_cnt == osizes

    # polygon boundaries: change of (feature, poly_id)
    key_change = np.ones(nrings, bool)
    key_change[1:] = (g.part_feat[1:] != g.part_feat[:-1]) | (poly_id[1:] != poly_id[:-1])
    poly_starts = np.nonzero(key_change)[0]
    poly_ends = np.concatenate([poly_starts[1:], [nrings]])
    npoly = len(poly_starts)
    poly_in_cnt = np.add.reduceat(ring_inside.astype(_I64), poly_starts)
    poly_all_inside = poly_in_cnt == (poly_ends - poly_starts)

    (ring_nchains, cstart, chain_ring, ckx, cky, s_in, s_out, parity) = \
        _cut_chains_global(flo, fhi, ~ring_inside, v_in, ox, oy,
                           ostart, osizes)
    # chains are ordered by ring; per-ring slice via searchsorted
    ring_chain_lo = np.searchsorted(chain_ring, np.arange(nrings))

    # ---- classify polygons into vectorized classes + python fallback
    single = (poly_ends - poly_starts) == 1
    r1 = poly_starts  # the ring of single-ring polygons
    cls_pass = poly_all_inside
    cls_c1 = single & ~cls_pass & (ring_nchains[r1] == 1)
    cls_out = single & ~cls_pass & (ring_nchains[r1] == 0)
    cls_fb = ~(cls_pass | cls_c1 | cls_out)

    ring_cnt = np.zeros(npoly, _I64)

    # passthrough: every ring kept verbatim, outer-first rt override
    p_idx = np.nonzero(cls_pass)[0]
    p_rings = geo.EMPTY_I64
    if len(p_idx):
        ring_cnt[p_idx] = poly_ends[p_idx] - poly_starts[p_idx]
        p_rings = geo.multi_arange(poly_starts[p_idx], poly_ends[p_idx])

    # single-chain trace: ring = chain pts + corners(s_out→s_in) + close,
    # consecutive-deduped; kept iff ≥4 pts and positive shoelace area —
    # exactly _trace_and_assemble's one-chain walk
    c_idx = np.nonzero(cls_c1)[0]
    c1_keep = np.zeros(0, bool)
    c1x = c1y = geo.EMPTY_I64
    c1_sz = geo.EMPTY_I64
    if len(c_idx):
        rr = r1[c_idx]
        ch = ring_chain_lo[rr]
        clen = (cstart[ch + 1] - cstart[ch]).astype(_I64)
        w = (fhi[rr] - flo[rr]).astype(np.float64)
        total = 4.0 * w
        s0 = s_out[ch]
        s1 = np.where(s_in[ch] <= s0, s_in[ch] + total, s_in[ch])
        # 8 corner slots in ascending-position order == _corners_between's
        # k-order; at most 4 fall strictly inside (s0, s1)
        base = np.stack([np.zeros(len(c_idx)), w, 2 * w, 3 * w], axis=1)
        cpos = np.concatenate([base, base + total[:, None]], axis=1)
        lo_f = flo[rr].astype(np.float64)
        hi_f = fhi[rr].astype(np.float64)
        cx4 = np.stack([lo_f, hi_f, hi_f, lo_f], axis=1)
        cy4 = np.stack([lo_f, lo_f, hi_f, hi_f], axis=1)
        ccx = np.concatenate([cx4, cx4], axis=1).astype(_I64)
        ccy = np.concatenate([cy4, cy4], axis=1).astype(_I64)
        sel = (cpos > s0[:, None]) & (cpos < s1[:, None])
        ncorner = sel.sum(axis=1).astype(_I64)
        nv = clen + ncorner + 1
        vst = np.concatenate([[0], np.cumsum(nv)]).astype(_I64)
        totv = int(vst[-1])
        bx = np.empty(totv, _I64)
        by = np.empty(totv, _I64)
        dst = geo.multi_arange(vst[:-1], vst[:-1] + clen)
        src = geo.multi_arange(cstart[ch], cstart[ch + 1])
        bx[dst] = ckx[src]
        by[dst] = cky[src]
        rank = np.cumsum(sel, axis=1) - 1
        pi_m, ki_m = np.nonzero(sel)
        cdst = vst[:-1][pi_m] + clen[pi_m] + rank[pi_m, ki_m]
        bx[cdst] = ccx[pi_m, ki_m]
        by[cdst] = ccy[pi_m, ki_m]
        bx[vst[1:] - 1] = ckx[cstart[ch]]
        by[vst[1:] - 1] = cky[cstart[ch]]
        keepv = np.ones(totv, bool)
        keepv[1:] = (bx[1:] != bx[:-1]) | (by[1:] != by[:-1])
        keepv[vst[:-1]] = True
        dsz = np.add.reduceat(keepv.astype(_I64), vst[:-1])
        dx_ = bx[keepv]
        dy_ = by[keepv]
        dst2 = np.concatenate([[0], np.cumsum(dsz)]).astype(_I64)
        area2 = np.zeros(len(c_idx), _I64)
        npts = int(dst2[-1])
        if npts:
            e_mask = np.ones(npts, bool)
            e_mask[dst2[1:] - 1] = False  # ring-final vertex starts no edge
            ei = np.nonzero(e_mask)[0]
            prod = dx_[ei] * dy_[ei + 1] - dx_[ei + 1] * dy_[ei]
            np.add.at(area2, np.repeat(np.arange(len(c_idx), dtype=_I64),
                                       dsz - 1), prod)
        c1_keep = (dsz >= 4) & (area2 > 0)
        ring_cnt[c_idx[c1_keep]] = 1
        vkeep = np.repeat(c1_keep, dsz)
        c1x = dx_[vkeep]
        c1y = dy_[vkeep]
        c1_sz = dsz[c1_keep]

    # no-chain class: the window ring iff the ring surrounds the window
    o_idx = np.nonzero(cls_out)[0]
    o_keep = np.zeros(0, bool)
    if len(o_idx):
        o_keep = parity[r1[o_idx]]
        ring_cnt[o_idx[o_keep]] = 1

    # residual complex polygons: the reference per-polygon path
    fb_out: dict[int, list] = {}
    for pi in np.nonzero(cls_fb)[0]:
        ps = int(poly_starts[pi])
        pe = int(poly_ends[pi])
        infos = []
        for ri in range(ps, pe):
            if ring_inside[ri]:
                s, e = g.part_start[ri], g.part_start[ri + 1]
                infos.append(("inside", (), False,
                              list(zip(g.vx[s:e].tolist(), g.vy[s:e].tolist()))))
            elif ring_nchains[ri]:
                c0 = int(ring_chain_lo[ri])
                chs = []
                for c in range(c0, c0 + int(ring_nchains[ri])):
                    a, b = int(cstart[c]), int(cstart[c + 1])
                    chs.append((list(zip(ckx[a:b].tolist(), cky[a:b].tolist())),
                                float(s_in[c]), float(s_out[c])))
                infos.append(("crossing", chs, False, None))
            else:
                infos.append(("outside", (), bool(parity[ri]), None))
        rings = []
        for poly in _trace_and_assemble(infos, int(flo[ps]), int(fhi[ps])):
            for k, (xs, ys) in enumerate(poly):
                rings.append((xs, ys, 1 if k == 0 else 2))
        if rings:
            fb_out[int(pi)] = rings
            ring_cnt[pi] = len(rings)

    # ---- merge classes back in polygon order (ring order preserved)
    ring_off = np.concatenate([[0], np.cumsum(ring_cnt)]).astype(_I64)
    total_rings = int(ring_off[-1])
    if total_rings == 0:
        return (geo.PackedParts(geo.EMPTY_I64, geo.EMPTY_I64,
                                np.zeros(1, _I64), geo.EMPTY_I64),
                np.empty(0, np.int8))
    out_sz = np.zeros(total_rings, _I64)
    out_rt = np.zeros(total_rings, np.int8)
    out_feat = np.zeros(total_rings, _I64)

    if len(p_idx):
        pr_poly = np.repeat(p_idx, (poly_ends - poly_starts)[p_idx])
        slot_p = ring_off[pr_poly] + (p_rings - poly_starts[pr_poly])
        out_sz[slot_p] = sizes[p_rings]
        out_rt[slot_p] = np.where(p_rings == poly_starts[pr_poly], 1, 2)
        out_feat[slot_p] = g.part_feat[p_rings]
    if len(c_idx):
        kept_c = c_idx[c1_keep]
        slot_c = ring_off[kept_c]
        out_sz[slot_c] = c1_sz
        out_rt[slot_c] = 1
        out_feat[slot_c] = g.part_feat[r1[kept_c]]
    if len(o_idx):
        kept_o = o_idx[o_keep]
        slot_o = ring_off[kept_o]
        out_sz[slot_o] = 5
        out_rt[slot_o] = 1
        out_feat[slot_o] = g.part_feat[r1[kept_o]]
    for pi, rings in fb_out.items():
        base_slot = int(ring_off[pi])
        feat = int(g.part_feat[poly_starts[pi]])
        for j, (xs, ys, rt) in enumerate(rings):
            out_sz[base_slot + j] = len(xs)
            out_rt[base_slot + j] = rt
            out_feat[base_slot + j] = feat

    out_start = np.concatenate([[0], np.cumsum(out_sz)]).astype(_I64)
    vx = np.empty(int(out_start[-1]), _I64)
    vy = np.empty(int(out_start[-1]), _I64)
    if len(p_idx):
        dstv = geo.multi_arange(out_start[:-1][slot_p],
                                out_start[:-1][slot_p] + out_sz[slot_p])
        srcv = geo.multi_arange(g.part_start[:-1][p_rings],
                                g.part_start[1:][p_rings])
        vx[dstv] = g.vx[srcv]
        vy[dstv] = g.vy[srcv]
    if len(c_idx) and len(c1x):
        dstv = geo.multi_arange(out_start[:-1][slot_c],
                                out_start[:-1][slot_c] + out_sz[slot_c])
        vx[dstv] = c1x
        vy[dstv] = c1y
    if len(o_idx):
        kept_o = o_idx[o_keep]
        lo_o = flo[r1[kept_o]]
        hi_o = fhi[r1[kept_o]]
        for j, s in enumerate(ring_off[kept_o]):
            a = int(out_start[s])
            vx[a:a + 5] = (lo_o[j], hi_o[j], hi_o[j], lo_o[j], lo_o[j])
            vy[a:a + 5] = (lo_o[j], lo_o[j], hi_o[j], hi_o[j], lo_o[j])
    for pi, rings in fb_out.items():
        base_slot = int(ring_off[pi])
        for j, (xs, ys, _rt) in enumerate(rings):
            a = int(out_start[base_slot + j])
            vx[a:a + len(xs)] = xs
            vy[a:a + len(xs)] = ys

    return (geo.PackedParts(vx, vy, out_start, out_feat), out_rt)
