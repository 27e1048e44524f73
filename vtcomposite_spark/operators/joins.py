"""Spatial joins (J2/J3): point-in-polygon and kNN over the cell grid.

The reference has no relational joins; these are the graft operators the
north rule adds (geotagged pages → tile/region polygons / POIs). Both use
the classic filter-refine pattern over the packed z/x/y cell grid
(PAPERS.md: PBSM-style partition-based spatial join):

* **pip_join** — polygons explode to their covering cells at an index zoom,
  classified interior/boundary (coarse filter, one Arrow pass over the
  polygon side); candidates come from a cell equi-join (shuffle on cell
  id — AQE skew-join handles hot cells, or pre-salt via plans.skew); the
  exact ray-cast refine of boundary candidates runs vectorized in ONE
  Arrow crossing.
* **knn_join** — candidate generation from the 3×3 neighbor-cell
  neighborhood (grid method, scale path) or a broadcast cross join (brute
  method, exact baseline / oracle); top-k via row_number over (distance,
  site_id).

Distance is squared equirectangular-scaled degrees (dlon·cos(lat))² + dlat²
— monotone in true distance at city scale and expressible in ANSI SQL so
DuckDB oracles can replay the ranking exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as geo
from .. import tilemath as tm
from .cells import encode_cells

_I64 = np.int64


# ---------------------------------------------------------------------------
# point-in-polygon
# ---------------------------------------------------------------------------

def _tilex_to_lon(x, zoom):
    return np.asarray(x, np.float64) / (1 << zoom) * 360.0 - 180.0


def _tiley_to_lat(y, zoom):
    n = np.pi * (1.0 - 2.0 * np.asarray(y, np.float64) / (1 << zoom))
    return np.degrees(np.arctan(np.sinh(n)))


def _cover_classify_batches(it: Iterator[pa.RecordBatch],
                            out_schema: pa.Schema, zoom: int):
    """Per polygon: covering cells + INTERIOR flag (P9 filter-refine
    upgrade). A cell is interior when its center is inside the polygon and
    no polygon edge's (1-cell-widened, so float rounding can only cost
    optimization, never correctness) bbox touches it — interior candidates
    skip the ray-cast refine entirely. Interior rows carry EMPTY ring
    arrays: they never reach the refine math, and the probe-side join
    transports no geometry for them."""
    nz = 1 << zoom
    for batch in it:
        if batch.num_rows == 0:
            continue
        xs = batch.column("xs")
        ys = batch.column("ys")
        off = xs.offsets.to_numpy(zero_copy_only=False).astype(_I64)
        vx = xs.values.to_numpy(zero_copy_only=False).astype(np.float64)
        vy = ys.values.to_numpy(zero_copy_only=False).astype(np.float64)
        po = batch.column("part_offsets")
        pooff = po.offsets.to_numpy(zero_copy_only=False).astype(_I64)
        povals = po.values.to_numpy(zero_copy_only=False).astype(_I64)
        P = batch.num_rows

        vrow_all = np.repeat(np.arange(P, dtype=_I64), np.diff(off))
        # polygon bbox -> covering cell ranges (y grows southward)
        lon_min = np.minimum.reduceat(vx, off[:-1])
        lon_max = np.maximum.reduceat(vx, off[:-1])
        lat_min = np.minimum.reduceat(vy, off[:-1])
        lat_max = np.maximum.reduceat(vy, off[:-1])
        x0, y0 = tm.lonlat_to_tile(lon_min, lat_max, zoom)
        x1, y1 = tm.lonlat_to_tile(lon_max, lat_min, zoom)
        nx = x1 - x0 + 1
        ny = y1 - y0 + 1
        ncells = nx * ny
        cell_off = np.concatenate([[0], np.cumsum(ncells)]).astype(_I64)
        T = int(cell_off[-1])
        local = np.arange(T, dtype=_I64) - np.repeat(cell_off[:-1], ncells)
        cp = np.repeat(np.arange(P, dtype=_I64), ncells)  # poly per cell
        ccx = x0[cp] + local % nx[cp]
        ccy = y0[cp] + local // nx[cp]

        # center-in-polygon (vectorized ray cast over all cells at once)
        ctr_lon = _tilex_to_lon(ccx.astype(np.float64) + 0.5, zoom)
        ctr_lat = _tiley_to_lat(ccy.astype(np.float64) + 0.5, zoom)
        # rings per CELL: reuse each polygon's rings by re-basing the ray
        # cast on the cell index (vrow maps vertices → cells via gather)
        # build per-cell "virtual" geometry references: ray cast per cell
        # against its polygon's edges — do it polygon-major: crossings per
        # (edge, cell) would explode; instead run the standard per-point
        # cast with points grouped by polygon using edge→poly mapping.
        total_v = len(vx)
        is_edge = np.ones(total_v, bool)
        if total_v:
            is_edge[-1] = False
        ring_start_abs = povals + off[np.repeat(
            np.arange(P, dtype=_I64), np.diff(pooff))]
        all_starts = np.concatenate([ring_start_abs, [total_v]])
        is_edge[all_starts[1:] - 1] = False
        ei = np.nonzero(is_edge)[0]
        ex0, ey0 = vx[ei], vy[ei]
        ex1, ey1 = vx[ei + 1], vy[ei + 1]
        epoly = vrow_all[ei]
        # fan edges out to their polygon's cells (bounded: per-poly cells ×
        # edges stays small for dimension-table polygons)
        e_ncells = ncells[epoly]
        e_rep = np.repeat(np.arange(len(ei), dtype=_I64), e_ncells)
        c_idx = cell_off[epoly[e_rep]] + (
            np.arange(len(e_rep), dtype=_I64)
            - np.repeat(np.concatenate([[0], np.cumsum(e_ncells)[:-1]]), e_ncells))
        ppx = ctr_lon[c_idx]
        ppy = ctr_lat[c_idx]
        gx0, gy0 = ex0[e_rep], ey0[e_rep]
        gx1, gy1 = ex1[e_rep], ey1[e_rep]
        cond = (gy0 > ppy) != (gy1 > ppy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = gx0 + (ppy - gy0) / (gy1 - gy0) * (gx1 - gx0)
        cross = cond & (ppx < xint)
        inside = (np.bincount(c_idx[cross], minlength=T) % 2) == 1

        # boundary marking: each edge's cell-bbox, widened by 1, is boundary
        bx0, _ = tm.lonlat_to_tile(np.minimum(ex0, ex1),
                                   np.maximum(ey0, ey1), zoom)
        bx1, _ = tm.lonlat_to_tile(np.maximum(ex0, ex1),
                                   np.minimum(ey0, ey1), zoom)
        _, by0 = tm.lonlat_to_tile(np.minimum(ex0, ex1),
                                   np.maximum(ey0, ey1), zoom)
        _, by1 = tm.lonlat_to_tile(np.maximum(ex0, ex1),
                                   np.minimum(ey0, ey1), zoom)
        bx0 = np.maximum(bx0 - 1, x0[epoly])
        bx1 = np.minimum(bx1 + 1, x1[epoly])
        by0 = np.maximum(by0 - 1, y0[epoly])
        by1 = np.minimum(by1 + 1, y1[epoly])
        boundary = np.zeros(T, bool)
        rows_per_edge = np.maximum(by1 - by0 + 1, 0)
        er = np.repeat(np.arange(len(ei), dtype=_I64), rows_per_edge)
        row_local = np.arange(len(er), dtype=_I64) - np.repeat(
            np.concatenate([[0], np.cumsum(rows_per_edge)[:-1]]), rows_per_edge)
        rcy = by0[er] + row_local
        run_starts = cell_off[epoly[er]] + (rcy - y0[epoly[er]]) * nx[epoly[er]] \
            + (bx0[er] - x0[epoly[er]])
        run_lens = bx1[er] - bx0[er] + 1
        ok = run_lens > 0
        marked = geo.multi_arange(run_starts[ok], run_starts[ok] + run_lens[ok])
        boundary[marked] = True

        interior = inside & ~boundary
        keep = inside | boundary  # cells fully outside drop from the build
        kidx = np.nonzero(keep)[0]
        kcp = cp[kidx]
        kint = interior[kidx]
        cell_ids = (np.full(len(kidx), zoom, _I64) << 58) \
            | (ccx[kidx] << 29) | ccy[kidx]

        # geometry columns: boundary rows copy their polygon's arrays,
        # interior rows are empty
        arrays = []
        for nm in out_schema.names:
            if nm == "cell":
                arrays.append(pa.array(cell_ids, pa.int64()))
            elif nm == "interior":
                arrays.append(pa.array(kint))
            elif nm in ("poly_xs", "poly_ys"):
                src_vals = vx if nm == "poly_xs" else vy
                sz = np.where(kint, 0, (off[kcp + 1] - off[kcp]))
                o = np.concatenate([[0], np.cumsum(sz)]).astype(np.int32)
                take = geo.multi_arange(
                    off[kcp[~kint]], off[kcp[~kint] + 1])
                vals = np.zeros(int(o[-1]), np.float64)
                dst = geo.multi_arange(o[:-1][~kint], o[1:][~kint])
                vals[dst] = src_vals[take]
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(o), pa.array(vals, pa.float64())))
            elif nm == "poly_offsets":
                sz = np.where(kint, 0, (pooff[kcp + 1] - pooff[kcp]))
                o = np.concatenate([[0], np.cumsum(sz)]).astype(np.int32)
                take = geo.multi_arange(pooff[kcp[~kint]], pooff[kcp[~kint] + 1])
                vals = np.zeros(int(o[-1]), _I64)
                dst = geo.multi_arange(o[:-1][~kint], o[1:][~kint])
                vals[dst] = povals[take]
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(o), pa.array(vals, pa.int64())))
            else:
                arrays.append(batch.column(nm).take(pa.array(kcp, pa.int32())))
        yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def cover_cells_classified(polys: DataFrame, zoom: int,
                           poly_id_col: str = "poly_id") -> DataFrame:
    """Each polygon's bbox-covering cells at ``zoom``, classified
    interior/boundary, in one Arrow pass over the (dimension-table-sized)
    polygon side. Cells fully outside the polygon are dropped."""
    out_spark = T.StructType([
        polys.schema[poly_id_col],
        T.StructField("poly_xs", T.ArrayType(T.DoubleType())),
        T.StructField("poly_ys", T.ArrayType(T.DoubleType())),
        T.StructField("poly_offsets", T.ArrayType(T.LongType())),
        T.StructField("cell", T.LongType()),
        T.StructField("interior", T.BooleanType()),
    ])
    from pyspark.sql.pandas.types import to_arrow_type
    out_arrow = pa.schema([pa.field(f.name, to_arrow_type(f.dataType))
                           for f in out_spark.fields])
    src = polys.select(
        poly_id_col,
        F.col("xs").cast("array<double>").alias("xs"),
        F.col("ys").cast("array<double>").alias("ys"),
        F.col("part_offsets").cast("array<bigint>").alias("part_offsets"))
    return src.mapInArrow(
        lambda it: _cover_classify_batches(it, out_arrow, zoom),
        schema=out_spark)


def _pip_refine(it: Iterator[pa.RecordBatch], out_schema: pa.Schema):
    """Vectorized even-odd ray cast: candidate rows carry (lon, lat) and the
    polygon's packed rings (closed, lon/lat degrees). Rows flagged
    ``interior`` (their cell is fully inside the polygon) carry empty
    rings (no crossings) and are inside by construction."""
    for batch in it:
        if batch.num_rows == 0:
            continue
        px = batch.column("lon").to_numpy(zero_copy_only=False)
        py = batch.column("lat").to_numpy(zero_copy_only=False)
        xs = batch.column("poly_xs")
        ys = batch.column("poly_ys")
        off = xs.offsets.to_numpy(zero_copy_only=False).astype(_I64)
        vx = xs.values.to_numpy(zero_copy_only=False)
        vy = ys.values.to_numpy(zero_copy_only=False)
        po = batch.column("poly_offsets")
        pooff = po.offsets.to_numpy(zero_copy_only=False).astype(_I64)
        povals = po.values.to_numpy(zero_copy_only=False).astype(_I64)

        n = batch.num_rows
        vcounts = np.diff(off)
        vrow = np.repeat(np.arange(n, dtype=_I64), vcounts)
        # ring starts, absolute
        prow = np.repeat(np.arange(n, dtype=_I64), np.diff(pooff))
        ring_start_abs = povals + off[prow]
        # edges: vertex i -> i+1 within the same ring; rings are closed, so
        # skip the edge that would leave the ring (last vertex of each ring)
        total_v = len(vx)
        is_edge = np.ones(total_v, bool)
        if total_v:
            is_edge[-1] = False
        # the last vertex of each ring = next ring's start - 1
        all_starts = np.concatenate([ring_start_abs, [total_v]])
        is_edge[all_starts[1:] - 1] = False

        ei = np.nonzero(is_edge)[0]
        x0, y0 = vx[ei], vy[ei]
        x1, y1 = vx[ei + 1], vy[ei + 1]
        erow = vrow[ei]
        ppx, ppy = px[erow], py[erow]
        cond = (y0 > ppy) != (y1 > ppy)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x0 + (ppy - y0) / (y1 - y0) * (x1 - x0)
        cross = cond & (ppx < xint)
        crossings = np.bincount(erow[cross], minlength=n)
        inside = ((crossings % 2) == 1) \
            | batch.column("interior").to_numpy(zero_copy_only=False)

        keep = pa.array(inside)
        out = batch.filter(keep)
        yield pa.RecordBatch.from_arrays(
            [out.column(name) for name in out_schema.names], schema=out_schema)


def pip_join(points: DataFrame, polys: DataFrame, zoom: int = 8,
             point_cols: list[str] | None = None,
             poly_id_col: str = "poly_id") -> DataFrame:
    """J2: points (lat, lon) ⋈ polygons (poly_id, xs, ys, part_offsets).

    Polygon rings are CLOSED lon/lat arrays; multi-ring polygons (holes) use
    ``part_offsets`` (even-odd rule handles holes without ring types).
    Returns point columns + ``poly_id``.

    The build side classifies covering cells interior/boundary
    (``cover_cells_classified``): interior candidates skip the ray cast
    inside the single refine kernel and transport no ring geometry, and
    fully-outside bbox cells never join at all.
    """
    point_cols = point_cols or [c for c in points.columns]
    pts = encode_cells(points, zoom).filter(F.col("cell").isNotNull())
    pol = cover_cells_classified(polys, zoom, poly_id_col) \
        .withColumnRenamed(poly_id_col, "poly_id")
    cand = pts.join(pol, on="cell", how="inner")

    out_cols = [*point_cols, "poly_id"]
    out_spark = T.StructType(
        [cand.schema[c] for c in out_cols])
    from pyspark.sql.pandas.types import to_arrow_type
    out_arrow = pa.schema([pa.field(f.name, to_arrow_type(f.dataType))
                           for f in out_spark.fields])
    keep = [*out_cols, "lat", "lon", "poly_xs", "poly_ys", "poly_offsets",
            "interior"]
    seen = []
    for c in keep:
        if c not in seen:
            seen.append(c)
    return cand.select(*seen).mapInArrow(
        lambda it: _pip_refine(it, out_arrow), schema=out_spark)


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------

def _sq_dist(lat_a, lon_a, lat_b, lon_b):
    """Squared equirectangular-degree distance (ANSI-SQL-replayable)."""
    dlat = lat_a - lat_b
    dlon = (lon_a - lon_b) * F.cos(F.radians((lat_a + lat_b) / 2))
    return dlat * dlat + dlon * dlon


_MERC_LAT_LIMIT = 85.051128779806604  # degrees(atan(sinh(pi)))


def _tile_row_lat_col(y, zoom: int):
    """Latitude (degrees) of tile-row boundary ``y`` at ``zoom`` — column
    twin of the numpy _tiley_to_lat, sinh spelled out (no F.sinh)."""
    import math
    r = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * y / F.lit(float(1 << zoom)))
    return F.degrees(F.atan((F.exp(r) - F.exp(-r)) / F.lit(2.0)))


def knn_join(points: DataFrame, sites: DataFrame, k: int,
             point_id_col: str = "url", site_id_col: str = "site_id",
             method: str = "grid", zoom: int = 6,
             exact: bool = True, site_join: str = "broadcast") -> DataFrame:
    """J3: for each point, its k nearest sites.

    ``brute``: broadcast cross join — exact; right when sites is small
    (POI dictionaries). ``grid``: candidates from the site's 3×3
    neighbor-cell neighborhood at ``zoom`` — the scale path. The grid is
    only sufficient when the true k-th neighbor lies inside the point's
    3×3 box, so with ``exact=True`` (default) every point gets a
    per-point GUARANTEE CHECK: it is provably exact iff it found k
    candidates AND its k-th distance is smaller than the distance to the
    nearest edge of its 3×3 box (no site beyond the box can beat the
    k-th). Points that fail re-run through the brute path — at a sane
    zoom that is a sliver of the data, so the fallback join is tiny.
    ``exact=False`` skips the check (the documented contract is then the
    caller's problem — pick ``zoom`` so a cell ≳ the max kNN radius).

    ``site_join`` sizes the grid candidate equi-join. ``"broadcast"``
    (default) forces the hint — right for the documented POI-dictionary
    shape (the 9×-exploded site table stays executor-memory-sized), and
    forcing it keeps the huge points side shuffle-free (AQE's runtime
    conversion still pays the probe side's full shuffle WRITE first —
    the measured first_wins lesson). ``"auto"``: no hint — the scale
    escape hatch when sites is itself planet-sized (millions of rows ×9
    would OOM the driver under a forced broadcast); Catalyst/AQE then
    picks a shuffle join.
    """
    # null-coordinate sites never match the grid's cell equi-join; drop
    # them from brute too (an unfiltered NULL dist_sq would sort FIRST
    # under Spark's default ordering and displace true neighbors)
    s = sites.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()) \
        .select(F.col(site_id_col).alias("site_id"),
                F.col("lat").alias("site_lat"), F.col("lon").alias("site_lon"))
    if method == "brute":
        cand = points.crossJoin(F.broadcast(s))
    else:
        pts = encode_cells(points, zoom).filter(F.col("cell").isNotNull())
        n_cells = 1 << zoom
        sc = encode_cells(
            s.withColumnRenamed("site_lat", "lat").withColumnRenamed("site_lon", "lon"),
            zoom)
        sc = (
            sc.withColumn("_ox", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
            .withColumn("_oy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
            .withColumn("_nx", F.pmod(F.col("tile_x") + F.col("_ox"), F.lit(n_cells)))
            .withColumn("_ny", F.col("tile_y") + F.col("_oy"))
            .filter((F.col("_ny") >= 0) & (F.col("_ny") < n_cells))
            .select(F.col("site_id"), F.col("lat").alias("site_lat"),
                    F.col("lon").alias("site_lon"),
                    tm.pack_cell_col(F.lit(zoom), F.col("_nx"), F.col("_ny")).alias("cell"))
        )
        if site_join == "broadcast":
            sc = F.broadcast(sc)
        cand = pts.join(sc, on="cell", how="inner")

    cand = cand.withColumn(
        "dist_sq", _sq_dist(F.col("lat"), F.col("lon"),
                            F.col("site_lat"), F.col("site_lon")))
    w = Window.partitionBy(point_id_col).orderBy(
        F.col("dist_sq").asc_nulls_last(), F.col("site_id").asc())
    ranked = (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
    )
    if method == "brute" or not exact:
        return ranked.drop("cell", "tile_x", "tile_y", "site_lat", "site_lon")

    # --- per-point exactness guarantee over the 3×3 box ---
    n_cells = 1 << zoom
    big = F.lit(float("inf"))
    lat_n = F.when(F.col("tile_y") - 1 >= 0,
                   _tile_row_lat_col(F.col("tile_y") - 1, zoom)) \
        .otherwise(F.lit(_MERC_LAT_LIMIT))
    lat_s = F.when(F.col("tile_y") + 2 <= n_cells,
                   _tile_row_lat_col(F.col("tile_y") + 2, zoom)) \
        .otherwise(F.lit(-_MERC_LAT_LIMIT))
    term_n = F.when(F.col("tile_y") - 1 >= 0,
                    (lat_n - F.col("lat")) * (lat_n - F.col("lat"))).otherwise(big)
    term_s = F.when(F.col("tile_y") + 2 <= n_cells,
                    (F.col("lat") - lat_s) * (F.col("lat") - lat_s)).otherwise(big)
    if n_cells > 3:
        # a site east/west of the box at a latitude INSIDE the box's range
        # has metric lon-distance ≥ edge_gap × min(cos) over that range; a
        # site outside the range is already covered by the lat-edge terms
        cmin = F.least(F.cos(F.radians(lat_n)), F.cos(F.radians(lat_s)))
        lon_e = (F.col("tile_x") + 2) / F.lit(float(n_cells)) * 360.0 - 180.0
        lon_w = (F.col("tile_x") - 1) / F.lit(float(n_cells)) * 360.0 - 180.0
        term_e = ((lon_e - F.col("lon")) * cmin) ** 2
        term_w = ((F.col("lon") - lon_w) * cmin) ** 2
    else:
        term_e = term_w = big  # 3 columns wrap the whole world
    safe_sq = F.least(term_n, term_s, term_e, term_w)

    # window aggregates over the SAME partition key as the ranking window —
    # the flags reuse the existing shuffle; a stats-join would broadcast
    # one row per point (a driver bomb at planet scale)
    w2 = Window.partitionBy(point_id_col)
    flagged = (ranked
               .withColumn("_nc", F.count("*").over(w2))
               .withColumn("_kth", F.max("dist_sq").over(w2))
               .withColumn("_exact", (F.col("_nc") == k)
                           & (F.col("_kth") < safe_sq))
               # `sure` appears in the union branch AND (keys-only) in the
               # fallback anti-join; the lazy checkpoint computes the
               # grid-join+window subtree once per action instead of twice
               # (∝ points×k rows — the operator's own output size).
               # Within-query reuse only, nothing persists across runs.
               .localCheckpoint(eager=False))
    sure = flagged.filter(F.col("_exact")).drop(
        "_nc", "_kth", "_exact",
        "cell", "tile_x", "tile_y", "site_lat", "site_lon")
    # fallback set = points whose guarantee failed PLUS points with no
    # grid candidates at all (absent from ranked). Anti-join directly
    # against `sure` (anti needs no distinct), so the grid-join+window
    # subtree executes twice per action — once per branch — not three
    # times; AQE sizes the anti-join. Callers doing many actions over the
    # result should persist it (or the points input) upstream.
    fallback_pts = (points
                    .filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
                    .join(sure.select(point_id_col), point_id_col, "left_anti"))
    fb = knn_join(fallback_pts, sites, k, point_id_col, site_id_col,
                  method="brute")
    return sure.unionByName(fb.select(*sure.columns))
