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
* **knn_join** — candidates from a broadcast cross join when the site
  table is small (brute plan) or from the 3×3 neighbor-cell neighborhood
  (grid plan, the scale path), chosen from the site side's optimizer size
  estimate; top-k via row_number over (distance, site_id).

Distance is squared equirectangular-scaled degrees (dlon·cos(lat))² + dlat²
— monotone in true distance at city scale and expressible in ANSI SQL so
DuckDB oracles can replay the ranking exactly.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as geo
from .. import tilemath as tm
from .cells import _ident, encode_cells

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

# squared equirectangular-degree distance (ANSI-SQL-replayable)
_DIST_SQ = ("(lat - site_lat) * (lat - site_lat)"
            " + ((lon - site_lon) * cos(radians((lat + site_lat) / 2)))"
            " * ((lon - site_lon) * cos(radians((lat + site_lat) / 2)))")

_MERC_LAT_LIMIT = 85.051128779806604  # degrees(atan(sinh(pi)))

# helper columns of the plan, dropped from the result (a point input that
# already carries cell / tile_x / tile_y loses them, on every plan)
_KNN_HELPERS = ("cell", "tile_x", "tile_y", "site_lat", "site_lon", "_bound",
                "_exact", "_fk", "_fan_id", "_fan_lat", "_fan_lon")


# largest site-side size estimate (bytes) that takes knn_join's brute plan:
# the largest measured estimate at which brute beat the grid at zooms 3 and
# 6 (the crossover table is in knn_join's docstring)
_BRUTE_MAX_BYTES = 3_617


def _dbl(v: float) -> str:
    """A double literal in Spark SQL (a bare ``1.0`` parses as decimal)."""
    return f"{v!r}D"


def _box_bound_sql(zoom: int) -> str:
    """Squared metric distance from a point (``lat``/``lon``, cell
    ``tile_x``/``tile_y``) to the nearest edge of its 3×3 cell box at
    ``zoom``, as Spark SQL: no site beyond the box is nearer than this."""
    n = 1 << zoom
    inf = "CAST('Infinity' AS DOUBLE)"

    def row_lat(y: str) -> str:
        # latitude of tile-row boundary y — the numpy _tiley_to_lat, sinh
        # spelled out
        r = (f"({_dbl(math.pi)} * ({_dbl(1.0)} - {_dbl(2.0)} * ({y})"
             f" / {_dbl(float(n))}))")
        return f"degrees(atan((exp({r}) - exp(-{r})) / {_dbl(2.0)}))"

    north, south = "tile_y - 1 >= 0", f"tile_y + 2 <= {n}"
    lat_n = (f"(CASE WHEN {north} THEN {row_lat('tile_y - 1')}"
             f" ELSE {_dbl(_MERC_LAT_LIMIT)} END)")
    lat_s = (f"(CASE WHEN {south} THEN {row_lat('tile_y + 2')}"
             f" ELSE {_dbl(-_MERC_LAT_LIMIT)} END)")
    terms = [
        f"CASE WHEN {north} THEN ({lat_n} - lat) * ({lat_n} - lat)"
        f" ELSE {inf} END",
        f"CASE WHEN {south} THEN (lat - {lat_s}) * (lat - {lat_s})"
        f" ELSE {inf} END"]
    if n > 3:
        # a site east/west of the box at a latitude INSIDE the box's range
        # has metric lon-distance ≥ edge_gap × min(cos) over that range; a
        # site outside the range is already covered by the lat-edge terms
        cmin = f"least(cos(radians({lat_n})), cos(radians({lat_s})))"

        def lon_at(x: str) -> str:
            return (f"({x}) / {_dbl(float(n))} * {_dbl(360.0)}"
                    f" - {_dbl(180.0)}")
        terms += [f"power(({lon_at('tile_x + 2')} - lon) * {cmin}, 2)",
                  f"power((lon - {lon_at('tile_x - 1')}) * {cmin}, 2)"]
    # with 3 columns or fewer the box wraps the whole world east-west
    return f"least({', '.join(terms)})"


def _top_k(cand: DataFrame, pid: str, k: int) -> DataFrame:
    """Distance and rank of each candidate per point; the k nearest stay.
    Ties break on ``site_id``."""
    w = f"PARTITION BY {pid} ORDER BY dist_sq ASC NULLS LAST, site_id ASC"
    return (cand.withColumn("dist_sq", F.expr(_DIST_SQ))
            .withColumn("knn_rank", F.expr(f"row_number() OVER ({w})"))
            .filter(f"knn_rank <= {k}"))


def _brute_fits(s: DataFrame) -> bool:
    """Whether the site side takes the brute plan: its optimizer size
    estimate (read from the plan, no Spark job) is at most
    ``_BRUTE_MAX_BYTES`` and the session's broadcast threshold (−1:
    never). A side the optimizer cannot size (an RDD-backed frame reports
    ``Long.MaxValue``) takes the grid."""
    threshold = (s._jdf.sparkSession().sessionState().conf()
                 .autoBroadcastJoinThreshold())
    est = s._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return est <= min(_BRUTE_MAX_BYTES, threshold)


def knn_join(points: DataFrame, sites: DataFrame, k: int,
             point_id_col: str = "url", site_id_col: str = "site_id",
             zoom: int = 6, exact: bool = True) -> DataFrame:
    """J3: for each point, its k nearest sites.

    With ``exact=True`` (default) the answer is exact, and the plan is
    chosen from the size of the site side (filtered and projected), the
    way Catalyst chooses a join: both plans return the same rows.

    * **brute** — a broadcast cross join, then the top-k window. It runs
      when the side's optimizer size estimate is at most
      ``min(_BRUTE_MAX_BYTES, spark.sql.autoBroadcastJoinThreshold)``
      (a threshold of −1 means never): a POI dictionary.
    * **grid** — candidates from the site's 3×3 neighbor-cell
      neighborhood at ``zoom``, the scale path. The grid is only
      sufficient when the true k-th neighbor lies inside the point's 3×3
      box, so every point gets a per-point GUARANTEE CHECK: it is provably
      exact iff it found k candidates AND its k-th distance is smaller
      than the distance to the nearest edge of its 3×3 box (no site
      beyond the box can beat the k-th). Points that fail — including
      points with no grid candidate — are ranked against every site.

    ``_BRUTE_MAX_BYTES`` is the measured crossover: k=3 over the
    ``pages_geotile`` workload's 32,006 geotagged cells (seed 1,
    persisted), noop sink, median of 3 runs, 4-core local session; sites
    are uniform over ±60° lat / ±170° lon plus one in San Francisco,
    read from parquet:

    ======  ========  ====================  ====================
    sites   estimate  zoom 3: grid / brute  zoom 6: grid / brute
    ======  ========  ====================  ====================
    33      2,068 B   1.89 / 1.02 s         1.42 / 0.51 s
    100     3,617 B   1.51 / 1.17 s         3.15 / 1.02 s
    330     9,086 B   2.54 / 2.93 s         8.59 / 3.21 s
    1,000   25,124 B  6.32 / 10.32 s        7.32 / 9.65 s
    ======  ========  ====================  ====================

    ``exact=False`` always runs the grid and skips the check (the
    documented contract is then the caller's problem — pick ``zoom`` so a
    cell ≳ the max kNN radius).

    The exact grid plan reads ``points`` once and has one consumer per
    subtree, so it is lazy (no Spark job until an action) and computes
    nothing twice: the grid candidates left-join the points, so a point
    without candidates keeps one row; the guarantee is a window over the
    ranking's url partitioning (a stats join would broadcast one row per
    point), against a box bound computed once per point; the rank-1 row
    of each failing point fans out to every site through one keyed join
    (exact rows carry a key no site has); and a second window re-ranks on
    the same partitioning. Its two site joins (the candidates and the
    fan-out) carry no hint: a planet-sized site table shuffle-joins
    instead of OOMing the driver on a forced broadcast.

    Points and sites with a null coordinate are dropped on every plan
    (they have no distance; an unfiltered NULL ``dist_sq`` would rank
    meaninglessly).
    """
    pid = _ident(point_id_col)
    pts = points.filter("lat IS NOT NULL AND lon IS NOT NULL")
    s = sites.filter("lat IS NOT NULL AND lon IS NOT NULL").selectExpr(
        f"{_ident(site_id_col)} AS site_id", "lat AS site_lat",
        "lon AS site_lon")
    if exact and _brute_fits(s):
        return _top_k(pts.crossJoin(F.broadcast(s)), pid, k) \
            .drop(*_KNN_HELPERS)

    n = 1 << zoom
    # every site lands in the 3×3 box of cells around its own (x wraps;
    # array_distinct keeps a site once per cell on grids under 3 wide)
    sc = (encode_cells(s, zoom, "site_lat", "site_lon")
          .selectExpr("site_id", "site_lat", "site_lon", "tile_x",
                      "explode(array(tile_y - 1, tile_y, tile_y + 1)) AS _ny")
          .filter(f"_ny >= 0 AND _ny < {n}")
          .selectExpr("site_id", "site_lat", "site_lon", "_ny",
                      f"explode(array_distinct(array(pmod(tile_x - 1, {n}),"
                      f" tile_x, pmod(tile_x + 1, {n})))) AS _nx")
          .selectExpr("site_id", "site_lat", "site_lon",
                      tm.pack_cell_sql(zoom, "_nx", "_ny") + " AS cell"))
    cells = encode_cells(pts, zoom)
    if exact:
        # once per point, before the join: evaluated per ranked row (and
        # twice, as the rank filter is pushed below it) this trig-heavy
        # bound took half of the operator's time on the page workload
        cells = cells.withColumn("_bound", F.expr(_box_bound_sql(zoom)))
    ranked = _top_k(cells.join(sc, "cell", "left" if exact else "inner"),
                    pid, k)
    if not exact:
        return ranked.drop(*_KNN_HELPERS)

    exact_sql = (f"coalesce(count(site_lat) OVER (PARTITION BY {pid}) = {k}"
                 f" AND max(dist_sq) OVER (PARTITION BY {pid}) < _bound,"
                 " false)")
    # the fan-out key: failing points (false, 0) meet every site; exact
    # rows carry true and keep their grid site. The site side's key is
    # computed from a column that is never null there, not written as a
    # literal: a literal key folds out of the join and leaves a
    # nested-loop join. Exact rows are spread by their point's hash, so a
    # shuffled fan-out sends only the failing points to one key.
    fan = s.selectExpr(
        "isnull(site_lat) AS _exact", "CAST(isnull(site_lat) AS BIGINT) AS _fk",
        "site_id AS _fan_id", "site_lat AS _fan_lat", "site_lon AS _fan_lon")
    fanned = (ranked.withColumn("_exact", F.expr(exact_sql))
              .filter("_exact OR knn_rank = 1")
              .withColumn("_fk", F.expr(
                  f"CASE WHEN _exact THEN xxhash64({pid}) ELSE 0L END"))
              .join(fan, ["_exact", "_fk"], "left")
              # a failing point with no site at all has no answer
              .filter("_exact OR _fan_lat IS NOT NULL")
              .withColumns({c: F.expr(f"CASE WHEN _exact THEN {c} "
                                      f"ELSE _fan_{c[5:]} END")
                            for c in ("site_id", "site_lat", "site_lon")}))
    return _top_k(fanned, pid, k).drop(*_KNN_HELPERS)
