"""The composite operator — vtcomposite's flagship, re-expressed Spark-first.

Reference lifecycle (src/vtcomposite.cpp:205-323): for one target tile, fold N
source tiles — ancestry check, layer keep-list, first-wins layer dedupe,
overzoom affine + box clip, serialize. Here the same semantics run as ONE
lazy plan over a *features* DataFrame (one row per feature) and a *targets*
DataFrame (one row per requested output tile), ``_source_grouped``:

1. **Keys-only winners** (``_winners``) — the address-grouped features
   reduce to (source address, layer, min tile_idx); the ancestor equi-join
   (``ancestor_join``, J1) with the layer keep-list (``apply_keep_layers``,
   P2) and min(tile_idx) per (target, layer) give each target its
   first-wins winner list (A2/J5, src/vtcomposite.cpp:210,243-251). Dropped
   layers never reach the geometry kernel.
2. **One payload shuffle** — features group by source address
   (src_z, src_x, src_y), unduplicated (bytes ∝ input); targets group by
   the source addresses they draw from; the two meet in an equi-join.
3. **One fan/clip kernel** (``_fan_clip``) — per source group, the kernel
   fans (feature × target) pairs, applies the envelope prune, and runs the
   vectorized overzoom + clip (``_overzoom_clip_batches``; same-zoom rows
   pass through untouched, the reference's ``add_existing_layer`` fast
   path, src/vtcomposite.cpp:253-256). Its ``out`` argument emits whole
   encoded tiles or packed relational rows that a JVM ``inline`` restores.

Two modes. A declared single source zoom needs no winner pass: each target
has exactly one source group, so first-wins runs group-locally in the
kernel. Every other input — several declared zooms or none — runs the
winner pass. In both, a target whose winners lie in one source group
encodes whole in the kernel; a target drawing from several groups leaves
the kernel as relational rows that ``encode_tiles`` encodes in one call
per target. Building a plan starts no Spark job; the ``tile_idx`` contract
check fails the first action.

``encode_tiles`` is the S3/S4 sink for relational rows: one packed row per
target, multi-tile encode. ``composite_points`` is the all-point
specialization, a per-row plan in pure JVM expressions: ancestor join,
keep-list, first-wins as a window keyed by the target (``first_wins``),
point clip. Scale: no side is force-broadcast in any of these plans;
Catalyst and AQE size the joins and exchanges from real statistics.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geometry as geo
from .. import polyclip

_I64 = np.int64


class CompositeRequestError(ValueError):
    """Raised for the reference's hard ancestry error
    (src/vtcomposite.cpp:283-291)."""


def validate_request(tiles: list[tuple[int, int, int]], z: int, x: int, y: int) -> None:
    """Exact-error-string ancestry validation (src/vtcomposite.cpp:283-291,
    tests test/vtcomposite.test.js:105-177)."""
    for (sz, sx, sy) in tiles:
        ok = sz <= z and (x >> (z - sz)) == sx and (y >> (z - sz)) == sy
        if not ok:
            raise CompositeRequestError(
                f"Invalid tile composite request: SOURCE({sz},{sx},{sy})"
                f" TARGET({z},{x},{y})")


def ancestor_join(features: DataFrame, targets: DataFrame,
                  src_zooms: list[int] | None = None) -> DataFrame:
    """J1: assign each source feature to every requested descendant target.

    Targets explode to (src_z, ancestor_x, ancestor_y) keys — a plain
    equi-join; no theta-join, no per-tile predicate. No join hint:
    Catalyst broadcasts small target sets at plan time; for big ones AQE
    reads the exploded side's real shuffle size at runtime and either
    converts to broadcast or keeps a shuffle join. A planet-scale target
    set (full z14 pyramid ≈ 3.6×10⁸ tiles, ×15 ancestors exploded)
    shuffle-joins instead of OOMing the driver on a forced broadcast.

    ``src_zooms``: when the feature table's zoom levels are known (e.g. a
    single-zoom tileset), explode targets only over those levels instead of
    0..z — shrinks the join's build side by z/len(src_zooms)×.
    """
    if src_zooms is not None:
        zs = F.array(*[F.lit(int(z)) for z in sorted(set(src_zooms))])
        src_z = F.explode(F.filter(zs, lambda z: z <= F.col("z")))
    else:
        src_z = F.explode(F.sequence(F.lit(0), F.col("z")))
    t = (
        targets
        .withColumn("src_z", src_z)
        .withColumn("src_x", F.call_function("shiftright", F.col("x"), F.col("z") - F.col("src_z")).cast("long"))
        .withColumn("src_y", F.call_function("shiftright", F.col("y"), F.col("z") - F.col("src_z")).cast("long"))
    )
    return features.join(t, on=["src_z", "src_x", "src_y"], how="inner")


def apply_keep_layers(df: DataFrame) -> DataFrame:
    """P2: layer keep-list; null/empty keeps all (src/vtcomposite.cpp:246-249)."""
    return df.filter(
        F.col("keep_layers").isNull()
        | (F.size("keep_layers") == 0)
        | F.array_contains("keep_layers", F.col("layer"))
    )


def first_wins(df: DataFrame) -> DataFrame:
    """A2: first tile contributing a layer name wins, per target tile
    (src/vtcomposite.cpp:210,243-251; test/vtcomposite.test.js:50-71).

    A window keyed by the target: ``min(tile_idx) OVER (PARTITION BY z,
    x, y, layer)``, and the rows that equal it stay. One consumer of
    ``df`` and no join, so the target-joined rows are read once and
    Catalyst/AQE size the one exchange. Rows with a NULL ``layer`` never
    win (a window would group them together; an equi-join drops them).
    The key columns lead, in the order ``z, x, y, layer, tile_idx``.
    """
    keys = ["z", "x", "y", "layer", "tile_idx"]
    return (df.filter("layer IS NOT NULL")
            .withColumn("_first", F.expr(
                "min(tile_idx) OVER (PARTITION BY z, x, y, layer)"))
            .filter("tile_idx = _first")
            .select(*keys, *[c for c in df.columns if c not in keys]))


# ---------------------------------------------------------------------------
# the Arrow kernel: overzoom affine + clip, all three geometry types
# ---------------------------------------------------------------------------

_KERNEL_HELPER_COLS = ["dz", "disp_x", "disp_y"]


def _batch_to_packed(batch: pa.RecordBatch, rows: np.ndarray):
    """Packed arrays for the selected row subset of an Arrow batch."""
    xs = batch.column("xs")
    ys = batch.column("ys")
    po = batch.column("part_offsets")
    off = xs.offsets.to_numpy(zero_copy_only=False).astype(_I64)
    vx_all = xs.values.to_numpy(zero_copy_only=False).astype(_I64)
    vy_all = ys.values.to_numpy(zero_copy_only=False).astype(_I64)
    pooff = po.offsets.to_numpy(zero_copy_only=False).astype(_I64)
    povals = po.values.to_numpy(zero_copy_only=False).astype(_I64)

    # vertices of the selected rows, concatenated
    counts = off[rows + 1] - off[rows]
    vstart = np.concatenate([[0], np.cumsum(counts)]).astype(_I64)
    take = geo.multi_arange(off[rows], off[rows + 1])
    vx = vx_all[take] if len(take) else np.empty(0, _I64)
    vy = vy_all[take] if len(take) else np.empty(0, _I64)

    # parts: per-row relative starts -> absolute starts into vx
    pcounts = pooff[rows + 1] - pooff[rows]
    ptake = geo.multi_arange(pooff[rows], pooff[rows + 1])
    rel = povals[ptake] if len(ptake) else np.empty(0, _I64)
    part_row = np.repeat(np.arange(len(rows), dtype=_I64), pcounts)
    abs_start = rel + vstart[part_row]
    part_start = np.concatenate([abs_start, [vstart[-1]]]).astype(_I64)
    # abs_start is monotone because parts are stored in order per row
    return geo.PackedParts(vx, vy, part_start, part_row), pcounts


def _take_list_of(values: np.ndarray, offsets: np.ndarray, typ=pa.int64()):
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    pa.array(values, typ))


def _emit_rows(batch: pa.RecordBatch, rows_sel: np.ndarray, out: geo.PackedParts,
               ring_types: np.ndarray, out_schema: pa.Schema) -> pa.RecordBatch | None:
    """Rebuild Arrow rows for surviving features.

    ``rows_sel``: original batch row index per kernel feature slot.
    ``out.part_feat`` indexes into kernel feature slots.
    """
    nslots = len(rows_sel)
    sizes = geo.part_sizes(out.part_start)
    vrow = np.repeat(out.part_feat, sizes)
    vcount = np.bincount(vrow, minlength=nslots) if len(vrow) else np.zeros(nslots, _I64)
    pcount = np.bincount(out.part_feat, minlength=nslots) if len(out.part_feat) else np.zeros(nslots, _I64)
    alive = pcount > 0
    if not alive.any():
        return None
    alive_slots = np.nonzero(alive)[0]
    orig_rows = rows_sel[alive_slots]

    v_off = np.concatenate([[0], np.cumsum(vcount[alive_slots])]).astype(_I64)
    p_off = np.concatenate([[0], np.cumsum(pcount[alive_slots])]).astype(_I64)
    # relative part offsets
    slot_vstart = np.concatenate([[0], np.cumsum(vcount)]).astype(_I64)
    rel_part = out.part_start[:-1] - slot_vstart[out.part_feat]

    arrays = []
    for name in out_schema.names:
        if name == "xs":
            arrays.append(_take_list_of(out.vx, v_off))
        elif name == "ys":
            arrays.append(_take_list_of(out.vy, v_off))
        elif name == "part_offsets":
            arrays.append(pa.ListArray.from_arrays(
                pa.array(p_off, pa.int32()), pa.array(rel_part, pa.int32())))
        elif name == "ring_types":
            arrays.append(pa.ListArray.from_arrays(
                pa.array(p_off, pa.int32()), pa.array(ring_types, pa.int8())))
        else:
            arrays.append(batch.column(name).take(pa.array(orig_rows, pa.int32())))
    return pa.RecordBatch.from_arrays(arrays, schema=out_schema)


def _overzoom_clip_batches(it: Iterator[pa.RecordBatch], out_schema: pa.Schema):
    for batch in it:
        if batch.num_rows == 0:
            continue
        gtype = batch.column("geom_type").to_numpy(zero_copy_only=False)
        dz = batch.column("dz").to_numpy(zero_copy_only=False).astype(_I64)

        # same-zoom fast path: raw pass-through, no clip
        # (reference add_existing_layer, src/vtcomposite.cpp:253-256)
        fast_mask = dz == 0
        if fast_mask.any():
            fast = batch.filter(pa.array(fast_mask))
            yield pa.RecordBatch.from_arrays(
                [fast.column(n) for n in out_schema.names], schema=out_schema)
            if fast_mask.all():
                continue
        dxc = batch.column("disp_x").to_numpy(zero_copy_only=False).astype(_I64)
        dyc = batch.column("disp_y").to_numpy(zero_copy_only=False).astype(_I64)
        extent = batch.column("extent").to_numpy(zero_copy_only=False).astype(_I64)
        # buffer_size can be NULL only on dz=0 rows (the JVM envelope
        # prune drops NULL-buffer dz>0 rows) and those take the fast path
        # above — but the COLUMN conversion is batch-wide, so a mixed
        # batch would read NaN into the int bounds without the fill
        buf = batch.column("buffer_size").fill_null(0).to_numpy(
            zero_copy_only=False).astype(_I64)
        zf = np.int64(1) << dz
        lo_all = -buf
        hi_all = extent + buf

        for gt in (1, 2, 3):
            rows = np.nonzero((gtype == gt) & ~fast_mask)[0].astype(_I64)
            if len(rows) == 0:
                continue
            g, pcounts = _batch_to_packed(batch, rows)
            g = geo.dedupe_consecutive(g)
            g = geo.affine(g, zf[rows], dxc[rows], dyc[rows])
            lo = lo_all[rows]
            hi = hi_all[rows]
            if gt == 1:
                out = geo.clip_points(g, lo, hi)
                rts = np.zeros(len(out.part_feat), np.int8)
            elif gt == 2:
                out = geo.clip_lines(g, lo, hi)
                rts = np.zeros(len(out.part_feat), np.int8)
            else:
                rt_col = batch.column("ring_types")
                rt_off = rt_col.offsets.to_numpy(zero_copy_only=False).astype(_I64)
                rt_vals = rt_col.values.to_numpy(zero_copy_only=False)
                rtake = geo.multi_arange(rt_off[rows], rt_off[rows + 1])
                in_rts = rt_vals[rtake].astype(np.int8) if len(rtake) else np.empty(0, np.int8)
                asm, kept_rt, poly = geo.assemble_polygons(g, in_rts, lo, hi)
                # exact polygon-overlay clip (boost parity): holes crossing
                # the window carve and can split the output polygons
                out, rts = polyclip.clip_polygons_packed(asm, kept_rt, poly, lo, hi)
            rb = _emit_rows(batch, rows, out, rts, out_schema)
            if rb is not None:
                yield rb


def _overzoom_prep(df: DataFrame) -> DataFrame:
    """dz + displacement columns and the JVM-side envelope prune for
    target-joined feature rows, the input of ``_overzoom_clip_batches`` in
    the per-row reference plan (``tests/reference_plans.py``).

    The envelope pre-filter runs in codegen: a feature whose scaled bbox
    misses the target clip window never crosses to Python — the
    reference's cheap-reject (src/feature_builder.hpp:232-238). Same-zoom
    rows (dz == 0) always survive — they are the raw-copy fast path.
    ``_fan_clip`` applies the same test in numpy per (feature, target)
    pair.
    """
    df = (
        df.withColumn("dz", F.col("z") - F.col("src_z"))
        .withColumn(
            "disp_x",
            (F.col("x").bitwiseAND(F.call_function("shiftleft", F.lit(1).cast("long"), F.col("dz")) - 1)
             * F.col("extent")).cast("long"))
        .withColumn(
            "disp_y",
            (F.col("y").bitwiseAND(F.call_function("shiftleft", F.lit(1).cast("long"), F.col("dz")) - 1)
             * F.col("extent")).cast("long"))
    )
    zf = F.call_function("shiftleft", F.lit(1).cast("long"), F.col("dz"))
    bxmin = F.array_min("xs") * zf - F.col("disp_x")
    bxmax = F.array_max("xs") * zf - F.col("disp_x")
    bymin = F.array_min("ys") * zf - F.col("disp_y")
    bymax = F.array_max("ys") * zf - F.col("disp_y")
    blo = -F.col("buffer_size").cast("long")
    bhi = (F.col("extent") + F.col("buffer_size")).cast("long")
    return df.filter(
        (F.col("dz") == 0)
        | ((bxmax >= blo) & (bxmin <= bhi) & (bymax >= blo) & (bymin <= bhi))
    )


def _to_arrow(dt: T.DataType) -> pa.DataType:
    from pyspark.sql.pandas.types import to_arrow_type
    return to_arrow_type(dt)


# ---------------------------------------------------------------------------
# point specialization and seam helpers
# ---------------------------------------------------------------------------

def overzoom_clip_points_expr(df: DataFrame) -> DataFrame:
    """Point-feature overzoom+clip as PURE column expressions — no Python.

    Semantically identical to the Arrow kernel for geom_type == 1 rows
    (affine p*2^dz − d, closed-box covered_by keep/drop per point,
    same-zoom raw pass-through) but stays entirely JVM-side: the Arrow
    crossing costs ~40µs/row at scale, the expression path ~1µs. The page
    pipeline (one point per geotagged page) is exactly this shape.
    """
    zf = "shiftleft(1L, z - src_z)"
    blo, bhi = "-CAST(buffer_size AS BIGINT)", "CAST(extent + buffer_size AS BIGINT)"
    # the shifted points that fall inside the buffered box, as (x, y) pairs
    pairs = (f"filter(arrays_zip("
             f"transform(xs, v -> v * {zf} - (x & ({zf} - 1L)) * extent), "
             f"transform(ys, v -> v * {zf} - (y & ({zf} - 1L)) * extent)), "
             f"p -> ((p.`0` >= {blo} AND p.`0` <= {bhi})"
             f" AND p.`1` >= {blo}) AND p.`1` <= {bhi})")
    # both expressions bind to the ORIGINAL xs/ys (one projection) — a
    # second projection would re-read the already transformed xs
    return (
        df.withColumns({
            c: F.expr(f"CASE WHEN z - src_z = 0 THEN {c} "
                      f"ELSE transform({pairs}, p -> p.`{i}`) END")
            for i, c in enumerate(("xs", "ys"))})
        .filter("size(xs) > 0")
        .withColumn("part_offsets", F.expr(
            "CAST(sequence(0, size(xs) - 1) AS ARRAY<INT>)"))
        .withColumn("ring_types", F.expr(
            "transform(part_offsets, _ -> CAST(0 AS TINYINT))"))
    )


def composite_points(features: DataFrame, targets: DataFrame) -> DataFrame:
    """Composite specialization for all-point features (e.g. the page
    pipeline): ``composite``'s rows, with the geometry step in pure
    expressions — zero Python crossings end-to-end. The plan is per row:
    ancestor join, keep-list, the ``first_wins`` window keyed by target,
    then the point clip."""
    j = ancestor_join(features, targets)
    j = apply_keep_layers(j)
    j = first_wins(j)
    return overzoom_clip_points_expr(j).drop("keep_layers")


_TILE_LEVEL_COLS = ("z", "x", "y", "buffer_size", "compress")

_ENCODE_OUT_SCHEMA = T.StructType([
    T.StructField("z", T.IntegerType()),
    T.StructField("x", T.LongType()),
    T.StructField("y", T.LongType()),
    T.StructField("tile", T.BinaryType()),
])


def _pack_tiles(df: DataFrame) -> DataFrame:
    """ONE row per (z, x, y): tile-level columns + a ``feats`` list of
    feature structs. The python seam's per-ROW conversion cost (JVM
    ArrowWriter + return-path InternalRow rebuild, measured ~payload-width-
    INDEPENDENT on the lines bench: 4.5s full width vs 4.9s scalars-only
    for the same 1M rows) then applies to thousands of rows, not millions —
    the feature data rides inside nested Arrow children, which serialize
    columnar. Measured 2.26s vs 4.15s for the identical one-way seam.

    Scale note: one packed row = one tile, so a tile must fit in one
    executor's memory — the same invariant a grouped applyInPandas needs;
    hot tiles are a skew problem before they are a packing problem.
    """
    data_cols = [c for c in df.columns if c not in _TILE_LEVEL_COLS]
    aggs = [F.collect_list(F.struct(*data_cols)).alias("feats")]
    for c in ("buffer_size", "compress"):
        if c in df.columns:
            aggs.append(F.first(c).alias(c))
    return df.groupBy("z", "x", "y").agg(*aggs)


def _norm_list(arr):
    """(zero-based offsets int64, trimmed values) for a possibly-sliced
    Arrow ListArray — positional use of the children requires both."""
    off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    vals = arr.values
    if int(off[0]) != 0 or int(off[-1]) != len(vals):
        vals = vals.slice(int(off[0]), int(off[-1]) - int(off[0]))
        off = off - off[0]
    return off, vals


def _tiles_batch(tiles):
    """[(z, x, y, bytes), ...] → the _ENCODE_OUT_SCHEMA RecordBatch."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([t[0] for t in tiles], pa.int32()),
         pa.array([t[1] for t in tiles], pa.int64()),
         pa.array([t[2] for t in tiles], pa.int64()),
         pa.array([t[3] for t in tiles], pa.binary())],
        names=["z", "x", "y", "tile"])


def _unpack_batch(batch, tile_cols: list[str]):
    """(flat feature RecordBatch columns dict, per-tile repeated arrays) —
    zero-copy: the packed list's struct children ARE the flat feature
    arrays; only the tile-level scalars are np.repeat'ed per feature."""
    import pyarrow as pa

    off, vals = _norm_list(batch.column("feats"))
    nfeat = np.diff(off)
    cols: dict = {}
    for i, fld in enumerate(vals.type):
        cols[fld.name] = vals.field(i)
    total = int(off[-1])
    rep_idx = pa.array(np.repeat(np.arange(batch.num_rows, dtype=np.int64),
                                 nfeat))
    for name in tile_cols:
        # Arrow-native take, NOT to_numpy+np.repeat: a NULL tile-level
        # value (e.g. buffer_size on a dz=0 pass-through target) would
        # read as NaN and crash the integer rebuild
        cols[name] = batch.column(name).take(rep_idx)
    return cols, total, off


# ---------------------------------------------------------------------------
# the composite plan: keys-only winners, one payload shuffle, one kernel
# ---------------------------------------------------------------------------

_SRC_KEYS = ["src_z", "src_x", "src_y"]

_SHARED_TILE_IDX = (
    "multi-zoom composite: a tile_idx is shared by source tiles at "
    "different zooms (the winner for some (target, layer) maps to "
    "several source zooms). tile_idx must identify ONE input tile — "
    "re-ingest with features_from_tiles_df's default per-zoom "
    "ordinal or pass a distinct tile_idx per input tile.")


def _winners(fgrp: DataFrame, targets: DataFrame,
             zooms: list[int] | None) -> DataFrame:
    """Keys-only first-wins: one row per target (z, x, y) carrying its
    winner list ``wins: array<struct<layer, tile_idx>>`` (keep-lists
    folded in), ``win_zooms``, the source zooms that own a winner, and
    ``clash`` (see ``_checked``).

    The keys come from ``fgrp``, the features already grouped by source
    address, so the features are read (for MVT input: decoded) once:
    each group reduces to one row per layer — its hash partitioning on
    ``addr`` needs no second exchange — and only those rows meet the
    ancestor-exploded targets; the min over per-source minima is the min
    over the joined relation, so the winners equal ``first_wins``'."""
    has_keep = "keep_layers" in targets.columns
    keys = F.transform("feats", lambda f: F.struct(
        f["layer"].alias("layer"), f["tile_idx"].alias("tile_idx")))
    # the coalesce makes the keys non-nullable, so the join's inferred
    # not-null filters fold away instead of being pushed into the features
    # scan — that would make this exchange differ from the payload's and
    # read (decode) the features twice. A NULL address matches no target
    # either way (a target address is never negative).
    fk = (fgrp.select("addr", F.inline(keys))
          .groupBy("addr", "layer").agg(F.min("tile_idx").alias("tile_idx"))
          .select(*[F.coalesce(F.col("addr")[k], F.lit(-1)).alias(k)
                    for k in _SRC_KEYS], "layer", "tile_idx"))
    tsel = ["z", "x", "y"] + (["keep_layers"] if has_keep else [])
    cand = ancestor_join(fk, targets.select(*tsel), src_zooms=zooms)
    if has_keep:
        cand = apply_keep_layers(cand)
    # lo/hi: the winning tile_idx with the lowest and the highest source
    # zoom that holds it — they differ exactly on a contract violation
    w = (cand.groupBy("z", "x", "y", "layer")
         .agg(F.min(F.struct("tile_idx", "src_z")).alias("lo"),
              F.max(F.struct((-F.col("tile_idx")).alias("neg"),
                             "src_z")).alias("hi")))
    return (w.groupBy("z", "x", "y")
            .agg(F.collect_list(F.struct("layer", F.col("lo.tile_idx")
                                         .alias("tile_idx"))).alias("wins"),
                 F.array_union(F.collect_set("lo.src_z"),
                               F.collect_set("hi.src_z")).alias("win_zooms"),
                 F.max(F.col("lo.src_z") != F.col("hi.src_z"))
                 .alias("clash")))


def _checked(t: DataFrame) -> DataFrame:
    """The ingest contract (``tile_idx`` identifies ONE input tile): a
    target with a ``clash`` — a (target, layer) whose winning tile_idx
    sits at two source zooms, so the layer would encode twice — fails the
    first action with ``raise_error``. The check rides ``wins``, a column
    the kernel reads, so Catalyst cannot prune it; it is applied after
    any split of the targets, so exactly one stage raises it (a clash
    always gives two winning zooms)."""
    return t.withColumn("wins", F.when(
        F.col("clash"), F.raise_error(F.lit(_SHARED_TILE_IDX))
        .cast(t.schema["wins"].dataType)).otherwise(F.col("wins")))


def _source_grouped(features: DataFrame, targets: DataFrame,
                    src_zooms, partitions: int | None,
                    out: str) -> DataFrame:
    """The one composite plan; ``out`` is ``"tiles"`` (z, x, y, tile) or
    ``"rows"`` (``composite``'s relational rows).

    Targets explode to the source addresses they draw from and group by
    address (the small side); features group by address — the ONE payload
    shuffle, unduplicated rows, bytes ∝ input — and the two meet in an
    equi-join on ``addr`` = struct(src_z, src_x, src_y) that Catalyst/AQE
    size. ``_fan_clip`` then fans (feature × target) pairs in the kernel.

    Two modes:

    * one declared zoom: every target has exactly one source group, so
      first-wins runs group-locally in the kernel and tiles encode whole;
    * anything else (several declared zooms, or ``None``): ``_winners``
      gives each target its winner list and the target explodes only over
      the zooms that own a winner. A target whose winners lie in one
      source group (one winning zoom — every target of a single-zoom
      input) still encodes whole in the kernel; a target drawing from
      several groups leaves the kernel as relational rows, and
      ``encode_tiles`` packs them to one row per target and encodes it in
      one call.

    Plan building starts no Spark job."""
    if isinstance(src_zooms, str):
        raise ValueError(f"src_zooms must be a list of zoom levels or None, "
                         f"not {src_zooms!r}")
    zs = None if src_zooms is None else sorted({int(z) for z in src_zooms})
    if zs is not None:
        features = features.filter(F.col("src_z").isin(zs))
    # both sides group by ONE struct key of one type (all fields nullable,
    # so the join needs no cast): a constant src_z (one zoom) folds out of
    # a three-column join condition, and a cast or a narrower key would
    # re-shuffle one side after its group-by
    addr = F.struct(*_SRC_KEYS).cast(T.StructType(
        [T.StructField(k, features.schema[k].dataType) for k in _SRC_KEYS]))

    data_cols = [c for c in features.columns if c not in _SRC_KEYS]
    fa = features.withColumn("addr", addr)
    if partitions:
        # one packed row = one source tile's whole kernel workload (tens of
        # ms); a finer hash partitioning on the group key is inherited by
        # the agg (no extra exchange) and spreads stragglers
        fa = fa.repartition(partitions, "addr")
    fgrp = (fa.groupBy("addr")
            .agg(F.collect_list(F.struct(*data_cols)).alias("feats")))

    t = targets if "compress" in targets.columns else \
        targets.withColumn("compress", F.lit(False))  # absent ⇒ no gzip
    tgt_fields = list(_TILE_LEVEL_COLS)
    single = zs is not None and len(zs) == 1
    if single:
        t = (t.filter(F.col("z") >= zs[0])
             .withColumn("src_z", F.lit(zs[0]).cast(
                 features.schema["src_z"].dataType)))
        if "keep_layers" in t.columns:
            tgt_fields.append("keep_layers")
    else:
        t = (t.drop("keep_layers")
             .join(_winners(fgrp, targets, zs), on=["z", "x", "y"])
             .withColumn("src_z", F.explode("win_zooms")))
        tgt_fields.append("wins")
    t = (t.withColumn("src_x", F.call_function(
             "shiftright", F.col("x"), F.col("z") - F.col("src_z")).cast("long"))
         .withColumn("src_y", F.call_function(
             "shiftright", F.col("y"), F.col("z") - F.col("src_z")).cast("long")))

    def fan_clip(tt: DataFrame, kout: str) -> DataFrame:
        if not single:
            tt = _checked(tt)
        tgrp = (tt.groupBy(addr.alias("addr"))
                .agg(F.collect_list(F.struct(*tgt_fields)).alias("tgts")))
        return _fan_clip(fgrp.join(tgrp, on="addr"), features.schema,
                         tt.schema, kout)

    if out == "rows":
        tile_cols = [c for c in targets.columns if c in _TILE_LEVEL_COLS]
        return (fan_clip(t, "rows")
                .select(*_SRC_KEYS, *tile_cols, F.inline("feats"))
                .select(*_relational_order(features, tile_cols)))
    if single:
        return fan_clip(t, "tiles")
    # a target whose winners all lie in one source group encodes whole in
    # the kernel; the rest leave it as rows and encode once per target.
    # Both halves read the one features exchange (Spark reuses it).
    one = F.size("win_zooms") == 1
    return fan_clip(t.filter(one), "tiles").unionByName(encode_tiles(
        fan_clip(t.filter(~one), "rows")
        .select(*_TILE_LEVEL_COLS, F.inline("feats"))))


def _relational_order(features: DataFrame, tile_cols: list[str]) -> list[str]:
    """``composite``'s column order: the first-wins semi-join keys, then
    the ancestor join's source keys, feature and target columns."""
    keys = ["z", "x", "y", "layer", "tile_idx"]
    joined = _SRC_KEYS + [c for c in features.columns
                          if c not in _SRC_KEYS] + tile_cols
    return keys + [c for c in joined if c not in keys]


def _fan_clip(packed: DataFrame, feat_schema: T.StructType,
              tgt_schema: T.StructType, out: str) -> DataFrame:
    """The fan/clip kernel over source groups: one mapInArrow.

    Each input row is one source group: ``addr`` (its source address),
    ``feats`` (the group's features) and ``tgts`` (the targets drawing
    from it). Per (group, target) the kernel selects the live features —
    the target's winner list when the targets carry ``wins``, else
    group-local first-wins plus the target's keep-list — and applies the
    envelope prune, then runs the shared clip kernel
    (``_overzoom_clip_batches``) on the pairs.

    ``out`` picks the output: ``"tiles"`` whole encoded tiles (every
    target in one group), ``"rows"`` one packed row per
    (group, target) — source keys, the target's ORIGINAL tile-level
    values (nulls kept) and the clipped feature structs — for a JVM-side
    ``inline``."""
    from ..sources import mvt_vec

    data_fields = [f for f in feat_schema.fields if f.name not in _SRC_KEYS]
    data_cols = [f.name for f in data_fields]
    head = list(_TILE_LEVEL_COLS)
    rows = out == "rows"
    kernel_names = data_cols + head + _KERNEL_HELPER_COLS \
        + (["tile_ord"] if rows else [])
    clip_schema = pa.schema(
        [pa.field(f.name, _to_arrow(f.dataType)) for f in data_fields]
        + [pa.field("z", pa.int32()), pa.field("x", pa.int64()),
           pa.field("y", pa.int64()), pa.field("buffer_size", pa.int32()),
           pa.field("compress", pa.bool_())]
        + ([pa.field("tile_ord", pa.int64())] if rows else []))

    def ints(a):
        return a.to_numpy(zero_copy_only=False).astype(_I64)

    def kernel(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            foff, fvals = _norm_list(batch.column("feats"))
            toff, tvals = _norm_list(batch.column("tgts"))
            if int(foff[-1]) == 0:
                continue
            fcol = {f.name: fvals.field(i) for i, f in enumerate(fvals.type)}
            tcol = {f.name: tvals.field(i) for i, f in enumerate(tvals.type)}
            xo, xv = ints(fcol["xs"].offsets), ints(fcol["xs"].values)
            yo, yv = ints(fcol["ys"].offsets), ints(fcol["ys"].values)
            # per-feature bbox (xs always has >=1 vertex)
            bminx = np.minimum.reduceat(xv, xo[:-1])
            bmaxx = np.maximum.reduceat(xv, xo[:-1])
            bminy = np.minimum.reduceat(yv, yo[:-1])
            bmaxy = np.maximum.reduceat(yv, yo[:-1])
            ext = ints(fcol["extent"])
            ti = ints(fcol["tile_idx"])
            layer_codes, layer_dict = mvt_vec._dict_encode(fcol["layer"])
            nl = len(layer_dict)

            tz, tx, ty = ints(tcol["z"]), ints(tcol["x"]), ints(tcol["y"])
            # a NULL buffer_size would read as NaN→undefined int64 and
            # produce arbitrary prune bounds; fill for the conversion and
            # keep the null mask — the JVM envelope predicate evaluates
            # NULL for dz>0 rows and DROPS them
            tbuf_null = tcol["buffer_size"].is_null().to_numpy(
                zero_copy_only=False)
            tbuf = ints(tcol["buffer_size"].fill_null(0))
            tcmp = tcol["compress"].fill_null(False).to_numpy(
                zero_copy_only=False)
            win_lists = tcol["wins"].to_pylist() if "wins" in tcol else None
            keep_lists = tcol["keep_layers"].to_pylist() \
                if "keep_layers" in tcol else None
            tgt_group = np.repeat(np.arange(batch.num_rows, dtype=_I64),
                                  np.diff(toff))
            addr = batch.column("addr")
            tdz = tz - ints(addr.field("src_z"))[tgt_group]

            pair_feat: list[np.ndarray] = []
            pair_tgt: list[np.ndarray] = []
            for g in range(batch.num_rows):
                f0, f1 = int(foff[g]), int(foff[g + 1])
                if f0 == f1:
                    continue
                lc = layer_codes[f0:f1]
                if win_lists is None:
                    # first-wins per layer over the WHOLE source group: at
                    # one source zoom every target of the group sees the
                    # same feature set, so its winners are the group's
                    win = np.full(nl, np.iinfo(np.int64).max, _I64)
                    np.minimum.at(win, lc, ti[f0:f1])
                    alive0 = ti[f0:f1] == win[lc]
                for k in range(int(toff[g]), int(toff[g + 1])):
                    dz = int(tdz[k])
                    if dz > 0 and tbuf_null[k]:
                        continue  # NULL buffer fails the envelope predicate
                    if win_lists is None:
                        alive = alive0
                        keep = set(keep_lists[k] or ()) if keep_lists else None
                        if keep:
                            lmask = np.array([layer_dict[c] in keep
                                              for c in range(nl)], bool)
                            alive = alive & lmask[lc]
                    else:
                        # a feature is alive iff (layer, tile_idx) is this
                        # target's winner
                        wd = {w["layer"]: w["tile_idx"]
                              for w in (win_lists[k] or [])}
                        wt = np.array([wd.get(layer_dict[c], -1)
                                       for c in range(nl)], _I64)
                        alive = ti[f0:f1] == wt[lc]
                    if dz > 0:
                        zf = 1 << dz
                        e = ext[f0:f1]
                        dx = (tx[k] & (zf - 1)) * e
                        dy = (ty[k] & (zf - 1)) * e
                        lo, hi = -tbuf[k], e + tbuf[k]
                        alive = alive \
                            & (bmaxx[f0:f1] * zf - dx >= lo) \
                            & (bminx[f0:f1] * zf - dx <= hi) \
                            & (bmaxy[f0:f1] * zf - dy >= lo) \
                            & (bminy[f0:f1] * zf - dy <= hi)
                    sel = np.nonzero(alive)[0].astype(_I64) + f0
                    if len(sel):
                        pair_feat.append(sel)
                        pair_tgt.append(np.full(len(sel), k, _I64))
            if not pair_feat:
                continue
            pf = np.concatenate(pair_feat)
            pt = np.concatenate(pair_tgt)
            take = pa.array(pf, pa.int64())
            dz_arr = tdz[pt]
            zf_arr = np.int64(1) << dz_arr
            ext_p = ext[pf]
            cols = {n: fcol[n].take(take) for n in data_cols}
            cols["z"] = pa.array(tz[pt].astype(np.int32), pa.int32())
            cols["x"] = pa.array(tx[pt], pa.int64())
            cols["y"] = pa.array(ty[pt], pa.int64())
            cols["buffer_size"] = pa.array(tbuf[pt].astype(np.int32), pa.int32())
            cols["compress"] = pa.array(tcmp[pt], pa.bool_())
            cols["dz"] = pa.array(dz_arr.astype(np.int32), pa.int32())
            cols["disp_x"] = pa.array((tx[pt] & (zf_arr - 1)) * ext_p, pa.int64())
            cols["disp_y"] = pa.array((ty[pt] & (zf_arr - 1)) * ext_p, pa.int64())
            if rows:
                # pt indexes the batch-flattened target list: a batch-unique
                # (group, target) ordinal — the re-pack key
                cols["tile_ord"] = pa.array(pt, pa.int64())
            flat = pa.RecordBatch.from_arrays(
                [cols[n] for n in kernel_names], names=kernel_names)
            clipped = list(_overzoom_clip_batches(iter([flat]), clip_schema))
            if not clipped:
                continue
            ctbl = pa.Table.from_batches(clipped, schema=clip_schema)
            if not rows:
                yield _tiles_batch(mvt_vec.encode_tiles_table(ctbl))
                continue
            ords = ctbl.column("tile_ord").to_numpy(zero_copy_only=False)
            order = np.argsort(ords, kind="stable")
            tb = ctbl.take(pa.array(order, pa.int64())) \
                .combine_chunks().to_batches()[0]
            uniq, ucounts = np.unique(ords, return_counts=True)
            offs = np.zeros(len(uniq) + 1, np.int64)
            np.cumsum(ucounts, out=offs[1:])
            feats_out = pa.ListArray.from_arrays(
                pa.array(offs, pa.int32()),
                pa.StructArray.from_arrays(
                    [tb.column(n) for n in data_cols], names=data_cols))
            take_t = pa.array(uniq, pa.int64())
            take_g = pa.array(tgt_group[uniq], pa.int64())
            yield pa.RecordBatch.from_arrays(
                [addr.field(c).take(take_g) for c in _SRC_KEYS]
                + [tcol[c].take(take_t) for c in head] + [feats_out],
                names=_SRC_KEYS + head + ["feats"])

    if rows:
        schema = T.StructType(
            [feat_schema[c] for c in _SRC_KEYS]
            + [tgt_schema[c] for c in head]
            + [T.StructField("feats", T.ArrayType(T.StructType(data_fields)))])
    else:
        schema = _ENCODE_OUT_SCHEMA
    return packed.mapInArrow(kernel, schema=schema)


def composite(features: DataFrame, targets: DataFrame,
              src_zooms: list[int] | None = None) -> DataFrame:
    """Full composite pipeline, relational in/out.

    Output: one row per surviving feature keyed by target (z, x, y), with
    coordinates rewritten into the target tile's frame. Matches the
    reference's CompositeWorker::Execute semantics (src/vtcomposite.cpp:
    205-323) minus serialization (see ``encode_tiles``).

    ``src_zooms`` declares the feature zoom levels (sources at other zooms
    are ignored). One declared zoom takes the fast mode of
    ``_source_grouped`` (group-local first-wins, no winner pass); several
    or ``None`` run the keys-only winner pass. Both are lazy. Target
    columns other than z/x/y/buffer_size/keep_layers/compress are not
    carried.
    """
    return _source_grouped(features, targets, src_zooms, None, "rows")


def composite_packed(features: DataFrame, targets: DataFrame,
                     src_zooms: list[int] | None = None) -> DataFrame:
    """``composite`` (kept as a name)."""
    return composite(features, targets, src_zooms)


def composite_encode_tiles(features: DataFrame, targets: DataFrame,
                           src_zooms: list[int] | None = None) -> DataFrame:
    """Fused composite→encode: (z, x, y, tile:binary) with ONE python seam.

    The clip kernel and the multi-tile encoder
    (``mvt_vec.encode_tiles_table``) run in the same mapInArrow over source
    groups, so no intermediate feature row crosses the seam. Modes and
    ``src_zooms`` as in ``composite``. A target whose winners lie in one
    source group encodes whole there; a target drawing from several groups
    leaves the kernel as clipped rows that ``encode_tiles`` packs per
    target and encodes in one call (one extra shuffle of clipped rows and
    one more seam, paid only by those targets).

    Byte-identical to ``encode_tiles(composite(...))``.

    Targets must be UNIQUE per (z, x, y): duplicate keys with conflicting
    options are undefined.
    """
    return _source_grouped(features, targets, src_zooms, None, "tiles")


def overzoom_encode_tiles(features: DataFrame, targets: DataFrame,
                          src_zoom: int,
                          partitions: int | None = None) -> DataFrame:
    """``composite_encode_tiles`` for a declared single source zoom — the
    tileset-materialization shape (overzoom a z_s pyramid down). Targets
    above the source zoom yield nothing. ``partitions`` sets the feature
    shuffle's partition count."""
    return _source_grouped(features, targets, [src_zoom], partitions, "tiles")


def encode_tiles(composited: DataFrame) -> DataFrame:
    """S3/S4 terminal sink: (z, x, y, tile:binary).

    Deterministic feature order: input-tile order, then first-seen layer
    order, then feature order within layer (O3, src/vtcomposite.cpp:239,742).
    Compression per the `compress` flag with the empty-tile rule
    (src/vtcomposite.cpp:300-311).

    Tiles PACK to one nested row each (``_pack_tiles``) and cross
    mapInArrow in multi-tile batches; the MULTI-tile encoder
    (sources.mvt_vec.encode_tiles_table) amortizes the per-tile fixed
    numpy cost across the batch and the seam pays its per-row cost once
    per TILE, not per feature. One packed row = one tile, so a tile must
    fit in executor memory — like the reference, which encodes each
    target in one call; Arrow batch BYTES are capped by
    spark.sql.execution.arrow.maxBytesPerBatch (schema.get_spark).
    """
    from ..sources import mvt_vec

    packed = _pack_tiles(composited)
    tile_cols = [c for c in _TILE_LEVEL_COLS if c in packed.columns]
    flat_names = composited.columns

    def encode_packed(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            cols, total, _foff = _unpack_batch(batch, tile_cols)
            if total == 0:
                continue
            flat = pa.Table.from_arrays(
                [cols[n] for n in flat_names], names=flat_names)
            yield _tiles_batch(mvt_vec.encode_tiles_table(flat))

    return packed.mapInArrow(encode_packed, schema=_ENCODE_OUT_SCHEMA)
