"""Spark-free replay of the codec and geometry kernels on a workload's own
inputs: decode (``sources.mvt``, ``sources.ingest``), the composite clip
kernel (``operators.composite._overzoom_clip_batches``, which calls
``geometry`` and ``polyclip``) and the multi-tile encoder (``mvt_vec``).

The rows the clip kernel sees are built once by the engine's own generic
composite plan (ancestor join, keep-list, first-wins, envelope prune and
the dz/displacement columns) and collected to Arrow. Each kernel is then
timed on them through its function, one core, no Spark around it, so a
kernel change shows here without Spark's scheduling noise (devUDF, run the
UDF kernel outside the engine).
"""

from __future__ import annotations

import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc

from vtcomposite_spark.operators import composite as C
from vtcomposite_spark.sources import ingest, mvt, mvt_vec

# geometry type → the metric that times the clip kernel on its rows
_CLIP_METRICS = {1: None, 2: "geometry.clip_lines_s", 3: "polyclip.clip_s"}


def clip_input(features, targets) -> pa.Table:
    """The clip kernel's input rows for ``targets`` over ``features``
    (both DataFrames), as the generic composite plan feeds them."""
    j = C.apply_keep_layers(C.ancestor_join(features, targets))
    return C._overzoom_prep(C.first_wins(j)).drop("keep_layers").toArrow()


def kernel_replay(tiles: list[tuple[int, int, int, bytes]],
                  rows: pa.Table) -> dict:
    """Times each kernel once over the whole workload input; ``tiles`` in
    the result holds the encoded output, [(z, x, y, bytes)].

    ``tiles``: the source tiles, [(z, x, y, bytes)]; ``rows``: their
    ``clip_input`` for the workload's targets."""
    per_tile = []
    for _, _, _, buf in tiles:
        t0 = time.perf_counter()
        mvt.decode_tile(buf)
        per_tile.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    features = len(ingest.feature_rows([(b, z, x, y) for z, x, y, b in tiles]))
    feature_rows_s = time.perf_counter() - t0

    out_schema = pa.schema([f for f in rows.schema
                            if f.name not in C._KERNEL_HELPER_COLS])
    times, clipped = {}, []
    for gt, metric in _CLIP_METRICS.items():
        sel = rows.filter(pc.equal(rows["geom_type"], gt)).to_batches()
        t0 = time.perf_counter()
        clipped += C._overzoom_clip_batches(iter(sel), out_schema)
        if metric:
            times[metric] = time.perf_counter() - t0
    # the encoder's first-seen orders are input-tile then feature order
    tbl = pa.Table.from_batches(clipped, out_schema).sort_by(
        [(k, "ascending") for k in ("z", "x", "y", "tile_idx",
                                    "feature_idx")])
    t0 = time.perf_counter()
    encoded = mvt_vec.encode_tiles_table(tbl)
    times["mvt_vec.encode_s"] = time.perf_counter() - t0
    times.update({
        "mvt.decode_tile_ms": 1e3 * statistics.median(per_tile),
        "ingest.us_per_feature": 1e6 * feature_rows_s / max(features, 1),
        "features": features,
        "pairs": rows.num_rows,
        "tiles": encoded,
    })
    return times
