"""The benchmark's workloads. Each one generates its own inputs from the
seed, runs one complete job per call with the plan rebuilt from the input
tables, checks its outputs, and splits itself into layers for the traced
run (noop-sink prefixes plus the SQL status store, and the kernel replay).

Why each workload exists is written in README.md beside this file.
"""

from __future__ import annotations

import contextlib
import gzip
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from vtcomposite_spark import api
from vtcomposite_spark.operators.cells import encode_cells, tile_pixels
from vtcomposite_spark.operators.composite import (composite_encode_tiles,
                                                   composite_packed,
                                                   composite_points,
                                                   encode_tiles)
from vtcomposite_spark.operators.joins import knn_join, pip_join
from vtcomposite_spark.operators.localize import localize
from vtcomposite_spark.sources import mvt
from vtcomposite_spark.sources.ingest import features_from_tiles_df
from vtcomposite_spark.sources.pages import (extract_geotags, extract_text,
                                             geo_cols, synthesize_pages)
from vtcomposite_spark.sources.tables import (read_tiles_zrange,
                                              write_tiles_zordered)

from . import obs, replay, synth

# per-layer metrics of the traced run; a layer a workload does not run
# reports 0
LAYER_METRICS = {
    "ingest.decode_s": "s", "ingest.features_out": "count",
    "ingest.us_per_feature": "us", "mvt.decode_tile_ms": "ms",
    "composite.s": "s", "composite.shuffle_mb": "MB",
    "composite.shuffle_records": "count", "composite.seam_in_mb": "MB",
    "composite.seam_out_mb": "MB", "composite.py_worker_s": "s",
    "composite.jobs": "count", "composite.tiles_out": "count",
    "composite.nonempty_frac": "ratio", "composite.task_skew": "ratio",
    "polyclip.clip_s": "s", "geometry.clip_lines_s": "s",
    "mvt_vec.encode_s": "s",
    "localize.s": "s", "localize.drop_frac": "ratio", "encode.s": "s",
    "tables.write_s": "s", "tables.write_mb": "MB",
    "tables.zrange_read_s": "s",
    "pages.extract_text_s": "s", "pages.extract_geotags_s": "s",
    "pages.seam_in_mb": "MB", "cells.encode_s": "s", "joins.pip_s": "s",
    "joins.knn_s": "s", "joins.pip_candidates_per_match": "ratio",
    "trace.overhead_frac": "ratio",
}

PREFIX_REPS = 2  # noop-sink timings per plan stage; the median is kept


class Context:
    """What a workload needs from the run: the session, the seed, a work
    directory inside the checkout, the tracer and the status store."""

    def __init__(self, seed: int, work_dir: str, tracer: obs.Tracer):
        self.seed = seed
        self.work = work_dir
        self.tracer = tracer
        self.spark = self.status = None

    def bind(self, spark) -> None:
        """Attach the session once it is up (inputs that need no Spark
        are prepared while it starts)."""
        self.spark = spark
        self.status = obs.SqlStatus(spark)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def dir(self, name: str) -> str:
        path = self.path(name)
        os.makedirs(path, exist_ok=True)
        return path

    @contextlib.contextmanager
    def span(self, name: str):
        """A span that also labels its Spark jobs with the span id, so the
        status store's executions can be attributed after the run."""
        with self.tracer.span(name) as sp:
            if sp is None:
                yield
                return
            self.spark.sparkContext.setJobDescription(f"{name}#{sp['id']}")
            try:
                yield
            finally:
                self.spark.sparkContext.setJobDescription(None)

    def action(self, name: str, fn):
        with self.span(name):
            return fn()

    def attach_status(self) -> None:
        """Fold the status store into the spans whose jobs it labelled,
        with the task-time spread of each span's slowest stage."""
        for desc, st in self.status.read_by_description().items():
            name, _, sid = (desc or "").rpartition("#")
            if name and sid.isdigit():
                st["task_skew"] = self.status.task_skew(st["stages"])
                self.tracer.spans[int(sid)]["sql"] = st


class Check:
    def __init__(self):
        self.results: list[tuple[str, bool, str]] = []

    def __call__(self, name: str, ok: bool, detail: str = "") -> None:
        self.results.append((name, bool(ok), detail))


def _prefix_table(ctx: Context, build, names: list[str],
                  reps: int = PREFIX_REPS) -> dict:
    """Noop-sink time and SQL status of each stage of one plan.

    ``build()`` returns one DataFrame per name, each the output of one
    more layer. The plan is built once per rep and the build is timed as
    ``plan``: eager jobs an API runs at call time land there. Every stage
    then recomputes from the input tables into the noop sink."""
    ctx.status.read()
    secs: dict[str, list[float]] = {n: [] for n in ["plan", *names]}
    table: dict[str, dict] = {}
    for _ in range(reps):
        t0 = time.perf_counter()
        dfs = build()
        secs["plan"].append(time.perf_counter() - t0)
        table["plan"] = ctx.status.read()  # one rep's counters; they repeat
        for name, df in zip(names, dfs):
            secs[name].append(obs.noop_seconds(df))
            table[name] = ctx.status.read()
    for name, st in table.items():
        st["s"] = float(np.median(secs[name]))
    return table


def _layer_delta(table: dict, cur: str, prev: str | None,
                 plus: str | None = None) -> dict:
    """A layer's self cost: its prefix minus the previous prefix, plus the
    eager work of the plan build when the layer is the one that runs it."""
    def d(k):
        return (table[cur][k] - (table[prev][k] if prev else 0.0)
                + (table[plus][k] if plus else 0.0))
    return {"s": d("s"), "seam_in_mb": d("seam_in_bytes") / 1e6,
            "seam_out_mb": d("seam_out_bytes") / 1e6,
            "py_worker_s": d("py_worker_s"),
            "shuffle_mb": d("shuffle_bytes") / 1e6,
            "shuffle_records": d("shuffle_records"),
            "jobs": d("jobs"),
            "stages": table[cur]["stages"]
            + (table[plus]["stages"] if plus else [])}


def _write_tiles(seed: int, addrs: list[tuple[int, int, int]],
                 path: str) -> dict:
    """Synthesize the tiles and write them as a (z, x, y, tile) parquet
    table; returns the measured input shape."""
    stats = synth.TileStats()
    tiles = [(z, x, y, synth.synth_tile(seed, z, x, y, stats))
             for z, x, y in addrs]
    pq.write_table(pa.table({
        "z": pa.array([t[0] for t in tiles], pa.int32()),
        "x": pa.array([t[1] for t in tiles], pa.int64()),
        "y": pa.array([t[2] for t in tiles], pa.int64()),
        "tile": pa.array([t[3] for t in tiles], pa.binary())}),
        os.path.join(path, "part-0.parquet"))
    return stats.summary()


def _write_targets(targets: list[dict], path: str) -> None:
    """Targets as a parquet table of ``schema.TARGETS_SCHEMA``."""
    pq.write_table(pa.table({
        "z": pa.array([t["z"] for t in targets], pa.int32()),
        "x": pa.array([t["x"] for t in targets], pa.int64()),
        "y": pa.array([t["y"] for t in targets], pa.int64()),
        "buffer_size": pa.array([t["buffer_size"] for t in targets],
                                pa.int32()),
        "keep_layers": pa.array([t["keep_layers"] for t in targets],
                                pa.list_(pa.string())),
        "compress": pa.array([t["compress"] for t in targets], pa.bool_())}),
        os.path.join(path, "part-0.parquet"))


def _tile_bounds_ok(buf: bytes, buffer: int, keep: set | None):
    """Decoded tile stays inside [-buffer, extent+buffer]² and carries only
    kept layers; returns (ok, detail)."""
    for layer in mvt.decode_tile(buf):
        if keep is not None and layer.name not in keep:
            return False, f"layer {layer.name} not kept"
        lo, hi = -buffer, layer.extent + buffer
        for f in layer.features:
            for part in f.parts:
                for x, y in part:
                    if not (lo <= x <= hi and lo <= y <= hi):
                        return False, f"({x},{y}) outside [{lo},{hi}]"
    return True, ""


class TilesetOverzoom:
    """z8 MVT tiles → decode → composite + encode every z9 child at
    buffer 128 (default routing) → count and byte sum."""

    name = "tileset_overzoom"
    SRC_Z, DZ, BUFFER = 8, 1, 128
    N_TILES = 4
    API_SAMPLES = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        rng = np.random.default_rng([ctx.seed, 1])
        side = 2
        x0, y0 = (int(v) * side for v in rng.integers(0, 100, 2))
        self.addrs = [(self.SRC_Z, x0 + i % side, y0 + i // side)
                      for i in range(self.N_TILES)]
        k = 1 << self.DZ
        self.targets = [dict(z=self.SRC_Z + self.DZ, x=x * k + i % k,
                             y=y * k + i // k, buffer_size=self.BUFFER,
                             keep_layers=None, compress=False)
                        for _, x, y in self.addrs for i in range(k * k)]
        self.tiles_path = ctx.dir("tiles")
        self.targets_path = ctx.dir("targets")

    def prepare(self) -> dict:
        _write_targets(self.targets, self.targets_path)
        return _write_tiles(self.ctx.seed, self.addrs, self.tiles_path)

    def generate(self) -> dict:
        return {}

    def _plan(self):
        spark = self.ctx.spark
        tiles = spark.read.parquet(self.tiles_path)
        feats = features_from_tiles_df(tiles)
        return feats, composite_encode_tiles(
            feats, spark.read.parquet(self.targets_path))

    def job(self) -> dict:
        with self.ctx.span("plan"):  # src_zooms="auto" is eager
            _, out = self._plan()
        r = self.ctx.action("composite_encode_tiles", lambda: out.agg(
            F.count("*"), F.sum(F.length("tile"))).collect()[0])
        return {"tiles": int(r[0]), "bytes": int(r[1] or 0)}

    def units(self, result: dict) -> dict:
        return {"tiles": result["tiles"],
                "inputs": len(self.addrs) * synth.SHAPE["features_per_tile"]}

    def verify(self, expected: dict, check: Check, deep: bool) -> None:
        spark = self.ctx.spark
        out = {(r.z, r.x, r.y): bytes(r.tile)
               for r in self._plan()[1].collect()}
        check("job totals equal the collected tiles",
              (len(out), sum(map(len, out.values())))
              == (expected["tiles"], expected["bytes"]))
        for key, buf in sorted(out.items()):
            ok, detail = _tile_bounds_ok(buf, self.BUFFER, None)
            check(f"tile {key} inside the buffered extent", ok, detail)
        src = {(z, x, y): bytes(t) for z, x, y, t in spark.read.parquet(
            self.tiles_path).select("z", "x", "y", "tile").collect()}
        rng = np.random.default_rng([self.ctx.seed, 2])
        for i in rng.choice(len(self.targets), self.API_SAMPLES,
                            replace=False):
            t = self.targets[int(i)]
            p = (self.SRC_Z, t["x"] >> self.DZ, t["y"] >> self.DZ)
            ref = api.composite(
                [{"buffer": src[p], "z": p[0], "x": p[1], "y": p[2]}],
                {"z": t["z"], "x": t["x"], "y": t["y"]},
                {"buffer_size": self.BUFFER}, spark=spark)
            check(f"tile {t['z']}/{t['x']}/{t['y']} equals api.composite",
                  out.get((t["z"], t["x"], t["y"]), b"") == ref)

    def layers(self) -> dict:
        ctx = self.ctx
        table = _prefix_table(ctx, self._plan, ["ingest", "composite"])
        comp = _layer_delta(table, "composite", "ingest", plus="plan")
        tiles_out = self._plan()[1].count()
        return {
            "ingest.decode_s": table["ingest"]["s"],
            "ingest.features_out": table["ingest"]["rows"].get(
                "MapInPandas", 0),
            **_composite_metrics(ctx, comp, tiles_out, len(self.targets)),
            **_replay_metrics(ctx, self.tiles_path, self.targets_path),
        }


def _composite_metrics(ctx, comp: dict, tiles_out: float,
                       n_targets: int) -> dict:
    return {
        "composite.s": comp["s"], "composite.shuffle_mb": comp["shuffle_mb"],
        "composite.shuffle_records": comp["shuffle_records"],
        "composite.seam_in_mb": comp["seam_in_mb"],
        "composite.seam_out_mb": comp["seam_out_mb"],
        "composite.py_worker_s": comp["py_worker_s"],
        "composite.jobs": comp["jobs"],
        "composite.tiles_out": tiles_out,
        "composite.nonempty_frac": tiles_out / max(n_targets, 1),
        "composite.task_skew": ctx.status.task_skew(comp["stages"]),
    }


def _replay_metrics(ctx, tiles_path: str, targets_path: str) -> dict:
    tiles = ctx.spark.read.parquet(tiles_path)
    src = [(z, x, y, bytes(t)) for z, x, y, t in
           tiles.select("z", "x", "y", "tile").collect()]
    rows = replay.clip_input(features_from_tiles_df(tiles),
                             ctx.spark.read.parquet(targets_path))
    r = replay.kernel_replay(src, rows)
    return {k: r[k] for k in ("mvt.decode_tile_ms", "ingest.us_per_feature",
                              "polyclip.clip_s", "geometry.clip_lines_s",
                              "mvt_vec.encode_s")}


class MultizoomLocalize:
    """z7 + z8 tiles with overlapping layer names → composite_packed to a
    sample of z10 targets (dz=2 from z8) with a keep-list and compress →
    localize → encode_tiles → write_tiles_zordered, then read_tiles_zrange
    of sampled z8 subtrees."""

    name = "multizoom_localize"
    BUFFER = 64
    N_TARGETS = 16
    DROPPED = "landuse"
    LANGUAGES, WORLDVIEWS = ["en", "de"], ["US"]

    def __init__(self, ctx: Context):
        self.ctx = ctx
        rng = np.random.default_rng([ctx.seed, 3])
        x7, y7 = (int(v) for v in rng.integers(0, 120, 2))
        self.z7 = (7, x7, y7)
        self.addrs = [self.z7] + [(8, 2 * x7 + i % 2, 2 * y7 + i // 2)
                                  for i in range(4)]
        layers = [n for names in synth.SHAPE["layers"].values() for n in names]
        self.keep = sorted({*layers, synth.SHAPE["v1_layer"]} - {self.DROPPED})
        cells = rng.choice(64, self.N_TARGETS, replace=False)
        self.targets = [dict(z=10, x=8 * x7 + int(c) % 8, y=8 * y7 + int(c) // 8,
                             buffer_size=self.BUFFER, keep_layers=self.keep,
                             compress=True) for c in sorted(cells)]
        self.subtrees = [self.addrs[1 + int(i)]
                         for i in rng.choice(4, 2, replace=False)]
        self.tiles_path = ctx.dir("tiles")
        self.targets_path = ctx.dir("targets")
        self.out_path = ctx.path("out_tiles")

    def prepare(self) -> dict:
        _write_targets(self.targets, self.targets_path)
        return _write_tiles(self.ctx.seed, self.addrs, self.tiles_path)

    def generate(self) -> dict:
        return {}

    def _stages(self):
        spark = self.ctx.spark
        feats = features_from_tiles_df(spark.read.parquet(self.tiles_path))
        rows = composite_packed(feats, spark.read.parquet(self.targets_path))
        loc = localize(rows, languages=self.LANGUAGES,
                       worldviews=self.WORLDVIEWS)
        return feats, rows, loc, encode_tiles(loc)

    def _read_back(self, z, x, y):
        return read_tiles_zrange(self.ctx.spark, self.out_path, z, x, y, 10)

    def job(self) -> dict:
        ctx = self.ctx
        with ctx.span("plan"):  # composite_packed runs eager jobs
            enc = self._stages()[3]
        ctx.action("write_tiles_zordered", lambda: write_tiles_zordered(
            enc, self.out_path, mode="overwrite"))
        # one action: the table's row count and both z-range read-backs
        out = ctx.spark.read.parquet(self.out_path).agg(
            F.count("*").alias("tiles"))
        for i, s in enumerate(self.subtrees):
            out = out.crossJoin(self._read_back(*s).agg(
                F.count("*").alias(f"n{i}"),
                F.sum(F.length("tile")).alias(f"b{i}")))
        r = ctx.action("read_tiles_zrange", lambda: out.collect()[0])
        return {"tiles": int(r["tiles"]),
                "readback": [(int(r[f"n{i}"]), int(r[f"b{i}"] or 0))
                             for i in range(len(self.subtrees))]}

    def units(self, result: dict) -> dict:
        return {"tiles": result["tiles"],
                "inputs": len(self.addrs) * synth.SHAPE["features_per_tile"]}

    def verify(self, expected: dict, check: Check, deep: bool) -> None:
        spark = self.ctx.spark
        written = {(r.z, r.x, r.y): bytes(r.tile) for r in
                   spark.read.parquet(self.out_path).collect()}
        check("job tile count equals the written rows",
              expected["tiles"] == len(written))
        for s, (n, nbytes) in zip(self.subtrees, expected["readback"]):
            back = {(r.z, r.x, r.y): bytes(r.tile)
                    for r in self._read_back(*s).collect()}
            want = {k: v for k, v in written.items()
                    if (k[1] >> 2, k[2] >> 2) == (s[1], s[2])}
            check(f"z-range read-back of {s} equals the written rows",
                  back == want and (n, nbytes) == (
                      len(want), sum(map(len, want.values()))))
        keep = set(self.keep)
        for key, buf in sorted(written.items()):
            ok, detail = _tile_bounds_ok(gzip.decompress(buf) if buf else buf,
                                         self.BUFFER, keep)
            check(f"tile {key} inside the buffered extent, layers kept",
                  ok, detail)
        if not deep:  # the API pair below costs as much as a job
            return
        src = {(z, x, y): bytes(t) for z, x, y, t in spark.read.parquet(
            self.tiles_path).select("z", "x", "y", "tile").collect()}
        rng = np.random.default_rng([self.ctx.seed, 4])
        t = self.targets[int(rng.integers(len(self.targets)))]
        p8 = (8, t["x"] >> 2, t["y"] >> 2)
        comp = api.composite(
            [{"buffer": src[a], "z": a[0], "x": a[1], "y": a[2],
              "layers": self.keep} for a in (self.z7, p8)],
            {"z": t["z"], "x": t["x"], "y": t["y"]},
            {"buffer_size": self.BUFFER}, spark=spark)
        ref = api.localize({"buffer": comp, "languages": self.LANGUAGES,
                            "worldviews": self.WORLDVIEWS, "compress": True},
                           spark=spark)
        check(f"tile {t['z']}/{t['x']}/{t['y']} equals api.composite + "
              "api.localize", written.get((t["z"], t["x"], t["y"])) == ref)

    def layers(self) -> dict:
        ctx = self.ctx
        # one rep: each plan build runs composite_packed's eager jobs
        table = _prefix_table(ctx, self._stages,
                              ["ingest", "composite", "localize", "encode"],
                              reps=1)
        comp = _layer_delta(table, "composite", "ingest", plus="plan")
        _, rows, loc, _ = self._stages()
        n_comp, n_loc = rows.count(), loc.count()
        # the traced jobs of the timed loop wrote and read the table
        spans = {n: [s["end"] - s["start"] for s in ctx.tracer.spans
                     if s["name"] == n] for n in ("write_tiles_zordered",
                                                   "read_tiles_zrange")}
        write_mb = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in
                       os.walk(self.out_path) for f in fs
                       if f.endswith(".parquet")) / 1e6
        tiles_out = ctx.spark.read.parquet(self.out_path).count()
        return {
            "ingest.decode_s": table["ingest"]["s"],
            "ingest.features_out": table["ingest"]["rows"].get(
                "MapInPandas", 0),
            **_composite_metrics(ctx, comp, tiles_out, len(self.targets)),
            "localize.s": _layer_delta(table, "localize", "composite")["s"],
            "localize.drop_frac": 1 - n_loc / max(n_comp, 1),
            "encode.s": _layer_delta(table, "encode", "localize")["s"],
            "tables.write_s": float(np.median(spans["write_tiles_zordered"]))
            - table["encode"]["s"],
            "tables.write_mb": write_mb,
            "tables.zrange_read_s": float(np.median(
                spans["read_tiles_zrange"])),
            **_replay_metrics(ctx, self.tiles_path, self.targets_path),
        }


SF_BOX = (37.75, -122.45, 37.77, -122.43)   # lat0, lon0, lat1, lon1


def _ring(lat0, lon0, lat1, lon1, clockwise=False):
    lat0, lon0, lat1, lon1 = map(float, (lat0, lon0, lat1, lon1))
    pts = [(lon0, lat0), (lon1, lat0), (lon1, lat1), (lon0, lat1), (lon0, lat0)]
    return pts[::-1] if clockwise else pts


class PagesGeotile:
    """Synthesized pages → extract_text and extract_geotags → encode_cells
    → pip_join and knn_join → composite_points to z10 targets."""

    name = "pages_geotile"
    N_PAGES = 40_000
    CELL_ZOOM, SRC_Z, TARGET_Z, BUFFER = 12, 8, 10, 128

    def __init__(self, ctx: Context):
        self.ctx = ctx
        # the seed offsets the id range; the window keeps the synthesizer's
        # distribution (>= 50% of geotagged pages in one z12 SF tile)
        self.offset = (ctx.seed * 7919) % (self.N_PAGES // 4)
        self.pages_path = ctx.path("pages")
        self.polys_path = ctx.dir("polys")
        self.sites_path = ctx.dir("sites")

    def prepare(self) -> dict:
        # polygons: the SF box with a hole, and three regions elsewhere
        lat0, lon0, lat1, lon1 = SF_BOX
        c_lat, c_lon = (lat0 + lat1) / 2, (lon0 + lon1) / 2
        rings = [_ring(*SF_BOX) + _ring(c_lat - 0.003, c_lon - 0.003,
                                        c_lat + 0.003, c_lon + 0.003, True)]
        rings += [_ring(a, b, a + 15, b + 25)
                  for a, b in [(-40, -60), (10, 20), (40, 100)]]
        pq.write_table(pa.table({
            "poly_id": pa.array(range(len(rings)), pa.int64()),
            "xs": pa.array([[p[0] for p in r] for r in rings],
                           pa.list_(pa.float64())),
            "ys": pa.array([[p[1] for p in r] for r in rings],
                           pa.list_(pa.float64())),
            "part_offsets": pa.array([[0, 5]] + [[0]] * (len(rings) - 1),
                                     pa.list_(pa.int32()))}),
            os.path.join(self.polys_path, "part-0.parquet"))
        rng = np.random.default_rng([self.ctx.seed, 5])
        lat = [*rng.uniform(-60, 60, 32), 37.76]
        lon = [*rng.uniform(-170, 170, 32), -122.44]
        pq.write_table(pa.table({
            "site_id": pa.array(range(len(lat)), pa.int64()),
            "lat": pa.array(lat, pa.float64()),
            "lon": pa.array(lon, pa.float64())}),
            os.path.join(self.sites_path, "part-0.parquet"))
        return {"pages": self.N_PAGES, "id_offset": self.offset,
                "polygons": len(rings), "sites": len(lat)}

    def generate(self) -> dict:
        lo = f"https://example.org/{self.offset:08d}"
        hi = f"https://example.org/{self.offset + self.N_PAGES:08d}"
        (synthesize_pages(self.ctx.spark, self.offset + self.N_PAGES,
                          partitions=4)
         .filter((F.col("url") >= lo) & (F.col("url") < hi))
         .write.mode("overwrite").parquet(self.pages_path))
        return {}

    def _stages(self):
        spark = self.ctx.spark
        pages = spark.read.parquet(self.pages_path)
        text = extract_text(pages, keep=["url", "text"])
        geo = extract_geotags(pages, keep=["url", "lang"]) \
            .filter(F.col("lat").isNotNull())
        cells = encode_cells(geo, self.CELL_ZOOM)
        return pages, text, geo, cells

    def _joins(self, cells):
        spark = self.ctx.spark
        pip = pip_join(cells, spark.read.parquet(self.polys_path), zoom=8,
                       point_cols=["url"])
        knn = knn_join(cells.select("url", "lat", "lon"),
                       spark.read.parquet(self.sites_path), k=3,
                       point_id_col="url", zoom=3)
        return pip, knn

    def _composite(self, cells):
        src = tile_pixels(encode_cells(cells, self.SRC_Z), self.SRC_Z)
        feats = src.select(
            F.lit(0).alias("tile_idx"), F.lit(self.SRC_Z).alias("src_z"),
            F.col("tile_x").alias("src_x"), F.col("tile_y").alias("src_y"),
            F.lit("pages").alias("layer"), F.lit(2).alias("layer_version"),
            F.lit(4096).alias("extent"),
            F.pmod(F.xxhash64("url"), F.lit(1 << 30)).cast("int")
            .alias("feature_idx"),
            F.lit(None).cast("long").alias("feature_id"),
            F.lit(1).cast("byte").alias("geom_type"),
            F.array(F.col("px")).alias("xs"), F.array(F.col("py")).alias("ys"),
            F.array(F.lit(0)).alias("part_offsets"),
            F.array(F.lit(0).cast("byte")).alias("ring_types"),
            F.create_map(F.lit("lang"), F.col("lang")).alias("properties"))
        targets = encode_cells(cells, self.TARGET_Z) \
            .select("tile_x", "tile_y").distinct().select(
            F.lit(self.TARGET_Z).alias("z"), F.col("tile_x").alias("x"),
            F.col("tile_y").alias("y"), F.lit(self.BUFFER).alias("buffer_size"),
            F.lit(None).cast("array<string>").alias("keep_layers"),
            F.lit(False).alias("compress"))
        return composite_points(feats, targets), targets

    def job(self) -> dict:
        # one action: the five outputs are single-row aggregates joined
        # together, so their stages run concurrently over the geotagged
        # cells, materialized once
        ctx = self.ctx
        with ctx.span("plan"):
            _, text, _, cells = self._stages()
            cells = cells.persist()
            pip, knn = self._joins(cells)
            comp, _ = self._composite(cells)
            xy = (F.element_at("xs", 1), F.element_at("ys", 1))
            parts = [
                text.agg(F.count("*").alias("pages"),
                         F.sum((~F.col("extracted").eqNullSafe(F.col("text")))
                               .cast("int")).alias("text_mismatch")),
                cells.agg(F.count("*").alias("geotagged")),
                pip.agg(F.count("*").alias("pip")),
                knn.agg(F.count("*").alias("knn")),
                comp.agg(F.countDistinct("z", "x", "y").alias("tiles"),
                         F.count("*").alias("features"),
                         F.min(F.least(*xy)).alias("min_xy"),
                         F.max(F.greatest(*xy)).alias("max_xy"))]
            out = parts[0]
            for p in parts[1:]:
                out = out.crossJoin(p)
        try:
            r = ctx.action("pages_pipeline", lambda: out.collect()[0])
        finally:
            cells.unpersist()
        return {k: int(v or 0) for k, v in r.asDict().items()}

    def units(self, result: dict) -> dict:
        return {"tiles": result["tiles"], "inputs": result["pages"]}

    def verify(self, expected: dict, check: Check, deep: bool) -> None:
        spark = self.ctx.spark
        check("every page extracted", expected["pages"] == self.N_PAGES)
        check("text byte-identical per url", expected["text_mismatch"] == 0)
        tagged, _, _ = geo_cols("id")
        closed = spark.range(self.offset, self.offset + self.N_PAGES) \
            .filter(tagged).count()
        check("geotag count equals the closed form of sources.pages.geo_cols",
              expected["geotagged"] == closed,
              f"{expected['geotagged']} vs {closed}")
        check("point tiles inside the buffered extent",
              expected["min_xy"] >= -self.BUFFER
              and expected["max_xy"] <= 4096 + self.BUFFER)
        check("kNN returns k sites per point",
              expected["knn"] == 3 * expected["geotagged"])

    def layers(self) -> dict:
        ctx = self.ctx
        up = _prefix_table(ctx, self._stages,
                           ["scan", "text", "geotags", "cells"])
        cells = self._stages()[3].persist()
        try:
            cells.count()

            down = _prefix_table(
                ctx, lambda: [cells, *self._joins(cells),
                              self._composite(cells)[0]],
                ["cached", "pip", "knn", "composite"])
            comp_df, targets = self._composite(cells)
            n_targets = targets.count()
            tiles_out = comp_df.select("z", "x", "y").distinct().count()
        finally:
            cells.unpersist()
        comp = _layer_delta(down, "composite", "cached")
        n_pip = down["pip"]["rows"].get("MapInArrow", 0)
        cand = max((n for k, n in down["pip"]["rows"].items()
                    if "Join" in k), default=0)
        return {
            "pages.extract_text_s": _layer_delta(up, "text", "scan")["s"],
            "pages.extract_geotags_s":
                _layer_delta(up, "geotags", "scan")["s"],
            "pages.seam_in_mb": (up["text"]["seam_in_bytes"]
                                 + up["geotags"]["seam_in_bytes"]) / 1e6,
            "cells.encode_s": _layer_delta(up, "cells", "geotags")["s"],
            "joins.pip_s": _layer_delta(down, "pip", "cached")["s"],
            "joins.knn_s": _layer_delta(down, "knn", "cached")["s"],
            "joins.pip_candidates_per_match": cand / max(n_pip, 1),
            **_composite_metrics(ctx, comp, tiles_out, n_targets),
        }


WORKLOADS = {w.name: w for w in (TilesetOverzoom, PagesGeotile,
                                 MultizoomLocalize)}


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
