"""Self-tests of the benchmark (not part of the engine's tier-1 suite):

    python3 -m pytest perfbench/test_perfbench.py -q

They check that the synthesizer is deterministic per seed, that the metric
names agree with BENCHMARK.json, that the SQL metric parser reads Spark's
formats, and that a tiny run of every workload passes its output checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import obs, synth  # noqa: E402
from perfbench.run import END_TO_END  # noqa: E402
from perfbench.workloads import LAYER_METRICS, WORKLOADS  # noqa: E402
from vtcomposite_spark.sources import ingest, mvt  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_synth_is_deterministic_per_seed():
    a = synth.synth_tile(7, 8, 10, 20)
    assert a == synth.synth_tile(7, 8, 10, 20)
    assert a != synth.synth_tile(8, 8, 10, 20)
    assert a != synth.synth_tile(7, 8, 11, 20)


def test_synth_shape_matches_the_fixed_parameters():
    stats = synth.TileStats()
    tiles = [(8, x, 7, synth.synth_tile(3, 8, x, 7, stats)) for x in (0, 1)]
    s = stats.summary()
    assert s["features_per_tile"] == synth.SHAPE["features_per_tile"]
    assert s["v1_share"] == pytest.approx(synth.SHAPE["v1_share"], abs=0.01)
    assert s["hole_share"] == pytest.approx(synth.SHAPE["hole_share"],
                                            abs=0.06)
    assert set(s["prop_values_by_type"]) == {
        "string", "float", "double", "int", "uint", "sint", "bool"}
    rows = ingest.feature_rows([(b, z, x, y) for z, x, y, b in tiles],
                               keep_malformed=True)
    assert len(rows) == stats.features
    # every polygon opens with an exterior ring; holes decode as interior
    polys = [r["ring_types"] for r in rows if r["geom_type"] == 3]
    assert all(rt[0] == 1 for rt in polys)
    assert any(2 in rt for rt in polys)
    assert {lay.version for lay in mvt.decode_tile(tiles[0][3])} == {1, 2}


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_METRICS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("text,kind,value", [
    ("total (min, med, max (stageId: taskId))\n5.5 s (1.3 s, 1.3 s, 1.6 s "
     "(stage 86.0: task 143))", "timing", 5.5),
    ("1895.3 KiB", "size", 1895.3 * 1024),
    ("total (min, med, max (stageId: taskId))\n8.3 MiB (2.1 MiB, 2.1 MiB, "
     "2.1 MiB (stage 86.0: task 145))", "size", 8.3 * (1 << 20)),
    ("12,800", "sum", 12800),
    ("0 ms", "timing", 0.0),
])
def test_parse_metric(text, kind, value):
    assert obs.parse_metric(text, kind) == pytest.approx(value)


def test_span_self_time():
    tr = obs.Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    inner = tr.spans[1]
    assert inner["parent"] == 0 and inner["run_id"] == tr.run_id
    outer = tr.spans[0]
    self_s = tr.self_seconds()
    assert self_s["outer"] == pytest.approx(
        outer["end"] - outer["start"] - (inner["end"] - inner["start"]))


def test_peak_rss_sees_a_peak_inside_the_window():
    with obs.PeakRss(os.getpid()) as rss:
        block = bytearray(64 << 20)
        del block
    assert rss.peak >= 64 << 20


def _api_tiles(spark, tiles, t, keep):
    from vtcomposite_spark import api

    srcs = [{"buffer": b, "z": z, "x": x, "y": y,
             **({"layers": keep} if keep else {})} for z, x, y, b in tiles
            if (t["x"] >> (t["z"] - z), t["y"] >> (t["z"] - z)) == (x, y)]
    return api.composite(srcs, {"z": t["z"], "x": t["x"], "y": t["y"]},
                         {"buffer_size": t["buffer_size"]}, spark=spark)


@pytest.mark.parametrize("case", ["single_zoom", "multizoom_keep_list"])
def test_replay_encodes_the_engine_bytes(case):
    """The kernel replay clips and encodes like the engine: its tiles equal
    api.composite's for the same request, on one zoom and on two zooms
    with overlapping layer names and a keep-list (cross-zoom first-wins)."""
    from perfbench import replay
    from vtcomposite_spark.schema import TARGETS_SCHEMA, get_spark
    from vtcomposite_spark.sources.ingest import features_from_tiles_df

    if case == "single_zoom":
        tiles = [(8, 40, 90, synth.synth_tile(5, 8, 40, 90))]
        keep = None
        targets = [dict(z=9, x=80 + i % 2, y=180 + i // 2, buffer_size=128)
                   for i in range(4)]
    else:
        tiles = [(7, 20, 45, synth.synth_tile(5, 7, 20, 45)),
                 (8, 41, 90, synth.synth_tile(5, 8, 41, 90))]
        keep = sorted(set(n for ns in synth.SHAPE["layers"].values()
                          for n in ns) - {"landuse"})
        targets = [dict(z=10, x=164 + i, y=360 + i, buffer_size=64)
                   for i in range(3)]
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    try:
        feats = features_from_tiles_df(spark.createDataFrame(
            tiles, "z int, x long, y long, tile binary"))
        tdf = spark.createDataFrame(
            [(t["z"], t["x"], t["y"], t["buffer_size"], keep, False)
             for t in targets], TARGETS_SCHEMA)
        got = {(z, x, y): b for z, x, y, b in replay.kernel_replay(
            tiles, replay.clip_input(feats, tdf))["tiles"]}
        for t in targets:
            want = _api_tiles(spark, tiles, t, keep)
            assert got.get((t["z"], t["x"], t["y"]), b"") == want, t
    finally:
        spark.stop()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_passes_output_checks(workload):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "11", "--seconds", "1",
         "--trace", "0"], cwd=ROOT, capture_output=True, text=True,
        timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, p.stdout
    assert set(out["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())
