"""Tiling benchmark: one workload per run, closed loop, one job at a time.

    python3 perfbench/run.py --workload tileset_overzoom --seed 1 \\
        --seconds 10 --trace 0

runs from the repository root, needs no fixture files and prints, as its
last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer table with ``--trace 1``. ``--all`` runs every workload in
turn (each in its own process) and prints one table. Details of every run
(job samples, output checks, input shape, host calibration, Spark
settings, spans) go to ``perfbench/_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT_DIR = os.path.join(BENCH, "_out")

# the first job pays for the Python workers' imports and the JVM's first
# compilations; the window's median absorbs the slower jobs after it
WARMUP_JOBS = 1

END_TO_END = {"job_s": "s", "tiles_per_s": "1/s", "peak_rss_mb": "MB",
              "setup_s": "s"}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _heap_size() -> str:
    """A heap that fits the host: a sixteenth of RAM, between 1 and 4 GiB,
    unless VTC_DRIVER_MEM is already set."""
    if os.environ.get("VTC_DRIVER_MEM"):
        return os.environ["VTC_DRIVER_MEM"]
    kb = int(open("/proc/meminfo").readline().split()[1])
    return f"{max(1, min(4, kb // (16 << 20)))}g"


def _session(app: str, work: str):
    """Local session on every core, every temporary path inside ``work``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM (the launcher's too) would write its perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["VTC_DRIVER_MEM"] = _heap_size()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    from vtcomposite_spark.schema import get_spark

    cores = _cores()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap is committed at start, so the JVM's resident size
        # does not follow the garbage collector's timing
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Xms{os.environ['VTC_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        "spark.sql.adaptive.coalescePartitions.minPartitionNum": str(cores),
        # keep every execution of the run for the traced status reads
        "spark.sql.ui.retainedExecutions": "100000",
    }
    spark = get_spark(app=app, master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    settings = {"master": f"local[{cores}]", "cores": cores,
                "shuffle_partitions": 2 * cores,
                "driver_memory": os.environ["VTC_DRIVER_MEM"], **conf}
    return spark, settings


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers ended."""
    from perfbench import obs

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = obs.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def _capture(fn, out: dict) -> None:
    try:
        out["value"] = fn()
    except Exception as e:  # re-raised by the caller after join
        out["error"] = e


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import shutil

    from perfbench import obs
    from perfbench.workloads import (LAYER_METRICS, WORKLOADS, Check,
                                     Context, reset_dir)

    tag = f"{workload}-seed{seed}-trace{int(trace)}"
    work = os.path.join(BENCH, "_work", f"{tag}-{os.getpid()}")
    reset_dir(work)
    calib_before = obs.calibration_stamp()

    tracer = obs.Tracer(enabled=False)
    ctx = Context(seed, work, tracer)
    wl = WORKLOADS[workload](ctx)
    t_setup = time.perf_counter()
    # inputs that need no Spark are written while the JVM starts
    prep: dict = {}
    thread = threading.Thread(target=_capture, args=(wl.prepare, prep))
    thread.start()
    try:
        spark, settings = _session(f"perfbench-{workload}", work)
    finally:
        thread.join()
    try:
        setup_parts = {"session_s": time.perf_counter() - t_setup}
        if "error" in prep:
            raise prep["error"]
        ctx.bind(spark)
        t0 = time.perf_counter()
        shape = {**prep["value"], **wl.generate()}
        setup_parts["generate_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        expected = wl.job()  # warm-up; its result is the reference
        for _ in range(WARMUP_JOBS - 1):
            if wl.job() != expected:
                raise RuntimeError("warm-up jobs disagree")
        setup_parts["warmup_job_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup
        print(f"input source: synthesized in-run from seed {seed} "
              f"(perfbench.synth / sources.pages.synthesize_pages); "
              f"no fixture files", flush=True)

        samples = []
        with obs.PeakRss(spark.sparkContext._gateway.proc.pid) as rss:
            deadline = time.perf_counter() + seconds
            # no job starts that would end past the window by its median,
            # but the median is of two untraced jobs at least
            while (len(samples) < 2 + 2 * trace
                   or time.perf_counter() + statistics.median(
                       s["s"] for s in samples) <= deadline):
                # the traced run interleaves untraced and traced jobs as
                # U T T U ..., so the tracing overhead is measured in the
                # same window and a linear speed-up of the warming JVM
                # cancels out
                tracer.enabled = trace and len(samples) % 4 in (1, 2)
                t0 = time.perf_counter()
                try:
                    with tracer.span("job"):
                        result = wl.job()
                    ok = result == expected
                except Exception as e:  # a failed job is counted, not fatal
                    result, ok = {"error": repr(e)}, False
                samples.append({"s": time.perf_counter() - t0, "ok": ok,
                                "traced": tracer.enabled,
                                **(wl.units(result) if ok else {})})
        tracer.enabled = False
        if trace:
            ctx.attach_status()

        check = Check()
        t0 = time.perf_counter()
        try:
            wl.verify(expected, check, deep=trace)
        except Exception as e:
            check("output checks ran to the end", False, repr(e))
        verify_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        layers = wl.layers() if trace else {}
        layers_s = time.perf_counter() - t0
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    calib_after = obs.calibration_stamp()

    plain = [s for s in samples if not s["traced"]]
    good = [s for s in plain if s["ok"]]
    busy = sum(s["s"] for s in good) or float("inf")  # no good job: 0/s
    failed = sum(not s["ok"] for s in samples) \
        + sum(not ok for _, ok, _ in check.results)
    attempted = len(samples) + len(check.results)
    e2e = {
        "job_s": statistics.median(s["s"] for s in plain),
        "tiles_per_s": sum(s["tiles"] for s in good) / busy,
        # pages on pages_geotile (pages_per_s), decoded source features on
        # the tile workloads; sidecar only: on a fixed input it is a fixed
        # multiple of tiles_per_s
        "input_rows_per_s": sum(s["inputs"] for s in good) / busy,
        "peak_rss_mb": rss.peak / 1e6,
        "setup_s": setup_s,
    }
    if trace:
        traced = [s["s"] for s in samples if s["traced"]]
        layers["trace.overhead_frac"] = (
            statistics.median(traced) / e2e["job_s"] - 1 if traced else 0.0)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}

    os.makedirs(OUT_DIR, exist_ok=True)
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "metrics": metrics, "end_to_end": e2e,
        "setup_parts": setup_parts, "verify_s": verify_s,
        "layers_s": layers_s,
        "fail_frac": failed / attempted, "jobs": len(samples),
        "job_samples": samples, "expected": expected,
        "checks": check.results, "input_shape": shape,
        "calibration": {"before": calib_before, "after": calib_after},
        "spark": settings,
    }
    if trace:
        detail["span_self_s"] = tracer.self_seconds()
        tracer.write(os.path.join(OUT_DIR, f"{tag}.spans.jsonl"))
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)

    for name, ok, why in check.results:
        if not ok:
            print(f"CHECK FAILED: {name} {why}", flush=True)
    print(f"jobs {len(samples)} (untraced {len(plain)}), checks "
          f"{len(check.results)}, fail_frac {failed / attempted:.4f}, "
          f"calibration alu_1core_sec {calib_before['alu_1core_sec']:.3f}"
          f"/{calib_after['alu_1core_sec']:.3f} mem_8core_sec "
          f"{calib_before['mem_8core_sec']:.3f}"
          f"/{calib_after['mem_8core_sec']:.3f}", flush=True)
    for k, m in metrics.items():
        print(f"  {workload:20s} {k:34s} {m['value']:14.6g} {m['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload in its own process; one table on stdout, and with
    ``--trace 1`` the layer table in perfbench/_out/layers.md too."""
    from perfbench.workloads import WORKLOADS

    results = {}
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(trace))],
            cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            print(f"{name}: exit code {p.returncode}")
            return 1
        results[name] = json.loads(p.stdout.strip().splitlines()[-1])
    names = list(results)
    rows = [f"| metric | unit | {' | '.join(names)} |",
            "|---|---|" + "---|" * len(names)]
    for k, m in results[names[0]]["metrics"].items():
        vals = " | ".join(f"{results[n]['metrics'][k]['value']:.6g}"
                          for n in names)
        rows.append(f"| {k} | {m['unit']} | {vals} |")
    rows.append("| fail_frac | ratio | " + " | ".join(
        f"{results[n]['failed'] / results[n]['attempted']:.4g}"
        for n in names) + " |")
    print("\n".join(rows))
    if trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, "layers.md"), "w") as f:
            f.write("\n".join(rows) + "\n")
    return 0 if all(r["correct"] for r in results.values()) else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true",
                    help="run every workload, one process each")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import vtcomposite_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.all:
        return run_all(args.seed, args.seconds, bool(args.trace))
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
