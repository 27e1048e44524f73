"""Measurement helpers of the benchmark, all from outside the engine.

* ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them when the run ends.
* ``SqlStatus`` reads Spark's SQL status store after each action and folds
  the new executions' operator metrics into per-layer sums.
* ``noop_seconds`` times one plan prefix into the ``noop`` sink.
* ``PeakRss`` sums the peak RSS of the JVM and Python workers.
* ``calibration_stamp`` is the host snapshot written beside every run.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time
import uuid


class Tracer:
    """In-memory spans; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_seconds(self) -> dict[str, float]:
        """Span self time summed by name: duration minus the part of it
        that direct child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = (out.get(s["name"], 0.0)
                                  + s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- SQL status store -------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str, kind: str) -> float:
    """A formatted SQL metric → number (bytes, seconds or a count).

    Spark formats aggregated metrics as ``total (min, med, max ...)`` on
    one line and the values on the next; the total is the first value."""
    line = text.strip().splitlines()[-1]
    m = _TOTAL.match(line)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if kind == "size":
        return num * _SIZE[unit]
    if kind in ("timing", "nsTiming"):
        return num * _TIME[unit]
    return num


# (operator name predicate, metric name) → key in the folded dict
_FOLD = [
    ("python", "data sent to Python workers", "seam_in_bytes"),
    ("python", "data returned from Python workers", "seam_out_bytes"),
    ("python", "time to run Python workers", "py_worker_s"),
    ("exchange", "shuffle bytes written", "shuffle_bytes"),
    ("exchange", "shuffle records written", "shuffle_records"),
]


def _op_class(name: str) -> str:
    if "Python" in name or "InPandas" in name or "InArrow" in name:
        return "python"
    if "Exchange" in name and "Reused" not in name:
        return "exchange"
    return "other"


class SqlStatus:
    """Reads the executions the SQL status store gained since the last
    read. The session must retain every execution of the run
    (``spark.sql.ui.retainedExecutions``), so offsets stay valid."""

    def __init__(self, spark):
        self._jvm_spark = spark._jsparkSession
        self._sc = spark.sparkContext
        self._offset = self._store().executionsCount()

    def _store(self):
        return self._jvm_spark.sharedState().statusStore()

    def _new(self):
        store = self._store()
        n = store.executionsCount()
        if n == self._offset:
            return store, []
        execs = store.executionsList(self._offset, n - self._offset)
        self._offset = n
        return store, [execs.apply(i) for i in range(execs.size())]

    def read(self) -> dict:
        """Fold the new executions: seam bytes and Python time, shuffle
        bytes and records, output rows per operator name, job count and
        stage ids."""
        store, execs = self._new()
        return _fold(store, execs)

    def read_by_description(self) -> dict[str, dict]:
        """``read`` grouped by execution description (the job description
        set while the action ran)."""
        store, execs = self._new()
        groups: dict[str, list] = {}
        for e in execs:
            groups.setdefault(e.description(), []).append(e)
        return {d: _fold(store, es) for d, es in groups.items()}

    def task_skew(self, stage_ids: list[int]) -> float:
        """max / median task duration of the slowest stage (by max task
        duration) among ``stage_ids``; 1.0 when no stage has tasks."""
        store = self._sc._jsc.sc().statusStore()
        gw = self._sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        best = (0.0, 1.0)
        for sid in set(stage_ids):
            summ = store.taskSummary(sid, 0, q)
            if not summ.isDefined():
                continue
            d = summ.get().duration()
            med, mx = float(d.apply(0)), float(d.apply(1))
            if mx > best[0]:
                best = (mx, mx / med if med > 0 else 1.0)
        return best[1]


def _fold(store, execs) -> dict:
    out = {k: 0.0 for _, _, k in _FOLD}
    out.update(jobs=0, executions=0, stages=[], rows={})
    for e in execs:
        eid = e.executionId()
        out["executions"] += 1
        out["jobs"] += e.jobs().size()
        it = e.stages().iterator()
        while it.hasNext():
            out["stages"].append(int(it.next()))
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            cls = _op_class(node.name())
            ms = node.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if m.name() == "number of output rows":
                    key = node.name().strip()
                    out["rows"][key] = (out["rows"].get(key, 0)
                                        + parse_metric(v.get(), "sum"))
                    continue
                for c, metric, key in _FOLD:
                    if c == cls and m.name() == metric:
                        out[key] += parse_metric(v.get(), m.metricType())
    return out


def noop_seconds(df) -> float:
    """Wall seconds to compute ``df`` into the no-op sink."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# --- process tree RSS -------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) << 10
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak RSS of process ``root`` and its descendants (the JVM and the
    Python workers it forks) over a ``with`` block: the kernel's per-process
    high-water marks are reset when the block opens and summed when it
    closes. A sum of per-process peaks, exact where sampling would miss
    short peaks."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0

    def _pids(self) -> list[int]:
        return [self.root, *descendants(self.root)]

    def __enter__(self):
        for pid in self._pids():
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
        return self

    def __exit__(self, *exc):
        self.peak = sum(_vm_hwm_bytes(pid) for pid in self._pids())


# --- host calibration -------------------------------------------------------

def _membound(a):
    for _ in range(4):
        a = a * 1.000001 + 0.5
    return float(a[0])


def calibration_stamp() -> dict:
    """The stamps of ``bench.py``'s sidecar: a single-core ALU loop, an
    8-way memory-bandwidth pass and the load averages. The 8 ways are
    threads (numpy releases the interpreter lock on whole-array
    arithmetic), so the stamp starts no process."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    t0 = time.perf_counter()
    s = 0
    for i in range(4_000_000):
        s += i * i
    stamp = {"alu_1core_sec": time.perf_counter() - t0}
    arrays = [np.ones(2_000_000, np.float64) for _ in range(8)]
    with ThreadPoolExecutor(8) as pool:
        t0 = time.perf_counter()
        list(pool.map(_membound, arrays))
        stamp["mem_8core_sec"] = time.perf_counter() - t0
    with open("/proc/loadavg") as f:
        stamp["loadavg"] = [float(v) for v in f.read().split()[:3]]
    return stamp
