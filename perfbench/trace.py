"""Tracing for the benchmark: spans, Spark SQL metrics, worker memory.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them as JSON once, at the end of a run.
- ``SqlMetrics`` reads Spark's own per-operator SQL metrics and per-task
  durations from the driver's status stores after each action — from
  outside the program, without touching the package.
- ``worker_peak_rss_mb`` reads the peak resident set (VmHWM) of the Python
  worker processes Spark forked.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder. ``span`` nests: the enclosing open span is
    the new span's parent. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = ""

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# --------------------------------------------------------- Spark SQL metrics

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> its total in base units (bytes,
    seconds, counts). Multi-task values read 'total (min, med, max
    (stageId: taskId))\\n<total> (<min>, ...)'; single values read
    '<total>'."""
    m = _NUM.search(text.split("\n", 1)[-1])
    return float(m[1].replace(",", "")) * _UNITS.get(m[2], 1.0) if m else 0.0


class SqlMetrics:
    """Reads the SQL status store (per-operator metrics of each execution,
    over the final adaptive plan including its query stages) and the app
    status store (task durations per stage)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = self.sc.statusStore()
        self.mark()

    def _executions(self) -> list:
        lst = self.sql.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def mark(self) -> None:
        """Forget every execution so far; ``collect`` reports only later
        ones."""
        self.sc.listenerBus().waitUntilEmpty(30_000)
        self._seen = {e.executionId() for e in self._executions()}

    def collect(self) -> dict:
        """Operator metrics and task durations of every execution since the
        last ``mark``/``collect``: {"nodes": [(node, metric, total)],
        "stages": [[task seconds] per stage that ran, by stage id]}."""
        self.sc.listenerBus().waitUntilEmpty(30_000)
        nodes, stages = [], []
        for e in self._executions():
            eid = e.executionId()
            if eid in self._seen:
                continue
            self._seen.add(eid)
            values = self.sql.executionMetrics(eid)
            it = self.sql.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                node = it.next()
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        nodes.append((node.name(), m.name(),
                                      parse_metric(v.get())))
            sit = e.stages().iterator()
            while sit.hasNext():
                sid = sit.next()
                stages.append((sid, self._task_seconds(sid)))
        return {"nodes": nodes,
                "stages": [t for _, t in sorted(stages) if t]}

    def _task_seconds(self, stage_id) -> list[float]:
        try:
            sd = self.app.lastStageAttempt(stage_id)
        except Py4JJavaError:      # stage never ran (skipped / reused)
            return []
        tl = self.app.taskList(stage_id, sd.attemptId(), 1_000_000)
        out = []
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                out.append(d.get() / 1000.0)
        return out


def node_sum(m: dict, node_prefix: str, metric: str) -> float:
    """Total of ``metric`` over nodes whose name starts with
    ``node_prefix``."""
    return sum(v for n, k, v in m["nodes"]
               if n.startswith(node_prefix) and k == metric)


def merge(samples: list[dict]) -> dict:
    return {"nodes": [x for s in samples for x in s["nodes"]],
            "stages": [x for s in samples for x in s["stages"]]}


def task_skew(m: dict) -> float:
    """max / median task time of the busiest stage (largest summed task
    time) among stages with at least two tasks; 1.0 when none."""
    multi = [s for s in m["stages"] if len(s) >= 2]
    if not multi:
        return 1.0
    busiest = max(multi, key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 1.0


# ---------------------------------------------------------- worker memory

def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, over every process."""
    tree: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(d))
    return tree


def descendants(pid: int | None = None) -> list[int]:
    """Every live process descended from ``pid`` (default: this one)."""
    tree = _children()
    todo, out = list(tree.get(pid or os.getpid(), [])), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(tree.get(p, []))
    return out


def _vm_mb(pid, field: str = "VmHWM") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_mb(fn, *args) -> float:
    """How far this process's resident high-water mark rises above its
    resident set during one call, in MB. The mark is reset first through
    /proc/self/clear_refs. Unlike tracemalloc this adds no per-allocation
    cost, which matters for the pure-Python decoders."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    rss0 = _vm_mb("self", "VmRSS")
    fn(*args)
    return _vm_mb("self") - rss0


def worker_peak_rss_mb() -> float:
    """Max VmHWM (peak resident set) over live Python worker processes
    (``pyspark.daemon`` and the workers it forks) descended from this
    process; 0.0 when none is alive."""
    peak = 0.0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                peak = max(peak, _vm_mb(pid))
        except OSError:
            continue
    return peak
