"""What the benchmark reads besides wall clocks: layer spans, Spark's
own status store and SQL metrics (through py4j, with the UI off), and
host controls from /proc.

Spans are kept in memory as (id, name, parent, start, end) and written
out once at the end. Each span sets its own Spark job group, so every
job Spark runs is attributed to the innermost open span; the status
store then gives each span its jobs, stages, shuffle bytes and busy
intervals.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder bound to one SparkContext; ``prefix``
    keeps the job groups of two tracers on one context apart."""

    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def group(self, span_id: int) -> str:
        return f"{self.prefix}-span-{span_id}"

    @contextmanager
    def span(self, name: str):
        sp = {"id": len(self.spans), "name": name,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "start": time.perf_counter(), "end": None, "epoch_ms": time.time() * 1e3}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(self.group(sp["id"]), name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            sp["epoch_end_ms"] = time.time() * 1e3
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(self.group(top["id"]), top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wall(self, sp: dict) -> float:
        return sp["end"] - sp["start"]

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def subtree_ids(self, sp: dict) -> set[int]:
        ids, todo = set(), [sp]
        while todo:
            s = todo.pop()
            ids.add(s["id"])
            todo.extend(self.children(s))
        return ids

    def coverage(self, sp: dict) -> float:
        """Share of a span's wall time covered by its child spans."""
        kids = [(k["start"], k["end"]) for k in self.children(sp)]
        return union_seconds(kids) / max(self.wall(sp), 1e-9)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def union_seconds(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ---------------------------------------------------------------------------
# Spark status store (jobs, stages, tasks) and SQL metrics
# ---------------------------------------------------------------------------


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkStatus:
    """Reads the driver's AppStatusStore / SQLAppStatusStore."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs_by_group(self) -> dict[str, list]:
        out: dict[str, list] = {}
        for j in _seq(self.store.jobsList(None)):
            g = _opt(j.jobGroup())
            if g is not None:
                out.setdefault(g, []).append(j)
        return out

    def stages(self, jobs) -> list:
        ids = sorted({int(s) for j in jobs for s in _seq(j.stageIds())})
        out = []
        for sid in ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # skipped stages have no attempt
                continue
            if _opt(st.submissionTime()) is not None:
                out.append(st)
        return out

    @staticmethod
    def stage_interval(st) -> tuple[float, float] | None:
        a, b = _opt(st.submissionTime()), _opt(st.completionTime())
        if a is None or b is None:
            return None
        return a.getTime() / 1e3, b.getTime() / 1e3

    def task_durations(self, st) -> list[float]:
        tasks = _seq(self.store.taskList(st.stageId(), st.attemptId(), 100000))
        return [t.duration().get() / 1e3 for t in tasks if t.duration().isDefined()]

    def max_execution_id(self) -> int:
        ex = self.sql.executionsList()
        return max((e.executionId() for e in _seq(ex)), default=-1)

    def python_node_metrics(self, lo: int, hi: int, node_re: str) -> dict[str, float]:
        """Summed SQL metrics of plan nodes matching ``node_re`` over
        executions with id in (lo, hi]. Values are parsed from Spark's
        formatted totals: sizes to MB, timings to seconds."""
        out: dict[str, float] = {}
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        for e in _seq(self.sql.executionsList()):
            eid = e.executionId()
            if not lo < eid <= hi:
                continue
            values = {int(k): v for k, v in conv.asJava(self.sql.executionMetrics(eid)).items()}
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                if not re.search(node_re, node.name()):
                    continue
                for m in _seq(node.metrics()):
                    v = values.get(int(m.accumulatorId()))
                    if v is not None:
                        out[m.name()] = out.get(m.name(), 0.0) + parse_metric(v)
        return out


_UNITS = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6,
          "TiB": 1024**4 / 1e6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "ns": 1e-9}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: sizes in MB, times in seconds,
    counts as is. Spark prints ``total (min, med, max ...)\\n<total> (...)``
    for per-task metrics and a bare number for counters."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    return val * _UNITS.get(m.group(2) or "", 1.0)


# ---------------------------------------------------------------------------
# /proc: memory and host controls
# ---------------------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(field + ":"):
                return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    parent = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                fields = (p / "stat").read_text().rsplit(")", 1)[1].split()
                parent[int(p.name)] = int(fields[1])
            except (OSError, IndexError):
                continue
    out, todo = [], [pid]
    while todo:
        q = todo.pop()
        kids = [c for c, pp in parent.items() if pp == q]
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus every
    process under it (the Python worker daemon and its workers)."""
    pids = [jvm_pid] + descendants(jvm_pid)
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def memcpy_gbps(mb: int = 64, reps: int = 7) -> float:
    """In-band memory-bandwidth control: median copy rate of an
    ``mb`` MB buffer, in GB/s."""
    src = np.ones(mb * 1024 * 1024 // 8)
    dst = np.empty_like(src)
    rates = []
    for _ in range(reps):
        t = time.perf_counter()
        np.copyto(dst, src)
        rates.append(src.nbytes / (time.perf_counter() - t) / 1e9)
    return statistics.median(rates)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (jiffies)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def dir_stats(path: Path) -> tuple[int, float]:
    """(data files, MB) under a directory, ignoring Spark's marker and
    checksum files."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size / 1e6
