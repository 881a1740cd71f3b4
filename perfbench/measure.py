"""Measurement helpers: percentiles, spans with self time, Spark's own
status-store counters, and process CPU time and memory from ``/proc``.

Spans are kept in memory and written once at exit. Counters are read
from Spark's status stores (jobs, stages, SQL plan metrics) after each
operation, so nothing is added inside the engine.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

TAIL_BEYOND = 10


def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it: the (n-10)-th smallest of n samples, the
    ``100*(n-10)/n`` percentile. ``None`` when n <= 10."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    k = n - TAIL_BEYOND
    return {"value": sorted(samples)[k - 1], "percentile": 100.0 * k / n, "n": n}


def summary(samples: list[float]) -> dict:
    """Median, tail (see ``tail``) and sample count."""
    return {
        "p50": statistics.median(samples) if samples else None,
        "tail": tail(samples),
        "n": len(samples),
    }


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it that its children cover
    (overlapping children are counted once)."""
    cover, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                cover += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        cover += cur_hi - cur_lo
    return (span.end - span.start) - cover


class Tracer:
    """In-memory span recorder. Disabled, ``span`` still times the block
    (callers need the duration) but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        s = Span(len(self.spans), name, time.time(), 0.0, self._stack[-1] if self._stack else None, op)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            if self.enabled:
                self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: Span, op: int | None) -> Span:
        """Record a span measured elsewhere (a Spark job, a micro-batch)."""
        s = Span(len(self.spans), name, start, end, parent.id, op)
        if self.enabled:
            self.spans.append(s)
        return s

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self_time(s, kids.get(s.id, []))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- Spark status stores ----------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'1,234'``, ``'12.0 MiB'`` or
    ``'total (min, med, max ...)\\n3.3 s (...)'``. Sizes come back in
    bytes, times in seconds."""
    line = text.split("\n")[-1].strip() if text.startswith("total") else text.strip()
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# SQL plan metrics summed per layer, by metric name
_SQL_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_b",
    "data returned from Python workers": "python.recv_b",
    "number of files read": "sources.files_read",
    "size of files read": "sources.bytes_read_b",
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^()]*?),(\d+),[A-Za-z]+\)")
_MAP_KEY = re.compile(r"(?:\(|, )(\d+) -> ")


def parse_metric_map(text: str) -> dict[int, str]:
    """``accumulator id -> formatted value`` from the ``toString`` of a
    Scala ``Map[Long, String]`` (one round trip instead of one per key)."""
    keys = list(_MAP_KEY.finditer(text))
    out = {}
    for k, nxt in zip(keys, keys[1:] + [None]):
        end = nxt.start() if nxt is not None else len(text) - 1
        out[int(k.group(1))] = text[k.end() : end]
    return out


class SparkStats:
    """What Spark's job, stage and SQL-execution stores gained since the
    last ``collect``. Job and stage ids are handed out in sequence, so
    each call looks up only the new ones. Call it only between
    operations, when everything started has ended."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._sc = spark._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = self.last_stage = -1
        self.seen_execs = 0
        self.collect()

    def collect(self) -> dict:
        from py4j.protocol import Py4JJavaError

        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        out = {
            "jobs": [], "driver.stages": 0, "jvm.tasks": 0, "jvm.task_run_s": 0.0,
            "jvm.task_cpu_s": 0.0, "jvm.gc_s": 0.0, "jvm.shuffle_write_b": 0,
            "jvm.shuffle_read_b": 0, "jvm.spill_b": 0, "sources.rows_scanned": 0,
        }
        stage_ids = set()
        while True:
            try:
                j = store.job(self.last_job + 1)
            except Py4JJavaError:  # no such job yet
                break
            self.last_job += 1
            out["jobs"].append(
                (j.submissionTime().get().getTime() / 1e3, j.completionTime().get().getTime() / 1e3)
            )
            stage_ids.update(int(x) for x in re.findall(r"\d+", j.stageIds().toString()))
        for sid in sorted(i for i in stage_ids if i > self.last_stage):
            s = store.lastStageAttempt(sid)
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its output was reused
            out["driver.stages"] += 1
            out["jvm.tasks"] += s.numCompleteTasks()
            out["jvm.task_run_s"] += s.executorRunTime() / 1e3
            out["jvm.task_cpu_s"] += s.executorCpuTime() / 1e9
            out["jvm.gc_s"] += s.jvmGcTime() / 1e3
            out["jvm.shuffle_write_b"] += s.shuffleWriteBytes()
            out["jvm.shuffle_read_b"] += s.shuffleReadBytes()
            out["jvm.spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["sources.rows_scanned"] += s.inputRecords()
        self.last_stage = max([self.last_stage, *stage_ids])
        n = self._sql.executionsCount()
        new = self._sql.executionsList(self.seen_execs, n - self.seen_execs) if n > self.seen_execs else []
        for e in self._conv.asJava(new) if new else []:
            names = {int(a): m for m, a in _PLAN_METRIC.findall(e.metrics().toString())}
            values = parse_metric_map(self._sql.executionMetrics(e.executionId()).toString())
            for acc, text in values.items():
                key = _SQL_METRICS.get(names.get(acc, ""))
                if key is not None:
                    out[key] = out.get(key, 0.0) + parse_metric(text)
        self.seen_execs = n
        return out


# psutil is not available, so process figures are read from /proc
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (fields := _stat_fields(int(d))) is not None:
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_s(pids: list[int]) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``pids``. Time the hypervisor stole is not in it."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total * _TICK_S


def python_worker_rss_peak_mb(jvm_pid: int) -> float:
    """Largest ``VmHWM`` among the Python worker processes under the JVM."""
    peak = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0
