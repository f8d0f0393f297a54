"""In-memory spans, Spark engine attribution and the statistics the
benchmark reports.

A span covers one call from the benchmark into a layer's public function.
Spans nest per thread; a span may also name an explicit parent on another
thread (server-side work done for a client's request). When engine
attribution is on, entering a span makes it the thread's Spark job group, so
every job the call submits can be charged to it afterwards from the Spark
UI REST API.
"""

from __future__ import annotations

import datetime
import itertools
import json
import math
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional

ENGINE_MEASURES = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "task_wait_s", "gc_s", "spill_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_records",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: Optional[int]
    rid: Optional[str]
    end: Optional[float] = None
    engine: dict = field(default_factory=dict)


class Tracer:
    """Span recorder. Disabled, every method is a cheap no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, set once engine attribution starts
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Optional[Span]:
        stack = self._stack()
        return stack[-1] if stack else None

    def start(self, name: str, parent: Optional[Span] = None,
              rid: Optional[str] = None) -> Optional[Span]:
        """Open a span on this thread; ``parent`` defaults to the thread's
        innermost open span."""
        if not self.enabled:
            return None
        parent = parent or self.current()
        sp = Span(next(self._ids), name, time.perf_counter(),
                  parent.id if parent else None,
                  rid or (parent.rid if parent else None))
        self._stack().append(sp)
        self._set_group(sp)
        return sp

    def finish(self, sp: Optional[Span]) -> None:
        if sp is None:
            return
        sp.end = time.perf_counter()
        stack = self._stack()
        if sp in stack:
            stack.remove(sp)
            self._set_group(stack[-1] if stack else None)
        with self._lock:
            self.spans.append(sp)

    @contextmanager
    def span(self, name: str, parent: Optional[Span] = None,
             rid: Optional[str] = None):
        sp = self.start(name, parent, rid)
        try:
            yield sp
        finally:
            self.finish(sp)

    def _set_group(self, sp: Optional[Span]) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sp.id}", sp.name)

    def dump(self, path: str) -> None:
        """Write every span (with its engine numbers) as JSON lines."""
        with open(path, "w", encoding="utf-8") as fh:
            for sp in sorted(self.spans, key=lambda s: s.id):
                fh.write(json.dumps(sp.__dict__) + "\n")


# ------------------------------------------------------------- span algebra


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: (sp.end - sp.start)
        - covered(children.get(sp.id, []), sp.start, sp.end)
        for sp in spans
    }


def by_name(spans: list[Span]) -> dict[str, dict]:
    """Per span name: count, total and self seconds, summed engine numbers."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for sp in spans:
        agg = out.setdefault(sp.name, {"count": 0, "total_s": 0.0, "self_s": 0.0,
                                       **{m: 0.0 for m in ENGINE_MEASURES}})
        agg["count"] += 1
        agg["total_s"] += sp.end - sp.start
        agg["self_s"] += selfs[sp.id]
        for m, v in sp.engine.items():
            agg[m] += v
    return out


# ------------------------------------------------------- engine attribution


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def _ts(text: str) -> float:
    return datetime.datetime.strptime(text[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def stage_measures(stage: dict, cores: int) -> dict:
    run_s = stage.get("executorRunTime", 0) / 1e3
    wall = 0.0
    if stage.get("submissionTime") and stage.get("completionTime"):
        wall = _ts(stage["completionTime"]) - _ts(stage["submissionTime"])
    return {
        "stages": 1,
        "tasks": stage.get("numCompleteTasks", 0),
        "executor_run_s": run_s,
        "executor_cpu_s": stage.get("executorCpuTime", 0) / 1e9,
        "task_wait_s": max(0.0, wall * cores - run_s),
        "gc_s": stage.get("jvmGcTime", 0) / 1e3,
        "spill_bytes": stage.get("memoryBytesSpilled", 0) + stage.get("diskBytesSpilled", 0),
        "shuffle_read_bytes": stage.get("shuffleReadBytes", 0),
        "shuffle_write_bytes": stage.get("shuffleWriteBytes", 0),
        "input_records": stage.get("inputRecords", 0),
    }


def attribute_engine(tracer: Tracer, sc, cores: int) -> dict:
    """Charge every finished Spark job (and the stages it ran) to the span
    whose job group it carried. Returns totals over the charged jobs."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    seen = -1
    for _ in range(40):  # the status store trails the listener bus
        jobs = _rest(f"{base}/jobs")
        if len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs):
            break
        seen = len(jobs)
        time.sleep(0.25)
    stages = {s["stageId"]: s for s in _rest(f"{base}/stages?status=complete")}
    spans = {f"span-{sp.id}": sp for sp in tracer.spans}
    totals = {m: 0.0 for m in ENGINE_MEASURES}
    owned = set()
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        sp = spans.get(job.get("jobGroup"))
        if sp is None:
            continue  # run outside any span (set-up, warm-up, checks)
        per = {m: 0.0 for m in ENGINE_MEASURES}
        per["jobs"] = 1
        for sid in job["stageIds"]:
            if sid in owned or sid not in stages:
                continue  # skipped stage, or already charged to an earlier job
            owned.add(sid)
            for m, v in stage_measures(stages[sid], cores).items():
                per[m] += v
        for m, v in per.items():
            totals[m] += v
            sp.engine[m] = sp.engine.get(m, 0.0) + v
    return totals


# -------------------------------------------------------------- statistics


def percentile(values: list[float], q: float) -> tuple[Optional[float], int, int]:
    """Nearest-rank ``q`` percentile with its sample count and the number of
    samples beyond it. The value is ``None`` when fewer than ten samples lie
    beyond it, so that no tail figure rests on a handful of points."""
    n = len(values)
    if n == 0:
        return None, 0, 0
    rank = max(1, math.ceil(q * n))
    beyond = n - rank
    value = sorted(values)[rank - 1]
    if q > 0.5 and beyond < 10:
        return None, n, beyond
    return value, n, beyond


# ------------------------------------------------------------ host and RSS


class HostCpu:
    """Host-wide CPU counters since construction, from ``/proc/stat``.

    On a virtual machine the hypervisor can withhold a vCPU that wants to
    run ("steal"); every thread then advances at roughly ``1 - steal_share``
    of its normal rate, so the benchmark scales the wall-clock figures it
    declares by that factor. Co-tenant load would otherwise move them by up
    to 2x from one run to the next."""

    def __init__(self):
        self.start = self._ticks()

    @staticmethod
    def _ticks() -> list[int]:
        # user nice system idle iowait irq softirq steal
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]

    def steal_share(self) -> float:
        """Stolen share of the time the machine's vCPUs wanted to run."""
        d = [b - a for a, b in zip(self.start, self._ticks())]
        busy = d[0] + d[1] + d[2] + d[5] + d[6]
        return d[7] / (busy + d[7]) if busy + d[7] else 0.0



class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (the JVM and Python workers) and keeps the peak sum.

    A level counts only once two consecutive samples reach it: a child the
    JVM is spawning shares the JVM's memory until it execs, and a sample
    taken in that instant would count the JVM twice."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._last = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak = max(self.peak, min(total, self._last))
        self._last = total


def process_tree() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.append(pid)
        frontier.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by the live process tree."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])
    return total / tick
