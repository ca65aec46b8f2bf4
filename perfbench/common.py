"""Shared pieces of the benchmark: the run context, per-operation
results, spans, Spark job accounting and process memory."""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """What a workload needs: the session, the sink and its receiver, the
    generated inputs, and the tracer (disabled on untraced passes)."""

    spark: object
    sink: object
    receiver: object
    paths: dict
    work_dir: str
    tracer: "Tracer"


@dataclass
class Ops:
    """Outcome of a measured pass: one latency per completed operation,
    attempted/failed counts, and one rows-per-second figure per unit of
    work."""

    latencies_ms: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    rates: list = field(default_factory=list)
    errors: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:500])


def quantile(values, q: float) -> float:
    """``q``-quantile (0 < q < 1) by linear interpolation; a single value
    is its own quantile."""
    values = sorted(values)
    if not values:
        return float("nan")
    if len(values) == 1:
        return float(values[0])
    pos = q * (len(values) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(values) - 1)
    return values[lo] + (values[hi] - values[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


class Tracer:
    """In-memory spans ``(id, name, start, end, parent)``; a disabled
    tracer records nothing. Times are seconds since the tracer started."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name,
                   "parent": stack[-1] if stack else None,
                   "start": time.perf_counter() - self._t0, "end": None,
                   **attrs}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def total(self, name: str) -> float:
        """Summed duration of every finished span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def run_units(seconds: float, step, min_units: int) -> int:
    """Call ``step`` (one unit of work) at least ``min_units`` times, and
    again while another unit of the mean length still ends within
    ``seconds``; returns the number of units run."""
    start, units = time.perf_counter(), 0
    while True:
        step()
        units += 1
        elapsed = time.perf_counter() - start
        if units >= min_units and elapsed * (units + 1) / units > seconds:
            return units


def run_concurrently(calls) -> None:
    """Run zero-argument callables on one thread each and re-raise the
    first failure. The warm-ups use it: cold-path costs (class loading,
    planning, code generation) of independent plans overlap."""
    from concurrent.futures import ThreadPoolExecutor

    calls = list(calls)
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [pool.submit(c) for c in calls]
        for f in futures:
            f.result()


def noop_write_s(df) -> float:
    """Wall time of writing ``df`` to the ``noop`` sink: the full plan
    runs, nothing is stored."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """Jobs, stages run and tasks completed under one job group, from the
    status tracker. Skipped stages (shuffle reuse) complete no task and
    are not counted."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, tasks = set(), 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0 and s not in stages:
                stages.add(s)
                tasks += si.numCompletedTasks
    return len(jobs), len(stages), tasks


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
