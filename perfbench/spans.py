"""Spans around engine calls, and their roll-up against Spark's event log.

A ``Tracer`` records one span per public engine call the benchmark makes:
name, wall-clock start and end (epoch seconds, the clock Spark stamps its
events with), parent span, workload and phase. Spans stay in memory and
are written out once, when the run ends.

``rollup`` reads a Spark event log (uncompressed JSON lines) and charges
each Spark job to the innermost span open at the job's submission time.
Tasks follow their stage to the job that submitted it. The benchmark's
load is one closed-loop client on one thread, so at most one span chain
is open at any instant and the time window is an exact key; job groups
would not be, because ``build_index`` submits its stage-1 jobs from a
thread pool that does not inherit them.
"""

from __future__ import annotations

import bisect
import contextlib
import json
import time
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    workload: str
    phase: str

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` keeps the same call
    sites but records nothing, which is how untraced runs use it."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.phase = "setup"
        self.spans: List[Span] = []
        self._open: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._open[-1] if self._open else None
        s = Span(sid, name, time.time(), 0.0, parent, self.workload, self.phase)
        self.spans.append(s)
        self._open.append(sid)
        try:
            yield
        finally:
            self._open.pop()
            s.end = time.time()


@dataclass
class SpanCost:
    """Spark work charged to one span (its own jobs, not its children's)."""
    jobs: int = 0
    tasks: int = 0
    job_s: float = 0.0          # union of this span's job intervals
    task_cpu_s: float = 0.0
    task_wait_s: float = 0.0    # stage submit -> task launch, summed
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    python_s: float = 0.0
    job_intervals: list = field(default_factory=list)


_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PY_TIME = "time to run Python workers"


def _as_int(v) -> int:
    """Accumulable updates arrive as JSON numbers or numeric strings."""
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def _innermost(spans: List[Span], starts: List[float], t: float) -> Optional[Span]:
    """The latest-starting span still open at ``t``. Spans nest (one
    thread), so that is the innermost one."""
    i = bisect.bisect_right(starts, t) - 1
    while i >= 0:
        s = spans[i]
        if s.end >= t:
            return s
        i -= 1
    return None


def _union_s(intervals: Iterable[tuple]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def rollup(spans: List[Span], events: Iterable[dict]) -> Dict[int, SpanCost]:
    """Charge every job, and every task of its stages, in ``events`` (parsed
    event-log records) to a span id. Work submitted outside every span is
    dropped."""
    ordered = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in ordered]
    costs: Dict[int, SpanCost] = {}
    job_span: Dict[int, int] = {}
    job_start: Dict[int, float] = {}
    stage_job: Dict[int, int] = {}
    stage_submit: Dict[int, float] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1000.0
            s = _innermost(ordered, starts, t)
            if s is None:
                continue
            jid = e["Job ID"]
            job_span[jid] = s.id
            job_start[jid] = t
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            costs.setdefault(s.id, SpanCost()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_span:
                costs[job_span[jid]].job_intervals.append(
                    (job_start[jid], e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if "Submission Time" in info:
                stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid not in job_span:
                continue
            c = costs[job_span[jid]]
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            c.tasks += 1
            c.task_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            c.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            submitted = stage_submit.get(e["Stage ID"])
            if submitted is not None:
                c.task_wait_s += max(info["Launch Time"] / 1000.0 - submitted, 0.0)
            c.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            c.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            rd = tm.get("Shuffle Read Metrics") or {}
            c.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            for a in info.get("Accumulables", []):
                name = a.get("Name")
                if name in _PY_BYTES:
                    c.python_bytes += _as_int(a.get("Update"))
                elif name == _PY_TIME:
                    c.python_s += _as_int(a.get("Update")) / 1000.0
    for c in costs.values():
        c.job_s = _union_s(c.job_intervals)
    return costs


def read_event_log(path: str) -> Iterable[dict]:
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def self_times(spans: List[Span]) -> Dict[int, float]:
    """Span wall minus the part of it its child spans cover."""
    child: Dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            child.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.wall - _union_s(child.get(s.id, [])) for s in spans}
