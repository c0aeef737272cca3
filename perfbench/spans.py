"""Spans around layer calls, Spark event-log attribution, and /proc readings.

A span is recorded from the benchmark's side around a call into one engine
layer. Stages and jobs are attributed to the innermost span whose
[start, end] interval holds their submission time. Time windows are used
rather than job groups alone, because the engine submits some jobs from its
own thread pools, whose threads do not inherit the caller's job group. The
closed loop runs one pass at a time, so windows of sibling spans never
overlap.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; `span()` also tags Spark jobs of the calling
    thread with the span name as their job group."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(name, f"perfbench span {name}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1].name, f"perfbench span {self._stack[-1].name}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def by_name(self, name: str) -> Span | None:
        found = [s for s in self.spans if s.name == name]
        return found[-1] if found else None

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        """Span wall minus the union of its children's intervals."""
        return s.wall - _union_len([(c.start, c.end) for c in self.children(s)])

    def as_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end,
                "self_s": self.self_time(s), "attrs": s.attrs,
            }
            for s in self.spans
        ]


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------
# Stage accumulables written by Spark's Python exec nodes (PythonSQLMetrics).
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Stage:
    id: int
    submit: float
    complete: float
    accum: dict[str, float]
    task_durations: list[float] = field(default_factory=list)
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class EventLog:
    stages: list[Stage]
    job_submits: list[float]


def read_event_logs(log_dir: str) -> EventLog:
    """Parse every uncompressed event-log file in `log_dir` (one per
    SparkContext the run started)."""
    stages: dict[tuple[str, int], Stage] = {}
    tasks: dict[tuple[str, int], list[dict]] = {}
    jobs: list[float] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault((app, ev["Stage ID"]), []).append(ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" not in info or "Completion Time" not in info:
                        continue
                    accum: dict[str, float] = {}
                    for a in info.get("Accumulables", []):
                        try:
                            v = float(a.get("Value"))
                        except (TypeError, ValueError):
                            continue
                        accum[a["Name"]] = accum.get(a["Name"], 0.0) + v
                    stages[(app, info["Stage ID"])] = Stage(
                        info["Stage ID"], info["Submission Time"] / 1000.0,
                        info["Completion Time"] / 1000.0, accum,
                    )
    for key, st in stages.items():
        for ev in tasks.get(key, []):
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            st.task_durations.append((ti["Finish Time"] - ti["Launch Time"]) / 1000.0)
            st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return EventLog(sorted(stages.values(), key=lambda s: s.submit), sorted(jobs))


class Attribution:
    """Stages and jobs of an event log, assigned to the innermost span that
    was open when they were submitted."""

    def __init__(self, tracer: Tracer, log: EventLog):
        self.tracer = tracer
        self.log = log
        self._stages: dict[int, list[Stage]] = {s.id: [] for s in tracer.spans}
        self._jobs: dict[int, int] = {s.id: 0 for s in tracer.spans}
        for st in log.stages:
            sp = self._innermost(st.submit)
            if sp is not None:
                self._stages[sp.id].append(st)
        for t in log.job_submits:
            sp = self._innermost(t)
            if sp is not None:
                self._jobs[sp.id] += 1

    def _innermost(self, t: float) -> Span | None:
        # event times are whole milliseconds; widen each span by one
        best = None
        for s in self.tracer.spans:
            if s.start - 0.001 <= t <= s.end + 0.001:
                if best is None or s.start >= best.start:
                    best = s
        return best

    def _subtree(self, s: Span) -> list[Span]:
        out = [s]
        for c in self.tracer.children(s):
            out.extend(self._subtree(c))
        return out

    def stages(self, s: Span, inclusive: bool = False) -> list[Stage]:
        spans = self._subtree(s) if inclusive else [s]
        return [st for sp in spans for st in self._stages[sp.id]]

    def jobs(self, s: Span, inclusive: bool = False) -> int:
        spans = self._subtree(s) if inclusive else [s]
        return sum(self._jobs[sp.id] for sp in spans)

    def accum(self, s: Span, name: str, inclusive: bool = False) -> float:
        return sum(st.accum.get(name, 0.0) for st in self.stages(s, inclusive))

    def py_worker_s(self, s: Span) -> float:
        # the Python-worker time accumulable is a millisecond timing metric
        return self.accum(s, PY_TIME, inclusive=True) / 1e3

    def py_bytes(self, s: Span) -> float:
        return self.accum(s, PY_SENT, True) + self.accum(s, PY_RECV, True)

    def shuffle_bytes(self, s: Span, inclusive: bool = True) -> int:
        return sum(st.shuffle_write_bytes for st in self.stages(s, inclusive))

    def spill_bytes(self, s: Span, inclusive: bool = True) -> int:
        return sum(st.spill_bytes for st in self.stages(s, inclusive))

    def driver_gap_s(self, s: Span) -> float:
        """Span wall minus the union of the intervals of its stages (those
        of child spans included), clipped to the span."""
        iv = [
            (max(st.submit, s.start), min(st.complete, s.end))
            for st in self.stages(s, inclusive=True)
        ]
        return s.wall - _union_len([(a, b) for a, b in iv if b > a])

    def task_skew(self, s: Span) -> float:
        d = [x for st in self.stages(s, True) for x in st.task_durations]
        if len(d) < 2:
            return 1.0
        med = statistics.median(d)
        return max(d) / med if med > 0 else 1.0


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """`root` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of `root` and its live descendants, plus what each has
    collected from children it reaped."""
    total = 0
    for p in descendants(root):
        st = _stat(p)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0
