"""Spans around the benchmark's calls into the package, and Spark engine
counters attributed to them from the event log.

A span has a name, start, end and parent. Spans live in memory and are
written when the run ends. Each span sets the Spark job group of its
thread, so every job and stage it launches carries the span id; a job
without a group (launched from a thread no span wraps) goes to the
deepest span open when it was submitted.

Self time partitions wall time: every instant of a span goes to the open
spans that have no open child, split evenly when several (threads of one
pool) are open at once. The self times of an op's subtree therefore sum
exactly to the op's wall time; with no overlap this equals the span's
duration minus the part its children cover.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"
# RDD scope / name fragments of stages that run a Python worker
_PYTHON_MARKERS = ("InArrow", "InPandas", "EvalPython", "PythonRDD", "PythonUDF")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patches = []
        self._epoch0 = time.time()
        self._perf0 = time.perf_counter()

    def now(self) -> float:
        """Epoch seconds on the perf_counter clock (event log times are epoch ms)."""
        return self._epoch0 + (time.perf_counter() - self._perf0)

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
        else:  # a pool thread: its parent is the main thread's open span
            parent = self._main_stack[-1].sid if self._main_stack else None
        with self._lock:
            sp = Span(len(self.spans), name, parent, threading.current_thread().name, self.now())
            self.spans.append(sp)
        stack.append(sp)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(GROUP_KEY)
            self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sp.sid}")
        try:
            yield sp
        finally:
            sp.end = self.now()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(GROUP_KEY, prev)

    def patch(self, owner, attr: str, name):
        """Wrap ``owner.attr`` in a span, recorded whenever the tracer is
        enabled; ``name`` is a string or a function of the call's arguments."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def unpatch(self):
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "parent": s.parent, "thread": s.thread,
             "start": s.start, "end": s.end}
            for s in self.spans
        ]


# --------------------------------------------------------------- event log

COUNTERS = (
    "tasks", "executor_run_ms", "executor_cpu_ms", "py_gap_ms", "sched_wait_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "output_bytes",
    "gc_ms", "spill_bytes", "py_worker_start_ms", "stage_wall_ms",
)


@dataclass
class Stage:
    sid: int
    submit: float
    group: str | None
    python: bool
    complete: float = 0.0
    c: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


@dataclass
class Job:
    jid: int
    start: float
    group: str | None
    end: float = 0.0


def read_eventlog(directory: Path) -> tuple[dict[int, Job], dict[int, Stage]]:
    files = [p for p in Path(directory).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"] / 1e3, props.get(GROUP_KEY))
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                props = e.get("Properties") or {}
                scopes = " ".join(
                    f"{r.get('Name', '')} {r.get('Scope', '')}" for r in info.get("RDD Info", [])
                )
                stages[info["Stage ID"]] = Stage(
                    info["Stage ID"],
                    (info.get("Submission Time") or 0) / 1e3,
                    props.get(GROUP_KEY),
                    any(m in scopes for m in _PYTHON_MARKERS),
                )
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.get(info["Stage ID"])
                if st is not None:
                    st.complete = (info.get("Completion Time") or 0) / 1e3
                    st.c["stage_wall_ms"] += max(0.0, (st.complete - st.submit) * 1e3)
            elif kind == "SparkListenerTaskEnd":
                st = stages.get(e["Stage ID"])
                m = e.get("Task Metrics")
                if st is None or not m:
                    continue
                c = st.c
                info = e["Task Info"]
                run = m.get("Executor Run Time", 0)
                cpu = m.get("Executor CPU Time", 0) / 1e6
                c["tasks"] += 1
                c["executor_run_ms"] += run
                c["executor_cpu_ms"] += cpu
                c["py_gap_ms"] += max(0.0, run - cpu)
                c["sched_wait_ms"] += max(0.0, info["Launch Time"] / 1e3 - st.submit) * 1e3
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in ("time to start Python workers", "time to initialize Python workers"):
                        c["py_worker_start_ms"] += float(acc.get("Update") or 0)
    return jobs, stages


# ------------------------------------------------------------- attribution


class Attribution:
    """Jobs and stages mapped onto spans, and per-span derived figures."""

    def __init__(self, spans: list[Span], jobs: dict[int, Job], stages: dict[int, Stage]):
        self.spans = spans
        self.children: dict[int, list[int]] = {s.sid: [] for s in spans}
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s.sid)
        self.depth = {}
        for s in spans:  # parents are always created before children
            self.depth[s.sid] = 0 if s.parent is None else self.depth[s.parent] + 1
        self.jobs_of: dict[int, list[Job]] = {s.sid: [] for s in spans}
        self.stages_of: dict[int, list[Stage]] = {s.sid: [] for s in spans}
        self.unattributed_jobs = 0
        for j in jobs.values():
            sid = self._owner(j.group, j.start)
            if sid is None:
                self.unattributed_jobs += 1
            else:
                self.jobs_of[sid].append(j)
        for st in stages.values():
            sid = self._owner(st.group, st.submit)
            if sid is not None:
                self.stages_of[sid].append(st)
        self.self_time = self._partition()

    def _owner(self, group: str | None, t: float) -> int | None:
        if group and group.startswith(GROUP_PREFIX):
            return int(group[len(GROUP_PREFIX):])
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (
                best is None
                or self.depth[s.sid] > self.depth[best.sid]
                or (self.depth[s.sid] == self.depth[best.sid] and s.start > best.start)
            ):
                best = s
        return None if best is None else best.sid

    def _partition(self) -> dict[int, float]:
        """Self time per span: each elementary interval goes to the open
        spans with no open child, split evenly among them."""
        out = {s.sid: 0.0 for s in self.spans}
        cuts = sorted({t for s in self.spans for t in (s.start, s.end)})
        for a, b in zip(cuts, cuts[1:]):
            open_ = [s for s in self.spans if s.start <= a and s.end >= b]
            if not open_:
                continue
            open_ids = {s.sid for s in open_}
            leaves = [s for s in open_ if not any(c in open_ids for c in self.children[s.sid])]
            for s in leaves:
                out[s.sid] += (b - a) / len(leaves)
        return out

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children[x])
        return out

    def counters(self, sid: int, python: bool | None = None) -> dict:
        """Inclusive engine counters of a span's subtree; ``python``
        restricts to Python-worker stages (True) or JVM-only ones (False)."""
        span = self.spans[sid]
        ids = self.subtree(sid)
        jobs = [j for i in ids for j in self.jobs_of[i]]
        stages = [
            st for i in ids for st in self.stages_of[i]
            if python is None or st.python == python
        ]
        out = dict.fromkeys(COUNTERS, 0.0)
        for st in stages:
            for k, v in st.c.items():
                out[k] += v
        out["jobs"] = len(jobs)
        out["stages"] = len(stages)
        covered = _union(
            [(max(j.start, span.start), min(j.end or span.end, span.end)) for j in jobs]
        )
        out["driver_gap_ms"] = max(0.0, span.wall - covered) * 1e3
        return out

    def closure_error(self, sid: int) -> float:
        """|sum of self times over the subtree - wall|, in seconds."""
        return abs(sum(self.self_time[i] for i in self.subtree(sid)) - self.spans[sid].wall)


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
