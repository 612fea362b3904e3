"""Tracing for the traced run: an in-memory span recorder, Spark job-group
tagging, self-time computation and an offline Spark event-log parser.

Spans are taken in the benchmark's own files around each call into a
program module; nothing inside the program is instrumented. Each span
records its name, layer (the module called), start, end, parent span and
op id. Spark jobs are attributed to ops through ``setJobGroup``: the build
of an op runs under group ``build:<op id>`` and its actions under
``op:<op id>``; the event log written by Spark carries the group of every
job, so per-op task metrics come out of the log after the run.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans while ``enabled``; otherwise every call is a no-op, so
    the untraced run pays one attribute check per boundary."""

    def __init__(self, enabled: bool = False, spark_context=None) -> None:
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def tag(self, group: str) -> None:
        """Attribute this thread's following Spark jobs to ``group``."""
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None, group: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        if group is not None:
            self.tag(group)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, layer, start, end, parent, op))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover. Overlapping or concurrent children are merged first, so
    time two children share is subtracted once; coverage is clipped to the
    parent's interval."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


# ---------------------------------------------------------------- event log

_PY_SCOPE = re.compile(r"Python|Pandas|Arrow", re.I)
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    sched_delay_ms: float = 0.0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    deser_ms: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    fetch_wait_ms: float = 0.0
    spill_b: int = 0
    py_stage_run_ms: float = 0.0
    to_py_b: int = 0
    from_py_b: int = 0


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Per-job-group task metrics from a Spark event log (a file, or a
    directory holding rolled ``events_*`` files). Jobs without a group are
    reported under ``""``."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
            key=lambda f: int(re.match(r"events_(\d+)_", os.path.basename(f)).group(1)),
        )
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    stage_python: dict[int, bool] = {}
    stage_run: dict[int, float] = defaultdict(float)
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for name in files:
        with open(name) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[group].jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    sid = info["Stage ID"]
                    g = groups[stage_group.get(sid, "")]
                    g.stages += 1
                    if info.get("Number of Tasks") == 1:
                        g.single_task_stages += 1
                    stage_tasks[sid] = info.get("Number of Tasks", 0)
                    if any(_is_python_rdd(r) for r in info.get("RDD Info", [])):
                        stage_python[sid] = True
                elif kind == "SparkListenerTaskEnd":
                    _add_task(e, groups[stage_group.get(e["Stage ID"], "")],
                              stage_python, stage_run)
    # stages found to run Python only once their tasks reported it
    for sid, is_py in stage_python.items():
        if is_py:
            groups[stage_group.get(sid, "")].py_stage_run_ms += stage_run.get(sid, 0.0)
    return dict(groups)


def _is_python_rdd(rdd: dict) -> bool:
    if "Python" in rdd.get("Name", ""):
        return True
    scope = rdd.get("Scope")
    if not scope:
        return False
    try:
        return bool(_PY_SCOPE.search(json.loads(scope).get("name", "")))
    except ValueError:
        return False


def _add_task(e: dict, g: GroupStats, stage_python: dict, stage_run: dict) -> None:
    m = e.get("Task Metrics") or {}
    info = e.get("Task Info") or {}
    g.tasks += 1
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    g.run_ms += run
    g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    g.gc_ms += m.get("JVM GC Time", 0)
    g.deser_ms += deser
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    g.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
    g.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
    g.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    # Spark UI's scheduler delay: task wall minus the parts the task did.
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    got = info.get("Getting Result Time", 0)
    getting = finish - got if got else 0
    g.sched_delay_ms += max(
        0, (finish - launch) - run - deser - m.get("Result Serialization Time", 0) - getting
    )
    sid = e["Stage ID"]
    stage_run[sid] += run
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == _PY_SENT:
            g.to_py_b += int(acc.get("Update") or 0)
            stage_python[sid] = True
        elif name == _PY_RETURNED:
            g.from_py_b += int(acc.get("Update") or 0)
            stage_python[sid] = True
