"""Spans, Spark event-log task metrics grouped by span, and peak RSS.

Spans are recorded by the benchmark around each call into a noise_spark
layer and kept in memory until the run ends. While a span is open its
Spark jobs carry the job group ``span-<id>``, so the task metrics of the
event log can be grouped by the span (and so by layer) that caused them.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one branch.

    ``overhead_s`` sums the tracer's own time around spans (bookkeeping
    and the job-group calls into the JVM), which span durations exclude."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        """Children inherit the request id of the span they run under."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._open[-1] if self._open else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(len(self.spans), name, parent and parent.id, request, 0.0, 0.0)
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s.id)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._set_group(self._open[-1].id if self._open else None)
            self.overhead_s += time.perf_counter() - s.end

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", "perfbench")

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: Σ (duration − time covered by its children)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + s.seconds
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.seconds - child_time.get(s.id, 0.0)
    return out


# -- Spark event log ---------------------------------------------------------------


@dataclass
class GroupStats:
    """Task metrics of every job run under one job group."""

    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write_bytes: int = 0
    records_read: int = 0
    # task durations (s) per stage id, for skew
    stage_task_s: dict = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.failed_tasks += other.failed_tasks
        self.run_s += other.run_s
        self.gc_s += other.gc_s
        self.sched_delay_s += other.sched_delay_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.records_read += other.records_read
        for k, v in other.stage_task_s.items():
            self.stage_task_s.setdefault(k, []).extend(v)

    def heaviest_stage_skew(self) -> float:
        """max ÷ median task time in the stage with the most task time."""
        if not self.stage_task_s:
            return 0.0
        times = max(self.stage_task_s.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0


def parse_event_log(lines) -> dict[str | None, GroupStats]:
    """Group task-end metrics by the job group of the job that ran them.

    ``lines``: the JSON lines of one Spark event log. Tasks of jobs run
    outside any group land under ``None``."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupStats] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            g = groups.setdefault(stage_group.get(ev.get("Stage ID")), GroupStats())
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                g.failed_tasks += 1
            duration_ms = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
            run_ms = m.get("Executor Run Time", 0)
            g.run_s += run_ms / 1e3
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            # the Spark UI's scheduler delay: task wall time not spent
            # deserializing, running, or serializing/fetching the result
            g.sched_delay_s += max(
                0,
                duration_ms
                - run_ms
                - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            ) / 1e3
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.records_read += (m.get("Input Metrics") or {}).get("Records Read", 0) + (
                m.get("Shuffle Read Metrics") or {}
            ).get("Total Records Read", 0)
            g.stage_task_s.setdefault(ev.get("Stage ID"), []).append(duration_ms / 1e3)
    return groups


def read_event_logs(directory: str) -> dict[str | None, GroupStats]:
    """Every event log under ``directory``: single files, or the
    ``eventlog_v2_*/events_*`` parts a rolling log writes."""
    out: dict[str | None, GroupStats] = {}
    for dirpath, _, names in sorted(os.walk(directory)):
        for name in sorted(names):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for group, stats in parse_event_log(f).items():
                    out.setdefault(group, GroupStats()).add(stats)
    return out


def stats_by_span_name(groups: dict, spans: list[Span]) -> dict[str, GroupStats]:
    names = {f"span-{s.id}": s.name for s in spans}
    out: dict[str, GroupStats] = {}
    for group, stats in groups.items():
        out.setdefault(names.get(group, "(untraced)"), GroupStats()).add(stats)
    return out


# -- memory --------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (the JVM forks the Python
    worker daemon from a thread other than its main one)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


class PeakRss:
    """Largest Σ VmRSS over this process and all its descendants (the
    Spark JVM and its Python workers), sampled in a background thread
    between ``start()`` and ``stop()``. A sum of per-process high-water
    marks (VmHWM) would add peaks that never coexisted and drop workers
    that already exited, so it varies with worker churn; the sampled
    total does not."""

    def __init__(self, root_pid: int | None = None, interval_s: float = 0.2):
        self.root = root_pid or os.getpid()
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.parts_mb: dict[str, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=10)
            self._thread = None
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        todo = [self.root]
        while todo:
            pid = todo.pop()
            todo.extend(children(pid))
            rss = _status_kb(pid, "VmRSS") / 1024.0
            if pid == self.root:
                parts["driver"] += rss
            elif _comm(pid) == "java":
                parts["jvm"] += rss
            else:
                parts["workers"] += rss
        total = sum(parts.values())
        with self._lock:
            if total > self.peak_mb:
                self.peak_mb = total
                self.parts_mb = parts


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""
