"""Spans, Spark counter attribution and process memory.

A :class:`Tracer` records a span around each call the benchmark makes into
a layer of the engine: name, start, end, parent span and request id. Spans
live in memory and are written out once, when the run ends. When tracing
is on, each span also sets its id as the Spark job group, so the event log
(enabled only for the traced run) attributes every job, stage and task to
the innermost open span. With tracing off the tracer still times set-up
spans (they feed ``setup_s``) but touches no Spark state.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attribute Spark jobs of ``spark`` to spans from now on (only
        when tracing is on)."""
        self._sc = spark.sparkContext if self.enabled else None

    @contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent and parent.id,
                 request=request, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{s.id}", s.name)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Event-log attribution
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    task_ms: dict = field(default_factory=dict)  # stage id -> [task durations]


def parse_event_logs(log_dir: str) -> dict[str, GroupStats]:
    """Per job group counters from every Spark event log in ``log_dir``."""
    out: dict[str, GroupStats] = {}
    for name in sorted(os.listdir(log_dir)):
        stage_group: dict[tuple, str] = {}
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    st = out.setdefault(group, GroupStats())
                    st.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    _add_task(out[group], ev)
    return out


def _add_task(st: GroupStats, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    sid = (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))
    st.stages.add(sid)
    st.tasks += 1
    if info.get("Failed") or info.get("Killed"):
        st.failed_tasks += 1
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    st.task_ms.setdefault(sid, []).append(dur)


def spark_metrics(tracer: Tracer, groups: dict[str, GroupStats], roots: list[Span],
                  cores: int) -> dict[str, float]:
    """``spark.*`` per-layer metrics over the jobs of ``roots`` and every
    span beneath them, per root span (one root = one request or job)."""
    inside = _descendants(tracer, roots)
    sel = [groups[g] for g in (f"span-{i}" for i in inside) if g in groups]
    n = max(len(roots), 1)
    wall = sum(s.seconds for s in roots)
    skews = []
    for st in sel:
        for durs in st.task_ms.values():
            if len(durs) >= 2:
                med = statistics.median(durs)
                skews.append(max(durs) / med if med > 0 else 1.0)
    run_s = sum(st.run_ms for st in sel) / 1e3
    return {
        "spark.jobs": sum(st.jobs for st in sel) / n,
        "spark.stages": sum(len(st.stages) for st in sel) / n,
        "spark.tasks": sum(st.tasks for st in sel) / n,
        "spark.failed_tasks": sum(st.failed_tasks for st in sel) / n,
        "spark.shuffle_write_bytes": sum(st.shuffle_write_bytes for st in sel) / n,
        "spark.shuffle_read_bytes": sum(st.shuffle_read_bytes for st in sel) / n,
        "spark.spill_bytes": sum(st.spill_bytes for st in sel) / n,
        "spark.executor_run_s": run_s / n,
        "spark.executor_cpu_s": sum(st.cpu_ns for st in sel) / 1e9 / n,
        "spark.gc_s": sum(st.gc_ms for st in sel) / 1e3 / n,
        "spark.busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }


def _descendants(tracer: Tracer, roots: list[Span]) -> set[int]:
    keep = {s.id for s in roots}
    for s in tracer.spans:  # spans are appended in start order
        if s.parent in keep:
            keep.add(s.id)
    return keep


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Summed peak resident set (VmHWM) of ``root_pid`` and every process
    below it, in MiB."""
    kids = _children()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
