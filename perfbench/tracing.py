"""Tracing for the traced benchmark run: in-memory spans, Catalyst plan
statistics and per-job-group Spark task metrics parsed from the event log.

Spans are recorded by the benchmark around its calls into the program (pass,
query, and the build / plan / execute / consume phases of a query). Each
phase runs under its own Spark job group, ``<workload>|<pass>|<query>|<phase>``,
so the event log attributes every task to the phase that started it.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PHASES = ("build", "plan", "execute", "consume")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    query: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, query: str | None = None):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), name, parent, query, time.perf_counter())
        self.spans.append(s)
        try:
            yield s.id
        finally:
            s.end = time.perf_counter()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_seconds(self, span_id: int) -> float:
        """Duration minus the part of it covered by child spans."""
        s = self.spans[span_id]
        covered, cursor = 0.0, s.start
        for c in sorted(self.children(span_id), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return s.seconds - covered

    def to_json(self) -> list[dict]:
        base = min((s.start for s in self.spans), default=0.0)
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "query": s.query,
             "start_s": s.start - base, "end_s": s.end - base,
             "self_s": self.self_seconds(s.id)}
            for s in self.spans
        ]


_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s)?([A-Z][A-Za-z0-9]*)")


def plan_stats(qe) -> dict[str, float]:
    """Catalyst phase times and shape of the executed (final adaptive) plan."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"catalyst.{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    nodes = [m.group(1) for line in qe.executedPlan().toString().splitlines()
             if (m := _NODE.match(line))]
    out["catalyst.plan_nodes"] = float(len(nodes))
    out["catalyst.exchanges"] = float(sum(n.endswith("Exchange") and not n.startswith("Reused")
                                          for n in nodes))
    out["catalyst.reused_exchanges"] = float(sum(n == "ReusedExchange" for n in nodes))
    out["catalyst.joins"] = float(sum(n.endswith("Join") or n == "CartesianProduct"
                                      for n in nodes))
    return out


@dataclass
class GroupMetrics:
    """Task-level counters summed over the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    read_mb: float = 0.0
    read_rows: float = 0.0
    write_mb: float = 0.0
    write_rows: float = 0.0
    max_task_skew: float = 0.0
    stage_task_s: dict[int, list[float]] = field(default_factory=dict, repr=False)


_MB = 1 << 20


def _task_end(m: GroupMetrics, stage: int, ev: dict) -> None:
    m.tasks += 1
    if ev.get("Task Info", {}).get("Failed"):
        m.failed_tasks += 1
    tm = ev.get("Task Metrics") or {}
    run_s = tm.get("Executor Run Time", 0) / 1e3
    m.task_s += run_s
    m.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
    m.gc_s += tm.get("JVM GC Time", 0) / 1e3
    sr = tm.get("Shuffle Read Metrics") or {}
    m.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
    m.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    m.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
    m.spill_mb += tm.get("Disk Bytes Spilled", 0) / _MB
    im, om = tm.get("Input Metrics") or {}, tm.get("Output Metrics") or {}
    m.read_mb += im.get("Bytes Read", 0) / _MB
    m.read_rows += im.get("Records Read", 0)
    m.write_mb += om.get("Bytes Written", 0) / _MB
    m.write_rows += om.get("Records Written", 0)
    m.stage_task_s.setdefault(stage, []).append(run_s)


def event_log_files(log_dir: str) -> list[str]:
    """The event log files of the one application logged to ``log_dir``, in
    order; Spark writes either one file or a directory of rolled files."""
    apps = os.listdir(log_dir)
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {apps}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    rolled = [f for f in os.listdir(path) if f.startswith("events_")]
    rolled.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in rolled]


def _events(files: list[str]):
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def parse_event_log(files: list[str]) -> dict[str, GroupMetrics]:
    """Per job group counters from an (uncompressed) Spark event log."""
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    stage_group: dict[int, str] = {}
    for ev in _events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                groups[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group:
                groups[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group:
                _task_end(groups[group], ev["Stage ID"], ev)
    for m in groups.values():
        for times in m.stage_task_s.values():
            mean = sum(times) / len(times)
            if len(times) > 1 and mean > 0:
                m.max_task_skew = max(m.max_task_skew, max(times) / mean)
    return dict(groups)

