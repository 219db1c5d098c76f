"""Tracing for the benchmark's traced run: an in-memory span recorder and a
parser for Spark's JSON event log.

Spans are recorded around the calls the benchmark makes into each engine
layer (it does not patch the engine). They are written as JSON when the
run ends. A span's *self time* is its duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    batch: int | None = None


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op, so the
    untraced run pays nothing for the instrumentation points."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.time(), 0.0, parent,
                               self.workload, batch))
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def add(self, name: str, start: float, end: float,
            parent: int | None, batch: int | None = None) -> int:
        """Record a span measured elsewhere (a micro-batch from its
        progress event). ``parent=None`` makes it a root: work that runs
        beside the blocking path rather than on it."""
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent,
                               self.workload, batch))
        return sid

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self, roots: tuple[str, ...] = ()) -> dict[str, float]:
        """Self time summed per span name, over every span or only over
        the trees under the spans named in ``roots``."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        todo = ([s for s in self.spans if s.name in roots]
                if roots else list(self.spans))
        tree = []
        while todo:
            s = todo.pop()
            tree.append(s)
            if roots:
                todo.extend(kids.get(s.id, []))
        out: dict[str, float] = {}
        for s in tree:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end))
                 for c in kids.get(s.id, [])])
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _event_lines(path: str):
    """Lines of an uncompressed event log: a single file, or a rolling
    log directory (``eventlog_v2_<app>/events_<n>_<app>``, Spark 4's
    default) read in order."""
    if os.path.isdir(path):
        parts = sorted((p for p in os.listdir(path)
                        if p.startswith("events_")),
                       key=lambda p: int(p.split("_")[1]))
        files = [os.path.join(path, p) for p in parts]
    else:
        files = [path]
    for fp in files:
        with open(fp) as f:
            yield from f


def parse_event_log(path: str, t0_ms: float = 0.0,
                    t1_ms: float = float("inf")) -> dict[str, float]:
    """Sum Spark's per-task and per-job counters from an uncompressed JSON
    event log, keeping jobs submitted and tasks launched in [t0_ms, t1_ms]
    (epoch milliseconds). Streaming micro-batch jobs are the ones whose
    properties carry ``streaming.sql.batchId``."""
    out = {"jobs": 0, "streaming_jobs": 0, "stages": 0, "tasks": 0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "spill_bytes": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
           "task_run_s": 0.0}
    stages_in_window: set[int] = set()
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if not t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                continue
            out["jobs"] += 1
            if "streaming.sql.batchId" in (ev.get("Properties") or {}):
                out["streaming_jobs"] += 1
            stages_in_window.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stages_in_window:
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            if not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                continue
            m = ev.get("Task Metrics") or {}
            out["tasks"] += 1
            out["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            rd = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                          + rd.get("Local Bytes Read", 0))
            wr = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    return out
