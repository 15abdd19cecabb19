"""In-memory spans around the benchmark's calls into the engine, and the
Spark-side counters read back from the statusTracker and the event log.

Spans are recorded only by the benchmark's own code, never inside the
engine: each has a name, start, end, parent span and run id, and the list
is written out once, when the run ends. A disabled tracer records nothing,
so the untraced run measures the engine alone.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    attrs: dict


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str, first: int = 0) -> list[float]:
        """Durations of the spans called ``name``, from span ``first`` on."""
        return [s.end - s.start for s in self.spans[first:] if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of its interval its children cover. Children never overlap: the
        benchmark opens spans from one thread at a time (the streaming
        callback thread runs while the main thread waits on the drain)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += (s.end - s.start) - child_time[s.id]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"run": self.run_id, "spans": [asdict(s) for s in self.spans], "self_s": self.self_times()},
                fh,
            )


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, stages) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        stages += len(info.stageIds) if info is not None else 0
    return len(jobs), stages


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

PYTHON_SEAM_TIME = "time to run Python workers"
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class OpTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_seam_s: float = 0.0
    python_bytes: int = 0

    def add(self, other: OpTotals) -> None:
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)


def _task_totals(ev: dict) -> OpTotals:
    m = ev.get("Task Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    t = OpTotals(
        tasks=1,
        executor_run_s=m.get("Executor Run Time", 0) / 1000.0,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        shuffle_bytes=sw.get("Shuffle Bytes Written", 0)
        + sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    )
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == PYTHON_SEAM_TIME:
            t.python_seam_s += float(upd) / 1000.0  # SQL timing metric, ms
        elif name in PYTHON_BYTES:
            t.python_bytes += int(upd)
    return t


def read_event_log(log_dir: str, key) -> dict[str, OpTotals]:
    """Job, stage and task totals per operation. ``key(props)`` maps a
    job's local properties to the operation that ran it (or None to skip
    the job)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    stage_op: dict[int, str] = {}
    out: dict[str, OpTotals] = defaultdict(OpTotals)
    with open(max(paths, key=os.path.getmtime)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                op = key(ev.get("Properties") or {})
                if op is not None:
                    stage_ids = ev.get("Stage IDs", [])
                    out[op].add(OpTotals(jobs=1, stages=len(stage_ids)))
                    for sid in stage_ids:
                        stage_op[sid] = op
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev.get("Stage ID"))
                if op is not None:
                    out[op].add(_task_totals(ev))
    return dict(out)
