"""In-memory spans and Spark-side attribution for the traced run.

Spans form a tree (workload -> key -> build/exec -> job -> stage, and
query -> batch); each records its parent. ``self_times`` subtracts the
part of a span's interval its children cover. ``read_event_log`` turns
an uncompressed, non-rolling Spark event log into per-job records
attributed to a key through the job group (``build:<key>``,
``exec:<key>``, or a streaming run id mapped by ``KeyListener``).
"""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, attrs))
        return sid

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.sid,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.sid],
                **s.attrs,
            }
            for s in self.spans
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (children may overlap each other, e.g. parallel stages)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class KeyListener(StreamingQueryListener):
    """Maps each streaming query's run id to the key that was running
    when it started, and keeps every progress event."""

    def __init__(self) -> None:
        super().__init__()
        self.key = ""
        self.run_key: dict[str, str] = {}
        self.started: dict[str, float] = {}
        self.ended: dict[str, float] = {}
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        with self._lock:
            self.run_key[str(event.runId)] = self.key
            self.started[str(event.runId)] = time.time()

    def onQueryProgress(self, event) -> None:  # noqa: N802 (Spark API)
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_memory_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802 (Spark API)
        with self._lock:
            self.ended[str(event.runId)] = time.time()


@dataclass
class Job:
    job_id: int
    group: str
    start: float
    end: float
    stages: list[int]


@dataclass
class Stage:
    stage_id: int
    start: float
    end: float
    tasks: int = 0
    run_ms: list[float] = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    bytes_written: int = 0


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, Stage]]:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs[e["Job ID"]] = Job(
                    e["Job ID"], group, e["Submission Time"] / 1e3, 0.0, list(e["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], 0.0, 0.0))
                st.start = info.get("Submission Time", 0) / 1e3
                st.end = info.get("Completion Time", 0) / 1e3
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"], 0.0, 0.0))
                st.tasks += 1
                st.run_ms.append(m["Executor Run Time"])
                st.cpu_ns += m["Executor CPU Time"]
                st.gc_ms += m["JVM GC Time"]
                sr = m["Shuffle Read Metrics"]
                st.shuffle_read += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                st.shuffle_write += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                st.bytes_written += m["Output Metrics"]["Bytes Written"]
    return jobs, stages


def job_owner(group: str, run_key: dict[str, str]) -> tuple[str, str] | None:
    """(key, phase) of a job from its group: ``build``/``exec`` for the
    benchmark's own tags, ``stream`` for a micro-batch job whose group
    is a streaming run id; None for jobs outside the measured region."""
    for phase in ("build", "exec"):
        if group.startswith(phase + ":"):
            return group[len(phase) + 1 :], phase
    if run_key.get(group):
        return run_key[group], "stream"
    return None
