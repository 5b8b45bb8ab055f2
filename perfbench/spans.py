"""In-memory layer spans and the Spark event-log collector.

Every call the benchmark makes into a public linkgraph function is wrapped in
a named span (wall-clock start/end).  Untraced runs only read the span
durations.  Traced runs also enable Spark's event log and, after the session
stops, assign every job to the span in which it was *submitted*.  Call sites
cannot do this: checkpoint and parquet-write jobs report
``NativeMethodAccessorImpl.java:0``, broadcast jobs report
``CompletableFuture.java``, and jobs from the context build's worker threads
and the checkpoint writer thread carry no job description of the main thread.
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
    name: str
    start: float  # epoch seconds (time.time), comparable with Spark's ms stamps
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class Spans:
    spans: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            self.spans.append(s)

    def wall(self, name: str) -> float:
        """Total wall of every span with this name (0.0 if never opened)."""
        return sum(s.wall_s for s in self.spans if s.name == name)

    def covered_s(self) -> float:
        return sum(s.wall_s for s in self.spans)


@dataclass
class LayerStats:
    """Spark work attributed to one span name."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    task_skew: float = 0.0  # worst stage's max / median task time


def event_log_conf(log_dir: str) -> dict[str, str]:
    # zstandard is not installed, so the log stays uncompressed.
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _read_events(log_dir: str):
    """Events of the one application logged under ``log_dir``, in order.
    Spark 4 writes a rolling log: a directory of ``events_<n>_<app>`` files."""
    paths = glob.glob(os.path.join(log_dir, "*", "events_*"))
    if not paths:
        raise RuntimeError(f"no event log under {log_dir}")
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def collect(log_dir: str, spans: Spans) -> tuple[dict[str, LayerStats], int]:
    """Attribute the event log's jobs, stages and tasks to span names.

    Returns (stats per span name, number of jobs submitted between the
    first span's start and the last span's end but outside every span).  A
    job belongs to the latest-opened span whose interval holds its
    submission time; its stages and their tasks follow the job."""
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    completed: set[int] = set()
    task_times: dict[int, list[float]] = {}
    task_gc: dict[int, float] = {}
    task_shuffle: dict[int, float] = {}
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            job_submit[job] = ev["Submission Time"] / 1000.0
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerStageCompleted":
            completed.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            task_times.setdefault(sid, []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1000.0
            )
            task_gc[sid] = task_gc.get(sid, 0.0) + m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            moved = (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            task_shuffle[sid] = task_shuffle.get(sid, 0.0) + moved / 2**20

    ordered = sorted(spans.spans, key=lambda s: s.start)

    def owner(t: float) -> str | None:
        hit = None
        for s in ordered:
            if s.start <= t <= s.end:
                hit = s.name  # latest-opened containing span wins
        return hit

    out: dict[str, LayerStats] = {}
    job_owner: dict[int, str | None] = {j: owner(t) for j, t in job_submit.items()}
    lo = min((s.start for s in ordered), default=0.0)
    hi = max((s.end for s in ordered), default=0.0)
    unattributed = sum(
        1 for j, o in job_owner.items() if o is None and lo <= job_submit[j] <= hi
    )
    for job, name in job_owner.items():
        if name is not None:
            out.setdefault(name, LayerStats()).jobs += 1
    for sid, times in task_times.items():
        name = job_owner.get(stage_job.get(sid, -1))
        if name is None:
            continue
        st = out.setdefault(name, LayerStats())
        st.stages += sid in completed
        st.tasks += len(times)
        st.task_s += sum(times)
        st.gc_s += task_gc.get(sid, 0.0)
        st.shuffle_mb += task_shuffle.get(sid, 0.0)
        if len(times) >= 2:
            med = statistics.median(times)
            if med > 0:
                st.task_skew = max(st.task_skew, max(times) / med)
    return out, unattributed
