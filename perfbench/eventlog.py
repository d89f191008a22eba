"""Fold an uncompressed, non-rolling Spark event log into per-span counters.

The benchmark tags every query (and every CLI phase) with a Spark job
group and records the wall-clock window it ran in.  ``fold`` reads the
JSON-lines log Spark writes with ``spark.eventLog.enabled=true`` and
charges each job, stage, task, SQL execution and streaming micro-batch to
one span: by the job group carried in the event's properties when that
group is one of the spans, else by the span whose window contains the
event's time (streaming queries and helper threads set their own groups).
Events outside every span are dropped.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from datetime import datetime


@dataclass(frozen=True)
class Span:
    """A traced interval: ``key`` doubles as the Spark job group id."""

    key: str
    start: float  # epoch seconds
    end: float


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    sql_executions: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    streaming_batches: int = 0
    streaming_batch_s: float = 0.0
    no_job_s: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list, repr=False)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


def _iso_epoch(stamp: str) -> float:
    """Streaming progress timestamps are ISO-8601 UTC with a ``Z``."""
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


class _Attributor:
    def __init__(self, spans: list[Span]):
        self.by_key = {s.key: s for s in spans}
        self.ordered = sorted(spans, key=lambda s: s.start)

    def __call__(self, props: dict | None, when: float | None) -> str | None:
        group = (props or {}).get("spark.jobGroup.id")
        if group in self.by_key:
            return group
        if when is None:
            return None
        for s in self.ordered:
            if s.start <= when <= s.end:
                return s.key
        return None


def fold(lines, spans: list[Span]) -> dict[str, Counters]:
    """Counters for every span, from an iterable of event-log lines."""
    owner = _Attributor(spans)
    out = {s.key: Counters() for s in spans}
    job_key: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_key: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            when = ev["Submission Time"] / 1000.0
            key = owner(ev.get("Properties"), when)
            if key is not None:
                job_key[ev["Job ID"]] = key
                job_start[ev["Job ID"]] = when
                out[key].jobs += 1
        elif kind == "SparkListenerJobEnd":
            key = job_key.get(ev["Job ID"])
            if key is not None:
                end = ev["Completion Time"] / 1000.0
                out[key].job_intervals.append((job_start[ev["Job ID"]], end))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            when = info.get("Submission Time")
            key = owner(ev.get("Properties"), when / 1000.0 if when else None)
            if key is not None:
                stage_key[info["Stage ID"]] = key
                out[key].stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            if key is None:
                continue
            c = out[key]
            c.tasks += 1
            if ev["Task Info"].get("Failed") or ev["Task Info"].get("Killed"):
                c.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            c.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            c.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            c.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            key = owner(None, ev["time"] / 1000.0)
            if key is not None:
                out[key].sql_executions += 1
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress = ev["progress"]
            key = owner(None, _iso_epoch(progress["timestamp"]))
            if key is not None:
                out[key].streaming_batches += 1
                out[key].streaming_batch_s += (
                    progress.get("durationMs", {}).get("triggerExecution", 0) / 1e3
                )
    for s in spans:
        c = out[s.key]
        c.no_job_s = (s.end - s.start) - union_length(c.job_intervals, s.start, s.end)
    return out


def merge(parts: list[Counters], lo: float, hi: float) -> Counters:
    """Sum of ``parts``, with ``no_job_s`` recomputed over ``[lo, hi]``."""
    total = Counters()
    for c in parts:
        for name, value in vars(c).items():
            if name not in ("no_job_s", "job_intervals"):
                setattr(total, name, getattr(total, name) + value)
        total.job_intervals.extend(c.job_intervals)
    total.no_job_s = (hi - lo) - union_length(total.job_intervals, lo, hi)
    return total


def fold_file(path, spans: list[Span]) -> dict[str, Counters]:
    with open(path, encoding="utf-8") as f:
        return fold(f, spans)
