"""Spans around the benchmark's own calls into the engine, and Spark work
attributed to them from the event log.

Spans are recorded on the benchmark's main thread only; they nest, and
each one knows its parent. Spark jobs and stages are attributed to spans
by their submission timestamp, not by job group: a job submitted from a
``parallel.run_concurrently`` worker thread carries no job group of the
caller, but it is submitted while the caller's span is open, so time
containment puts it where it belongs.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps events with
    end: float | None
    parent: int | None


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), None, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# ------------------------------------------------------------ intervals
def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered_by_at_least(
    intervals: list[tuple[float, float]], k: int
) -> float:
    """Length of the time during which at least ``k`` intervals overlap."""
    events = sorted(
        [(s, 1) for s, e in intervals if e > s]
        + [(e, -1) for s, e in intervals if e > s]
    )
    total, depth, last = 0.0, 0, None
    for t, d in events:
        if last is not None and depth >= k:
            total += t - last
        depth += d
        last = t
    return total


def clip(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(spans: list[Span], idx: int) -> float:
    """A span's duration minus the part of it its direct children cover."""
    sp = spans[idx]
    kids = [(c.start, c.end) for c in spans if c.parent == idx]
    return (sp.end - sp.start) - union_length(clip(kids, sp.start, sp.end))


def profile(spans: list[Span]) -> str:
    """Per span name: count, total and self time, largest self time
    first — where a traced run spent its wall time."""
    rows: dict[str, list[float]] = {}
    for i, sp in enumerate(spans):
        r = rows.setdefault(sp.name, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += sp.end - sp.start
        r[2] += self_time(spans, i)
    lines = [f"{'span':<28} {'n':>4} {'total s':>9} {'self s':>9}"]
    for name, (n, tot, own) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        lines.append(f"{name:<28} {n:>4} {tot:>9.3f} {own:>9.3f}")
    return "\n".join(lines)


# ------------------------------------------------------------ event log
@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float | None = None


@dataclass
class StageAttempt:
    stage_id: int
    attempt: int
    submit: float | None = None
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: list[StageAttempt] = field(default_factory=list)


def parse_event_log(path: str) -> EventLog:
    """Jobs, stage attempts and their task totals from a Spark JSON event
    log (uncompressed, not rolled)."""
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], StageAttempt] = {}

    def stage(sid: int, att: int) -> StageAttempt:
        return stages.setdefault((sid, att), StageAttempt(sid, att))

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = Job(jid, ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind in (
                "SparkListenerStageSubmitted", "SparkListenerStageCompleted"
            ):
                info = ev["Stage Info"]
                st = stage(info["Stage ID"], info["Stage Attempt ID"])
                if info.get("Submission Time") is not None:
                    st.submit = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stage(ev["Stage ID"], ev["Stage Attempt ID"])
                st.tasks += 1
                if ev["Task Info"].get("Failed"):
                    st.failed_tasks += 1
                tm = ev.get("Task Metrics") or {}
                st.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                st.shuffle_write_bytes += (
                    tm.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
    return EventLog(
        sorted(jobs.values(), key=lambda j: j.job_id),
        sorted(stages.values(), key=lambda s: (s.stage_id, s.attempt)),
    )


def _inside(t: float | None, sp: Span) -> bool:
    # Spark stamps whole milliseconds; floor the span start to match
    return t is not None and math.floor(sp.start * 1000) / 1000 <= t <= sp.end


@dataclass
class Work:
    """Spark work submitted inside a set of spans."""

    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    driver_gap_s: float = 0.0  # span time with no job of its own running
    overlap_s: float = 0.0  # span time with two or more jobs running


def work_in(log: EventLog, spans: list[Span]) -> Work:
    """Totals of the jobs and stage attempts submitted inside any of
    ``spans`` (which should not overlap one another)."""
    w = Work()
    for sp in spans:
        w.wall_s += sp.end - sp.start
        ivs = [
            (j.submit, j.end if j.end is not None else sp.end)
            for j in log.jobs
            if _inside(j.submit, sp)
        ]
        w.jobs += len(ivs)
        ivs = clip(ivs, sp.start, sp.end)
        w.driver_gap_s += (sp.end - sp.start) - union_length(ivs)
        w.overlap_s += covered_by_at_least(ivs, 2)
        for st in log.stages:
            if not _inside(st.submit, sp):
                continue
            w.stages += 1
            w.tasks += st.tasks
            w.task_cpu_s += st.cpu_s
            w.shuffle_write_bytes += st.shuffle_write_bytes
            w.spill_bytes += st.spill_bytes
    return w
