"""Layer spans recorded from the benchmark's own files, and Spark event-log
attribution.

A span is one call into an engine layer: its name is ``<module>.<function>``
(``sources.lake.merge_into``), its interval is wall-clock epoch seconds so
it lines up with the event log's job timestamps. Spans are kept in memory
and turned into per-layer metrics once the run ends.

Calls are sequential on one driver, except that ``CdcPipeline`` runs its
``foreachBatch`` body (and so ``merge_into``) on a callback thread *inside*
``run_available``'s interval. Nesting is therefore taken from interval
containment, not from a per-thread stack: a span's children are the spans
its interval contains, and each Spark job belongs to the innermost span
whose interval contains the job's submission time.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

# event-log timestamps are whole milliseconds: a job submitted in the same
# millisecond a span opened may read up to 1 ms before the span's start
_EPS = 0.0015


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    rep: Any  # "setup" | "warmup" | int (timed repetition) | None

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class Job:
    start: float
    end: float
    tasks: int = 0
    exec_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    output_bytes: int = 0


@dataclass
class Tracer:
    """Records spans when ``enabled``; a disabled tracer costs one branch."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    rep: Any = None
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        rep = self.rep
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            with self._lock:
                self.spans.append(Span(name, t0, t1, rep))

    def wrap(self, obj: Any, method: str, name: str) -> None:
        """Span every call of ``obj.method`` — including the engine's own
        calls through that instance (``sync_step`` calling
        ``dst.merge_into``) — by shadowing the bound method on the
        instance. The class is untouched."""
        if not self.enabled:
            return
        fn = getattr(obj, method)

        def traced(*args: Any, **kwargs: Any) -> Any:
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their task-level sums, from a Spark JSON-lines event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                t = e["Submission Time"] / 1000.0
                jobs[e["Job ID"]] = Job(start=t, end=t)
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerJobEnd":
                job = jobs.get(e["Job ID"])
                if job is not None:
                    job.end = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                job.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.start)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _contains(a: Span, ia: int, b: Span, ib: int) -> bool:
    """``b`` nests inside ``a``. Equal intervals: the inner span closed first,
    so it was appended first."""
    if ia == ib or not (a.t0 <= b.t0 and b.t1 <= a.t1):
        return False
    return b.wall < a.wall or ib < ia


@dataclass
class SpanStats:
    span: Span
    self_s: float = 0.0
    driver_gap_s: float = 0.0
    jobs: list[Job] = field(default_factory=list)


def attribute(spans: list[Span], jobs: list[Job]) -> list[SpanStats]:
    """Self time, driver gap and innermost-span job ownership per span.

    ``self_s`` is the span's wall minus the union of the spans it contains;
    ``driver_gap_s`` is its wall minus the union of every job interval that
    overlaps it (clipped to the span), i.e. time the Spark driver spent outside
    Spark jobs — planning, Python, manifest I/O, waiting on triggers."""
    stats = [SpanStats(s) for s in spans]
    for ia, a in enumerate(spans):
        kids = [(b.t0, b.t1) for ib, b in enumerate(spans) if _contains(a, ia, b, ib)]
        stats[ia].self_s = a.wall - _union(kids)
        busy = [(max(j.start, a.t0), min(j.end, a.t1)) for j in jobs
                if j.end > a.t0 and j.start < a.t1]
        stats[ia].driver_gap_s = a.wall - _union([iv for iv in busy if iv[1] > iv[0]])
    for job in jobs:
        owner = None
        for i, s in enumerate(spans):
            if s.t0 - _EPS <= job.start <= s.t1 and (
                owner is None or _contains(spans[owner], owner, s, i)
            ):
                owner = i
        if owner is not None:
            stats[owner].jobs.append(job)
    return stats


FIELDS: dict[str, Callable[[SpanStats], float]] = {
    "wall_s": lambda s: s.span.wall,
    "self_s": lambda s: s.self_s,
    "jobs": lambda s: len(s.jobs),
    "tasks": lambda s: sum(j.tasks for j in s.jobs),
    "exec_cpu_s": lambda s: sum(j.exec_cpu_s for j in s.jobs),
    "input_bytes": lambda s: sum(j.input_bytes for j in s.jobs),
    "shuffle_bytes": lambda s: sum(j.shuffle_bytes for j in s.jobs),
    "output_bytes": lambda s: sum(j.output_bytes for j in s.jobs),
    "driver_gap_s": lambda s: s.driver_gap_s,
}


def layer_metrics(
    stats: list[SpanStats],
    layout: dict[str, list[str]],
    timed_reps: list[Any],
    n_setups: int,
) -> dict[str, float]:
    """``<function>.<field>`` per function in ``layout``: ``calls`` is calls
    per timed repetition; every other field is a per-call mean over the
    timed repetitions. Functions that only run in set-up (``datagen``) are
    taken from the set-up spans, per set-up. A function never called
    reports 0."""
    out: dict[str, float] = {}
    for fn, fields in layout.items():
        mine = [s for s in stats if s.span.name == fn and s.span.rep in timed_reps]
        per = len(timed_reps)
        if not mine:
            mine = [s for s in stats if s.span.name == fn and s.span.rep == "setup"]
            per = n_setups
        for fld in fields:
            if fld == "calls":
                out[f"{fn}.calls"] = len(mine) / per if mine else 0.0
            else:
                vals = [FIELDS[fld](s) for s in mine]
                out[f"{fn}.{fld}"] = sum(vals) / len(vals) if vals else 0.0
    return out


def rep_walls(spans: list[Span], timed_reps: list[Any]) -> list[float]:
    """Union of the top-level spans of each timed repetition."""
    out = []
    for r in timed_reps:
        mine = [(s.t0, s.t1) for s in spans if s.rep == r]
        out.append(_union(mine))
    return out
