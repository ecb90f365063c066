"""Spans around calls into the package, and Spark's own work folded into them.

A :class:`Tracer` records one span per call the benchmark makes into a
layer (name, start, end, parent, run id). When tracing is on, each span
also sets its own Spark job group, so every job Spark starts inside the
span carries the span's id; Spark's event log (turned on for traced runs
only, from outside the package) then lets :func:`fold_events` add up
the jobs, stages and tasks of each span. Jobs that arrive without a job
group (a streaming query's own execution thread, for one) are given to the
innermost span whose interval holds their submission time: the benchmark
is one client in one process, so nothing else submits jobs while a span
is open.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Task accumulables PySpark's Python runners emit (Spark 4.1); all are
# per-task updates, times in ms.
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"


@dataclass
class Span:
    name: str
    span_id: str
    parent: str | None
    run_id: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``spark_context`` is set by the caller once Spark is
    up; when ``enabled`` is false, spans still time themselves but touch no
    Spark state."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spark_context = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.aliases: dict[str, str] = {}

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark_context
        if not self.enabled or sc is None:
            return
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.span_id, span.name)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            span_id=f"{self.run_id}:{next(self._ids)}",
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def add_group_alias(self, group_id: str, span: Span) -> None:
        """Attribute jobs of another job group (a streaming query's run id)
        to ``span``."""
        self.aliases[group_id] = span.span_id

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class SpanStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    deserialize_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    python_run_s: float = 0.0
    python_start_s: float = 0.0
    python_bytes_sent: int = 0
    task_intervals: list[tuple[float, float]] = field(default_factory=list)


def _task_python(info: dict) -> tuple[float, float, int]:
    run = start = sent = 0
    for acc in info.get("Accumulables", ()):
        name = acc.get("Name")
        if name == PY_RUN:
            run += int(acc.get("Update", 0))
        elif name == PY_START:
            start += int(acc.get("Update", 0))
        elif name == PY_SENT:
            sent += int(acc.get("Update", 0))
    return run / 1e3, start / 1e3, sent


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event of every (uncompressed, non-rolling) log in ``log_dir``."""
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def fold_events(events, spans: list[Span], aliases: dict[str, str] | None = None) -> dict[str, SpanStats]:
    """Fold ``SparkListenerJobStart`` / ``StageCompleted`` / ``TaskEnd``
    events into per-span totals keyed by span id."""
    aliases = aliases or {}
    by_id = {s.span_id: s for s in spans}
    # innermost first: the latest start wins among spans covering a time
    ordered = sorted(spans, key=lambda s: s.start, reverse=True)

    def span_at(t_ms: float) -> str | None:
        t = t_ms / 1e3
        for s in ordered:
            if s.start <= t <= s.end:
                return s.span_id
        return None

    job_span: dict[int, str | None] = {}
    stage_span: dict[int, str | None] = {}
    stats: dict[str, SpanStats] = defaultdict(SpanStats)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sid = aliases.get(group, group)
            if sid not in by_id:
                sid = span_at(ev["Submission Time"])
            job_span[ev["Job ID"]] = sid
            for st in ev.get("Stage IDs", ()):
                stage_span.setdefault(st, sid)
            if sid is not None:
                stats[sid].jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is not None and "Failure Reason" not in info:
                stats[sid].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            if sid is None:
                continue
            st = stats[sid]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_intervals.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.deserialize_s += m.get("Executor Deserialize Time", 0) / 1e3
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            run, start, sent = _task_python(info)
            st.python_run_s += run
            st.python_start_s += start
            st.python_bytes_sent += sent
    return dict(stats)


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    busy = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return busy


@dataclass
class LayerTotals:
    """Sum of :class:`SpanStats` over a set of spans, with wall and idle."""

    spans: int = 0
    wall_s: float = 0.0
    sched_wait_s: float = 0.0
    stats: SpanStats = field(default_factory=SpanStats)

    @property
    def tasks_per_stage(self) -> float:
        return self.stats.tasks / self.stats.stages if self.stats.stages else 0.0

    def core_util(self, cores: int) -> float:
        return self.stats.run_s / (self.wall_s * cores) if self.wall_s else 0.0


def layer_totals(spans: list[Span], stats: dict[str, SpanStats], names: set[str]) -> LayerTotals:
    """Totals over the spans whose name is in ``names``. A span's stats
    include only jobs attributed to that span itself, not to its children."""
    out = LayerTotals()
    for s in spans:
        if s.name not in names:
            continue
        out.spans += 1
        out.wall_s += s.wall
        st = stats.get(s.span_id)
        if st is None:
            out.sched_wait_s += s.wall
            continue
        out.sched_wait_s += s.wall - busy_seconds(st.task_intervals, s.start, s.end)
        t = out.stats
        for f in (
            "jobs", "stages", "tasks", "run_s", "cpu_s", "deserialize_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
            "python_run_s", "python_start_s", "python_bytes_sent",
        ):
            setattr(t, f, getattr(t, f) + getattr(st, f))
    return out
