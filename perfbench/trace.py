"""In-memory span tracer for the traced run.

Spans are recorded from the benchmark's own files only: the workloads wrap
the collaborators they inject into the engine (store, source, warehouse,
lake table) and the module-level functions the scheduler calls. Each span
has a name, start, end, parent and run id. Spans that run Spark work set a
Spark job group of their own (thread-local, restored on exit), so the
status tracker can count the jobs and tasks each span launched, and the
event log can attribute stage bytes and CPU to it.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

from perfbench.stats import self_time

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_json(self) -> dict:
        return {
            "id": self.span_id, "name": self.name, "start": self.start, "end": self.end,
            "parent": self.parent, "run_id": self.run_id, "group": self.group,
            "attrs": self.attrs,
        }


class Tracer:
    """Records spans when ``enabled``; every method is a cheap no-op
    otherwise, so the untraced run pays nothing for the wrappers."""

    def __init__(self, enabled: bool, run_id: str, spark=None) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: Parent for spans opened on threads with no open span of their own
        #: (the scheduler's pool threads): the main thread's innermost span.
        self._ambient: list[int] = []
        #: Seconds spent in the tracer's own bookkeeping.
        self.overhead_s = 0.0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, spark_group: bool = False, **attrs) -> Span | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1].span_id
        else:
            parent = self._ambient[-1] if self._ambient else None
        span = Span(next(self._ids), name, 0.0, parent=parent, run_id=self.run_id, attrs=attrs)
        if spark_group and self.spark is not None:
            sc = self.spark.sparkContext
            span.attrs["_prev_group"] = sc.getLocalProperty("spark.jobGroup.id")
            span.group = f"{GROUP_PREFIX}{span.span_id}"
            sc.setJobGroup(span.group, name)
        stack.append(span)
        if threading.current_thread() is threading.main_thread():
            self._ambient.append(span.span_id)
        with self._lock:
            self.spans.append(span)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        return span

    def close(self, span: Span | None, **attrs) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()
        if threading.current_thread() is threading.main_thread() and self._ambient:
            self._ambient.pop()
        span.attrs.update(attrs)
        if span.group is not None:
            prev = span.attrs.pop("_prev_group")
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", prev)
        self.overhead_s += time.perf_counter() - span.end

    def span(self, name: str, spark_group: bool = False, **attrs):
        return _SpanContext(self, name, spark_group, attrs)

    def wrap(self, fn, name: str, spark_group: bool = False, attrs_of=None):
        """``fn`` recorded as a span ``name``; ``attrs_of(args, kwargs,
        result)`` adds attributes after the call."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.open(name, spark_group)
            try:
                result = fn(*args, **kwargs)
            except BaseException as exc:
                self.close(sp, error=type(exc).__name__)
                raise
            self.close(sp, **(attrs_of(args, kwargs, result) if attrs_of else {}))
            return result

        return traced

    def patch(self, owner, attr: str, name: str, spark_group: bool = False, attrs_of=None):
        """Replace ``owner.attr`` with its traced form (instance or module)."""
        setattr(owner, attr, self.wrap(getattr(owner, attr), name, spark_group, attrs_of))

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return {s.span_id: self_time(s.start, s.end, children.get(s.span_id, [])) for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                row = s.as_json()
                row["self"] = selfs[s.span_id]
                fh.write(json.dumps(row, default=str) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, spark_group: bool, attrs: dict) -> None:
        self.tracer, self.name, self.spark_group, self.attrs = tracer, name, spark_group, attrs
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        self.span = self.tracer.open(self.name, self.spark_group, **self.attrs)
        return self.span

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            self.tracer.close(self.span, error=exc_type.__name__)
        else:
            self.tracer.close(self.span)


# -- Spark job/task counts and stage metrics ---------------------------------------


def job_counts(spark, spans: list[Span]) -> dict[str, tuple[int, int]]:
    """Spark (jobs, tasks) per span job group, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    out: dict[str, tuple[int, int]] = {}
    for s in spans:
        if s.group is None:
            continue
        jobs = tasks = 0
        for jid in tracker.getJobIdsForGroup(s.group):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        out[s.group] = (jobs, tasks)
    return out


def stage_metrics(event_log_path: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run/CPU seconds, shuffle bytes written and
    bytes spilled, summed over finished tasks in Spark's event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(event_log_path) as fh:
        for line in fh:
            if '"SparkListenerStageSubmitted"' in line:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                acc = out.setdefault(group, {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0})
                acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
