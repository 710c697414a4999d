"""Per-layer metrics of the traced run, named after the engine's modules.

``PER_LAYER`` is the one list of names, units and directions; the traced
run reports every one of them on every workload, 0 where a workload does
not exercise the layer. Times named ``*_s`` are means per call unless the
comment says otherwise; counts are totals over the traced run. Every
figure comes from the spans (their times and the attributes the wrappers
attach), the status tracker and the event log; none from workload state.
"""

from __future__ import annotations

import statistics

from perfbench.stats import union_length
from perfbench.workloads.catalog_mix import ENTRIES, MODULES

_S, _C, _R, _B = "s", "count", "ratio", "B"

PER_LAYER = [
    ("session.start_s", _S, "lower"),  # first session start of the run (JVM launch)
    ("session.gc_s", _S, "lower"),  # JVM garbage collection during the measured phase
    ("session.jit_s", _S, "lower"),  # JVM JIT compilation during the measured phase
    ("sources.fetch_s", _S, "lower"),
    ("sources.fetch_attempts", _C, "lower"),
    ("sources.retries", _C, "lower"),
    ("sources.infer_schema_s", _S, "lower"),
    ("sources.infer_schema_calls", _C, "lower"),
    ("sources.read_sheet_s", _S, "lower"),
    ("sources.cells", _C, "higher"),
    ("sinks.load_s", _S, "lower"),
    ("sinks.to_csv_s", _S, "lower"),
    ("sinks.files_written", _C, "lower"),
    ("sinks.bytes_written", _B, "lower"),
    ("sinks.files_per_load", _C, "lower"),
    ("control.tick_s", _S, "lower"),
    ("control.due_scan_s", _S, "lower"),
    ("control.claim_s", _S, "lower"),
    ("control.run_job_s", _S, "lower"),
    ("control.finish_s", _S, "lower"),
    ("control.append_logs_s", _S, "lower"),
    ("control.append_metrics_s", _S, "lower"),
    ("control.overhead_share", _R, "lower"),
    ("control.spark_jobs_per_job", _C, "lower"),
    ("control.queue_wait_s", _S, "lower"),
    ("io.merge_s", _S, "lower"),
    ("io.files_added_per_merge", _C, "lower"),
    ("io.write_amp", _R, "lower"),
    ("io.scan_range_s", _S, "lower"),
    ("io.snapshot_read_s", _S, "lower"),
    ("io.time_travel_s", _S, "lower"),
    ("io.scan_files_ratio", _R, "lower"),
    ("io.compact_s", _S, "lower"),
    ("io.files_live", _C, "lower"),
    ("io.space_amp", _R, "lower"),
    # plans.*: per-entry medians, summed over the subset; counts per pass.
    ("plans.build_s", _S, "lower"),
    ("plans.build_jobs", _C, "lower"),
    ("plans.action_s", _S, "lower"),
    ("plans.action_jobs", _C, "lower"),
    ("plans.action_tasks", _C, "lower"),
    ("plans.shuffle_write_bytes", _B, "lower"),
    ("plans.spill_bytes", _B, "lower"),
    ("plans.action_cpu_share", _R, "higher"),
]
PER_LAYER += [(f"plans.{m}.{k}", _S, "lower") for m in MODULES for k in ("build_s", "action_s")]
PER_LAYER += [(f"plans.{e}.{k}", _S, "lower") for e in ENTRIES for k in ("build_s", "action_s")]
# Self time (span minus the part its child spans cover), summed per layer.
LAYERS = ("control", "sources", "sinks", "io", "plans")
PER_LAYER += [(f"{layer}.self_s", _S, "lower") for layer in LAYERS]
PER_LAYER += [("trace.overhead_s", _S, "lower"), ("trace.spans", _C, "lower")]


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class LayerReport:
    """Computes ``PER_LAYER`` from a tracer's spans, the status tracker's
    (jobs, tasks) per span group and the event log's stage metrics."""

    def __init__(self, tracer, counts: dict, stages: dict) -> None:
        self.tracer = tracer
        self.spans = tracer.spans
        self.counts = counts
        self.stages = stages
        self.children: dict[int, list] = {}
        for s in self.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)
        self.selfs = tracer.self_times()

    def named(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.named(name)]

    def jobs_under(self, span) -> int:
        """Spark jobs launched by ``span`` and its descendants."""
        total = self.counts.get(span.group, (0, 0))[0] if span.group else 0
        for c in self.children.get(span.span_id, ()):
            total += self.jobs_under(c)
        return total

    def metrics(self, session_start_s: float, jvm_run: dict) -> dict[str, float]:
        m = {name: 0.0 for name, _, _ in PER_LAYER}
        m["session.start_s"] = session_start_s
        m["session.gc_s"] = jvm_run["gc_s"]
        m["session.jit_s"] = jvm_run["jit_s"]
        self._sources(m)
        self._sinks(m)
        self._control(m)
        self._io(m)
        self._plans(m)
        for layer in LAYERS:
            m[f"{layer}.self_s"] = sum(
                self.selfs[s.span_id] for s in self.spans if s.name.startswith(layer + ".")
            )
        m["trace.overhead_s"] = self.tracer.overhead_s
        m["trace.spans"] = len(self.spans)
        return m

    def _sources(self, m: dict) -> None:
        attempts = self.named("sources.fetch_attempt")
        m["sources.fetch_s"] = _mean(self.durations("sources.fetch"))
        m["sources.fetch_attempts"] = len(attempts)
        # An attempt that raised a transient error is retried after a backoff.
        m["sources.retries"] = sum(s.attrs.get("error") == "TransientError" for s in attempts)
        m["sources.infer_schema_s"] = _mean(self.durations("sources.infer_schema"))
        m["sources.infer_schema_calls"] = len(self.named("sources.infer_schema"))
        m["sources.read_sheet_s"] = _mean(self.durations("sources.read_sheet"))
        m["sources.cells"] = sum(s.attrs.get("cells", 0) for s in self.named("sources.read_sheet"))

    def _sinks(self, m: dict) -> None:
        loads = self.named("sinks.load")
        csvs = self.named("sinks.to_csv")
        m["sinks.load_s"] = _mean([s.duration for s in loads])
        m["sinks.to_csv_s"] = _mean([s.duration for s in csvs])
        m["sinks.files_written"] = sum(s.attrs.get("files", 0) for s in loads + csvs)
        m["sinks.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in loads + csvs)
        m["sinks.files_per_load"] = (
            sum(s.attrs.get("files", 0) for s in loads) / len(loads) if loads else 0.0
        )

    def _control(self, m: dict) -> None:
        ticks = self.named("control.tick")
        runs = self.named("control.run_job")
        claims = self.named("control.claim")
        for key, name in (
            ("control.tick_s", "control.tick"),
            ("control.claim_s", "control.claim"),
            ("control.run_job_s", "control.run_job"),
            ("control.finish_s", "control.finish"),
            ("control.append_logs_s", "control.append_logs"),
            ("control.append_metrics_s", "control.append_metrics"),
        ):
            m[key] = _mean(self.durations(name))
        due, outside, tick_total = [], 0.0, 0.0
        for t in ticks:
            inside = [c for c in claims if t.start <= c.start <= t.end]
            due.append((min(c.start for c in inside) if inside else t.end) - t.start)
            busy = [(r.start, r.end) for r in runs if t.start <= r.start <= t.end]
            outside += t.duration - union_length(busy)
            tick_total += t.duration
        m["control.due_scan_s"] = _mean(due)
        m["control.overhead_share"] = outside / tick_total if tick_total else 0.0
        if runs:
            m["control.spark_jobs_per_job"] = sum(self.jobs_under(t) for t in ticks) / len(runs)
        waits = []
        claim_end = {}
        for c in sorted(claims, key=lambda c: c.end):
            claim_end.setdefault(c.attrs.get("job_id"), []).append(c.end)
        for r in runs:
            ends = [e for e in claim_end.get(r.attrs.get("job_id"), []) if e <= r.start]
            if ends:
                waits.append(r.start - max(ends))
        m["control.queue_wait_s"] = _mean(waits)

    def _io(self, m: dict) -> None:
        m["io.merge_s"] = _mean(self.durations("io.merge"))
        m["io.scan_range_s"] = _mean(self.durations("io.scan_range"))
        m["io.snapshot_read_s"] = _mean(self.durations("io.snapshot_read"))
        m["io.time_travel_s"] = _mean(self.durations("io.time_travel"))
        m["io.compact_s"] = _mean(self.durations("io.compact"))
        merges = [s.attrs for s in self.named("io.merge") if "files_added" in s.attrs]
        if merges:
            m["io.files_added_per_merge"] = _mean([x["files_added"] for x in merges])
            staged = sum(x["staged_bytes"] for x in merges)
            m["io.write_amp"] = sum(x["bytes_added"] for x in merges) / staged if staged else 0.0
        scans = [s.attrs for s in self.named("io.scan_range") if s.attrs.get("live_files")]
        m["io.scan_files_ratio"] = _mean([x["input_files"] / x["live_files"] for x in scans])
        # The table as the last snapshot read saw it.
        reads = [s.attrs for s in self.named("io.snapshot_read") if "files_live" in s.attrs]
        if reads:
            last = reads[-1]
            m["io.files_live"] = last["files_live"]
            m["io.space_amp"] = last["disk_bytes"] / last["live_bytes"] if last["live_bytes"] else 0.0

    def _plans(self, m: dict) -> None:
        builds = self.named("plans.build")
        actions = self.named("plans.action")
        per_entry_runs: dict[str, int] = {}
        for s in actions:
            per_entry_runs[s.attrs["entry"]] = per_entry_runs.get(s.attrs["entry"], 0) + 1
        passes = max(per_entry_runs.values(), default=0)
        if not passes:
            return
        for phase, spans in (("build", builds), ("action", actions)):
            per_entry: dict[str, list[float]] = {}
            for s in spans:
                per_entry.setdefault(s.attrs["entry"], []).append(s.duration)
            medians = {e: _median(v) for e, v in per_entry.items()}
            m[f"plans.{phase}_s"] = sum(medians.values())
            for e, v in medians.items():
                m[f"plans.{e}.{phase}_s"] = v
                mod = next(s.attrs["module"] for s in spans if s.attrs["entry"] == e)
                m[f"plans.{mod}.{phase}_s"] += v
        m["plans.build_jobs"] = sum(self.counts.get(s.group, (0, 0))[0] for s in builds) / passes
        m["plans.action_jobs"] = sum(self.counts.get(s.group, (0, 0))[0] for s in actions) / passes
        m["plans.action_tasks"] = sum(self.counts.get(s.group, (0, 0))[1] for s in actions) / passes
        st = [self.stages.get(s.group, {}) for s in actions]
        m["plans.shuffle_write_bytes"] = sum(x.get("shuffle_write_bytes", 0) for x in st) / passes
        m["plans.spill_bytes"] = sum(x.get("spill_bytes", 0) for x in st) / passes
        run_s = sum(x.get("run_s", 0.0) for x in st)
        m["plans.action_cpu_share"] = sum(x.get("cpu_s", 0.0) for x in st) / run_s if run_s else 0.0

    def table(self) -> list[dict]:
        """One row per span name: calls, total and self seconds, Spark jobs,
        tasks, executor run/CPU seconds and shuffle/spill bytes."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, {
                "span": s.name, "calls": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0,
                "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            })
            r["calls"] += 1
            r["total_s"] += s.duration
            r["self_s"] += self.selfs[s.span_id]
            if s.group:
                jobs, tasks = self.counts.get(s.group, (0, 0))
                r["jobs"] += jobs
                r["tasks"] += tasks
                for k, v in self.stages.get(s.group, {}).items():
                    r[k] += v
        return sorted(rows.values(), key=lambda r: -r["self_s"])
