"""sheet_jobs: the reference's own traffic, one closed-loop client.

Back-to-back ``Scheduler.tick`` calls on a simulated clock (one minute per
tick) with ``max_concurrency=4``, each followed by the lake work of
``lake.py``: every tick the feed job loads one large sheet batch into a
staging table, which the client merges into a snapshot lake table and
reads back with range scans. The control table starts with
``gen.WARM_JOBS`` warm-up jobs due in tick 0 and ``gen.INITIAL_JOBS`` jobs
on a five-minute schedule, staggered so ``gen.COHORT`` of them are due in
each later tick, and every tick after the first adds ``gen.NEW_PER_TICK``
jobs whose first run pays ``infer_schema`` and schema
pinning; the initial jobs have run before, so their schemas are pinned
in setup. Sheets come through ``RemoteSheetSource`` over ``DictTransport``;
the warm-up jobs and some new jobs get seeded transient faults, which the
retry policy absorbs with a recording ``sleep`` (so ``sources.retries`` is
fixed by the seed). Tick 0 (with a small warm-up batch) warms the JVM and is checked
but not timed; at least ``MIN_TICKS`` timed ticks follow. The tables,
exports, audit log and lake reads are checked after the loop
(``verify``), once the engine's peak memory is read.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import os
import shutil
import time

from flusher_spark.control import Job
from flusher_spark.sources.connector import TransientError

from perfbench import gen, stats
from perfbench.trace import Tracer
from perfbench.workloads.base import ActiveClock, Outcome
from perfbench.workloads.lake import FEED_JOB, FEED_RESULT, LakeFeed
from perfbench.workloads.scheduled import SheetSystem, iso, sheet_schema, unpatch

INTERVAL = "5 minutes"  # with one-minute ticks, a job reruns every gen.PERIOD ticks
MIN_SAMPLES = 2 * stats.MIN_BEYOND
#: Timed ticks at least, whatever ``--seconds`` says.
MIN_TICKS = 2
#: Stop looping after this long even without enough samples (the run then
#: reports a failed check), so a run always ends well inside 180 s.
MAX_LOOP_S = 100


class SheetJobs:
    name = "sheet_jobs"

    def __init__(self, seed: int, run_dir: str, tracer) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        self.sys: SheetSystem | None = None
        self._setups = 0
        #: Called after each timed tick, outside its timing.
        self.unit_done = lambda: None

    def make_inputs(self) -> None:
        """The lake's base table. Sheets are generated per job, run and
        batch from the seed as they come due (``gen.job_grid``,
        ``gen.lake_batch``)."""
        os.makedirs(self.run_dir, exist_ok=True)
        base_path = os.path.join(self.run_dir, "lake_base.parquet")
        rows = [gen.typed_lake_row(r) for r in gen.lake_base_rows(self.seed)]
        gen.write_lake_base(rows, base_path)
        self.lake = LakeFeed(self.seed, base_path, {r[0]: r for r in rows})

    # -- setup -------------------------------------------------------------

    def setup(self, spark) -> None:
        self._setups += 1
        root = os.path.join(self.run_dir, f"state{self._setups}")
        self.sys = SheetSystem(spark, root, max_concurrency=4)
        self.specs: dict[int, gen.JobSpec] = {}
        self.runs: dict[int, list[int]] = {}
        self.exports: dict[str, tuple[int, int]] = {}
        faults = gen.warm_faults(self.seed)
        for job_id in range(gen.WARM_JOBS + gen.INITIAL_JOBS):
            # A job is due once the time since its last success exceeds
            # INTERVAL, so this last success makes it due first at its tick.
            offset = gen.PERIOD - gen.job_first_tick(job_id)
            last = iso(self.sys.sim_now - dt.timedelta(minutes=offset))
            self._add_job(job_id, last_success=last,
                          faults=faults[job_id] if job_id < gen.WARM_JOBS else 0)
            spec = self.specs[job_id]
            # Warm-up jobs infer their schema, so tick 0 warms that path too.
            if job_id >= gen.WARM_JOBS and spec.kind in ("full", "incr"):
                self.sys.store.pin_schema(
                    job_id, sheet_schema(gen.job_grid_header(spec), spec.kinds))
        self.lake.setup(spark, self.sys)

    def discard(self) -> None:
        shutil.rmtree(self.sys.root, ignore_errors=True)
        self.sys = None

    def _add_job(self, job_id: int, last_success: str = "", faults: int = 0) -> None:
        spec = gen.job_spec(self.seed, job_id)
        self.specs[job_id] = spec
        self.runs[job_id] = []
        # A missing-worksheet job's document exists, under another sheet name.
        self.sys.publish(spec.document, "Data", gen.job_grid(self.seed, spec, 0))
        if faults:
            key = f"{spec.document}/{spec.sheet}"
            self.sys.transport.fail_script[key] = [
                TransientError("503 backend unavailable") for _ in range(faults)
            ]
        target = "" if spec.kind == "csv" else "warehouse"
        self.sys.put_job(Job(
            job_id=job_id, document=spec.document, sheet=spec.sheet,
            target_system=target, destination=spec.destination if target else "",
            incremental=spec.kind == "incr", refresh_now=not last_success,
            refresh_interval=INTERVAL, last_success=last_success,
        ))

    # -- warm-up and measured loop -------------------------------------------

    def _tick(self, out: Outcome, tick: int, clk, tr):
        """One tick and its lake work; returns the tick's timer, results,
        scan latencies and batch."""
        s = self.sys
        batch = self.lake.publish(tick)
        with clk.timed() as t:
            with tr.span("control.tick", spark_group=True):
                results = s.tick()
            version = self.lake.merge(batch, tr)
        loaded = out.check(FEED_RESULT in results, f"tick {tick}: feed load {results}")
        self._check_tick(out, [r for r in results if r[0] != FEED_JOB])
        scans = self.lake.read_back(tick, version, loaded, clk, tr)
        return t, results, scans, batch

    def warm_up(self, out: Outcome) -> None:
        """Tick 0: the warm-up jobs and a small batch, checked, neither
        timed nor traced."""
        self._tick(out, 0, ActiveClock(), Tracer(enabled=False, run_id=""))

    def run(self, seconds: float, out: Outcome) -> None:
        s = self.sys
        restore = s.instrument(self.tracer)
        clock = ActiveClock()
        latencies: list[float] = []
        tick_s: list[float] = []
        batch_lat: list[float] = []
        scan_lat: list[float] = []
        rows_merged = 0
        next_id = gen.WARM_JOBS + gen.INITIAL_JOBS
        tick = 1
        give_up = time.perf_counter() + MAX_LOOP_S
        while (
            (clock.active < seconds or len(latencies) < MIN_SAMPLES or tick <= MIN_TICKS)
            and time.perf_counter() < give_up
        ):
            for _ in range(gen.NEW_PER_TICK):
                self._add_job(next_id, faults=gen.new_job_faults(self.seed, next_id))
                next_id += 1
            t, results, scans, batch = self._tick(out, tick, clock, self.tracer)
            self.unit_done()
            tick_s.append(round(t.seconds, 3))
            latencies += [s.terminal[job_id] - t.start for job_id, _, _ in results]
            batch_lat.append(t.seconds)
            scan_lat += scans
            rows_merged += batch.size
            tick += 1
        unpatch(restore)
        terminal = len(latencies)

        p50 = stats.percentile(latencies, 0.5)
        out.metrics = {
            "throughput_per_s": terminal / clock.active,
            "latency_s": p50,
        }
        out.report = {
            "jobs_per_s": (terminal / clock.active, "jobs/s"),
            "job_p50_s": (p50, "s"),
            "job_p90_s": (stats.percentile(latencies, 0.9), "s"),
            "latency_samples": (len(latencies), "count"),
            "ticks_timed": (tick - 1, "count"),
            "tick_s": (tick_s, "s"),
            "rows_per_s": (rows_merged / clock.active, "rows/s"),
            "batch_p50_s": (stats.percentile(batch_lat, 0.5), "s"),
            "scan_p50_s": (stats.percentile(scan_lat, 0.5), "s"),
            "scan_p90_s": (stats.percentile(scan_lat, 0.9), "s"),
            "scan_samples": (len(scan_lat), "count"),
            "measured_s": (clock.active, "s"),
            "retries": (len(s.sleeps), "count"),
        }

    def verify(self, out: Outcome) -> None:
        self._check_products(out)
        self.lake.verify(out)

    def _check_tick(self, out: Outcome, results) -> None:
        s = self.sys
        ids = [r[0] for r in results]
        out.check(len(ids) == len(set(ids)), f"a job ran twice in one tick: {ids}")
        for job_id, status, result in results:
            spec = self.specs[job_id]
            if spec.kind == "missing":
                job = s.store.get(job_id)
                out.check(
                    status == "Failure" and "Available:" in result and job.refresh_interval == "",
                    f"job {job_id}: expected an enriched Failure, got {status}: {result[:120]}",
                )
                continue
            if not out.check(status == "Success", f"job {job_id}: {status}: {result[:200]}"):
                continue
            run = len(self.runs[job_id])
            self.runs[job_id].append(run)
            if spec.kind == "csv":
                self.exports[result] = (job_id, run)
            # The next run of this job reads the next version of its sheet.
            s.publish(spec.document, "Data", gen.job_grid(self.seed, spec, run + 1))

    def _check_products(self, out: Outcome) -> None:
        """Every table and CSV equals the grids the generator produced, and
        the audit log holds one row per run."""
        import pyarrow.parquet as pq

        s = self.sys
        for job_id, runs in self.runs.items():
            spec = self.specs[job_id]
            if spec.kind not in ("full", "incr") or not runs:
                continue
            kept = runs[-1:] if spec.kind == "full" else runs
            expected = []
            for run in kept:
                grid = gen.job_grid(self.seed, spec, run)
                expected += [
                    tuple(gen.typed(k, c) for k, c in zip(spec.kinds, row)) for row in grid[1:]
                ]
            table = pq.read_table(os.path.join(s.warehouse.root, spec.destination))
            header = gen.job_grid_header(spec)
            got = [tuple(r[c] for c in header) for r in table.to_pylist()]
            out.check(
                table.column_names == header and sorted(got, key=repr) == sorted(expected, key=repr),
                f"table {spec.destination} ({spec.kind}, {len(kept)} runs) differs from its sheets",
            )
        for path, (job_id, run) in self.exports.items():
            grid = gen.job_grid(self.seed, self.specs[job_id], run)
            rows = []
            headers_ok = True
            for part in sorted(glob.glob(os.path.join(path, "part-*.csv"))):
                with open(part, newline="") as fh:
                    parsed = list(csv.reader(fh, escapechar="\\"))
                if parsed:
                    headers_ok &= parsed[0] == grid[0]
                    rows += parsed[1:]
            out.check(
                headers_ok and sorted(rows) == sorted(grid[1:]),
                f"CSV export {os.path.basename(path)} differs from its sheet",
            )
        log = pq.read_table(os.path.join(s.store.root, "run_log"))
        total_runs = sum(len(r) for r in self.runs.values()) + len(self.lake.seen) + sum(
            1 for j, sp in self.specs.items() if sp.kind == "missing" and s.store.get(j).state == "Failure"
        )
        out.check(log.num_rows == total_runs, f"audit log has {log.num_rows} rows for {total_runs} runs")


WORKLOAD = SheetJobs
