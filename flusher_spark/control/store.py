"""JobStore: the jobs control table + audit log + pinned schemas on disk.

The control table is spreadsheet-scale by construction (the reference's is a
literal worksheet), so state transitions are driver-side upserts persisted to
parquet — the single-writer discipline the reference also has (one polling
loop). On a cluster deployment the same interface fronts a Delta table with
MERGE; nothing else changes.

State-machine semantics preserved from the reference (these are behavioral
specs, SURVEY.md §2.A row 20):
- mark_running consumes Refresh Now even if the run later fails
  (manager.py:87-88)
- mark_success sets Last Success and keeps the schedule (manager.py:97-112)
- mark_failure CLEARS Refresh Interval — failed jobs stop rescheduling until
  a human re-enters it (manager.py:115-130, clear at :121-122)
- mark_invalid_schedule = Failure + cleared interval for unparsable
  schedules (manager.py:133-144)
Engine addition: mark_running takes a lease (model.py) so crashed runs
re-schedule after lease expiry instead of wedging.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

# One timestamp format for control-table state and metrics rows alike
# (instrumentation never imports control, so this direction is cycle-free).
from flusher_spark.instrumentation import METRICS_SCHEMA, utcnow_iso  # noqa: F401  (re-exported)
from flusher_spark.control.model import (
    EPOCH_NEVER,
    JOBS_SCHEMA,
    RUN_LOG_SCHEMA,
    STATE_FAILURE,
    STATE_RUNNING,
    STATE_SUCCESS,
    Job,
    RunRecord,
)


class JobStore:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        os.makedirs(os.path.join(root, "schemas"), exist_ok=True)
        self._jobs: dict[int, Job] = {}
        # Concurrent-scheduler support: state transitions arrive from worker
        # threads (Scheduler.max_concurrency > 1). One lock serializes every
        # mutation + parquet snapshot — the same single-writer discipline,
        # now explicit. A cluster deployment swaps this for Delta MERGE
        # transactionality.
        self._lock = threading.RLock()
        self._load()

    # -- persistence --------------------------------------------------------

    @property
    def _jobs_path(self) -> str:
        return os.path.join(self.root, "jobs.parquet")

    @property
    def _log_path(self) -> str:
        return os.path.join(self.root, "run_log")

    def _load(self) -> None:
        if os.path.exists(self._jobs_path):
            table = pq.read_table(self._jobs_path).to_pylist()
            self._jobs = {r["job_id"]: Job(**r) for r in table}

    def reload(self) -> None:
        """Re-read jobs.parquet — the control table is LIVE, exactly like
        the reference's sheet (read_control_sheet runs every poll,
        manager.py:33-37): a job added or edited by ANOTHER process (the
        CLI's ``job add`` while the daemon runs) becomes visible at the
        daemon's next tick instead of being invisible forever and then
        silently erased by this process's next ``_save`` (r14 review).
        Every mutation persists immediately through the atomic tmp+replace
        swap, so the file is always whole; concurrent writers are
        last-writer-wins at file granularity — the documented
        single-scheduler contract, with CLI edits expected between ticks."""
        with self._lock:
            self._load()

    def _table(self) -> pa.Table:
        return pa.Table.from_pylist([j.__dict__ for j in self._jobs.values()], schema=JOBS_SCHEMA)

    def _save(self) -> None:
        tmp = self._jobs_path + ".tmp"
        pq.write_table(self._table(), tmp)
        os.replace(tmp, self._jobs_path)  # atomic swap: readers never see a torn file

    # -- job CRUD -----------------------------------------------------------

    def put(self, job: Job) -> None:
        with self._lock:
            self._jobs[job.job_id] = job
            self._save()

    def get(self, job_id: int) -> Job:
        return self._jobs[job_id]

    def jobs(self) -> list[Job]:
        """Control-table scan, skipping empty-Document rows (reference
        read_control_sheet, manager.py:33-37)."""
        return [j for j in self._jobs.values() if j.document]

    def jobs_df(self) -> DataFrame:
        """The jobs table as a DataFrame for Spark-side predicates, built
        from Arrow: the due scan over it runs no Python worker or Spark job."""
        return self.spark.createDataFrame(self._table())

    # -- state machine ------------------------------------------------------

    def mark_running(self, job_id: int, now: str | None = None) -> str:
        now = now or utcnow_iso()
        with self._lock:
            j = self._jobs[job_id]
            prior = dict(j.__dict__)
            j.refresh_now = False  # one-shot trigger consumed at run START
            j.state = STATE_RUNNING
            j.lease_ts = now
            try:
                self._save()
            except BaseException:
                # Claim is transactional: if the persist fails (disk full,
                # transient IO), restore the in-memory job so the consumed
                # refresh_now / Running state can't wedge a job that never
                # ran — the caller skips it this tick and it stays due
                # (r14 review).
                j.__dict__.update(prior)
                raise
        return now

    def refresh_lease(self, job_id: int, now: str | None = None) -> str:
        """Heartbeat: extend a Running job's lease without touching any
        other field. A pipeline that legitimately outlives ``lease_seconds``
        (a big first load) would otherwise look crashed to a later tick and
        be DOUBLE-DISPATCHED — two concurrent appends to the same lake
        table (r11 review). No-op unless the job is still Running (the run
        may have completed between the timer firing and the lock)."""
        now = now or utcnow_iso()
        with self._lock:
            j = self._jobs.get(job_id)
            if j is not None and j.state == STATE_RUNNING:
                j.lease_ts = now
                self._save()
        return now

    def mark_success(self, job_id: int, result: str, now: str | None = None) -> str:
        now = now or utcnow_iso()
        with self._lock:
            j = self._jobs[job_id]
            j.state = STATE_SUCCESS
            j.last_success = now
            j.last_result = result
            j.lease_ts = ""
            self._save()
        return now

    def mark_failure(self, job_id: int, error: str, now: str | None = None) -> str:
        now = now or utcnow_iso()
        with self._lock:
            j = self._jobs[job_id]
            j.state = STATE_FAILURE
            j.last_result = error
            j.refresh_interval = ""  # failure disables the schedule (reference :121-122)
            j.lease_ts = ""
            self._save()
        return now

    def mark_invalid_schedule(self, job_id: int, error: str) -> str:
        return self.mark_failure(job_id, f"invalid refresh interval: {error}")

    # -- audit log ----------------------------------------------------------

    def append_log(self, record: RunRecord) -> None:
        """Single-record append (see append_logs for the batched path)."""
        self.append_logs([record])

    def append_logs(self, records: list[RunRecord]) -> None:
        """Synchronous append — strengthens the reference's fire-and-forget
        daemon-thread log (manager.py:147-164, at-most-once, lost on crash)
        to exactly-recorded. Batched: the scheduler passes a whole tick's
        records at once and they land as ONE parquet file, so a 1-second
        poll cadence grows the log directory by at most one file per busy
        tick instead of one per run."""
        _append_parquet(self._log_path, records, RUN_LOG_SCHEMA)

    def run_log(self) -> DataFrame:
        return self._read_appended(self._log_path, RUN_LOG_SCHEMA)

    # -- metrics table (instrumentation.py; reference @instrumented) ---------

    @property
    def _metrics_path(self) -> str:
        return os.path.join(self.root, "metrics")

    def append_metrics(self, metrics: list) -> None:
        """Persist Recorder output (``Metric`` records, METRICS_COLUMNS),
        batched like append_logs: one file per flush."""
        _append_parquet(self._metrics_path, metrics, METRICS_SCHEMA)

    def metrics_df(self) -> DataFrame:
        return self._read_appended(self._metrics_path, METRICS_SCHEMA)

    def _read_appended(self, path: str, schema: pa.Schema) -> DataFrame:
        if not os.path.isdir(path):
            return self.spark.createDataFrame(schema.empty_table())
        return self.spark.read.parquet(path)

    # -- pinned schemas (drift detection; SURVEY §1.2) ----------------------

    def _schema_path(self, job_id: int) -> str:
        return os.path.join(self.root, "schemas", f"{job_id}.json")

    def get_pinned_schema(self, job_id: int):
        from pyspark.sql import types as T

        path = self._schema_path(job_id)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return T.StructType.fromJson(json.load(fh))

    def pin_schema(self, job_id: int, schema) -> None:
        # tmp + atomic replace, the _save discipline: a crash mid-write used
        # to leave truncated JSON that failed every later run of the job
        # (get_pinned_schema → JSONDecodeError) until hand-deleted.
        path = self._schema_path(job_id)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(schema.jsonValue(), fh)
        os.replace(tmp, path)


def _append_parquet(path: str, rows: list, schema: pa.Schema) -> None:
    """Append dataclass ``rows`` holding ``schema``'s fields to the parquet
    directory ``path`` as ONE pyarrow-written file (no Spark job). It goes to
    a hidden temp name, which Spark and pyarrow both skip, and is renamed
    into place, so a reader never sees a torn file."""
    if not rows:
        return
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist([vars(r) for r in rows], schema=schema), tmp)
    os.replace(tmp, os.path.join(path, name))
