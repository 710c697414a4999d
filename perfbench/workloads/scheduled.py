"""The job runner as ``sheet_jobs`` drives it: a ``JobStore`` control
table, a ``RemoteSheetSource`` over the in-memory ``DictTransport``, a
``Warehouse`` sink and a ``Scheduler`` wired together, plus the traced-run
wrappers around those injected collaborators and the module-level
functions the scheduler calls.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from flusher_spark.control import Job, JobStore, Scheduler
from flusher_spark.control import scheduler as scheduler_module
from flusher_spark.sinks.table import Warehouse
from flusher_spark.sources.connector import (
    CredentialProvider,
    DictTransport,
    RemoteSheetSource,
    Token,
)
from flusher_spark.sources.sheet import SheetGrid

SIM_START = dt.datetime(2025, 1, 6, 8, 0, 0)
SIM_STEP = dt.timedelta(seconds=60)


def iso(t: dt.datetime) -> str:
    return t.isoformat(timespec="seconds")


def sheet_schema(names, kinds):
    """The schema ``infer_schema`` gives a sheet whose columns hold cells of
    ``kinds`` (``gen`` cell kinds), as a job that ran before has pinned it."""
    from pyspark.sql import types as T

    types = {
        "key": T.LongType(), "int": T.LongType(), "dec": T.DoubleType(),
        "ts": T.TimestampNTZType(), "bool": T.BooleanType(), "text": T.StringType(),
        "city": T.StringType(),
    }
    return T.StructType([T.StructField(n, types[k], True) for n, k in zip(names, kinds)])


def tree_files(path: str, suffixes=(".parquet", ".csv")) -> dict[str, int]:
    """Data files under ``path`` with their sizes."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffixes) and not f.startswith("."):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


class SheetSystem:
    """One control table, sheet service, warehouse and scheduler."""

    def __init__(self, spark, root: str, max_concurrency: int) -> None:
        self.root = root
        self.store = JobStore(spark, os.path.join(root, "control"))
        self.warehouse = Warehouse(spark, os.path.join(root, "warehouse"))
        self.export_dir = os.path.join(root, "exports")
        os.makedirs(self.export_dir, exist_ok=True)
        self.transport = DictTransport()
        #: Backoff delays requested by the retry policy; recorded, never slept.
        self.sleeps: list[float] = []
        self.source = RemoteSheetSource(
            self.transport,
            CredentialProvider(fetch=lambda: Token("bench-token", 4.0e9)),
            sleep=self.sleeps.append,
        )
        self.sim_now = SIM_START
        self.scheduler = Scheduler(
            spark, self.store, self.source, self.warehouse, self.export_dir,
            clock=lambda: iso(self.sim_now), max_concurrency=max_concurrency,
        )
        #: job_id -> perf_counter() when its latest terminal transition persisted.
        self.terminal: dict[int, float] = {}
        for name in ("mark_success", "mark_failure"):
            setattr(self.store, name, self._record_terminal(getattr(self.store, name)))

    def _record_terminal(self, fn):
        def recorded(job_id, *args, **kwargs):
            out = fn(job_id, *args, **kwargs)
            self.terminal[job_id] = time.perf_counter()
            return out

        return recorded

    def publish(self, document: str, sheet: str, rows: list[list[str]]) -> None:
        self.transport.documents[document] = {sheet: SheetGrid(sheet, rows)}

    def put_job(self, job: Job) -> None:
        self.store.put(job)

    def tick(self):
        """One scheduler tick at the simulated clock, then advance it."""
        out = self.scheduler.tick(now=iso(self.sim_now))
        self.sim_now += SIM_STEP
        return out

    # -- traced run ---------------------------------------------------------

    def instrument(self, tracer) -> list:
        """Wrap the collaborators and the scheduler module's functions with
        spans. Returns the (owner, attr, original) list to restore."""
        if not tracer.enabled:
            return []
        restore = []

        def patch(owner, attr, name, spark_group=False, attrs_of=None):
            restore.append((owner, attr, getattr(owner, attr)))
            tracer.patch(owner, attr, name, spark_group, attrs_of)

        s, st = self.scheduler, self.store
        patch(s, "run_job", "control.run_job", True, lambda a, k, r: {"job_id": a[0].job_id})
        patch(st, "reload", "control.reload")
        patch(st, "mark_running", "control.claim", False, lambda a, k, r: {"job_id": a[0]})
        patch(st, "mark_success", "control.finish")
        patch(st, "mark_failure", "control.finish")
        patch(st, "append_logs", "control.append_logs", True)
        patch(st, "append_metrics", "control.append_metrics", True)
        patch(st, "get_pinned_schema", "control.schema_pin")
        patch(st, "pin_schema", "control.schema_pin")
        patch(self.source, "worksheet", "sources.fetch")
        patch(self.transport, "fetch_worksheet", "sources.fetch_attempt")
        patch(scheduler_module, "read_sheet", "sources.read_sheet", False,
              lambda a, k, r: {"cells": a[1].num_rows * a[1].num_columns})
        patch(scheduler_module, "infer_schema", "sources.infer_schema", True)
        patch(scheduler_module, "translate_error", "control.translate_error")

        wh_load = self.warehouse.load

        def load(df, table, incremental=False):
            path = os.path.join(self.warehouse.root, table)
            before = set(tree_files(path)) if incremental else set()
            sp = tracer.open("sinks.load", True, table=table)
            try:
                result = wh_load(df, table, incremental)
            finally:
                tracer.close(sp)
            if sp is not None:
                files = tree_files(path)
                new = {p: n for p, n in files.items() if p not in before}
                sp.attrs.update(files=len(new), bytes=sum(new.values()))
            return result

        restore.append((self.warehouse, "load", wh_load))
        self.warehouse.load = load

        to_csv = scheduler_module.to_csv

        def csv_export(df, out_dir, document, sheet="", **kwargs):
            sp = tracer.open("sinks.to_csv", True)
            try:
                path = to_csv(df, out_dir, document, sheet, **kwargs)
            finally:
                tracer.close(sp)
            if sp is not None:
                files = tree_files(path)
                sp.attrs.update(files=len(files), bytes=sum(files.values()))
            return path

        restore.append((scheduler_module, "to_csv", to_csv))
        scheduler_module.to_csv = csv_export
        return restore


def unpatch(restore: list) -> None:
    for owner, attr, original in reversed(restore):
        setattr(owner, attr, original)
