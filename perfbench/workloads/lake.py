"""The lake half of ``sheet_jobs``: a feed job that loads one large keyed
sheet batch per tick into a staging warehouse table, which the client then
``SnapshotTable.merge``s into a lake table clustered on the key and reads
back with range scans.

Batches (10k-20k rows x 12 columns) update the most recent keys; batches
2, 5, 8, ... scatter a share of their updates over old keys (no file
pruning for that merge) and batches 1, 5, 9, ... delete old keys through
``delete_col``. After each merge the client runs ``SCANS_PER_BATCH``
``scan_range`` reads and one ``snapshot()`` count; every
``MAINTENANCE_EVERY`` batches it also reads an older version (time travel)
and runs ``compact()``. The feed job has run before (its schema is pinned
in setup), so no batch pays ``infer_schema``. The loop only records what
the engine returned; ``verify`` replays the merge sequence on a
pure-Python model afterwards and compares every read with it.
"""

from __future__ import annotations

import hashlib
import json
import os

from flusher_spark.control import Job
from flusher_spark.io.snapshots import SnapshotTable
from pyspark.sql import functions as F

from perfbench import gen
from perfbench.model import LakeModel
from perfbench.workloads.base import Outcome
from perfbench.workloads.scheduled import SheetSystem, sheet_schema, tree_files

#: Apart from the sheet jobs' ids.
FEED_JOB = 99_999
FEED_RESULT = (FEED_JOB, "Success", "g_sheets.staging")
SCANS_PER_BATCH = 10
#: Width of one range scan, in keys.
SCAN_WIDTH = 1_500
MAINTENANCE_EVERY = 2
TARGET_FILE_ROWS = 10_000
TARGET_FILE_BYTES = 1 << 20
LAKE_NAMES = gen.lake_header()[:-1]


def manifest(table: SnapshotTable, version: int | None = None) -> dict:
    v = table.current_version() if version is None else version
    with open(os.path.join(table.root, "_manifests", f"v{v}.json")) as fh:
        return json.load(fh)


def stored_rows(m: dict) -> list[tuple]:
    """Every row of a table version, read from its data files directly."""
    import pyarrow.parquet as pq

    rows = []
    for f in m["files"]:
        cols = pq.read_table(f["path"], columns=LAKE_NAMES).to_pydict()
        rows += zip(*(cols[c] for c in LAKE_NAMES))
    return sorted(rows)


def summary(df) -> tuple[int, int, int]:
    """Row count, key sum and ``grp`` sum of a table version."""
    r = df.agg(F.count("*").alias("n"), F.sum("id").alias("k"), F.sum("grp").alias("g")).collect()[0]
    return (r["n"], r["k"] or 0, r["g"] or 0)


def digest(rows) -> str:
    """Order-independent fingerprint of a set of row tuples."""
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def merge_attrs(before: dict, after: dict, staging: str) -> dict:
    """Files and bytes one merge added, and the bytes it staged."""
    old = {f["path"] for f in before["files"]}
    added = [f["path"] for f in after["files"] if f["path"] not in old]
    return {
        "files_added": len(added),
        "bytes_added": sum(os.path.getsize(p) for p in added),
        "staged_bytes": sum(tree_files(staging).values()),
    }


def table_attrs(table: SnapshotTable) -> dict:
    """Live files, their bytes and all data bytes on disk."""
    live = manifest(table)["files"]
    return {
        "files_live": len(live),
        "live_bytes": sum(os.path.getsize(f["path"]) for f in live),
        "disk_bytes": sum(tree_files(os.path.join(table.root, "data")).values()),
    }


class LakeFeed:
    """The feed job, the lake table and what the client read from it."""

    def __init__(self, seed: int, base_path: str, base_rows: dict) -> None:
        self.seed = seed
        self.base_path = base_path
        self.base_rows = base_rows

    def setup(self, spark, sys_: SheetSystem) -> None:
        self.sys = sys_
        sys_.put_job(Job(
            job_id=FEED_JOB, document="feed", sheet="Batch", target_system="warehouse",
            destination="staging", incremental=False,
        ))
        sys_.store.pin_schema(
            FEED_JOB, sheet_schema(gen.lake_header(), [k for _, k in gen.LAKE_COLUMNS]))
        self.table = SnapshotTable(
            spark, os.path.join(sys_.root, "lake"), key="id", cluster_by=["id"],
            target_file_rows=TARGET_FILE_ROWS, target_file_bytes=TARGET_FILE_BYTES,
        )
        self.table.create(spark.read.parquet(self.base_path))
        self.seen: list[dict] = []
        self.rng = gen.rng_for(self.seed, "scans")
        self.saved_version = None

    def publish(self, b: int) -> gen.LakeBatch:
        """Serve batch ``b`` as the feed sheet and make the feed job due."""
        batch = gen.lake_batch(self.seed, b)
        self.sys.publish("feed", "Batch", batch.rows)
        job = self.sys.store.get(FEED_JOB)
        job.refresh_now = True
        self.sys.put_job(job)
        return batch

    def merge(self, batch: gen.LakeBatch, tr):
        """Merge the staged batch into the lake (timed by the caller)."""
        t = self.table
        self._before = manifest(t) if tr.enabled else None
        src = self.sys.warehouse.read("staging")
        with tr.span("io.merge", spark_group=True) as sp:
            if batch.deletes:
                version = t.merge(src, delete_col="deleted")
            else:
                version = t.merge(src.drop("deleted"))
        self._merge_span = sp
        return version

    def read_back(self, b: int, version: int, loaded: bool, clk, tr) -> list[float]:
        """Record the merged version, then the range scans, the snapshot
        count and, every ``MAINTENANCE_EVERY`` batches, time travel and
        compaction. Returns the scan latencies."""
        t = self.table
        seen = {"scans": []}
        self.seen.append(seen)
        if self._merge_span is not None:
            self._merge_span.attrs.update(merge_attrs(
                self._before, manifest(t, version), os.path.join(self.sys.warehouse.root, "staging")))
        seen["merge"] = summary(t.snapshot()) if loaded else None
        if b % MAINTENANCE_EVERY == 0:
            self.saved_version = version
        keys_hi = gen.lake_next_id(self.seed, b + 1)
        lat = []
        for i in range(SCANS_PER_BATCH):
            # Half the scans read recent keys, half anywhere in the table,
            # each half spread over its key span in equal strata.
            lo_floor = keys_hi - gen.LAKE_RECENT_KEYS if i % 2 == 0 else 0
            stratum = (keys_hi - SCAN_WIDTH - lo_floor) / (SCANS_PER_BATCH // 2)
            lo = lo_floor + int(stratum * (i // 2 + self.rng.random()))
            hi = lo + SCAN_WIDTH - 1
            with clk.timed() as sc, tr.span("io.scan_range", spark_group=True) as sp:
                rows = t.scan_range(lo, hi).collect()
            lat.append(sc.seconds)
            if sp is not None:
                sp.attrs.update(input_files=len(t.scan_range(lo, hi).inputFiles()),
                                live_files=len(manifest(t)["files"]))
            seen["scans"].append((lo, hi, digest(tuple(r[c] for c in LAKE_NAMES) for r in rows)))
        with clk.timed(), tr.span("io.snapshot_read", spark_group=True) as sp:
            seen["count"] = t.snapshot().count()
        if sp is not None:
            sp.attrs.update(table_attrs(t))
        if b % MAINTENANCE_EVERY == MAINTENANCE_EVERY - 1:
            with clk.timed(), tr.span("io.time_travel", spark_group=True):
                seen["time_travel"] = (self.saved_version, summary(t.snapshot(version=self.saved_version)))
            with clk.timed(), tr.span("io.compact", spark_group=True):
                t.compact()
            seen["compact"] = summary(t.snapshot())
        return lat

    def verify(self, out: Outcome) -> None:
        """Replay the merge and delete sequence on the pure-Python model and
        compare every recorded read, then the final table row for row."""
        model = LakeModel(self.base_rows)
        saved = None
        for b, seen in enumerate(self.seen):
            model.merge_sheet(gen.lake_batch(self.seed, b).rows)
            if seen["merge"] is not None:
                out.check(seen["merge"] == model.summary(),
                          f"batch {b} merge: (rows, key sum, grp sum) {seen['merge']} != {model.summary()}")
            if b % MAINTENANCE_EVERY == 0:
                saved = model.summary()
            for lo, hi, got in seen["scans"]:
                out.check(got == digest(model.range(lo, hi)), f"batch {b}: scan_range({lo}, {hi})")
            out.check(seen["count"] == len(model.rows),
                      f"batch {b}: snapshot count {seen['count']} != {len(model.rows)}")
            if "time_travel" in seen:
                version, got = seen["time_travel"]
                out.check(got == saved, f"batch {b}: time travel to v{version}: {got} != {saved}")
            if "compact" in seen:
                out.check(seen["compact"] == model.summary(), f"batch {b}: compact {seen['compact']}")
        out.check(stored_rows(manifest(self.table)) == sorted(model.rows.values()),
                  "final lake contents differ from the model")
