"""Spark session lifecycle, memory and host-noise sampling for one run.

Every file the run writes (Spark local dirs, the JVM's and Python's temp
dirs, the warehouse, the event log) lives under the run's work directory
inside the checkout.
"""

from __future__ import annotations

import gc
import os
import shlex
import time


def configure_temp(work_dir: str) -> str:
    """Point Python's and every child process's temp dir into ``work_dir``.
    Must run before the JVM starts."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # spark-submit's launcher JVM would write its hsperfdata file under /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    return tmp



def start_session(work_dir: str, cpus: int, event_log_dir: str | None = None):
    """The session ``flusher_spark.session.get_session`` builds, with its
    own driver memory and the JVM's own JIT, confined to ``work_dir``.
    ``event_log_dir`` turns on an uncompressed, non-rolling event log
    (traced runs only).

    The benchmark's confs go to ``spark-submit`` through
    ``PYSPARK_SUBMIT_ARGS``, which the JVM launch reads once; a later
    session in the same JVM inherits them from its system properties."""
    from flusher_spark.session import get_session

    tmp = os.path.join(work_dir, "tmp")
    confs = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        # No hsperfdata file: the JVM would write it under /tmp, outside the checkout.
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update({
            # The status tracker must still hold every job when a traced
            # run counts them at the end.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    spark = get_session("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class EngineMemory:
    """Peak memory the engine holds during the measured loop: the JVM heap
    as a full collection leaves it (live objects only), sampled at the
    start and between units of the loop (ticks; catalog entries); the
    JVM's non-heap pools at their peak (``MemoryPoolMXBean``); and this
    driver process's peak resident size.

    The heap is taken after full collections at unit boundaries, not as
    the peak of ``used``: that peak mostly follows how large G1 let the
    young generation grow before collecting it, and swung by 30% between
    runs of the same work (README.md). ``reset`` runs just before the loop
    and clears the other peaks (the kernel's through
    ``/proc/self/clear_refs``); ``sample`` runs after each unit, outside
    the timed part; ``read`` must run right after the loop, before any
    correctness check allocates."""

    def __init__(self, spark) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.heap = mf.getMemoryMXBean()
        self.pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().toString() != "Heap memory"]
        self.heap_peak = 0

    def sample(self) -> None:
        # Python first: JVM objects stay live while a Python proxy holds
        # them. The first JVM collection lets Spark's context cleaner drop
        # the blocks of broadcasts and shuffles no longer referenced; the
        # second frees them, so the reading does not depend on the
        # cleaner's timing.
        gc.collect()
        self.heap.gc()
        time.sleep(0.2)
        self.heap.gc()
        self.heap_peak = max(self.heap_peak, self.heap.getHeapMemoryUsage().getUsed())

    def reset(self) -> None:
        self.heap_peak = 0
        self.sample()
        for pool in self.pools:
            pool.resetPeakUsage()
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")

    def read(self) -> dict[str, float]:
        py_mb = _vm_hwm_mb()
        non_heap = sum(p.getPeakUsage().getUsed() for p in self.pools if p.getPeakUsage() is not None)
        return {
            "jvm_live_heap_mb": self.heap_peak / 2**20,
            "jvm_non_heap_mb": non_heap / 2**20,
            "python_mb": py_mb,
        }


def jvm_times(spark) -> dict[str, float]:
    """Cumulative JVM garbage-collection and JIT-compilation seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_s": gc_ms / 1e3, "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to killing it
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class HostNoise:
    """Load average plus steal and iowait shares of CPU time over a window,
    read from ``/proc``. A result is flagged noisy, never dropped. On a
    4-core shared host, runs with over 1% steal were 10-20% slower."""

    STEAL_LIMIT = 0.01
    IOWAIT_LIMIT = 0.10

    def __init__(self) -> None:
        self.cpus = os.cpu_count() or 1
        self._start = self._cpu()
        self._load_start = self._loadavg()

    @staticmethod
    def _cpu() -> list[int]:
        try:
            with open("/proc/stat") as fh:
                return [int(x) for x in fh.readline().split()[1:]]
        except OSError:
            return []

    @staticmethod
    def _loadavg() -> float | None:
        try:
            with open("/proc/loadavg") as fh:
                return float(fh.read().split()[0])
        except OSError:
            return None

    def finish(self) -> dict:
        end = self._cpu()
        load = self._loadavg()
        out = {"loadavg_start": self._load_start, "loadavg_end": load, "cpus": self.cpus}
        if self._start and end:
            d = [b - a for a, b in zip(self._start, end)]
            total = sum(d) or 1
            # /proc/stat cpu columns: user nice system idle iowait irq softirq steal ...
            out["iowait_share"] = d[4] / total
            out["steal_share"] = d[7] / total if len(d) > 7 else 0.0
        reasons = []
        if out.get("steal_share", 0.0) > self.STEAL_LIMIT:
            reasons.append("steal")
        if out.get("iowait_share", 0.0) > self.IOWAIT_LIMIT:
            reasons.append("iowait")
        if self._load_start is not None and self._load_start > 1.5 * self.cpus:
            reasons.append("load")
        out["noisy"] = bool(reasons)
        out["noise_reasons"] = reasons
        return out
