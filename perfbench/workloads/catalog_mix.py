"""catalog_mix: a fixed subset of catalog entries, one closed-loop client.

Each entry's plan is built with ``registry()[name].fn(spark, data_dir)``
and executed with a noop write, the same action ``bench.py`` times. The
subset spans the four plan modules, includes entries whose plan
construction runs Spark jobs before the action (``events_zscore_outliers``,
``dedup_containment_ngram``, ``etl_snapshot_cdc_delete``) and entries
dominated by Python workers (``multimodal_jpeg_decode``,
``docs_chunk_udtf``). The tables are generated once per checkout from
the sf0.01 fixture's measured profile (``gen.write_catalog_tables``);
``--seed`` sets the entry order of every pass. The first pass collects every result and keeps its canonical form
(``tools/check_oracle.py``'s ``canon_rows``) as a digest; it warms the
JVM and is not timed. At least ``MIN_PASSES`` timed passes follow. After
them (``verify``) the digests are compared with the DuckDB oracle's.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics

from perfbench import gen, stats
from perfbench.workloads.base import ActiveClock, Outcome

ENTRIES = (
    "q1_pricing_summary",
    "events_sessionize_30m",
    "asof_purchase_last_view",
    "events_zscore_outliers",
    "dedup_containment_ngram",
    "multimodal_jpeg_decode",
    "docs_chunk_udtf",
    "etl_snapshot_cdc_delete",
)
MODULES = ("relational", "llm", "corpus", "etl")
MIN_PASSES = 3
DATA_VERSION = "catalog-v3"


def module_of(entry) -> str:
    return entry.fn.__module__.rsplit(".", 1)[-1]


class CatalogMix:
    name = "catalog_mix"

    def __init__(self, seed: int, run_dir: str, tracer) -> None:
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer
        #: Called between timed entries, outside their timing.
        self.unit_done = lambda: None

    def make_inputs(self) -> None:
        """Generate the tables once per checkout (a fixed data seed), next to
        the per-run work directories."""
        self.data_dir = os.path.join(os.path.dirname(self.run_dir), "data", DATA_VERSION)
        if not os.path.isdir(self.data_dir):
            tmp = f"{self.data_dir}.tmp{os.getpid()}"
            gen.write_catalog_tables(tmp)
            os.makedirs(os.path.dirname(self.data_dir), exist_ok=True)
            try:
                os.rename(tmp, self.data_dir)
            except OSError:  # another run published it first
                shutil.rmtree(tmp, ignore_errors=True)

    def setup(self, spark) -> None:
        """Load the catalog and register the ten tables as views, as a user
        of the catalog does before querying."""
        from flusher_spark.io.tables import register_views
        from flusher_spark.plans.catalog import registry

        self.spark = spark
        reg = registry()
        self.entries = {name: reg[name] for name in ENTRIES}
        register_views(spark, self.data_dir)

    def discard(self) -> None:
        pass

    def _order(self, pass_no: int) -> list[str]:
        names = list(ENTRIES)
        gen.rng_for(self.seed, "catalog-order", pass_no).shuffle(names)
        return names

    def run(self, seconds: float, out: Outcome) -> None:
        from flusher_spark.instrumentation import noop_write

        tr = self.tracer
        clock = ActiveClock()
        build: dict[str, list[float]] = {n: [] for n in ENTRIES}
        action: dict[str, list[float]] = {n: [] for n in ENTRIES}
        passes = 0
        while passes < MIN_PASSES or clock.active < seconds:
            order = self._order(passes + 1)
            for name in order:
                fn = self.entries[name].fn
                mod = module_of(self.entries[name])
                try:
                    with clock.timed() as b, tr.span("plans.build", True, entry=name, module=mod):
                        df = fn(self.spark, self.data_dir)
                    with clock.timed() as a, tr.span("plans.action", True, entry=name, module=mod):
                        noop_write(df)
                    # The JVM side of a plan stays live while Python holds it.
                    del df
                except Exception as exc:  # noqa: BLE001 — a failing entry is counted, not fatal
                    out.check(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
                    continue
                out.check(True, name)
                build[name].append(b.seconds)
                action[name].append(a.seconds)
                # What an entry leaves live differs by entry: sample after
                # each in the first pass, then once a pass to catch growth.
                if passes == 0 or name == order[-1]:
                    self.unit_done()
            passes += 1
        per_entry = {
            n: statistics.median(x + y for x, y in zip(build[n], action[n]))
            for n in ENTRIES if build[n]
        }
        total = sum(per_entry.values())
        geomean = stats.geomean(list(per_entry.values()))
        out.metrics = {"throughput_per_s": len(per_entry) / total, "latency_s": geomean}
        out.report = {
            "queries_total_s": (total, "s"),
            "query_geomean_s": (geomean, "s"),
            "entries": (len(per_entry), "count"),
            "passes": (passes, "count"),
            "measured_s": (clock.active, "s"),
        }

    def warm_up(self, out: Outcome) -> None:
        """Collect every entry once, untimed, and keep (columns, row count,
        digest of the canonical rows) for ``verify``."""
        from tools.check_oracle import canon_rows

        self.collected: dict[str, tuple] = {}
        for name in self._order(0):
            try:
                df = self.entries[name].fn(self.spark, self.data_dir)
                rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # noqa: BLE001 — counted as a failed check
                out.check(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            cols = [c.lower() for c in df.columns]
            self.collected[name] = (sorted(cols), len(rows), canon_digest(canon_rows(cols, rows)))

    def verify(self, out: Outcome) -> None:
        """Compare each collected result with its DuckDB oracle; an entry
        without an oracle must have returned rows."""
        import duckdb

        from flusher_spark.io.tables import TABLES
        from tools.check_oracle import canon_rows

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            for name, (cols, n, dig) in self.collected.items():
                oracle = self.entries[name].oracle
                if oracle is None:
                    out.check(n > 0, f"{name}: no rows")
                    continue
                res = con.sql(oracle)
                ocols = [c.lower() for c in res.columns]
                orows = res.fetchall()
                same = cols == sorted(ocols) and dig == canon_digest(canon_rows(ocols, orows))
                out.check(same, f"{name}: result differs from the DuckDB oracle ({n} vs {len(orows)} rows)")
        finally:
            con.close()


def canon_digest(canon: list[str]) -> str:
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


WORKLOAD = CatalogMix
