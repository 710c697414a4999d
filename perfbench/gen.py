"""Seeded input generators for the workloads.

Everything here is pure Python (plus pyarrow/numpy for writing parquet):
the engine only ever receives the grids, parquet files and job rows built
here. The same seed always yields byte-identical inputs; ``random.Random``
is seeded with strings, which CPython hashes with SHA-512, so results do
not depend on ``PYTHONHASHSEED``.

What drives cost (which job gets which kind, sheet size and width, batch
sizes, which batches delete or scatter) is laid out the same for every
seed, from ``LAYOUT_SEED``: when the seed also chose which job of a tick
got the large sheet, the tick's job latencies moved with the seed. The
seed sets everything else: cell contents, column orders, fault
placement, the keys a batch updates or deletes and where scans read.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

WORDS = (
    "alpha bravo delta echo gamma kilo lima metro nova oscar "
    "papa quartz river sierra tango ultra vector whiskey yankee zulu"
).split()
CITIES = ("Lisbon", "Oslo", "Quito", "Perth", "Turin", "Accra", "Hanoi", "Lima")
TS_BASE = dt.datetime(2024, 1, 1)

def rng_for(*parts) -> random.Random:
    return random.Random("|".join(str(p) for p in parts))


#: Seeds the layout of the work, the same for every ``--seed``.
LAYOUT_SEED = "layout"


def block_permutation(seed, tag: str, block: int, items: list) -> list:
    """The fixed multiset ``items`` in the seeded order for one block."""
    out = list(items)
    rng_for(seed, tag, "block", block).shuffle(out)
    return out


def cell(kind: str, rng: random.Random, empty_share: float = 0.0) -> str:
    """One worksheet cell of ``kind`` as the Sheets API returns it (a string)."""
    if empty_share and rng.random() < empty_share:
        return ""
    if kind == "int":
        return str(rng.randint(-50_000, 50_000))
    if kind == "dec":
        return f"{rng.randint(-999_999, 999_999) / 100:.2f}"
    if kind == "ts":
        return (TS_BASE + dt.timedelta(seconds=rng.randint(0, 365 * 86_400))).isoformat(" ")
    if kind == "bool":
        return rng.choice(("yes", "no"))
    if kind == "text":
        a, b, c = rng.choice(WORDS), rng.choice(WORDS), rng.choice(WORDS)
        return f'{a.title()} {b}, {c} "{rng.randint(1, 99)}"'
    raise ValueError(f"unknown cell kind {kind!r}")


def typed(kind: str, text: str):
    """The value a cell of ``kind`` must read back as after the engine types
    it (empty cell -> NULL)."""
    if text == "":
        return None
    if kind == "int":
        return int(text)
    if kind == "dec":
        return float(text)
    if kind == "ts":
        return dt.datetime.fromisoformat(text)
    if kind == "bool":
        return text.lower() in ("yes", "true")
    return text


# -- sheet_jobs ----------------------------------------------------------------

#: Control-table layout: WARM_JOBS jobs run in the untimed tick 0, then
#: INITIAL_JOBS jobs on a schedule make COHORT of them due in each of ticks
#: 1..PERIOD, and NEW_PER_TICK new jobs join before every later tick.
WARM_JOBS = 3
PERIOD = 6
COHORT = 7
INITIAL_JOBS = PERIOD * COHORT
NEW_PER_TICK = 2
#: Each tick cohort: full refresh, incremental and CSV export jobs.
COHORT_KINDS = ["full"] * 3 + ["incr"] * 2 + ["csv"] * 2
COHORT_ROWS = [50 + round(450 * i / (COHORT - 1)) for i in range(COHORT)]
COHORT_COLS = [6, 7, 8, 9, 10, 11, 12]
#: New jobs, per two ticks: one of each kind, one with a missing worksheet
#: (1 job in 20 of those two ticks, counting the lake feed job).
NEW_KINDS = ["full", "incr", "csv", "missing"]
NEW_ROWS = [50, 200, 350, 500]
NEW_COLS = [6, 8, 10, 12]
WARM_KINDS = ["full", "incr", "csv"]
#: Transient faults injected before the first fetch of the warm-up jobs,
#: in seeded order (each stays below the retry policy's 4 attempts, so every
#: faulted fetch still succeeds).
WARM_FAULTS = [2, 1, 1]
#: The same for each block of new jobs, so timed ticks retry too.
NEW_FAULTS = [2, 1, 0, 0]
COLUMN_KINDS = ("dec", "ts", "bool", "text", "int")


@dataclass(frozen=True)
class JobSpec:
    job_id: int
    kind: str
    rows: int
    kinds: tuple

    @property
    def document(self) -> str:
        return f"doc{self.job_id:05d}"

    @property
    def sheet(self) -> str:
        return "Missing_Tab" if self.kind == "missing" else "Data"

    @property
    def destination(self) -> str:
        return f"t{self.job_id:05d}"


def job_first_tick(job_id: int) -> int:
    """The tick in which ``job_id`` first comes due."""
    if job_id < WARM_JOBS:
        return 0
    if job_id < WARM_JOBS + INITIAL_JOBS:
        return 1 + (job_id - WARM_JOBS) % PERIOD
    return 1 + (job_id - WARM_JOBS - INITIAL_JOBS) // NEW_PER_TICK


def job_spec(seed, job_id: int) -> JobSpec:
    """Kind, size and column kinds of one job: a fixed multiset per tick
    cohort (or per two ticks of new jobs) in the layout's order; the
    seed orders the column kinds."""
    if job_id < WARM_JOBS:
        kind, rows, ncols = block_permutation(LAYOUT_SEED, "warm", 0, WARM_KINDS)[job_id], 100, 8
    elif job_id < WARM_JOBS + INITIAL_JOBS:
        cohort, pos = (job_id - WARM_JOBS) % PERIOD, (job_id - WARM_JOBS) // PERIOD
        kind = block_permutation(LAYOUT_SEED, "kind", cohort, COHORT_KINDS)[pos]
        rows = block_permutation(LAYOUT_SEED, "rows", cohort, COHORT_ROWS)[pos]
        ncols = block_permutation(LAYOUT_SEED, "cols", cohort, COHORT_COLS)[pos]
    else:
        block, pos = divmod(job_id - WARM_JOBS - INITIAL_JOBS, len(NEW_KINDS))
        kind = block_permutation(LAYOUT_SEED, "newkind", block, NEW_KINDS)[pos]
        rows = block_permutation(LAYOUT_SEED, "newrows", block, NEW_ROWS)[pos]
        ncols = block_permutation(LAYOUT_SEED, "newcols", block, NEW_COLS)[pos]
    rng = rng_for(seed, "colkinds", job_id)
    # First column is an integer id; the rest cycle every kind in a seeded order.
    order = list(COLUMN_KINDS)
    rng.shuffle(order)
    kinds = ("int",) + tuple(order[i % len(order)] for i in range(ncols - 1))
    return JobSpec(job_id, kind, rows, kinds)


def warm_faults(seed) -> list[int]:
    """Transient faults for warm-up jobs 0, 1, 2."""
    return block_permutation(seed, "faults", 0, WARM_FAULTS)


def new_job_faults(seed, job_id: int) -> int:
    """Transient faults before the first fetch of a new job: per block of
    new jobs, ``NEW_FAULTS`` in seeded order."""
    block, pos = divmod(job_id - WARM_JOBS - INITIAL_JOBS, len(NEW_KINDS))
    return block_permutation(seed, "newfaults", block, NEW_FAULTS)[pos]


def job_grid_header(spec: JobSpec) -> list[str]:
    return [f"{k}_{i}" for i, k in enumerate(spec.kinds)]


def job_grid(seed, spec: JobSpec, run: int) -> list[list[str]]:
    """Header + rows of ``spec``'s worksheet as served for its ``run``-th run.
    Row 1 has no empty cell, so every column has a non-empty value and
    infers to its kind's type."""
    header = job_grid_header(spec)
    rng = rng_for(seed, "grid", spec.job_id, run)
    rows = [header]
    for r in range(spec.rows):
        share = 0.0 if r == 0 else 0.05
        rows.append(
            [str(r + run * 1000)] + [cell(k, rng, share) for k in spec.kinds[1:]]
        )
    return rows


# -- the lake feed of sheet_jobs ----------------------------------------------

LAKE_COLUMNS = (
    ("id", "key"),
    ("grp", "int"),
    ("qty", "int"),
    ("price", "dec"),
    ("amount", "dec"),
    ("created", "ts"),
    ("updated", "ts"),
    ("active", "bool"),
    ("name", "text"),
    ("note", "text"),
    ("city", "city"),
    ("deleted", "bool"),
)
#: Columns that may hold empty cells (NULLs in the lake).
LAKE_NULLABLE = {"qty", "amount", "note", "city"}
LAKE_BASE_ROWS = 40_000
LAKE_BATCH_BLOCK = [10_000, 20_000]
LAKE_WARM_BATCH = 2_000
#: Share of a batch that inserts new keys; the rest updates existing keys.
LAKE_INSERT_SHARE = 0.3
#: Updates come from the most recent keys...
LAKE_RECENT_KEYS = 25_000
#: ...except on batches 2, 5, 8, ..., where this share of them is scattered
#: over all old keys (those merges cannot prune files).
LAKE_SCATTER_SHARE = 0.05
#: Batches 1, 5, 9, ... also delete this share of their size in old keys.
LAKE_DELETE_SHARE = 0.05


def _lake_cell(kind: str, rng: random.Random, nullable: bool) -> str:
    if kind == "city":
        return "" if nullable and rng.random() < 0.03 else rng.choice(CITIES)
    if kind == "int" and not nullable:
        return str(rng.randint(0, 99))
    return cell(kind, rng, 0.03 if nullable else 0.0)


def lake_row(rng: random.Random, key: int, deleted: bool = False) -> list[str]:
    row = [str(key)]
    for name, kind in LAKE_COLUMNS[1:-1]:
        row.append(_lake_cell(kind, rng, name in LAKE_NULLABLE))
    row.append("yes" if deleted else "no")
    return row


def lake_header() -> list[str]:
    return [n for n, _ in LAKE_COLUMNS]


@dataclass(frozen=True)
class LakeBatch:
    index: int
    rows: list  # header + data rows (strings)
    deletes: bool

    @property
    def size(self) -> int:
        return len(self.rows) - 1


def lake_batch_size(seed, b: int) -> int:
    """Batch 0 is a small warm-up batch; the rest cycle LAKE_BATCH_BLOCK."""
    if b == 0:
        return LAKE_WARM_BATCH
    block, pos = divmod(b - 1, len(LAKE_BATCH_BLOCK))
    return block_permutation(LAYOUT_SEED, "lakesize", block, LAKE_BATCH_BLOCK)[pos]


def lake_next_id(seed, b: int) -> int:
    """First key never used before batch ``b`` (inserts take keys in order)."""
    return LAKE_BASE_ROWS + sum(
        int(lake_batch_size(seed, i) * LAKE_INSERT_SHARE) for i in range(b)
    )


def lake_batch(seed, b: int) -> LakeBatch:
    size = lake_batch_size(seed, b)
    next_id = lake_next_id(seed, b)
    rng = rng_for(seed, "lakebatch", b)
    n_ins = int(size * LAKE_INSERT_SHARE)
    n_upd = size - n_ins
    scattered = b % 3 == 2
    deletes = b % 4 == 1
    recent_lo = next_id - LAKE_RECENT_KEYS
    n_scatter = int(n_upd * LAKE_SCATTER_SHARE) if scattered else 0
    upd = set(rng.sample(range(recent_lo, next_id), n_upd - n_scatter))
    while len(upd) < n_upd:
        upd.add(rng.randrange(0, recent_lo))
    dels: set[int] = set()
    if deletes:
        n_del = int(size * LAKE_DELETE_SHARE)
        while len(dels) < n_del:
            k = rng.randrange(0, recent_lo)
            if k not in upd:
                dels.add(k)
    keys = sorted(upd) + list(range(next_id, next_id + n_ins))
    rows = [lake_header()]
    rows += [lake_row(rng, k) for k in keys]
    rows += [lake_row(rng, k, deleted=True) for k in sorted(dels)]
    return LakeBatch(b, rows, deletes)


def lake_base_rows(seed) -> list[list[str]]:
    rng = rng_for(seed, "lakebase")
    return [lake_row(rng, k)[:-1] for k in range(LAKE_BASE_ROWS)]


def typed_lake_row(cells: list[str]) -> tuple:
    """A sheet row of the lake layout (without the ``deleted`` marker) as
    the typed tuple the table must hold."""
    out = []
    for (_name, kind), text in zip(LAKE_COLUMNS, cells):
        if kind == "key":
            out.append(int(text))
        elif kind == "city":
            out.append(text or None)
        else:
            out.append(typed(kind, text))
    return tuple(out)


def write_lake_base(rows: list[tuple], path: str) -> None:
    """The initial lake table (typed ``lake_base_rows``) as one parquet
    file, typed like the staged sheets (the ``deleted`` marker is a
    sheet-only column)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrow_types = {
        "key": pa.int64(), "int": pa.int64(), "dec": pa.float64(),
        "ts": pa.timestamp("us"), "bool": pa.bool_(), "text": pa.string(),
        "city": pa.string(),
    }
    cols = {
        name: pa.array([r[i] for r in rows], type=arrow_types[kind])
        for i, (name, kind) in enumerate(LAKE_COLUMNS[:-1])
    }
    pq.write_table(pa.table(cols), path)


# -- catalog_mix ---------------------------------------------------------------

#: The catalog tables are generated once per checkout from this fixed seed,
#: from the sf0.01 fixture's measured profile (``catalog_profile.json``,
#: written by ``fixture_profile.py``); ``--seed`` sets the entry order.
CATALOG_DATA_SEED = 20_240
CATALOG_PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_profile.json")


def _draw_column(spec: dict, rows: int, g, cols: dict):
    """One column of ``rows`` values drawn as ``spec`` describes it."""
    import numpy as np
    import pyarrow as pa

    kind = spec["kind"]
    atype = {"string": pa.string(), "int32": pa.int32(), "int64": pa.int64(), "double": pa.float64(),
             "timestamp[us]": pa.timestamp("us")}.get(spec["arrow_type"])
    if kind == "exact":
        return pa.array(spec["values"], atype)
    if kind == "serial":
        return pa.array(np.arange(rows), atype)
    if kind == "serial_text":
        return pa.array([f"{spec['prefix']}{i:0{spec['width']}d}" for i in range(rows)], atype)
    if kind == "category":
        idx = g.choice(len(spec["values"]), rows, p=np.asarray(spec["weights"]) / sum(spec["weights"]))
        return pa.array([spec["values"][i] for i in idx], atype)
    if kind in ("quantiles", "timestamp"):
        x = np.interp(g.random(rows), np.linspace(0, 1, len(spec["quantiles"])), spec["quantiles"])
        if kind == "timestamp":
            step = 86_400_000_000 if spec["day_aligned"] else 1
            us = (np.round(x / step) * step).astype("int64")
            if spec["sorted"]:
                us.sort()
            return pa.array(us.astype("datetime64[us]"), atype)
        if spec["integer"]:
            return pa.array(np.round(x).astype("int64"), atype)
        return pa.array(np.round(x, spec["decimals"]), atype)
    if kind == "words":
        weights = np.asarray(spec["weights"]) / sum(spec["weights"])
        counts = np.round(np.interp(g.random(rows), np.linspace(0, 1, len(spec["word_count_quantiles"])),
                                    spec["word_count_quantiles"])).astype(int)
        texts: list[str] = []
        for i in range(rows):
            if i > 0 and g.random() < spec["near_dup_share"]:
                # A near-duplicate: an earlier document plus the marker word.
                texts.append(f"{texts[int(g.integers(0, i))]} {spec['dup_marker']}")
            else:
                texts.append(" ".join(g.choice(spec["vocabulary"], counts[i], p=weights)))
        return pa.array(texts, atype)
    if kind == "length_of":
        return pa.array([len(t) for t in cols[spec["column"]].to_pylist()], atype)
    if kind == "unit_vectors":
        v = g.normal(0, 1, (rows, spec["dim"]))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return pa.array(v.astype("float32").tolist(), pa.list_(pa.float32()))
    raise ValueError(f"unknown column kind {kind!r}")


def write_catalog_tables(out_dir: str, seed: int = CATALOG_DATA_SEED, profile_path: str = CATALOG_PROFILE) -> None:
    """The ten tables the catalog reads (region ... embeddings), at the
    profiled row counts, each column drawn from its measured shape."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    with open(profile_path) as fh:
        profile = json.load(fh)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in profile["tables"].items():
        g = np.random.default_rng([seed, sum(map(ord, name))])
        cols: dict = {}
        for col, spec in table["columns"].items():
            cols[col] = _draw_column(spec, table["rows"], g, cols)
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
