"""Measure the catalog fixture's column shapes, so ``catalog_mix`` can run
on generated tables shaped like it.

    python3 perfbench/fixture_profile.py FIXTURE_DIR            # writes catalog_profile.json
    python3 perfbench/fixture_profile.py FIXTURE_DIR --compare  # fixture vs generated tables

The profile holds, per table, the row count and, per column, how to draw
it: the values themselves for a table of at most ``MAX_CATEGORIES`` rows,
a serial key, a serial-numbered name, a category with its measured
frequencies, a numeric or timestamp column by its 101 measured quantiles
(with its rounding), a text column by its vocabulary, word counts and
near-duplicate share, the length of another column, or random unit
vectors. Columns are drawn independently of each other: the fixture's
columns are independent too, which ``relations`` measures on both sides
(extended price against quantity x retail price, ship date against order
date, per-user event gaps). ``--compare`` generates the tables from the
profile and prints both sides' distinct counts, quantiles, top-value
shares and relations.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PROFILE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "catalog_profile.json")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
#: Columns with at most this many distinct values are drawn as categories.
MAX_CATEGORIES = 128
QUANTILES = 101


def _decimals(values) -> int:
    """Fewest decimal places that represent every value exactly."""
    import numpy as np

    for d in range(7):
        if np.allclose(np.round(values, d), values, rtol=0, atol=1e-9):
            return d
    return 7


def _quantiles(values) -> list[float]:
    import numpy as np

    return np.quantile(np.asarray(values, dtype="float64"), np.linspace(0, 1, QUANTILES)).tolist()


def _category(values) -> dict:
    from collections import Counter

    counts = sorted(Counter(values).items(), key=lambda kv: str(kv[0]))
    return {"kind": "category", "values": [v for v, _ in counts],
            "weights": [c / len(values) for _, c in counts]}


def _text(values) -> dict:
    """Vocabulary and word counts of the original documents, and the share
    that repeat another document plus one marker word."""
    from collections import Counter

    texts = set(values)
    originals, dups, marker = [], 0, None
    for t in values:
        head, _, last = t.rpartition(" ")
        if head in texts:
            dups += 1
            marker = last
        else:
            originals.append(t)
    words = Counter(w for t in originals for w in t.split())
    vocab = sorted(words)
    total = sum(words.values())
    return {
        "kind": "words", "vocabulary": vocab, "weights": [words[w] / total for w in vocab],
        "word_count_quantiles": _quantiles([len(t.split()) for t in originals]),
        "near_dup_share": dups / len(values), "dup_marker": marker,
    }


def column_spec(name: str, arrow_type, values: list, table_cols: dict) -> dict:
    import numpy as np
    import pyarrow as pa

    n = len(values)
    spec: dict = {"arrow_type": str(arrow_type)}
    if pa.types.is_list(arrow_type):
        vecs = np.array(values, dtype="float64")
        spec.update(kind="unit_vectors", dim=int(vecs.shape[1]),
                    mean_norm=float(np.linalg.norm(vecs, axis=1).mean()))
        return spec
    distinct = len(set(values))
    spec["distinct"] = distinct
    if n <= MAX_CATEGORIES and not pa.types.is_timestamp(arrow_type):
        # A dimension table this small is kept as it is.
        spec.update(kind="exact", values=list(values))
        return spec
    if pa.types.is_string(arrow_type):
        m = [re.fullmatch(r"(.*?)(\d+)", v) for v in values]
        if distinct == n and all(m) and len({x.group(1) for x in m}) == 1 and all(
            int(x.group(2)) == i for i, x in enumerate(m)
        ) and len({len(x.group(2)) for x in m}) == 1:
            spec.update(kind="serial_text", prefix=m[0].group(1), width=len(m[0].group(2)))
        elif distinct <= MAX_CATEGORIES:
            spec.update(_category(values))
        else:
            spec.update(_text(values))
        return spec
    if pa.types.is_timestamp(arrow_type):
        us = np.array([np.datetime64(v, "us").astype("int64") for v in values])
        spec.update(kind="timestamp", quantiles=_quantiles(us),
                    day_aligned=bool((us % 86_400_000_000 == 0).all()),
                    sorted=bool((np.diff(us) >= 0).all()))
        return spec
    arr = np.asarray(values)
    if distinct == n and (arr == np.arange(n)).all():
        spec["kind"] = "serial"
        return spec
    for other, ovals in table_cols.items():
        if isinstance(ovals[0], str) and all(len(t) == v for t, v in zip(ovals, values)):
            spec.update(kind="length_of", column=other)
            return spec
    if distinct <= MAX_CATEGORIES:
        spec.update(_category(values))
    else:
        spec.update(kind="quantiles", quantiles=_quantiles(arr), decimals=_decimals(arr),
                    integer=bool(pa.types.is_integer(arrow_type)))
    return spec


def profile(fixture_dir: str) -> dict:
    import pyarrow.parquet as pq

    tables = {}
    for t in TABLES:
        tbl = pq.read_table(os.path.join(fixture_dir, f"{t}.parquet"))
        cols = {c: tbl.column(c).to_pylist() for c in tbl.column_names}
        tables[t] = {"rows": tbl.num_rows, "columns": {
            c: column_spec(c, tbl.schema.field(c).type, cols[c], cols) for c in tbl.column_names
        }}
    return {"source": os.path.basename(os.path.normpath(fixture_dir)), "tables": tables}


# -- comparison -----------------------------------------------------------------


def relations(data_dir: str) -> dict[str, list[float]]:
    """Cross-column shapes some catalog entries depend on: p1/p50/p99 of
    extended price / (quantity x retail price) and of ship date - order
    date in days, the share of a user's consecutive events under 30
    minutes apart, and the share of near-duplicate documents."""
    import duckdb

    con = duckdb.connect()
    f = lambda t: f"'{data_dir}/{t}.parquet'"  # noqa: E731
    out = {}
    out["price_ratio_p1_p50_p99"] = con.sql(
        f"SELECT quantile_cont(l_extendedprice / (l_quantity * p_retailprice), [0.01, 0.5, 0.99]) "
        f"FROM {f('lineitem')} JOIN {f('part')} ON l_partkey = p_partkey").fetchone()[0]
    out["ship_lag_days_p1_p50_p99"] = con.sql(
        f"SELECT quantile_cont(date_diff('day', o_orderdate, l_shipdate), [0.01, 0.5, 0.99]) "
        f"FROM {f('lineitem')} JOIN {f('orders')} ON l_orderkey = o_orderkey").fetchone()[0]
    out["user_gaps_under_30m"] = [con.sql(
        f"SELECT avg(CASE WHEN ts - prev < INTERVAL 30 MINUTE THEN 1 ELSE 0 END) FROM "
        f"(SELECT ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) prev FROM {f('events')}) "
        f"WHERE prev IS NOT NULL").fetchone()[0]]
    con.close()
    texts = [r[0] for r in duckdb.sql(f"SELECT text FROM {f('documents')}").fetchall()]
    out["near_dup_documents"] = [_text(texts)["near_dup_share"]]
    return {k: [round(float(x), 4) for x in v] for k, v in out.items()}


def column_summary(data_dir: str) -> dict[str, dict[str, str]]:
    """Distinct count, top-value share and p10/p50/p90 of every column."""
    import numpy as np
    import pyarrow.parquet as pq
    from collections import Counter

    out = {}
    for t in TABLES:
        tbl = pq.read_table(os.path.join(data_dir, f"{t}.parquet"))
        for c in tbl.column_names:
            vals = tbl.column(c).to_pylist()
            if isinstance(vals[0], list):
                v = np.array(vals)
                out[f"{t}.{c}"] = f"dim {v.shape[1]}"
                continue
            text = f"distinct {len(set(vals))}, top {Counter(vals).most_common(1)[0][1] / len(vals):.3f}"
            if isinstance(vals[0], str):
                vals = [len(x.split()) for x in vals]
                text += ", words"
            elif not isinstance(vals[0], (int, float)):
                vals = [np.datetime64(x, "D").astype("int64") for x in vals]
                text += ", days"
            q = np.quantile(np.asarray(vals, dtype="float64"), [0.1, 0.5, 0.9])
            out[f"{t}.{c}"] = text + " p10/50/90 " + "/".join(f"{x:.4g}" for x in q)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("fixture_dir")
    p.add_argument("--compare", action="store_true",
                   help="generate tables from the saved profile and compare them with the fixture")
    args = p.parse_args(argv)
    if not args.compare:
        with open(PROFILE_PATH, "w") as fh:
            json.dump(profile(args.fixture_dir), fh, indent=1)
            fh.write("\n")
        print(f"written {PROFILE_PATH}")
        return 0
    from perfbench import gen

    with tempfile.TemporaryDirectory() as tmp:
        gen.write_catalog_tables(tmp)
        fix, ours = column_summary(args.fixture_dir), column_summary(tmp)
        print(f"{'column':28s} fixture | generated")
        for k in fix:
            print(f"{k:28s} {fix[k]} | {ours[k]}")
        for k, v in relations(args.fixture_dir).items():
            print(f"{k:28s} {v} | {relations(tmp)[k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
