"""Unit tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402
from perfbench.model import LakeModel  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()


def _job_inputs(seed):
    specs = [gen.job_spec(seed, j) for j in range(60)]
    grids = [gen.job_grid(seed, s, run) for s in specs[:8] for run in range(2)]
    return [repr(specs), grids, gen.warm_faults(seed)]


def _lake_inputs(seed):
    return [gen.lake_base_rows(seed)[:2000], [gen.lake_batch(seed, b).rows for b in range(3)]]


@pytest.mark.parametrize("make", [_job_inputs, _lake_inputs])
def test_seed_gives_identical_inputs_and_another_seed_differs(make):
    assert _digest(make(7)) == _digest(make(7))
    assert _digest(make(7)) != _digest(make(8))


def test_lake_base_parquet_is_byte_identical_per_seed(tmp_path):
    paths = []
    for i, seed in enumerate((3, 3, 4)):
        p = tmp_path / f"base{i}.parquet"
        gen.write_lake_base([gen.typed_lake_row(r) for r in gen.lake_base_rows(seed)[:500]], str(p))
        paths.append(p.read_bytes())
    assert paths[0] == paths[1]
    assert paths[0] != paths[2]


def test_catalog_tables_are_byte_identical_and_follow_the_profile(tmp_path):
    import pyarrow.parquet as pq

    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_catalog_tables(str(a))
    gen.write_catalog_tables(str(b))
    with open(gen.CATALOG_PROFILE) as fh:
        profile = json.load(fh)["tables"]
    for name, table in profile.items():
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes()
        got = pq.read_table(a / f"{name}.parquet")
        assert got.num_rows == table["rows"]
        assert [str(f.type) for f in got.schema] == [c["arrow_type"] for c in table["columns"].values()]
        for col, spec in table["columns"].items():
            if spec["kind"] == "category":
                assert set(got.column(col).to_pylist()) <= set(spec["values"])


def test_seed_permutes_fixed_proportions():
    for seed in (1, 2):
        for tick in range(1, gen.PERIOD + 1):
            ids = [j for j in range(gen.WARM_JOBS + gen.INITIAL_JOBS) if gen.job_first_tick(j) == tick]
            kinds = [gen.job_spec(seed, j).kind for j in ids]
            assert sorted(kinds) == sorted(gen.COHORT_KINDS)
        first_new = gen.WARM_JOBS + gen.INITIAL_JOBS
        new = [gen.job_spec(seed, j).kind for j in range(first_new, first_new + len(gen.NEW_KINDS))]
        assert sorted(new) == sorted(gen.NEW_KINDS)
        sizes = [gen.lake_batch_size(seed, b) for b in range(1, 1 + len(gen.LAKE_BATCH_BLOCK))]
        assert sorted(sizes) == sorted(gen.LAKE_BATCH_BLOCK)


def test_lake_batches_are_valid_merge_sources():
    for b in range(6):
        batch = gen.lake_batch(5, b)
        keys = [int(r[0]) for r in batch.rows[1:]]
        assert len(keys) == len(set(keys)) == batch.size
        assert batch.deletes == any(r[-1] == "yes" for r in batch.rows[1:])


# -- the "ten samples beyond" percentile rule ------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert stats.samples_beyond(20, 0.5) == 10
    assert stats.percentile(list(range(19)), 0.5) is None
    assert stats.percentile(list(range(20)), 0.5) == 9.5
    assert stats.percentile(list(range(99)), 0.9) is None
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.percentile([float(i) for i in range(1, 101)], 0.9) == 90.0
    assert stats.percentile([], 0.5) is None


def test_iqr_share_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 9.9, 10.3, 10.4]
    q1, med, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.iqr_share(vals) == pytest.approx((q3 - q1) / med)


# -- self time of nested and overlapping spans -----------------------------------


def test_self_time_nested_children():
    # Parent 0..10 with children 1..3 and 5..9 -> 10 - 2 - 4.
    assert stats.self_time(0, 10, [(1, 3), (5, 9)]) == pytest.approx(4.0)


def test_self_time_overlapping_children_count_once():
    # Concurrent children 2..6 and 4..8 cover 2..8 once.
    assert stats.self_time(0, 10, [(2, 6), (4, 8)]) == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    assert stats.self_time(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(7.0)
    assert stats.self_time(0, 10, []) == pytest.approx(10.0)


def test_tracer_self_times_and_parents():
    tr = Tracer(enabled=True, run_id="t")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.span_id
    selfs = tr.self_times()
    assert selfs[outer.span_id] == pytest.approx(outer.duration - inner.duration)
    assert selfs[inner.span_id] == pytest.approx(inner.duration)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False, run_id="t")
    with tr.span("x") as sp:
        pass
    assert sp is None and tr.spans == []
    fn = lambda: 1  # noqa: E731
    assert tr.wrap(fn, "y") is fn


# -- the pure-Python merge model, worked by hand ------------------------------------


def _row(key, grp):
    return (key, grp) + (None,) * 9


def test_merge_model_hand_worked_example():
    m = LakeModel({1: _row(1, 10), 2: _row(2, 20), 3: _row(3, 30)})
    assert m.summary() == (3, 6, 60)
    assert m.range(2, 4) == [_row(2, 20), _row(3, 30)]
    # Update key 2, insert key 5, delete key 3 and a key that never existed.
    m.merge([_row(2, 21), _row(5, 50)], deletes=[3, 9])
    assert sorted(m.rows) == [1, 2, 5]
    assert m.rows[2][1] == 21
    assert m.summary() == (3, 1 + 2 + 5, 10 + 21 + 50)
    assert m.range(2, 4) == [_row(2, 21)]


def test_merge_model_rejects_ambiguous_batches():
    m = LakeModel()
    with pytest.raises(ValueError):
        m.merge([_row(1, 1), _row(1, 2)])
    with pytest.raises(ValueError):
        m.merge([_row(1, 1)], deletes=[1])


def test_merge_model_applies_sheet_batches():
    header = gen.lake_header()
    keep = ["1", "7", "2", "1.50", "", "2024-01-02 03:04:05", "2024-01-02 03:04:05",
            "yes", "A b", "", "Oslo", "no"]
    gone = ["2"] + keep[1:-1] + ["yes"]
    m = LakeModel({2: _row(2, 1)})
    m.merge_sheet([header, keep, gone])
    assert list(m.rows) == [1]
    assert m.rows[1][:5] == (1, 7, 2, 1.5, None)


# -- BENCHMARK.json agrees with the code ---------------------------------------------


def test_benchmark_json_matches_metric_definitions():
    from perfbench.layers import PER_LAYER
    from perfbench.run import END_TO_END, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
