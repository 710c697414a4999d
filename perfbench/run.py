"""Benchmark entry point.

    python3 perfbench/run.py --workload sheet_jobs --seed 1 --seconds 5 --trace 0

Runs one workload for ``--seconds`` of measured time on a local Spark
session with one core per CPU, checks every output, prints a readable
report, and prints as its last stdout line one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones of a traced run, which also writes its spans and a
per-layer table under ``.perfbench_work/out/``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout
root (the current directory).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("sheet_jobs", "catalog_mix")
#: End-to-end metrics: name -> unit. Every workload reports all of them.
END_TO_END = {
    "setup_s": "s",
    "peak_mem_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_s": "s",
}
#: Set-ups per run; setup_s is their median (the first also launches the JVM).
SETUP_REPS = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_workload(name: str):
    import importlib

    return importlib.import_module(f"perfbench.workloads.{name}").WORKLOAD


def fmt(value) -> str:
    if value is None:
        return "n/a"
    if isinstance(value, float):
        return f"{value:.6g}"
    return str(value)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flusher_spark")):
        print(f"perfbench: no flusher_spark package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2

    from perfbench import host
    from perfbench.layers import PER_LAYER, LayerReport
    from perfbench.trace import Tracer, job_counts, stage_metrics
    from perfbench.workloads.base import Outcome

    work = os.path.join(ROOT, ".perfbench_work")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    out_dir = os.path.join(work, "out", f"{args.workload}-s{args.seed}-trace{args.trace}")
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    host.configure_temp(run_dir)
    cpus = os.cpu_count() or 1
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    noise = host.HostNoise()
    tracer = Tracer(enabled=bool(args.trace), run_id=run_id)
    workload = load_workload(args.workload)(args.seed, run_dir, tracer)
    phases = {}
    t_phase = time.perf_counter()
    try:
        workload.make_inputs()
        phases["inputs_s"] = time.perf_counter() - t_phase
        setup_times = []
        session_start = 0.0
        spark = None
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = host.start_session(run_dir, cpus, event_dir)
            if rep == 0:
                session_start = time.perf_counter() - t0
            workload.setup(spark)
            setup_times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                workload.discard()
                spark.stop()
        tracer.spark = spark
        outcome = Outcome()
        t_phase = time.perf_counter()
        workload.warm_up(outcome)
        phases["warm_up_s"] = time.perf_counter() - t_phase
        memory = host.EngineMemory(spark)
        workload.unit_done = memory.sample
        t_phase = time.perf_counter()
        jvm_before = host.jvm_times(spark)
        memory.reset()
        workload.run(args.seconds, outcome)
        peak_mem = memory.read()
        jvm_run = {k: v - jvm_before[k] for k, v in host.jvm_times(spark).items()}
        phases["run_s"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        workload.verify(outcome)
        phases["verify_s"] = time.perf_counter() - t_phase
        layer_rows = None
        if args.trace:
            counts = job_counts(spark, tracer.spans)
            app_id = spark.sparkContext.applicationId
            spark.stop()
            stages = stage_metrics(os.path.join(event_dir, app_id))
            report = LayerReport(tracer, counts, stages)
            layer_metrics = report.metrics(session_start, jvm_run)
            layer_rows = report.table()
        else:
            spark.stop()
    finally:
        host.shutdown_jvm()
    noise = noise.finish()

    e2e = dict(outcome.metrics)
    e2e["setup_s"] = statistics.median(setup_times)
    e2e["peak_mem_mb"] = sum(peak_mem.values())
    missing = [k for k in END_TO_END if e2e.get(k) is None]
    if missing:
        outcome.check(False, f"not enough samples to report {missing}")
    failed_ratio = outcome.failed / outcome.attempted if outcome.attempted else 1.0

    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} cpus={cpus}")
    for k, unit in END_TO_END.items():
        print(f"{k:28s} {fmt(e2e.get(k)):>14s} {unit}")
    print(f"{'failed_ratio':28s} {fmt(failed_ratio):>14s} failed/attempted ({outcome.failed}/{outcome.attempted})")
    for k, (v, unit) in outcome.report.items():
        print(f"{k:28s} {fmt(v):>14s} {unit}")
    print(f"{'setup_runs_s':28s} {', '.join(f'{x:.3f}' for x in setup_times)}")
    print(f"{'phases_s':28s} {json.dumps({k: round(v, 3) for k, v in phases.items()})}")
    print(f"{'jvm_during_run_s':28s} {json.dumps({k: round(v, 3) for k, v in jvm_run.items()})}")
    print(f"{'peak_mem_mb_parts':28s} {json.dumps({k: round(v, 1) for k, v in peak_mem.items()})}")
    print(f"host: {json.dumps(noise)}")
    for p in outcome.problems:
        print(f"FAILED CHECK: {p}")
    correct = outcome.failed == 0 and outcome.attempted > 0

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "end_to_end": e2e, "report": outcome.report,
        "failed_ratio": failed_ratio, "setup_runs_s": setup_times, "host": noise,
        "phases_s": phases, "jvm_during_run_s": jvm_run, "peak_mem_mb_parts": peak_mem,
        "correct": correct,
    }
    if args.trace:
        untraced_path = os.path.join(work, "out", f"{args.workload}-s{args.seed}-trace0", "result.json")
        overhead = None
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                base = json.load(fh)["end_to_end"]
            overhead = {k: e2e[k] / base[k] - 1 for k in END_TO_END if base.get(k) and e2e.get(k)}
        record["layers"] = layer_metrics
        record["layer_table"] = layer_rows
        record["tracing_overhead_vs_untraced"] = overhead
        record["tracer_bookkeeping_s"] = tracer.overhead_s
        tracer.dump(os.path.join(out_dir, "spans.jsonl"))
        print(f"{'span':28s} {'calls':>6s} {'total_s':>9s} {'self_s':>9s} {'jobs':>6s} {'tasks':>7s}")
        for r in layer_rows:
            print(f"{r['span']:28s} {r['calls']:6d} {r['total_s']:9.3f} {r['self_s']:9.3f} {r['jobs']:6d} {r['tasks']:7d}")
        print(f"tracing overhead vs untraced run of this seed: {json.dumps(overhead)}")
        metrics = {k: {"value": layer_metrics[k], "unit": u} for k, u, _ in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
