"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound.

    python3 perfbench/spread.py --workloads sheet_jobs catalog_mix --seeds 1-10

Runs are sequential, one process each, from the checkout root. The spread
is the distance between the first and third quartile as a share of the
median; a metric is steady when that stays below a third of its bound.
Results go to stdout and to ``.perfbench_work/spread-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import iqr_share  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), wall


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = p.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    ok = True
    for w in args.workloads:
        values: dict[str, list[float]] = {k: [] for k in bounds}
        walls, incorrect = [], 0
        for seed in args.seeds:
            result, wall = run_once(w, seed, args.seconds, 0)
            walls.append(wall)
            incorrect += not result["correct"]
            for k in bounds:
                values[k].append(result["metrics"][k]["value"])
            print(f"{w} seed={seed} wall={wall:.1f}s correct={result['correct']} "
                  + " ".join(f"{k}={result['metrics'][k]['value']:.4g}" for k in bounds), flush=True)
        rows = {}
        for k, vals in values.items():
            spread = iqr_share(vals) if len(vals) >= 2 else float("nan")
            steady = spread < bounds[k] / 3
            ok &= steady
            rows[k] = {"median": statistics.median(vals), "spread": spread,
                       "bound": bounds[k], "steady": steady, "values": vals}
            print(f"  {w:14s} {k:18s} median={rows[k]['median']:.5g} spread={spread:.4f} "
                  f"bound/3={bounds[k] / 3:.4f} {'ok' if steady else 'NOT STEADY'}")
        summary[w] = {"metrics": rows, "wall_s": walls, "incorrect_runs": incorrect}
        ok &= incorrect == 0
        print(f"  {w}: mean wall {statistics.mean(walls):.1f}s, incorrect runs {incorrect}", flush=True)
    out = os.path.join(ROOT, ".perfbench_work", f"spread-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"written {out}; {'all steady' if ok else 'NOT all steady'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
