#!/usr/bin/env python3
"""Steadiness runner: run one workload several times and report, for each
end-to-end metric, the median, the quartiles and the spread (interquartile
range over the median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload tail --runs 5 --seed 7
    python3 perfbench/steady.py --workload tail --seeds 1,2,3,4,5,6,7,8,9,10

--seed repeats one seed; --seeds gives one seed per run. A spread at or
above a third of a metric's bound is marked "WIDE", setup_s included.
Exits non-zero if any run fails or reports correct: false.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", help="comma-separated seeds, one per run")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    seeds = [int(s) for s in a.seeds.split(",")] if a.seeds else [a.seed] * a.runs
    metrics = spec["per_layer" if a.trace else "end_to_end"]

    values = {m["name"]: [] for m in metrics}
    ok = True
    for i, seed in enumerate(seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"run {i + 1} (seed {seed}): no result, exit {r.returncode}")
            ok = False
            continue
        ok = ok and r.returncode == 0 and res["correct"]
        for name, m in res["metrics"].items():
            if name in values:
                values[name].append(m["value"])
        print(f"run {i + 1} (seed {seed}): correct={res['correct']} " +
              " ".join(f"{m['name']}={res['metrics'][m['name']]['value']:.4g}" for m in metrics[:12]),
              flush=True)

    print(f"\n{a.workload}: {len(seeds)} runs, seeds {seeds}")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for m in metrics:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = m.get("bound")
        flag = ""
        if bound is not None and not spread < bound / 3:
            flag = "WIDE"
        print(f"{m['name']:32} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{bound if bound is not None else '':>6} {flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
