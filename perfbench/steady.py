#!/usr/bin/env python3
"""Steadiness self-check: run one workload K times back to back and
report, for each end-to-end metric, the median, the quartiles and the
spread (Q3 − Q1) / median as a share of the metric's bound in
BENCHMARK.json.

    python3 perfbench/steady.py --workload graph_fold --runs 10 --seed0 1 --traced 2

Untraced runs use seeds seed0 .. seed0+K−1. ``--traced N`` adds N pairs
of an untraced and a traced run, both on seed0: it reports
``unattributed_jobs``, whether every span's job count repeats exactly
across the traced runs, and the tracing overhead (each traced run's
end-to-end values minus its untraced partner's). Exits 1 if any run
fails. A JSON summary goes to ``perfbench/.runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return {"correct": False, "exit": out.returncode, "metrics": {}}
    return json.loads(lines[-1])


def summary(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()

    runs, ok = [], True
    for i in range(args.runs):
        t0 = time.time()
        r = run_once(args.workload, args.seed0 + i, spec["run_seconds"], 0)
        ok &= bool(r["correct"])
        runs.append(r)
        print(f"run {i + 1}/{args.runs} seed {args.seed0 + i}: correct={r['correct']}"
              f" wall={time.time() - t0:.1f}s", file=sys.stderr)
    report = {"workload": args.workload, "runs": runs, "metrics": {}}
    print(f"{args.workload}: {args.runs} untraced runs")
    print(f"{'metric':<14}{'unit':>8}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}{'spr/bnd':>9}")
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs if r["metrics"]]
        if len(vals) < 2:
            continue
        s = summary(vals)
        s["bound"] = m["bound"]
        report["metrics"][m["name"]] = s
        print(f"{m['name']:<14}{m['unit']:>8}{s['median']:>12.4f}{s['q1']:>12.4f}{s['q3']:>12.4f}"
              f"{s['spread']:>9.3f}{m['bound']:>7.2f}{s['spread'] / m['bound']:>9.2f}")

    if args.traced:
        # each traced run is paired with an untraced run on the same seed
        # just before it, so host drift between them stays small
        pairs = [
            (run_once(args.workload, args.seed0, spec["run_seconds"], 0),
             run_once(args.workload, args.seed0, spec["run_seconds"], 1))
            for _ in range(args.traced)
        ]
        ok &= all(u["correct"] and t["correct"] for u, t in pairs)
        report["traced_pairs"] = pairs
        good = [(u["metrics"], t["metrics"]) for u, t in pairs if u["metrics"] and t["metrics"]]
        jobs = [{k: v["value"] for k, v in t.items() if k.endswith(".jobs")} for _, t in good]
        print(f"traced runs (seed {args.seed0}): {len(good)}/{args.traced} ok;"
              f" unattributed_jobs {[t['unattributed_jobs']['value'] for _, t in good]};"
              f" per-span jobs repeat exactly: {all(j == jobs[0] for j in jobs)}")
        for m in spec["end_to_end"]:
            name = m["name"]
            over = [(t[f"traced.{name}"]["value"], u[name]["value"]) for u, t in good]
            print(f"  tracing overhead {name:<12} " + ", ".join(
                f"{a - b:+.4f} ({a / b - 1:+.1%})" for a, b in over))
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    path = os.path.join(HERE, ".runs", f"steady-{args.workload}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"summary: {os.path.relpath(path, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
