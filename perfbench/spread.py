"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload llm_pipeline --seeds 1 2 3 4 5

Runs BENCHMARK.json's command once per seed (one after another, from the
checkout root), then prints, per end-to-end metric, the median, the
quartile spread (Q3 - Q1) / median and the metric's bound.  A metric is
steady when its spread stays below a third of its bound.  Raw results,
with each run's printed report, go to .perfbench/spread-<workload>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description="Seed-to-seed spread of the benchmark.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["per_layer"] if args.trace else bench["end_to_end"]
    runs = []
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        result["seed"], result["wall_s"] = seed, wall
        result["log"] = out.stdout.strip().splitlines()[:-1]
        runs.append(result)
        print(f"seed {seed}: {wall:.1f} s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.json"), "w") as f:
        json.dump(runs, f, indent=1)
    print(f"{'metric':32s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        spread = quartile_spread(vals) if len(vals) >= 2 else 0.0
        bound = m.get("bound")
        verdict = "" if bound is None else ("steady" if spread < bound / 3 else "NOT STEADY")
        print(f"{m['name']:32s} {median(vals):12.4f} {spread:8.3f} "
              f"{'' if bound is None else bound:>6} {verdict}")
    print(f"run wall: median {median([r['wall_s'] for r in runs]):.1f} s, "
          f"max {max(r['wall_s'] for r in runs):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
