#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median and the interquartile spread as a share
of the median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload medallion_cycles --seeds 10 [--first-seed 1]

Run from the repository root. Each run's result line, with the run's
diagnostics under "run", is appended to `--out` (JSON lines) so a set
can be re-analysed with `--analyse`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spreads(results, bounds):
    rows = []
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        if len(vals) < 4:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        rows.append((name, med, spread, bound))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=None)
    ap.add_argument("--analyse", action="store_true",
                    help="only analyse the runs already in --out")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out = a.out or os.path.join(REPO, ".bench_build", f"spread-{a.workload}.jsonl")
    if not a.analyse:
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            cmd = spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]),
                                     "--trace", "0"]
            res = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True)
            lines = [json.loads(x) for x in res.stdout.strip().splitlines()] or [{}]
            run = next((x["run"] for x in lines if "run" in x), {})
            print(f"seed {seed}: exit {res.returncode}: {json.dumps(lines[-1])[:200]}",
                  file=sys.stderr)
            with open(out, "a") as f:
                f.write(json.dumps({**lines[-1], "run": run}) + "\n")
    results = [json.loads(line) for line in open(out) if line.strip()]
    results = [r for r in results if "metrics" in r]
    print(f"{len(results)} runs, all correct: {all(r['correct'] for r in results)}")
    for name, med, spread, bound in spreads(results, bounds):
        flag = "" if bound is None or spread <= bound / 3 else (
            "  ABOVE bound/3" if spread <= bound else "  ABOVE BOUND")
        print(f"{name:22s} median {med:12.5g}  spread {spread:6.3f}  bound {bound}{flag}")


if __name__ == "__main__":
    main()
