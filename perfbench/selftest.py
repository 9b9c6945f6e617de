#!/usr/bin/env python3
"""Self-test of the benchmark, in smoke form (1-second timed region).

    python3 perfbench/selftest.py [--workload <name>]

Run from the repository root. For every workload it runs the command of
BENCHMARK.json four times and checks that:

- the last line has exactly the keys correct/attempted/failed/metrics,
  the run is correct and every end-to-end (--trace 0) or per-layer
  (--trace 1) metric of BENCHMARK.json is printed exactly once with its
  unit, and nothing else;
- two traced runs with the same seed print identical exact counts
  (per-cycle actions and jobs, per-query plan shape), and no persisted
  artifact is built inside a timed op;
- another seed changes the arrival cuts or the query order but not the
  checked outputs (the sweep's results digest; both runs correct);
- no run leaves a file behind in its work dir, the system temp dir or
  /dev/shm.

Exits non-zero on the first failed check.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def fail(msg):
    raise SystemExit(f"SELFTEST FAILED: {msg}")


def no_dupes(pairs):
    keys = [k for k, _ in pairs]
    if len(keys) != len(set(keys)):
        fail(f"a key is printed twice: {keys}")
    return dict(pairs)


def outside_entries():
    seen = set()
    for d in (tempfile.gettempdir(), "/dev/shm"):
        if os.path.isdir(d):
            seen |= {os.path.join(d, e) for e in os.listdir(d)}
    return seen


def run(workload, seed, trace):
    before = outside_entries()
    cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", "1", "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=400)
    if res.returncode != 0:
        fail(f"{' '.join(cmd)} exited {res.returncode}:\n{res.stderr[-3000:]}")
    lines = [json.loads(x, object_pairs_hook=no_dupes)
             for x in res.stdout.strip().splitlines()]
    last = lines[-1]
    if sorted(last) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"last line keys {sorted(last)}")
    if not last["correct"] or last["failed"] != 0 or last["attempted"] < 1:
        fail(f"{workload} seed {seed}: not correct: {last}\n{res.stderr[-3000:]}")
    want = SPEC["per_layer" if trace else "end_to_end"]
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    if got != {m["name"]: m["unit"] for m in want}:
        fail(f"metric names/units differ from BENCHMARK.json: {sorted(got)}")
    for k, v in last["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            fail(f"{k} is not a number: {v}")
    if os.path.exists(os.path.join(REPO, ".bench_work")):
        fail("the work dir was not removed")
    left = outside_entries() - before
    if left:
        fail(f"files left outside the checkout: {sorted(left)[:5]}")
    info = next(x["run"] for x in lines if "run" in x)
    counts = next((x["exact_counts"] for x in lines if "exact_counts" in x), None)
    return last, info, counts


def check(workload):
    print(f"{workload}: untraced seed 1", file=sys.stderr)
    _, info1, _ = run(workload, 1, 0)
    print(f"{workload}: traced seed 1, twice", file=sys.stderr)
    t1, _, counts1 = run(workload, 1, 1)
    _, _, counts2 = run(workload, 1, 1)
    if not counts1 or counts1 != counts2:
        fail(f"exact counts differ between same-seed runs:\n{counts1}\n{counts2}")
    if t1["metrics"]["operators.persisted_built"]["value"] != 0:
        fail("a persisted artifact was built inside a timed op")
    print(f"{workload}: untraced seed 2", file=sys.stderr)
    _, info2, _ = run(workload, 2, 0)
    if info1["inputs"] == info2["inputs"]:
        fail(f"seed did not change the inputs: {info1['inputs']}")
    if info1.get("outputs_digest") != info2.get("outputs_digest"):
        fail("seed changed the checked outputs")
    print(f"{workload}: ok", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    for w in a.workload or [w["name"] for w in SPEC["workloads"]]:
        check(w)
    print("selftest passed")


if __name__ == "__main__":
    main()
