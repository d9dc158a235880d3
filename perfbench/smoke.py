#!/usr/bin/env python3
"""Tiny-scale smoke pass of every benchmark workload.

    python3 perfbench/smoke.py [workload ...]

Runs each workload listed in BENCHMARK.json (or the ones named) at --scale tiny
--seconds 1: with --trace 0 for seeds 1 and 2 (which together check every
template against the naive plan) and with --trace 1 for seed 1. Each run must
exit 0, report a correct result with no failures, and name exactly the metrics
BENCHMARK.json lists, with their units. Run from the repository root.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, seed, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return f"exit {r.returncode}"
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(res)}"
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        return f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}"
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        return f"metrics differ: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}"
    return None


def main(names):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = names or [w["name"] for w in spec["workloads"]]
    failures = 0
    for w in workloads:
        for seed, trace in ((1, 0), (2, 0), (1, 1)):
            problem = run(w, seed, trace)
            print(f"{w} --seed {seed} --trace {trace}: {problem or 'ok'}", flush=True)
            failures += problem is not None
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main(sys.argv[1:])
