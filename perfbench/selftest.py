#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001, small knn index).

Usage (from the repository root): python3 perfbench/selftest.py

For every workload it runs the benchmark untraced and traced, and checks
that the result line carries exactly the metrics BENCHMARK.json names,
each with its unit, and that the run is correct. Then it runs each
workload with one result deliberately corrupted and checks that the run
is reported incorrect and exits non-zero. Exits non-zero on any miss.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--tiny"] + (["--corrupt"] if corrupt else [])
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    try:
        return r.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        return r.returncode, None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            if res is None:
                problems.append(f"{w} trace={trace}: no result line (exit {rc})")
                continue
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if rc != 0 or not res["correct"]:
                problems.append(f"{w} trace={trace}: run not correct (exit {rc})")
            if got != want:
                problems.append(f"{w} trace={trace}: metrics differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[n for n in want if n in got and got[n] != want[n]]}")
            print(f"{w} trace={trace}: {len(got)} metrics, correct={res['correct']}")
        rc, res = run(w, 0, corrupt=True)
        if rc == 0 or res is None or res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: corrupted result was not rejected (exit {rc})")
        print(f"{w} corrupted: exit {rc}, failed={res and res['failed']}")
    for p in problems:
        print("PROBLEM: " + p)
    print("selftest " + ("FAILED" if problems else "passed"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
