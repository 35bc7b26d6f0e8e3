#!/usr/bin/env python3
"""Per-span Spark jobs of a traced benchmark run.

Usage (from the repository root):

    python3 tools/span_jobs.py .bench_build/runs/<run> [--summary]

Reads the run's spans.jsonl and jobs.jsonl (written by
`perfbench/run.py ... --trace 1`) and prints, for each index-layer span,
the number of Spark jobs it caused and, per job, its stages, tasks,
summed task run time (task-ms) and wall time (wall-ms). A job belongs to
the span whose id was the job group when it was submitted, or to one of
that span's descendants. --summary prints one line per span name instead:
how many spans, their job counts and median span ms.
"""
import argparse
import json
import os
import signal
import statistics
import sys


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet when piped to head
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("run_dir")
    ap.add_argument("--summary", action="store_true")
    a = ap.parse_args()

    try:
        spans = read_jsonl(os.path.join(a.run_dir, "spans.jsonl"))
        jobs = read_jsonl(os.path.join(a.run_dir, "jobs.jsonl"))
    except FileNotFoundError as e:
        sys.exit(f"span_jobs: {e.filename} not found (was the run traced?)")

    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    by_group = {}
    for j in jobs:
        if j["group"] != "":
            by_group.setdefault(int(j["group"]), []).append(j)

    def jobs_under(span_id):
        out, todo = [], [span_id]
        while todo:
            i = todo.pop()
            out += by_group.get(i, [])
            todo += kids.get(i, [])
        return sorted(out, key=lambda j: j["job"])

    picked = [s for s in spans if s["layer"] == "index"]
    if not picked:
        sys.exit("span_jobs: no index spans in this run")

    if a.summary:
        names = {}
        for s in picked:
            names.setdefault(s["name"], []).append(s)
        for name, ss in names.items():
            counts = sorted({len(jobs_under(s["id"])) for s in ss})
            ms = statistics.median(s["s"] * 1e3 for s in ss)
            print(f"{name:<24} spans {len(ss):>4}  jobs/span {counts}  median {ms:.1f} ms")
        return

    for s in picked:
        js = jobs_under(s["id"])
        print(f"span {s['id']:>4} {s['name']:<24} {s['s'] * 1e3:8.1f} ms  jobs {len(js)}")
        for j in js:
            wall = j["end_ms"] - j["start_ms"] if j["end_ms"] >= 0 else float("nan")
            print(f"    job {j['job']:>5}  stages {j['stages']:>2}  tasks {j['tasks']:>4}"
                  f"  task-ms {j['run_ms']:>6}  wall-ms {wall:>6}")


if __name__ == "__main__":
    main()
