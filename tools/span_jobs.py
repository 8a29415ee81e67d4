#!/usr/bin/env python3
"""Print every Spark job of one traced pass, step by step.

Usage: python3 tools/span_jobs.py <spans.jsonl> [--pass N]

`spans.jsonl` is what `perfbench/run.py --trace 1` keeps in
`.bench_build/trace/<workload>/spans.jsonl`: one JSON object a line,
run -> step -> job -> stage. For the chosen pass (default: the first
traced one) each step prints its wall time and job count, then one line
per job in start order:

  - gap_ms: time from the end of the previous job (or the step start)
    to this job's start, i.e. driver time before the job;
  - ms: the job's duration;
  - tasks, shuffle_read and shuffle_write: summed over its stages.

A step's trailing driver time (after its last job) closes the step.
Comparing the output of two commits shows which jobs a change removed.
"""
import argparse
import json
import sys
from collections import defaultdict


def load(path):
    steps, jobs, stages = [], defaultdict(list), defaultdict(list)
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r["kind"] == "step":
                steps.append(r)
            elif r["kind"] == "job":
                jobs[r["parent"]].append(r)
            elif r["kind"] == "stage":
                stages[r["parent"]].append(r)
    return steps, jobs, stages


def kib(n):
    return f"{n / 1024:.1f}K"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("spans")
    ap.add_argument("--pass", dest="pass_", type=int, default=None)
    a = ap.parse_args()
    steps, jobs, stages = load(a.spans)
    if not steps:
        sys.exit(f"{a.spans}: no step spans")
    passes = sorted({s["pass"] for s in steps})
    p = passes[0] if a.pass_ is None else a.pass_
    if p not in passes:
        sys.exit(f"pass {p} not traced; traced passes: {passes}")
    total_jobs = 0
    print(f"pass {p} (traced passes: {', '.join(map(str, passes))})")
    for s in sorted((s for s in steps if s["pass"] == p),
                    key=lambda s: s["start_ms"]):
        js = sorted(jobs[s["id"]], key=lambda j: j["start_ms"])
        total_jobs += len(js)
        wall = s["end_ms"] - s["start_ms"]
        print(f"\n{s['module']}.{s['name']}  wall {wall} ms  jobs {len(js)}"
              + ("" if s.get("ok", True) else "  FAILED"))
        print(f"  {'job':>8} {'gap_ms':>7} {'ms':>6} {'tasks':>6} "
              f"{'shuffle_read':>13} {'shuffle_write':>14}")
        prev = s["start_ms"]
        for j in js:
            st = stages[j["id"]]
            end = j["end_ms"] if j["end_ms"] > 0 else s["end_ms"]
            print(f"  {j['id']:>8} {j['start_ms'] - prev:>7} "
                  f"{end - j['start_ms']:>6} "
                  f"{sum(g['tasks'] for g in st):>6} "
                  f"{kib(sum(g['shuffle_read_bytes'] for g in st)):>13} "
                  f"{kib(sum(g['shuffle_write_bytes'] for g in st)):>14}")
            prev = max(prev, end)
        print(f"  {'(tail)':>8} {max(0, s['end_ms'] - prev):>7}")
    print(f"\npass {p}: {total_jobs} jobs")


if __name__ == "__main__":
    main()
