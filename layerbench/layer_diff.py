#!/usr/bin/env python3
"""Side-by-side per-layer diff of two sets of traced benchmark runs.

Usage: layer_diff.py <A> <B>

A and B are traced-run records written by run.py (.bench_results/
<workload>-seed<n>-trace1.json) or directories of them. Several records
of one workload on a side are reduced to their per-metric median. For
every workload present on both sides it prints each per-layer metric
as A, B, B-A and B/A, then a verdict line for the question "real
regression or co-tenant burst?":

 - the work counts (jobs, stages, tasks, rows, bytes) changed: the
   program does different work, so a time change is real;
 - the counts are equal, time rose and other processes used a larger
   share of the machine on B: a co-tenant burst is the likely cause;
 - the counts are equal and the load is equal, but time rose: the
   program got slower doing the same work.
"""
import glob
import json
import os
import statistics
import sys

COUNTS = ("compose.jobs", "sched.jobs", "sched.stages", "sched.tasks",
          "scan.input_rows", "sink.rows", "sink.files", "stream.batches",
          "stream.input_rows")
TIMES = ("compose.s", "catalyst.s", "exec.s", "exec.task_s",
         "sched.driver_gap_s", "caching.release_s", "sink.write_s")
LOAD = "host.other_cpu_frac"


def load(path):
    files = (sorted(glob.glob(os.path.join(path, "*-trace1.json")))
             if os.path.isdir(path) else [path])
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 1:
            runs.setdefault(r["workload"], []).append(r["metrics"])
    return {w: {k: statistics.median(m[k]["value"] for m in ms)
                for k in ms[0]} for w, ms in runs.items()}, \
        {w: len(ms) for w, ms in runs.items()}


def verdict(a, b):
    moved = [k for k in COUNTS if abs(b.get(k, 0) - a.get(k, 0))
             > 0.01 * max(1.0, abs(a.get(k, 0)))]
    if moved:
        return "real: work counts changed (" + ", ".join(moved) + ")"
    ta = sum(a.get(k, 0) for k in TIMES)
    tb = sum(b.get(k, 0) for k in TIMES)
    if tb <= ta * 1.05:
        return "no slowdown beyond 5% in the timed layers"
    if b.get(LOAD, 0) > a.get(LOAD, 0) + 0.05:
        return (f"co-tenant burst likely: same work, other processes used "
                f"{a.get(LOAD, 0):.0%} -> {b.get(LOAD, 0):.0%} of the machine")
    return "real: same work and same machine load, but slower"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    (a, na), (b, nb) = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(a) & set(b)):
        print(f"== {w}  (A: {na[w]} run(s), B: {nb[w]} run(s))")
        print(f"{'metric':28s} {'A':>12s} {'B':>12s} {'B-A':>12s} {'B/A':>8s}")
        for k in a[w]:
            x, y = a[w][k], b[w].get(k, float("nan"))
            ratio = f"{y / x:8.3f}" if x else f"{'-':>8s}"
            print(f"{k:28s} {x:12.4f} {y:12.4f} {y - x:12.4f} {ratio}")
        print("verdict:", verdict(a[w], b[w]))
        print()
    for w in sorted(set(a) ^ set(b)):
        print(f"== {w}: only on {'A' if w in a else 'B'}")


if __name__ == "__main__":
    main()
