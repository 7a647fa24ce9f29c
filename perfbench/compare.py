#!/usr/bin/env python3
"""Compare two sets of benchmark results, workload by workload.

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are each a result file written by `perfbench/run.py`
(under `.bench_build/results/`) or a directory of them. Untraced results
give the end-to-end metrics, printed per workload as median and quartiles
of each side. Traced results give the host-independent counters (Spark
jobs, stages and tasks, filesystem operations, bytes), printed with their
exact difference; a counter that differs between runs of one side is
marked, because it is then not host-independent on that workload.
"""
import glob
import json
import os
import statistics
import sys

COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "store.jobs", "ops.jobs",
            "store.load_jobs", "store.get_jobs", "queries.jobs_per_query")
COUNTER_PREFIXES = ("store.fs_", "store.upload.fs_", "store.get.fs_", "store.list.fs_")
COUNTER_SUFFIXES = ("_bytes", "bytes_written")


def is_counter(name):
    return (name in COUNTERS or name.startswith(COUNTER_PREFIXES)
            or name.endswith(COUNTER_SUFFIXES))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        host = r.get("detail", {}).get("host", {})
        key = (host.get("workload", "?"), bool(host.get("trace")))
        runs.setdefault(key, []).append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, name):
    return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for workload in sorted({w for w, _ in before} | {w for w, _ in after}):
        b, a = before.get((workload, False), []), after.get((workload, False), [])
        if b or a:
            print(f"\n== {workload}: end-to-end (runs: {len(b)} before, {len(a)} after)")
            print(f"{'metric':24} {'before q1/median/q3':>34} {'after q1/median/q3':>34} {'change':>8}")
            names = sorted({n for r in b + a for n in r["metrics"]})
            for n in names:
                vb, va = values(b, n), values(a, n)
                cells = []
                for v in (vb, va):
                    cells.append("%10.4g %10.4g %10.4g" % quartiles(v) if v else " " * 32 + "-")
                change = ("%+7.1f%%" % (100 * (statistics.median(va) / statistics.median(vb) - 1))
                          if vb and va and statistics.median(vb) else "")
                print(f"{n:24} {cells[0]:>34} {cells[1]:>34} {change:>8}")
        b, a = before.get((workload, True), []), after.get((workload, True), [])
        if b or a:
            print(f"\n== {workload}: host-independent counters (traced runs: {len(b)} before, {len(a)} after)")
            names = sorted({n for r in b + a for n in r["metrics"] if is_counter(n)})
            for n in names:
                vb, va = values(b, n), values(a, n)
                mark = " (varies between runs)" if len(set(vb)) > 1 or len(set(va)) > 1 else ""
                if vb and va:
                    diff = statistics.median(va) - statistics.median(vb)
                    print(f"{n:32} {statistics.median(vb):16.6g} {statistics.median(va):16.6g} "
                          f"{diff:+16.6g}{mark}")
                else:
                    print(f"{n:32} {'-' if not vb else statistics.median(vb):>16} "
                          f"{'-' if not va else statistics.median(va):>16}")


if __name__ == "__main__":
    main()
