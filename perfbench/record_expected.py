#!/usr/bin/env python3
"""Rebuild perfbench/expected.json and perfbench/unstable.txt.

    python3 perfbench/record_expected.py [--seeds 1 2 3]

Run from the repository root. It first runs the oracle check of this
commit on the benchmark's inputs:

    sbt 'runMain graft.Verify perfbench/data .bench_build/verify'
    python3 scripts/check.py perfbench/data .bench_build/verify

and writes nothing unless every query passes; the check's summary line
is stored in expected.json. Then, for the query workload and each seed,
it runs `perfbench/run.py --record`, which executes every query of the
workload at least twice and records each (rows, fingerprint) it sees. A
query whose fingerprint is identical across all executions is checked on
both; one whose fingerprint varies but whose row count does not is listed
in unstable.txt and checked on rows only; one whose row count varies is
an error.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import sbt_env  # noqa: E402

WORKLOADS = ("corpus_pipeline",)
VERIFY_OUT = os.path.join(".bench_build", "verify")


def oracle_check():
    """Runs graft.Verify and scripts/check.py on perfbench/data; returns
    the check's summary line, or exits if any query fails."""
    shutil.rmtree(VERIFY_OUT, ignore_errors=True)
    subprocess.run(["sbt", "--batch", f"runMain graft.Verify perfbench/data {VERIFY_OUT}"],
                   env=sbt_env(), check=True, stdout=subprocess.DEVNULL, stdin=subprocess.DEVNULL)
    p = subprocess.run([sys.executable, "scripts/check.py", "perfbench/data", VERIFY_OUT],
                       capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stdout.write(p.stdout[-4000:])
        sys.exit(f"oracle check failed (exit {p.returncode}); expected.json not written")
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    a = ap.parse_args()
    oracle = oracle_check()
    seen = {}
    for w in WORKLOADS:
        for s in a.seeds:
            out = os.path.join(".bench_build", f"record-{w}-{s}.json")
            subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                            "--seconds", "1", "--trace", "0", "--record", out],
                           check=True, stdout=subprocess.DEVNULL)
            with open(out) as f:
                for q, obs in json.load(f).items():
                    seen.setdefault(q, set()).update(obs)
    expected, unstable = {}, []
    for q in sorted(seen):
        rows = {o.split(":", 1)[0] for o in seen[q]}
        if len(rows) != 1:
            sys.exit(f"{q}: row count differs between executions: {sorted(seen[q])}")
        fps = {o.split(":", 1)[1] for o in seen[q]}
        expected[q] = {"rows": int(rows.pop()), "fp": fps.pop() if len(fps) == 1 else None}
        if expected[q]["fp"] is None:
            unstable.append(q)
    commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], capture_output=True,
                            text=True).stdout.strip() or "unknown"
    expected = {"_about": f"rows and xxhash64 fingerprint of every query, recorded at {commit} "
                          f"with seeds {a.seeds}; oracle check at that commit on perfbench/data: "
                          f"{oracle} (scripts/check.py)", **expected}
    with open("perfbench/expected.json", "w") as f:
        json.dump(expected, f, indent=1)
        f.write("\n")
    with open("perfbench/unstable.txt", "w") as f:
        f.write("# Queries whose fingerprint is not bit-stable from run to run;\n"
                "# they are checked on row count only. Written by record_expected.py.\n")
        f.writelines(q + "\n" for q in unstable)
    print(f"{len(expected) - 1} queries, {len(unstable)} checked on rows only")


if __name__ == "__main__":
    main()
