#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload sdk_mixed --seed 1 --seconds 20 --trace 0

Run it from the repository root. The first call in a checkout builds the
product and the harness with sbt (outputs under `target/`,
`perfbench/target/` and `.bench_build/`); later calls reuse that build
until a source or build file changes. Each call starts one JVM for one
workload, sized from the host (`local[nproc]`, heap from MemTotal), and
deletes the JVM's store roots and temp files when it ends.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics`. With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json, with `--trace 1` its per-layer metrics. The complete
result, with host facts and per-kind and per-query detail, is written to
`.bench_build/results/`; `perfbench/compare.py` compares two sets of them.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = "perfbench"
BUILD_DIR = ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change must trigger a rebuild."""
    roots = ["build.sbt", "project", "src/main",
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project"),
             os.path.join(BENCH_DIR, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, subdirs, files in os.walk(r):
            # Skip build outputs: target/ anywhere, and sbt's project/project.
            subdirs[:] = sorted(s for s in subdirs if s != "target" and
                                not (s == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    yield os.path.join(d, f)


def digest():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile product and harness; returns the launch description."""
    launch = os.path.join(BUILD_DIR, "launch.json")
    stamp = os.path.join(BUILD_DIR, "launch.digest")
    want = digest()
    if os.path.isfile(launch) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == want:
                with open(launch) as g:
                    return json.load(g)
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("building product and harness with sbt")
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                             cwd=BENCH_DIR, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait(p, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(launch):
        with open(os.path.join(BUILD_DIR, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(want)
    with open(launch) as g:
        return json.load(g)


def wait(p, timeout):
    """Wait for `p`; on timeout kill its whole process group and wait again."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


def heap_mb():
    """An eighth of MemTotal, clamped to [2, 4] GiB. The workloads retain
    at most ~250 MB; a heap far above that only lets G1 grow the young
    generation into memory the run touches for the first time, and on a
    virtual machine those first touches made whole runs up to a third
    slower at random (measured on 4 vCPUs with a 7 GiB heap)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(4096, max(2048, kb // 8192))
    except (OSError, StopIteration, ValueError):
        return 2048


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", help="write every observed query fingerprint to this file")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        raise SystemExit("run from the repository root: build.sbt and src/main/scala are missing")

    launch = build()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", run_id))
    results = os.path.join(BUILD_DIR, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, run_id + ".json")
    opts = [o for o in launch["java_options"]
            if not o.startswith(("-Xmx", "-Djava.io.tmpdir=", "-Dderby.system.home="))]
    cmd = (["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby"] + opts +
           ["-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--bench", BENCH_DIR, "--src", "src/main/scala",
            "--work", work, "--out", out] +
           (["--record", a.record] if a.record else []))
    t0 = time.time()
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=sys.stderr, stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        rc = wait(p, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"jvm exit {rc} after {time.time() - t0:.1f} s")
    if rc != 0 or not os.path.isfile(out):
        raise SystemExit(f"workload {a.workload} did not complete (exit {rc})")

    with open(out) as f:
        res = json.load(f)
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    got = res["metrics"]
    if set(got) != set(names):
        raise SystemExit(f"metric names differ from BENCHMARK.json: {sorted(set(got) ^ set(names))}")
    line = {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {n: got[n] for n in names}}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
