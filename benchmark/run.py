#!/usr/bin/env python3
"""Benchmark driver for the graft engine.

Run from the root of a checkout:

    python3 benchmark/run.py --workload joint_call --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --workload all --seed 1          # every workload

Builds the engine and the benchmark from source (sbt, once per source
change), launches one JVM per workload with a fixed heap and
local[nproc], and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
Exits non-zero on any failed operation or wrong result.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")

# Load posture: one process, every core, one closed-loop client, and a
# pinned, pre-touched heap (the same on every run and every commit).
HEAP = "2g"
RUN_TIMEOUT_S = 170

def die(msg, code=2):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, engine and benchmark."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              os.path.join(BENCH_DIR, "src", "main"),
              os.path.join(BENCH_DIR, "project")):
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + benchmark when any source changed since the last
    build in this checkout; returns the runtime classpath and the
    engine's JVM options."""
    stamp = os.path.join(WORK, "build.stamp")
    # written by the build's writeClasspath task
    cp_file = os.path.join(BENCH_DIR, ".bench_work", "classpath.txt")
    opts_file = os.path.join(BENCH_DIR, ".bench_work", "jvm_options.txt")

    def built():
        with open(cp_file) as fh:
            cp = fh.read().strip()
        with open(opts_file) as fh:
            return cp, [l for l in fh.read().splitlines() if l]

    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    if (os.path.exists(stamp) and os.path.exists(cp_file)
            and os.path.exists(opts_file) and open(stamp).read() == digest):
        return built()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"],
                       cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed", 3)
    print(f"[bench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return built()


def run_one(cp, jvm_opts, workload, seed, seconds, trace):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + jvm_opts
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "graftbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--work", run_dir, "--launch-ms", str(int(time.time() * 1000))])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{workload}: timed out after {RUN_TIMEOUT_S}s", 4)
    if proc.returncode != 0:
        die(f"{workload}: JVM exited with {proc.returncode}", 5)
    lines = [l for l in out.splitlines() if l.startswith("BENCH_RESULT ")]
    if not lines:
        die(f"{workload}: no result line", 6)
    return json.loads(lines[-1][len("BENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a checkout of the engine: {need} missing under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    workloads = names if a.workload == "all" else [a.workload]
    if any(w not in names for w in workloads):
        die(f"unknown workload {a.workload}; one of {names} or all")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if a.trace else "end_to_end"]}

    cp, jvm_opts = build()
    results = []
    for w in workloads:
        res = run_one(cp, jvm_opts, w, a.seed, seconds, a.trace)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            die(f"{w}: metrics {sorted(got.items())} differ from "
                f"BENCHMARK.json {sorted(want.items())}", 7)
        res["metrics"] = {k: res["metrics"][k] for k in want}
        results.append((w, res))
        if len(workloads) > 1:
            print(json.dumps({"workload": w, **res}))
    if len(workloads) == 1:
        final = results[0][1]
    else:
        final = {"correct": all(r["correct"] for _, r in results),
                 "attempted": sum(r["attempted"] for _, r in results),
                 "failed": sum(r["failed"] for _, r in results),
                 "metrics": {f"{w}.{k}": v for w, r in results
                             for k, v in r["metrics"].items()}}
    print(json.dumps(final))
    sys.exit(0 if final["correct"] and final["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
