#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload serving|notebook|bulk \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program's
sources (src/main/scala) together with the harness (perfbench/src) with
sbt; later runs reuse the classes until a source file changes. Each run
starts one JVM (perfbench.Main), which sets up a Spark session, runs the
workload against the program's public entry points and writes one JSON
record per operation. This script picks the inputs from the seed, checks
every output and prints the metrics as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The line before it holds the run's inputs and tail percentiles; a traced
run first prints the JVM's records, one per key, request or replay.

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (the run registers Spark listeners then).
See perfbench/README.md for what each workload and metric measures.
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

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every source and build file the classes depend on."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) "
                         "are missing; run from the root of a full checkout")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) \
            and open(STAMP).read() == stamp:
        return
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {p.returncode})")
    with open(CLASSPATH, "w") as f:  # export prints the classpath unprefixed
        f.write([ln for ln in p.stdout.splitlines()
                 if ln.strip() and not ln.startswith("[")][-1])
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(work, args, limit_s):
    """Runs perfbench.Main; returns its records. Kills the JVM at limit_s."""
    out = os.path.join(work, "records.jsonl")
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", open(CLASSPATH).read(), "perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()] +
           [f"work={work}", f"out={out}"])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    errlog = os.path.join(work, "jvm.log")
    with open(errlog, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(errlog) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: JVM failed ({rc})")
    with open(out) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="flip one expected output, to prove the check fires")
    a = ap.parse_args()
    build()
    start = time.time()  # a run may take RUN_LIMIT_S after a first build
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        w = workloads.ALL[a.workload](HERE, work, a.seed, a.seconds,
                                      a.corrupt_expected)
        jvm_args = dict(w.jvm_args(), workload=a.workload, trace=a.trace)
        records = run_jvm(work, jvm_args, RUN_LIMIT_S - (time.time() - start))
        result = w.evaluate(records, a.trace == 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if a.trace:
        for r in records:
            print(json.dumps(r, sort_keys=True))
    print(json.dumps(result["info"], sort_keys=True))
    print(json.dumps({k: result[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
