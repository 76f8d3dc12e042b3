#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

Run from the root of a graft checkout:

    python3 graftbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

The first run builds graft and the benchmark with sbt (offline) and keeps
the result under .bench_build/; later runs start the JVM directly. Every
metric prints as `name value unit`; the last line of stdout is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. The exit code
is 0 only when a complete result was printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("query_mix", "project_compile", "project_incremental")
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
BUILD_TIMEOUT_S = 720
RUN_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g"]
# the sf0.1 test tables (TESTDATA.md), read only
DATA = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))


def fail(msg, log=None):
    print(f"graftbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.exit(1)


def fingerprint():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    for p in sorted(files):
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = fingerprint()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
           f"-Djava.io.tmpdir={tmp}", "benchLaunch"]
    with open(log, "w") as out:
        try:
            code = subprocess.run(cmd, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out", log)
    if code != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {code})", log)
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA, help="the sf0.1 source tables (read only)")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: no graft sources here")
    if not os.path.isdir(args.data):
        fail(f"source tables not found at {args.data}")
    build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(LAUNCH) as f:
        launch = [l.rstrip("\n") for l in f if l.strip()]
    # set-up time is counted from here: the build above is not part of it
    start_ms = int(time.time() * 1000)
    cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}"] + launch +
           ["graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--start-ms", str(start_ms), "--data", args.data, "--work", work,
            "--traces", os.path.join(BUILD, "traces")])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{tag} did not finish within {RUN_TIMEOUT_S} s", log)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not valid_result(lines[-1]):
        fail(f"{tag} exited {proc.returncode} without a result", log)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
