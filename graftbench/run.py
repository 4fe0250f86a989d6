#!/usr/bin/env python3
"""Benchmark entry point.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --workload promql_small --seed <n> --record-digests

Run from the root of a checkout. Builds the engine and the benchmark with sbt
when their sources changed since the last build, runs one workload in a fresh
JVM, and prints the result as the last line of stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Everything it writes stays under graftbench/target.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["promql_small", "remote_write"]
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 175
HEAP = "4g"


def fail(msg, code=2):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, **kw):
    """Runs cmd in its own process group and waits for it; kills the whole
    group on timeout, or when this script is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None, None
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out, err


def build():
    """Returns the java launch arguments, building first if needed."""
    launch = os.path.join(TARGET, "bench-launch.txt")
    stamp_file = os.path.join(TARGET, "bench-stamp.txt")
    want = stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(launch) as lf:
                    return [l for l in lf.read().splitlines() if l]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    code, out, _ = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false", "graftbench/benchLaunch"],
                             HERE, BUILD_TIMEOUT_S, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out", 1)
    print(f"[graftbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    with open(launch) as lf:
        return [l for l in lf.read().splitlines() if l]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="print the panel digests of promql_small for --seed instead of measuring")
    args = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources beside the benchmark (expected build.sbt and src/main/scala/graft)")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("no BENCHMARK.json at the root of the checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    jvm = build()
    work = os.path.join(TARGET, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_DRAIN_TIMING", None)
    if args.trace:
        env["SPARK_GRAFT_DRAIN_TIMING"] = "1"
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse"]
           + jvm + ["graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", os.path.join(work, "data"),
                    "--spec", os.path.join(ROOT, "BENCHMARK.json"),
                    "--digests", os.path.join(HERE, "digests.json")]
           + (["--record-digests"] if args.record_digests else []))
    # the first run in a checkout may spend most of its time building
    budget = max(RUN_DEADLINE_S - (time.time() - started), RUN_DEADLINE_S - 60)
    try:
        code, out, _ = run_group(cmd, work, budget, env=env,
                                 stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("run timed out", 1)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stdout.write(out or "")
        fail(f"run failed with exit code {code}", 1)
    result = json.loads(lines[-1])
    if args.record_digests:
        print(json.dumps(result))
        return
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
