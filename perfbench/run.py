#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the engine and the harness
from the checkout's sources (sbt, offline) the first time, generates the
workload's inputs from the seed, runs the harness JVM, checks every
result, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics, taken from a traced
window that follows an untraced one in the same process. A full report
(every window, contention record, the metrics under the workload's own
names, error rate, tracing overhead, ratio bases) is printed on the line
before and written to `.bench_build/reports/`. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import gen_corpus  # noqa: E402
import gen_etl  # noqa: E402
import gen_warehouse  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("etl_daily", "warehouse_upsert", "queries")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    (sbt and java children included) and wait for it. Returns the exit
    code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp(root):
    """Digest of everything the build reads: engine and harness sources."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    trees = ["src/main", "perfbench/src", "project"]
    files = [os.path.join(root, t) for t in tops]
    for t in trees:
        for d, dirs, fs in os.walk(os.path.join(root, t)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in sorted(set(files)):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, out):
    """Compile the engine and the harness; write the launch files once per
    source state."""
    launch = os.path.join(out, "launch")
    stamp = source_stamp(root)
    stamp_file = os.path.join(launch, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return launch
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                         BUILD_LIMIT_S, cwd=os.path.join(root, "perfbench"), env=env,
                         stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed or timed out; see {log}", 3)
    os.makedirs(launch, exist_ok=True)
    for f in ("classpath.txt", "jvm-options.txt"):
        shutil.copy(os.path.join(root, "perfbench", "target", "launch", f), launch)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launch


def generate(workload, seed, inp, small):
    if workload == "etl_daily":
        gen_etl.main(inp, seed, 2000 if small else 20000)
    elif workload == "warehouse_upsert":
        gen_warehouse.main(inp, seed, 5000 if small else 50_000)
    else:
        gen_corpus.main(inp, seed, 0.001 if small else 0.01, 100 if small else 500)


def run_jvm(launch, args, run_dir, deadline):
    cp = open(os.path.join(launch, "classpath.txt")).read().strip()
    opens = open(os.path.join(launch, "jvm-options.txt")).read().split()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", *opens,
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Main"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        code = run_group(cmd, max(deadline - time.time(), 10), stdout=fh,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        tail = open(log).read()[-2000:]
        fail(f"harness failed or timed out (exit {code}); see {log}\n{tail}", 4)


def main():
    # a terminated run still stops its build or harness process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", action="store_true",
                    help="plant one wrong reference value (self-test of the checks)")
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs (self-test); not comparable with normal runs")
    a = ap.parse_args()
    t0 = time.time()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt",
                 "tools/parity.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of an engine checkout: {need} is missing")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    launch = build(root, out)
    t_run = time.time()

    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "input")
    generate(a.workload, a.seed, inp, a.small)
    args = ["--workload", a.workload, "--input", inp, "--out", run_dir,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--plant", "1" if a.plant else "0"]
    run_jvm(launch, args, run_dir, t_run + RUN_LIMIT_S)
    result = json.load(open(os.path.join(run_dir, "result.json")))

    wrong = {}
    if a.workload == "queries":
        import oracle  # reads tools/parity.py of the checkout
        wrong = oracle.compare(inp, run_dir, plant=a.plant)
    report = metrics.report(a.workload, a.seed, result, wrong, traced=bool(a.trace))
    report["wall_s"] = {"build": t_run - t0, "run": time.time() - t_run}

    reports = os.path.join(out, "reports")
    os.makedirs(reports, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(reports, name + ".json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    if a.trace:
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), os.path.join(reports, name + ".spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    print("report: " + json.dumps(report["summary"], sort_keys=True))
    print(json.dumps(report["line"]))


if __name__ == "__main__":
    main()
