#!/usr/bin/env python3
"""Fail-loud self-test of the benchmark's own checks.

    python3 perfbench/selftest.py [workload ...]

For each workload (all by default), from the root of a checkout:

1. a tiny run (`--small`, one second) must print every end-to-end metric
   of BENCHMARK.json with its unit, every metric under the workload's own
   names, and no failed op;
2. the same run with `--plant` (one wrong value planted in the reference:
   the generator's truth, the reference model or the DuckDB result) must
   report `error_rate` above 0 and `correct: false`;
3. a traced tiny run of the first workload must print every per-layer
   metric with its unit and the tracing overhead.

Exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAMED = {
    "etl_daily": ["etl_batch_s"],
    "queries": ["report_pass_s", "report_query_p50_s", "report_query_tail_s",
                "curation_pass_s"],
    "warehouse_upsert": ["dml_p50_s", "dml_tail_s", "read_p50_s", "read_tail_s", "space_amp"],
}


def run(workload, *extra):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--small", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} {extra}: exit {p.returncode}\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    summary = json.loads(lines[-2][len("report: "):])
    return summary, json.loads(lines[-1])


def expect(cond, msg):
    if not cond:
        sys.exit(f"FAIL {msg}")
    print(f"ok   {msg}")


def main(workloads):
    for w in workloads:
        summary, line = run(w, "--trace", "0")
        for m in BENCH["end_to_end"]:
            got = line["metrics"].get(m["name"])
            expect(got is not None and got["unit"] == m["unit"] and got["value"] > 0,
                   f"{w}: {m['name']} printed in {m['unit']}")
        expect(set(line["metrics"]) == {m["name"] for m in BENCH["end_to_end"]},
               f"{w}: exactly the end-to-end metrics")
        for n in NAMED[w] + ["setup_s", "peak_rss_mb", "error_rate"]:
            expect(n in summary, f"{w}: report carries {n}")
        expect(line["correct"] and line["failed"] == 0 and summary["error_rate"] == 0,
               f"{w}: error_rate 0 on the engine as built")
        summary, line = run(w, "--trace", "0", "--plant")
        expect(summary["error_rate"] > 0 and not line["correct"] and line["failed"] > 0,
               f"{w}: a planted wrong result raises error_rate to {summary['error_rate']:.3f}")
    summary, line = run(workloads[0], "--trace", "1")
    for m in BENCH["per_layer"]:
        got = line["metrics"].get(m["name"])
        expect(got is not None and got["unit"] == m["unit"],
               f"{workloads[0]} traced: {m['name']} printed in {m['unit']}")
    expect("tracing_overhead" in summary, f"{workloads[0]} traced: tracing overhead reported")
    print("selftest passed")


if __name__ == "__main__":
    main(sys.argv[1:] or [w["name"] for w in BENCH["workloads"]])
