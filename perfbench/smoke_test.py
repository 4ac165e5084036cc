#!/usr/bin/env python3
"""Smoke test of the benchmark on the smallest corpus (sf 0.001).

Runs each workload once untraced and once traced, and checks that every
metric BENCHMARK.json names is printed with its unit, that the run record
carries its stamp, and that no operation failed (error_rate 0).

Usage, from the repository root:  python3 perfbench/smoke_test.py
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAMP = {"git_sha", "source_sha256", "nproc", "xmx_mb", "sf", "workload", "seed",
         "traced", "steal_cores", "foreign_cores"}


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "2", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2].split(" ", 1)[1])
    return result, record


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            result, record = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            tag = f"{w} trace={trace}"
            if got != want:
                problems.append(f"{tag}: metrics/units differ: {set(got.items()) ^ set(want.items())}")
            if not all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
                problems.append(f"{tag}: a metric value is not a number")
            if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
                problems.append(f"{tag}: {result['failed']} of {result['attempted']} failed: "
                                f"{record['failures'][:5]}")
            if record["named"]["error_rate"] != 0:
                problems.append(f"{tag}: error_rate {record['named']['error_rate']}")
            if not STAMP <= set(record["stamp"]):
                problems.append(f"{tag}: stamp lacks {STAMP - set(record['stamp'])}")
            unknown = set(record[section]) - set(want)
            if unknown:
                problems.append(f"{tag}: measured but not in BENCHMARK.json: {sorted(unknown)}")
            print(f"{tag}: {result['attempted']} operations, {len(got)} metrics", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
