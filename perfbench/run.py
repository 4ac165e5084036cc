#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload serve|batch --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
benchmark (`build.py`) and generates the corpus (`gen_data.py`) under
`.bench_build/perfbench/`; later runs reuse both. Each run then makes its
seeded inputs (`inputs.py`), starts one JVM with a private `java.io.tmpdir`
and scratch root, waits for it and prints, as the last line of standard
output, one JSON object: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics of BENCHMARK.json untraced, the per-layer ones
traced). The line before it is the full run record: host stamp, the
headline figures and every check that failed. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402
import inputs  # noqa: E402

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "4g"
# The heap grows from a fixed start by the free-ratio rule after each
# collection. G1 also grows it when collections take a large share of
# recent wall time, which made peak RSS swing by a quarter between runs of
# the same code.
GC = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms256m"]
RUN_LIMIT_S = 170    # a run's own budget once the build is done


def git_sha():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return None


WORKLOADS = ["serve", "batch"]


def main():
    ap = argparse.ArgumentParser(description="One benchmark run.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default="0.1", help="corpus scale factor (default 0.1)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.stderr.write(f"perfbench: {ROOT} holds no library sources (src/main/scala)\n")
        return 2
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    jar, source_sha = build.build(ROOT, work)
    jsa = build.archive(work, source_sha, lambda flag: dump_archive(jar, work, flag))
    record = execute(a.workload, a.seed, a.seconds, a.trace, a.sf, jar, work,
                     [f"-XX:SharedArchiveFile={jsa}"])
    if record is None:
        return 1

    record["stamp"] = {"git_sha": git_sha(), "source_sha256": source_sha, "sf": a.sf,
                       "workload": a.workload, "seed": a.seed, "traced": bool(a.trace),
                       "seconds": a.seconds, "heap": HEAP, "gc": " ".join(GC),
                       **record.pop("host")}
    keep = os.path.join(work, "records", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    os.makedirs(os.path.dirname(keep), exist_ok=True)
    with open(keep, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    section, measured = (("per_layer", record["per_layer"]) if a.trace
                         else ("end_to_end", record["end_to_end"]))
    # A layer the workload never calls reports 0: no calls, no time.
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[section]}
    print("perfbench-record " + json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))
    return 0


def java(jar, flags, args, cwd, log_path, timeout):
    """Run one benchmark JVM to completion; its exit code, -9 on timeout."""
    cp = jar + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           flags + GC + [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={cwd}/tmp",
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Dperfbench.launch_ms={int(time.time() * 1000)}",
                    "-cp", cp, "graft.perfbench.Main"] + args)
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=cwd,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            return -9


def dump_archive(jar, work, flag):
    """Run set-up alone on the smallest corpus, writing the class archive."""
    data_dir = os.path.join(work, "data", "sf0.001")
    gen_data.generate(data_dir, 0.001, 42)
    run_dir = os.path.join(work, "runs", f"archive-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    try:
        log = os.path.join(work, "logs", "archive.log")
        if java(jar, [flag], ["setup", "-", data_dir, run_dir, "0", "0", "-", "-"],
                run_dir, log, RUN_LIMIT_S) != 0:
            raise SystemExit(f"perfbench: the archive run failed, see {log}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def execute(workload, seed, seconds, trace, sf, jar, work, flags):
    """Generate the inputs and run one JVM; the run record, or None."""
    started = time.time()
    data_dir = os.path.join(work, "data", f"sf{sf}")
    gen_data.generate(data_dir, float(sf), 42)
    run_dir = os.path.join(work, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        inputs_path = os.path.join(run_dir, "inputs.json")
        with open(inputs_path, "w") as fh:
            json.dump(inputs.make(workload, seed, data_dir, sf), fh)
        record_path = os.path.join(run_dir, "record.json")
        spans = os.path.join(work, "traces", f"{workload}-s{seed}.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        log_path = os.path.join(work, "logs", f"{workload}-s{seed}-t{trace}.log")
        rc = java(jar, flags, [workload, inputs_path, data_dir, run_dir, str(seconds),
                               str(trace), record_path, spans],
                  run_dir, log_path, max(10.0, RUN_LIMIT_S - (time.time() - started)))
        if rc == -9:
            sys.stderr.write(f"perfbench: run exceeded {RUN_LIMIT_S} s, see {log_path}\n")
            return None
        if rc != 0 or not os.path.exists(record_path):
            sys.stderr.write(open(log_path).read()[-3000:])
            sys.stderr.write(f"perfbench: JVM exited {rc}, see {log_path}\n")
            return None
        return json.load(open(record_path))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
