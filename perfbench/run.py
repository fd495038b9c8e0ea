#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), generates the fixed query data set once
(perfbench/datagen.py), runs one workload in a fresh JVM at local[nproc],
and prints as its last stdout line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything it writes stays under .bench_build/ in the working directory;
each run leaves there the query fingerprints it saw
(traces/<run id>.fingerprints.json: copy one over
perfbench/expected_fingerprints.json to re-pin them) and, traced, its spans.
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
sys.dont_write_bytecode = True

import build  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("query_mix", "lambda_pipeline")
# The query data set: fixed scale and seed, so output fingerprints can be
# pinned in expected_fingerprints.json.
DATA_SCALE, DATA_SEED = 0.01, 42
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def host_control():
    """Fixed CPU-only calibration: seconds for a fixed amount of hashing.
    Diagnostic only; a slow reading marks a loaded host window."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    block = b"x" * 65536
    for _ in range(3000):
        h.update(block)
    return time.perf_counter() - t0


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found; run from the repository root")
    classpath = build.build()
    out = os.path.join(root, ".bench_build")
    data = os.path.join(out, "data", f"sf{DATA_SCALE}-seed{DATA_SEED}")
    datagen.write(data, DATA_SCALE, DATA_SEED)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(out, "work", run_id)
    tmp = os.path.join(out, "tmp", run_id)
    traces = os.path.join(out, "traces")
    for d in (work, tmp, traces):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, SPARK_LOCAL_IP="127.0.0.1")
    cmd = (["java", "-Xmx2g", "-Xms2g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work,
              "--expected", os.path.join(HERE, "expected_fingerprints.json"),
              "--fingerprints", os.path.join(traces, f"{run_id}.fingerprints.json"),
              "--spans", os.path.join(traces, f"{run_id}.spans.jsonl")])

    control_before = host_control()
    load_before = os.getloadavg()[0]
    jvm_t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env, text=True)
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    jvm_s = time.perf_counter() - jvm_t0
    control_after = host_control()
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    raw = json.loads(lines[-1])

    for e in raw["errors"]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(f"perfbench: {args.workload} jvm_s={jvm_s:.1f} rounds_s={raw['rounds']} "
          f"op_min_s={json.dumps(raw['op_min_s'], separators=(',', ':'))} "
          f"host.control_s={control_before:.4f}/{control_after:.4f} "
          f"loadavg={load_before:.2f}/{os.getloadavg()[0]:.2f}", file=sys.stderr)

    if args.trace:
        values = dict(raw["per_layer"])
        values["trace.round_s"] = raw["end_to_end"]["round_s"]
        values["host.control_s"] = max(control_before, control_after)
        wanted = spec["per_layer"]
    else:
        values = raw["end_to_end"]
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    correct = raw["failed"] == 0 and raw["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
