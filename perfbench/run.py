"""Benchmark entry point.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 20 --trace 0

Builds the program and harness from source (see build.py), runs one
benchmark JVM for the workload and prints its result object as the last
line of stdout. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. Exits non-zero, printing no result, when
the build or the run fails.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("extract", "near_dup")
RUN_TIMEOUT_S = 170
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def declared_metrics(section):
    """name -> unit of one metric list in BENCHMARK.json, or None when
    the file is absent."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        out = build.ensure()
    except build.BuildError as e:
        sys.stderr.write(f"perfbench: build failed: {e}\n")
        return 1

    work = os.path.join(build.BUILD_ROOT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = [build.java(), f"-XX:SharedArchiveFile={os.path.join(out, 'app.jsa')}",
           *build.jvm_options(work), "-cp", build.classpath(out), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--nproc", str(len(os.sched_getaffinity(0)))]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.stderr.write(f"perfbench: run exceeded {RUN_TIMEOUT_S}s\n")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(f"perfbench: benchmark JVM exited with {proc.returncode}\n")
        return 1
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write("perfbench: no result line\n")
        return 1
    if set(result) != RESULT_KEYS or result["attempted"] < 1:
        sys.stderr.write(f"perfbench: malformed result {lines[-1]}\n")
        return 1
    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if declared is not None and got != declared:
        sys.stderr.write(f"perfbench: metrics differ from BENCHMARK.json: got {sorted(got.items())}\n")
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
