#!/usr/bin/env python3
"""Benchmark of the record-linkage engine: one workload per run, in its
own JVM with one local[N] SparkContext (N = available cores), driven by
one client in a closed loop.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: link, cluster_graph (see perfbench/README.md).
--trace 0 measures the end-to-end metrics with tracing off; --trace 1 runs
the traced variant and prints the per-layer metrics. The last stdout line
is {"correct", "attempted", "failed", "metrics"}; a failed correctness
check prints it with correct=false and exits 1.

Builds the engine from source on first use (perfbench/build.py) and keeps
every file it writes under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("link", "cluster_graph")
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def declared_metrics(trace):
    """(name, unit) pairs BENCHMARK.json expects from this kind of run."""
    path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="bench", choices=("bench", "smoke"))
    ap.add_argument("--broken-check", action="store_true",
                    help="corrupt the checked output (smoke test of the checks)")
    a = ap.parse_args()

    jar, archive = build.build()
    run_dir = os.path.join(build.OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale] + (["--broken-check"] if a.broken_check else [])
    cmd = build.jvm_command(jar, run_dir, args,
                            f"-XX:SharedArchiveFile={archive}" if archive else None)
    env = dict(os.environ, SPARK_LOCAL_IP=os.environ.get("SPARK_LOCAL_IP", "127.0.0.1"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=run_dir)
    # a caller that stops this script with SIGTERM must not orphan the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
        shutil.rmtree(run_dir, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_DETAIL "):
            print(line[len("PERFBENCH_DETAIL "):])
    if proc.returncode != 0 or result is None:
        fail(f"run ended with code {proc.returncode} and no result")

    want = declared_metrics(a.trace == "1")
    if want is not None:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        missing = [(n, u) for n, u in want if got.get(n) != u]
        if missing:
            fail(f"metrics missing or with another unit: {missing}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
