"""Run one benchmark workload from the repository root.

    python3 perfbench/run.py --workload release_fold --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark from source on first use (see
build.py), runs the workload in one JVM on a Spark session of
`nproc` local cores, and prints a detail line and then, last, the
result line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones plus `trace.overhead_share`, which the traced JVM
measures itself (see README.md). Exits non-zero when an answer was
wrong or the run failed.
"""
import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("release_fold", "anchored_reads")
DEADLINE_S = 175


def jvm(args):
    """One JVM run; returns (detail, result, exit code), or exits."""
    work = build.OUT / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    proc = build.run_jvm(work, [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--work", str(work), "--fixtures", str(build.FIXTURES)],
        stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {args.workload} did not finish within {DEADLINE_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    if len(lines) < 2 or "detail" not in lines[-2] or "metrics" not in lines[-1]:
        sys.exit(f"perfbench: {args.workload} exited {proc.returncode} without a result")
    return lines[-2]["detail"], lines[-1], proc.returncode


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--size", default="full", choices=("full", "tiny"))
    args = p.parse_args()

    build.sources()  # fails fast outside a repository checkout
    build.OUT.mkdir(parents=True, exist_ok=True)
    with open(build.OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        build.build()

    detail, result, code = jvm(args)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
