"""Runs one workload of the GPSat benchmark and prints its result.

    python3 gpsatbench/run.py --workload expert_fit --seed 1 --seconds 10 --trace 0

Builds the program and the harness on first use (see build.py), runs the
harness in one JVM, prints the harness's report line and, last, the result
line {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the trace (spans, per-span task
metrics, join SQL metrics) is written to .bench_build/traces/.
--size smoke runs the same workload at a size that takes seconds.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("expert_fit", "doc_tiling", "resume_smooth")
RUN_LIMIT_S = 175  # a run must end within 180 s once the build is done


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "smoke"))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    started = time.monotonic()
    work = build.BUILD_DIR / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    out = build.BUILD_DIR / "traces" / f"{a.workload}-{a.size}-seed{a.seed}-trace{a.trace}.json"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = build.java_command(classes, "gpsatbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--size", a.size, "--work", str(work), "--out", str(out)],
        tmpdir=work / "tmp")
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S - (time.monotonic() - started))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stdout)
        print(f"harness exited with code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"malformed result line: {lines[-1]}", file=sys.stderr)
        return 4
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
