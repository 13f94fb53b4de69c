"""Smoke test of the benchmark itself: every workload at smoke size.

    python3 gpsatbench/smoke_test.py

Runs doc_tiling untraced and all three workloads traced, each at
--size smoke, and fails (exit code 1) when a run errors, prints a
malformed result line, misses or renames a metric BENCHMARK.json declares,
leaves no trace file, or fails its output checks. A workload listed in
EXPECTED_CHECK_FAILURES must still fail its checks, so the entry is removed
in the change that fixes the program.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# GpSatPipeline.runAll's partial resume does not write the refit experts'
# preds and hyperparameter rows, so the resumed preds_glued misses their
# prediction locations (README.md, "Known defect").
EXPECTED_CHECK_FAILURES = {"resume_smooth"}

CASES = [("doc_tiling", 0), ("doc_tiling", 1), ("expert_fit", 1), ("resume_smooth", 1)]


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, "gpsatbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or len(lines) < 2:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"]
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    want = layers if trace else e2e
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if got != want:
        problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    if set(report["metrics"]) != set(e2e):
        problems.append(f"report lacks end-to-end metrics: {sorted(set(e2e) - set(report['metrics']))}")
    if result["attempted"] < 1 or not all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
        problems.append("attempted < 1 or a metric value is not a number")
    if result["correct"] == (workload in EXPECTED_CHECK_FAILURES):
        problems.append(f"correct={result['correct']}, checks: {report['checks']}")
    if trace:
        trace_file = ROOT / ".bench_build" / "traces" / f"{workload}-smoke-seed7-trace1.json"
        t = json.loads(trace_file.read_text()) if trace_file.exists() else {}
        if not t.get("spans") or "sql_metrics" not in t:
            problems.append(f"{trace_file} has no spans or sql_metrics")
    return problems


def main():
    failed = False
    for workload, trace in CASES:
        problems = run(workload, trace)
        failed |= bool(problems)
        print(f"{'FAIL' if problems else 'ok  '} {workload} trace={trace}", flush=True)
        for p in problems:
            print(f"     {p}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
