"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

For every workload, traced and untraced, checks that the run exits 0,
that its last line is the result object, that it emits exactly the metric
names and units BENCHMARK.json lists, and that no operation failed (error
rate 0). Then checks that a directory holding only BENCHMARK.json and the
benchmark's files makes the command fail fast without a result line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = _spec()["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--tiny",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check_workload(workload: str, trace: int) -> list[str]:
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    p = _run(ROOT, workload, trace)
    if p.returncode != 0:
        return [f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"correct={result['correct']} failed={result['failed']}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(
            f"metrics differ: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}, "
            f"units {[k for k in want if k in got and got[k] != want[k]]}"
        )
    if not trace and any(v["value"] <= 0 for v in result["metrics"].values()):
        errors.append(f"an end-to-end metric is not positive: {result['metrics']}")
    return [f"{workload} trace={trace}: {e}" for e in errors]


def check_without_program() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in _spec()["paths"]:
            shutil.copytree(
                os.path.join(ROOT, path),
                os.path.join(bare, path),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
        p = _run(bare, "poll_steady", 0)
        if p.returncode == 0 or p.stdout.strip():
            return [f"bare checkout: exit {p.returncode}, stdout {p.stdout[-200:]!r}"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    errors = check_without_program()
    for workload in (w["name"] for w in _spec()["workloads"]):
        for trace in (0, 1):
            errors += check_workload(workload, trace)
            print(f"checked {workload} trace={trace}", file=sys.stderr)
    for e in errors:
        print(f"FAIL {e}", file=sys.stderr)
    print("selftest " + ("failed" if errors else "passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
