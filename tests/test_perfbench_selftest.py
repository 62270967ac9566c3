"""The benchmark harness still runs against the program: its self-test
(tiny inputs, every workload traced and untraced, metric names and units
as BENCHMARK.json lists them, zero failed operations) exits 0."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest_passes():
    p = subprocess.run(
        [sys.executable, "perfbench/selftest.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1500,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    assert p.stdout.strip().splitlines()[-1] == "selftest passed"
