"""The benchmark's own test: ``python3 -m pytest perfbench`` from the root.

Runs ``run.py --smoke`` (every workload at a tiny size, untraced, plus one
traced run) and requires every metric named in BENCHMARK.json, with its
unit, and every output check to pass. Takes a few minutes.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_prints_every_metric_with_its_unit():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, "\n".join(lines[-40:]) + proc.stderr[-4000:]
    assert json.loads(lines[-1]) == {"smoke": "ok"}
