"""Adversarial-skew fixture sweep (tools/skew_sweep.py): power-law
corpus — one domain = 50% of rows, one boilerplate paragraph in 90% of
docs, one token in every doc — through the skew-argued operators, with
straggler detection via the Spark status REST API (max task runtime
vs 4x stage median). Runs in a subprocess because the sweep needs its
own SparkSession (UI enabled, low AQE advisory size) and the suite's
shared JVM context can't be reconfigured."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_power_law_fixture_has_no_straggler_partitions():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "skew_sweep.py")],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"})
    assert proc.returncode == 0, \
        f"straggler violations:\n{proc.stderr[-2000:]}"
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("{")][-1]
    report = json.loads(line)
    assert report["violations"] == 0
    # meaningfulness guard: the gate must actually have measured
    # something — at least two operators produced a qualifying stage
    # (>= 4 tasks above the floor); all-quiet would make the sweep
    # vacuous, not green
    measured = [k for k, v in report["ops"].items() if v["worst"]]
    assert len(measured) >= 2, report
    # and the balance on measured stages is genuine: max within the
    # 4x-median bound already checked; record the worst ratio
    for k in measured:
        w = report["ops"][k]["worst"]
        assert w["max_ms"] <= 4 * w["med_ms"] + 300, (k, w)
