"""tools/shuffle_audit.py's baseline rule, in pure Python: the committed
SHUFFLE.md judges only a run at the ``sf_dir`` its header names, and
any other run exits 2 before Spark starts unless ``--bootstrap``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import shuffle_audit  # noqa: E402

HEADER = ("# Shuffle-volume audit\n\n"
          "Measured per-query at `/data/sf0.1` from the Spark status REST "
          "API.\n\n| query | input MB |\n")


def test_baseline_at_the_run_scale_judges():
    assert shuffle_audit.baseline_error(HEADER, "/data/sf0.1") is None


def test_baseline_at_another_scale_refuses():
    error = shuffle_audit.baseline_error(HEADER, "/data/sf0.01")
    assert "'/data/sf0.1'" in error and "'/data/sf0.01'" in error


def test_missing_baseline_or_header_refuses():
    assert "missing" in shuffle_audit.baseline_error(None, "/data/sf0.1")
    assert "None" in shuffle_audit.baseline_error("| query |\n",
                                                  "/data/sf0.1")


def test_scale_mismatch_exits_2_before_spark(monkeypatch, tmp_path):
    md = tmp_path / "SHUFFLE.md"
    md.write_text(HEADER)
    monkeypatch.setattr(shuffle_audit, "OUT_MD", str(md))

    def no_spark(*_a, **_kw):
        pytest.fail("Spark started")

    monkeypatch.setattr(shuffle_audit.bench, "registry", no_spark)
    monkeypatch.setattr(shuffle_audit.bench, "session", no_spark)
    monkeypatch.setattr(sys, "argv", ["shuffle_audit.py", "/data/sf0.01"])
    assert shuffle_audit.main() == 2
    assert md.read_text() == HEADER


def test_filtered_run_keeps_the_other_baseline_rows():
    rows = ["| a | 0.01 | 20.0 | 0.0 | 0.0 | 0.0 | 0.0 | 3.81 |",
            "| b | 0.08 | 600.0 | 0.0 | 0.0 | 0.0 | 0.0 | 0.5 |",
            "| c | 0.0 | 5.0 | 0.86 | 5.0 | 1.0 | 0.0 | 0.89 |"]
    md = (HEADER + "|---|---|---|---|---|---|---|---|\n" + "\n".join(rows)
          + "\n\nFlagged (spill or ratio regression): **0**\n")
    b = "| b | 0.09 | 600.0 | 0.1 | 1.0 | 0.0 | 0.0 | 0.7 |"
    assert shuffle_audit.merge_rows(md, {"b": b}) == [rows[0], b, rows[2]]
    new = "| d | 0.0 | 1.0 | 0.0 | 0.0 | 0.0 | 0.0 | 0.1 |"
    assert shuffle_audit.merge_rows(md, {"d": new}) == rows + [new]
    assert shuffle_audit.merge_rows(None, {"b": b}) == [b]
