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
