"""The bench gate's judge and its two run modes (tools/bench_gate.py).

Pure Python, no Spark: the judge works on bench.py's JSON doc, and the
``--ab`` / ``--record-baseline`` paths run against a substituted bench
runner that returns canned docs. The thresholds pinned here are the
gate's contract: host-factor window [0.5, 1.25], a query fails above
1.5x the run's median, a median shift above 1.25 needs a neutral A/B
([0.9, 1.1]), and no A/B waives a shift above 1.6.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import bench_gate  # noqa: E402

NEUTRAL_AB = {"ref_commit": "0" * 40, "ref_total_sec": 100.0,
              "head_total_sec": 101.0, "ratio": 1.01}


def _doc(ratios, host_factor=1.0, n=3, value=100.0):
    return {"n": n, "host_factor": host_factor, "value": value, "sf": 0.1,
            "vs_baseline": dict(ratios), "calibration_sec": 0.84,
            "queries": {q: 1.0 for q in ratios}, "non_headline": {}}


def _flat(median, k=21):
    return {f"q{i:02d}": median for i in range(k)}


def test_pass_on_a_flat_fleet():
    fails, stats = bench_gate._judge(_doc(_flat(1.0)), 3)
    assert fails == []
    assert stats["median_normalized_ratio"] == 1.0


@pytest.mark.parametrize("hf,ok", [(0.49, False), (0.5, True),
                                   (1.25, True), (1.26, False),
                                   (None, False)])
def test_host_factor_window(hf, ok):
    # the ratios scale with the host so the normalized fleet stays flat
    fails, _ = bench_gate._judge(_doc(_flat(hf or 1.0), host_factor=hf), 3)
    assert (fails == []) is ok, fails
    if not ok:
        assert "host_factor" in fails[0]


def test_query_above_one_and_a_half_times_the_median_fails():
    ratios = _flat(1.1)
    ratios["slow"] = 1.1 * 1.5 * 1.01
    fails, _ = bench_gate._judge(_doc(ratios), 3)
    assert len(fails) == 1 and fails[0].startswith("slow:"), fails
    ratios["slow"] = 1.1 * 1.5 * 0.99
    assert bench_gate._judge(_doc(ratios), 3)[0] == []


def test_fast_fleet_does_not_hide_a_slow_query():
    # the judging base never drops below 1.0
    ratios = _flat(0.5)
    ratios["slow"] = 1.6
    fails, _ = bench_gate._judge(_doc(ratios), 3)
    assert [f for f in fails if f.startswith("slow:")], fails


def test_uniform_shift_needs_a_neutral_ab():
    doc = _doc(_flat(1.4))
    fails, _ = bench_gate._judge(doc, 3)
    assert len(fails) == 1 and "uniform shift" in fails[0], fails
    assert bench_gate._judge(doc, 3, NEUTRAL_AB)[0] == []


def test_uniform_threshold_is_1_25():
    assert bench_gate._judge(_doc(_flat(1.25)), 3)[0] == []
    fails, _ = bench_gate._judge(_doc(_flat(1.26)), 3)
    assert len(fails) == 1 and "uniform shift" in fails[0], fails


def test_ab_outside_neutral_window_fails_and_does_not_waive():
    gap = {**NEUTRAL_AB, "ratio": 1.11}
    fails, _ = bench_gate._judge(_doc(_flat(1.4)), 3, gap)
    assert any("A/B" in f for f in fails), fails
    assert any("uniform shift" in f for f in fails), fails
    # a gap fails the gate even when the fleet itself is flat
    fails, _ = bench_gate._judge(_doc(_flat(1.0)), 3,
                                 {**NEUTRAL_AB, "ratio": 0.89})
    assert len(fails) == 1 and "A/B" in fails[0], fails


def test_no_ab_waives_a_shift_above_the_cap():
    fails, _ = bench_gate._judge(_doc(_flat(1.61)), 3, NEUTRAL_AB)
    assert len(fails) == 1 and "evidence cap 1.6" in fails[0], fails
    assert bench_gate._judge(_doc(_flat(1.6)), 3, NEUTRAL_AB)[0] == []


def test_accepted_ab_does_not_widen_the_per_query_bar():
    # the r11 case: median 1.488 accepted on a neutral A/B, one query at
    # 2.2x host-normalized. The bar is min(1.488, 1.25) * 1.5 = 1.875,
    # not 1.488 * 1.5 = 2.23, so the query fails.
    ratios = _flat(1.488)
    ratios["bpe_train"] = 2.2
    fails, stats = bench_gate._judge(_doc(ratios), 3, NEUTRAL_AB)
    assert stats["median_normalized_ratio"] == 1.488
    assert len(fails) == 1 and fails[0].startswith("bpe_train:"), fails
    ratios["bpe_train"] = 1.9
    assert bench_gate._judge(_doc(ratios), 3, NEUTRAL_AB)[0]
    ratios["bpe_train"] = 1.87
    assert bench_gate._judge(_doc(ratios), 3, NEUTRAL_AB)[0] == []


def test_baseline_n_mismatch_refuses_and_names_both():
    fails, stats = bench_gate._judge(_doc(_flat(1.0), n=3), 5)
    assert len(fails) == 1 and stats == {}
    assert "n=5" in fails[0] and "n=3" in fails[0]
    assert bench_gate._judge(_doc(_flat(1.0), n=3), None)[0]


def test_empty_vs_baseline_fails():
    fails, _ = bench_gate._judge(_doc({}), 3)
    assert any("vs_baseline empty" in f for f in fails)


@pytest.fixture
def gate(tmp_path, monkeypatch):
    """bench_gate with its artifact and baseline under tmp_path and a
    bench runner that serves canned docs (and records its calls)."""
    monkeypatch.setattr(bench_gate, "ARTIFACT", str(tmp_path / "local.json"))
    monkeypatch.setattr(bench_gate, "BASELINE", str(tmp_path / "base.json"))
    docs, calls = {}, []

    def fake_run(ref=None):
        calls.append(ref)
        return dict(docs[ref])

    monkeypatch.setattr(bench_gate, "run_bench", fake_run)
    with open(bench_gate.BASELINE, "w") as f:
        json.dump({"n": 3, "queries": {}}, f)
    return docs, calls


def test_ab_mode_benches_ref_after_head_and_records_the_pair(gate):
    docs, calls = gate
    docs[None] = _doc(_flat(1.4), value=140.0)
    docs["prev"] = {**_doc(_flat(1.4), value=137.0), "commit": "a" * 40}
    assert bench_gate.main(["--ab", "prev"]) == 0
    assert calls == [None, "prev"]
    out = json.load(open(bench_gate.ARTIFACT))
    assert out["gate"]["verdict"] == "pass"
    assert out["gate"]["ab"] == {
        "ref_commit": "a" * 40, "ref_total_sec": 137.0,
        "head_total_sec": 140.0, "ratio": round(140.0 / 137.0, 4),
        "neutral_window": [0.9, 1.1]}


def test_ab_mode_fails_on_a_gap(gate):
    docs, _ = gate
    docs[None] = _doc(_flat(1.4), value=140.0)
    docs["prev"] = {**_doc(_flat(1.0), value=100.0), "commit": "b" * 40}
    assert bench_gate.main(["--ab", "prev"]) == 1
    out = json.load(open(bench_gate.ARTIFACT))
    assert out["gate"]["verdict"] == "fail"
    assert out["gate"]["ab"]["ratio"] == 1.4


def test_without_ab_the_uniform_shift_fails(gate):
    docs, calls = gate
    docs[None] = _doc(_flat(1.4))
    assert bench_gate.main([]) == 1
    assert calls == [None]
    assert "ab" not in json.load(open(bench_gate.ARTIFACT))["gate"]


def test_record_baseline_writes_the_runs_own_n(gate):
    docs, calls = gate
    docs[None] = {**_doc(_flat(1.0), n=1, value=12.5),
                  "queries": {"a": 1.5}, "non_headline": {"b": 2.5}}
    assert bench_gate.main(["--record-baseline"]) == 0
    assert calls == [None]
    base = json.load(open(bench_gate.BASELINE))
    assert base["n"] == 1
    assert base["queries"] == {"a": 1.5, "b": 2.5}
    assert base["headline_total_sec"] == 12.5
    assert base["calibration_sec"] == 0.84
    assert not os.path.exists(bench_gate.ARTIFACT)


def test_ab_and_record_baseline_are_exclusive(gate):
    with pytest.raises(SystemExit):
        bench_gate.main(["--ab", "prev", "--record-baseline"])
