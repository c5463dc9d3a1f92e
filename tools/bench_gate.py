"""Perf leg for the round stamp — the one process that runs ``bench.py``.
It REFUSES on a timing regression, the way ``shuffle_audit`` refuses on
a shuffle-shape regression.

Until round 11 bench was advisory: `run_gates.py` excluded it (it
needs an idle host) and a wall-time regression could never block a
stamp — the r10 verdict called that the missing half of the perf
gate. This tool closes it:

1. runs ``bench.py`` (protocol v3: untimed warm pass, noop-sink,
   median of N) and captures its one-line JSON;
2. refuses to judge when ``BENCH_BASELINE.json`` was recorded at a
   different N than this run: decay-class queries settle over several
   passes, so an n=3 median lands mid-decay while an n=5 baseline sits
   in the warm tail (the r13 phantom flags: media_curate 5.99×,
   bpe_train 3.22× on bit-identical code);
3. sanity-checks ``host_factor`` — the calibration probe's ratio vs
   the baseline host. Outside [0.5, 1.25] the host is not comparable
   (co-tenancy, thermal, wrong box) and the verdict is UNUSABLE, not
   pass/fail: rerun idle or stamp with an explicit
   ``--bench-waiver`` (which `run_gates.py` records);
4. judges per-query ratios QUERY-RELATIVELY (v2, see below): fail on
   any host-normalized ratio > 1.5× the MEDIAN ratio;
5. if the median itself shifted beyond 1.25×, refuses unless this run
   also ran a neutral A/B (``--ab REF``);
6. writes the full bench JSON plus the verdict to ``BENCH_local.json``
   at the repo root — the builder-side bench artifact the stamp
   includes, sibling to ``CORRECTNESS_local.json``.

Judge v2 — why query-RELATIVE (r11): round boundaries land on fresh
VMs from a heterogeneous fleet, and round 11 measured a UNIFORM 1.37x
shift across all ~130 tracked queries — including queries whose code
and plans were bit-identical to the round that recorded the baseline —
while the CPU-bound calibration probe ran 10% FASTER (the slow
resource was the memory/IO path, which a codegen integer probe never
touches). A worktree A/B on the same host settled it: previous-round
code 198.2 s vs current 197.2 s, baseline 149.1 s — pure host class,
zero code effect. Timing alone cannot distinguish a uniform host
shift from a uniform code regression; what it CAN detect robustly is
a QUERY-SPECIFIC regression (one query slowing relative to the fleet
of queries measured in the same run). So:

- per-query rule: host-normalized ratio / median ratio > 1.5 fails —
  catches the real signature of a code regression on any host class;
- uniform rule: median host-normalized ratio > 1.25 fails UNLESS the
  gate ran the A/B itself: ``--ab REF`` benches REF (normally the
  previous round's commit) in a ``git worktree`` right after the HEAD
  run, on the same host. A HEAD/REF total ratio inside [0.9, 1.1] is a
  host shift; outside it the A/B shows a code regression and the gate
  fails on that alone. The ref commit, both totals and the ratio are
  recorded in the artifact's ``gate`` block.

Evidence limits (v3, r12 ADVICE): an A/B waives a median shift only up
to 1.6× — beyond that the baseline itself is stale for this host class
and must be re-recorded (``--record-baseline``), not waived per round.
And once the A/B is in play, the per-query bar STOPS widening with the
shift: queries are judged against ``min(median, 1.25) × 1.5``
host-normalized, so the A/B cannot simultaneously relax the
query-specific rule (r11's accepted median 1.488 would otherwise have
passed a ~2.2× host-normalized single-query regression; under v3 the
three queries the r11 verdict flagged — bpe_train 2.1, url_filter
1.96, media_curate 1.89 — would all have failed the gate).

Usage: python tools/bench_gate.py [--ab REF | --record-baseline]
``--record-baseline`` writes ``BENCH_BASELINE.json`` from this run
(at its own ``SPARK_GRAFT_BENCH_N``) instead of judging it; run it on
an IDLE host — the shared host shows ±30-60% CPU-steal noise under
load (PERFORMANCE.md), and a noisy baseline poisons every later ratio.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARTIFACT = os.path.join(ROOT, "BENCH_local.json")
BASELINE = os.path.join(ROOT, "BENCH_BASELINE.json")

HOST_FACTOR_WINDOW = (0.5, 1.25)
MAX_RATIO = 1.5            # per-query bar, relative to the run's median
UNIFORM_THRESHOLD = 1.25   # median shift that needs a neutral A/B
EVIDENCE_MEDIAN_CAP = 1.6  # largest median shift an A/B can waive
AB_WINDOW = (0.9, 1.1)     # HEAD/REF total ratio that counts as neutral


def _utc_now() -> str:
    return _dt.datetime.now(_dt.timezone.utc).isoformat(timespec="seconds")


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                          text=True, check=True).stdout.strip()


def _bench_json(cwd: str) -> dict:
    p = subprocess.run([sys.executable, "bench.py"], cwd=cwd,
                       capture_output=True, text=True)
    sys.stderr.write(p.stderr)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"bench.py rc={p.returncode}, {len(lines)} JSON "
                           f"lines in {cwd}: {p.stdout[-2000:]}")
    return json.loads(lines[-1])


def run_bench(ref: str | None = None) -> dict:
    """bench.py's JSON doc for the working tree, or, given ``ref``, for
    that commit checked out in a throwaway ``git worktree`` (the doc
    then carries the resolved ``commit``). Both honour the caller's
    SPARK_GRAFT_* environment."""
    if ref is None:
        return _bench_json(ROOT)
    commit = _git("rev-parse", "--verify", f"{ref}^{{commit}}")
    wt = tempfile.mkdtemp(prefix=f"bench_ab_{commit[:12]}_")
    try:
        _git("worktree", "add", "--detach", wt, commit)
        print(f"# bench_gate: benching ref {commit[:12]} in {wt}",
              file=sys.stderr)
        return {**_bench_json(wt), "commit": commit}
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", wt],
                       cwd=ROOT, capture_output=True)
        shutil.rmtree(wt, ignore_errors=True)


def _judge(doc: dict, baseline_n: int | None,
           ab: dict | None = None) -> tuple[list[str], dict]:
    """Failures and stats for one bench doc. ``baseline_n`` is the N
    BENCH_BASELINE.json was recorded at; ``ab`` is the same-host A/B
    this run made (``ratio`` = HEAD total / REF total) or None."""
    if baseline_n != doc.get("n"):
        return [f"BENCH_BASELINE.json n={baseline_n} but this run "
                f"n={doc.get('n')} — median-of-N ratios need matched N; "
                "re-record the baseline (--record-baseline) or rerun "
                f"with SPARK_GRAFT_BENCH_N={baseline_n}"], {}
    fails: list[str] = []
    hf = doc.get("host_factor")
    if hf is None:
        fails.append("no host_factor (missing BENCH_BASELINE.json "
                     "calibration?) — cannot normalize, refusing")
        hf = 1.0
    elif not (HOST_FACTOR_WINDOW[0] <= hf <= HOST_FACTOR_WINDOW[1]):
        fails.append(
            f"host_factor {hf} outside {list(HOST_FACTOR_WINDOW)} — host "
            "not idle/comparable; rerun on an idle box or stamp with "
            "--bench-waiver")
    ab_neutral = False
    if ab is not None:
        ab_neutral = AB_WINDOW[0] <= ab["ratio"] <= AB_WINDOW[1]
        if not ab_neutral:
            fails.append(f"A/B HEAD/ref total ratio {ab['ratio']} outside "
                         f"{list(AB_WINDOW)} — the A/B itself shows a "
                         "code regression")
    divisor = hf if hf and hf > 0.1 else 1.0
    vb = doc.get("vs_baseline", {})
    if not vb:
        fails.append("vs_baseline empty — bench ran without a baseline; "
                     "nothing was actually gated")
        return fails, {}
    norm = {name: r / divisor for name, r in vb.items()}
    med = statistics.median(norm.values())
    stats = {"median_normalized_ratio": round(med, 3)}
    # uniform rule first — its outcome pins the per-query bar (v3)
    waived = False
    if med > UNIFORM_THRESHOLD:
        if med > EVIDENCE_MEDIAN_CAP:
            fails.append(
                f"median host-normalized ratio {med:.2f} > evidence cap "
                f"{EVIDENCE_MEDIAN_CAP} — no A/B can waive a shift this "
                "large: re-record BENCH_BASELINE (--record-baseline) on "
                "a representative idle host (or fix the global "
                "regression)")
        elif ab_neutral:
            waived = True
            print(f"# uniform shift median {med:.2f} accepted on the "
                  "neutral A/B", file=sys.stderr)
        else:
            fails.append(
                f"median host-normalized ratio {med:.2f} > "
                f"{UNIFORM_THRESHOLD} — uniform shift: either the host "
                "class changed or the code regressed globally. Rerun "
                "with --ab <prev-round-commit> on THIS host, or fix the "
                "regression")
    # query-relative rule: a code regression is query-specific. A FAST
    # fleet must not hide a slow query (floor 1.0); an A/B-waived shift
    # must not WIDEN the bar (cap at UNIFORM_THRESHOLD — v3).
    rel_base = max(min(med, UNIFORM_THRESHOLD) if waived else med, 1.0)
    for name, r in sorted(norm.items(), key=lambda kv: -kv[1]):
        if r / rel_base > MAX_RATIO:
            fails.append(
                f"{name}: {vb[name]:.2f}x baseline ({r:.2f}x "
                f"host-normalized, {r / rel_base:.2f}x the judging base "
                f"{rel_base:.2f}) > {MAX_RATIO}x")
    return fails, stats


def _record_baseline(doc: dict) -> int:
    baseline = {
        "recorded_utc": _utc_now(),
        "n": doc["n"],
        "sf": doc["sf"],
        "protocol": "v3: untimed warm pass, then noop-sink full "
                    "evaluation, round-robin, median of n passes "
                    "(see bench.py docstring)",
        "headline_total_sec": doc["value"],
        "calibration_sec": doc.get("calibration_sec"),
        "queries": {**doc["queries"], **doc.get("non_headline", {})},
    }
    with open(BASELINE, "w") as f:
        json.dump(baseline, f, indent=2, sort_keys=True)
    print(f"bench_gate: wrote {BASELINE}: {len(baseline['queries'])} "
          f"queries, headline total {doc['value']}s (n={doc['n']})")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--ab", metavar="REF",
                      help="after the HEAD run, bench REF (normally the "
                           "previous round's commit) in a git worktree on "
                           "this host; a neutral ratio waives a uniform "
                           "median shift up to the evidence cap")
    mode.add_argument("--record-baseline", action="store_true",
                      help="write BENCH_BASELINE.json from this run "
                           "instead of judging it")
    args = ap.parse_args(argv)

    ab = None
    try:
        doc = run_bench()
        if args.record_baseline:
            return _record_baseline(doc)
        if args.ab:
            ref = run_bench(args.ab)
            ab = {"ref_commit": ref["commit"],
                  "ref_total_sec": ref["value"],
                  "head_total_sec": doc["value"],
                  "ratio": round(doc["value"] / ref["value"], 4)}
    except (RuntimeError, subprocess.CalledProcessError) as exc:
        print(f"bench_gate: run failed: {exc}")
        return 1

    baseline_n = (json.load(open(BASELINE)).get("n")
                  if os.path.exists(BASELINE) else None)
    fails, stats = _judge(doc, baseline_n, ab)
    doc["gate"] = {
        "verdict": "pass" if not fails else "fail",
        "fails": fails,
        "max_ratio": MAX_RATIO,
        "uniform_threshold": UNIFORM_THRESHOLD,
        "evidence_median_cap": EVIDENCE_MEDIAN_CAP,
        "host_factor_window": list(HOST_FACTOR_WINDOW),
        "baseline_n": baseline_n,
        "judged_utc": _utc_now(),
        **stats,
    }
    if ab is not None:
        doc["gate"]["ab"] = {**ab, "neutral_window": list(AB_WINDOW)}
    with open(ARTIFACT, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    worst = max(doc.get("vs_baseline", {}).values(), default=None)
    print(f"bench_gate: host_factor={doc.get('host_factor')} "
          f"median_norm={stats.get('median_normalized_ratio')} "
          f"worst_ratio={worst} -> "
          f"{'PASS' if not fails else 'FAIL'} ({ARTIFACT})")
    for f_ in fails:
        print(f"  | {f_}")
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
