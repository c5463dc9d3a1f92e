"""Round-end gate runner — executes every check in the right order and
stamps the round snapshot ONLY when all of them are green.

Three rounds running, the round-end sequence itself produced the
artifacts' only defects (round 7: a stale mid-round ``_rNN`` snapshot
and a property test committed without a post-edit run; round 8: a
session died mid gate-refresh leaving regenerated artifacts
uncommitted). The fix is the same as for any other multi-step invariant
in this repo: make it ONE deterministic program.

Order (each regenerates its committed artifact as a side effect):

1. ``ansi_audit``      — static lint, fails fast, costs nothing
2. ``oracle_check``    — full-registry Spark-vs-DuckDB attestation at
                         sf0.01; REWRITES ``CORRECTNESS_local.json``
3. ``plan_audit``      — executes every plan; regenerates ``PLANS.md``
4. ``shuffle_audit``   — REST-measured amplification; ``SHUFFLE.md``
5. ``skew_sweep``      — power-law straggler gate
6. ``contract_fuzz``   — full oracle battery on degraded data with ALL
                         dials on (NULL/empty + duplicate-id clones +
                         NaN/-inf + conflicting same-id clones) — the
                         cross-engine contract gate; the r8 recon dials
                         were closed in r9, the conflict dial in r10,
                         all run combined in one pass
6b. ``contract_fuzz_hi`` — the same battery at the HIGH rates
                         (0.05/0.03/0.05/0.05/0.05): demonstrably a
                         different detector (the r10 5% recon found 5
                         divergences the 2% run missed), stamped
                         since r11
7. ``scale_study``     — sf0.01→sf0.1 scaling exponents
7b. ``scale_study_sf1`` — third decade (r12): top-10 bench queries by
                         baseline seconds, sf0.1 → synthesized sf1
                         (``--synth-big`` builds /tmp/sf1_synth when
                         missing); super-linear onset is only visible
                         here (the r10 tfidf OOM proof)
8. ``pytest``          — the full unit/pipeline/property suite
9. ``stamp_round N``   — byte-copies the canonical attestation to
                         ``CORRECTNESS_local_r{NN}.json`` (only with
                         ``--round N``, only when 1-7 all passed)

``--sf01`` additionally runs the full oracle battery at sf0.1
(artifact ``CORRECTNESS_sf01.json``) — correctness was historically
attested only at sf0.01 while bench runs at sf0.1, so scale-dependent
divergence (sketch escapes, hot-cap engagement, AQE plan changes) was
invisible. Off by default for mid-round iteration (it roughly doubles
gate wall-clock) — but STAMPING implies it: ``--round N`` adds the
sf0.1 leg automatically and refuses to stamp without it green (r9
verdict #5: the sf0.1 first run caught three real divergences; a gate
that has caught bugs must not be skippable on the round stamp).

``--bench`` appends ``tools/bench_gate.py`` as the LAST gate: it runs
bench.py, sanity-checks ``host_factor``, judges per-query ratios
QUERY-RELATIVELY (v2: fail at > 1.5x the run's median — round
boundaries land on heterogeneous VMs and a uniform fleet-wide shift
is host class, not code; a genuine code regression is query-specific),
refuses a median shift > 1.25x unless ``--bench-ab REF`` has the gate
run the same-host worktree A/B against REF and it comes out neutral,
and writes ``BENCH_local.json``.
It is opt-in because it needs an idle host — but STAMPING requires
it: ``--round N`` refuses unless the bench gate ran green or an
explicit ``--bench-waiver REASON`` is recorded (r10 verdict #4: a
timing regression must be able to block a stamp).
``tools/bench_gate.py --record-baseline`` remains the tool for
deliberate baseline updates.

All gates run even after a failure (one pass diagnoses everything);
the stamp step alone is withheld unless everything is green. Per-gate
output streams to ``/tmp/gate_<name>.log``; failures print the tail.

Usage: python tools/run_gates.py [--round N] [--skip pytest,...]
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GATES = [
    ("ansi_audit", [sys.executable, "tools/ansi_audit.py"]),
    ("oracle_check", [sys.executable, "tools/oracle_check.py",
                      "/root/testdata/sf0.01"]),
    ("plan_audit", [sys.executable, "tools/plan_audit.py"]),
    ("shuffle_audit", [sys.executable, "tools/shuffle_audit.py"]),
    ("skew_sweep", [sys.executable, "tools/skew_sweep.py"]),
    ("contract_fuzz", [sys.executable, "tools/contract_fuzz.py",
                       "--dup-rate", "0.02", "--nan-rate", "0.02",
                       "--conflict-rate", "0.02", "--permute-rows",
                       "--unicode-rate", "0.02",
                       "--extreme-rate", "0.02",
                       "--drift-rate", "0.02"]),
    # 6b — the HIGH-RATE leg (r11): the r10 ad-hoc 5% recon found 5
    # latent divergences the committed 2% dials had missed — rates
    # change which rows collide, so 2%-green does not imply 5%-green.
    # Promoted into the stamped battery per the r10 verdict's #1 ask.
    # --unicode-rate (r11b) splices adversarial Unicode into string
    # values: full-vs-simple case mapping (U+0130), \s membership
    # (U+000B), RE2-vs-Java (?i) folding (U+017F), byte-vs-codepoint
    # levenshtein — the sizing recon found 41 divergent queries, the
    # largest fault class since r8's NULL recon.
    # --extreme-rate (r12) rotates numeric boundary values (±1e±30,
    # subnormals, ±DBL_MAX, decimal(38,6)-overflow edges,
    # LONG_MIN/MAX ids): the sizing recon found 33 divergent queries
    # — see tests/test_extreme_contracts.py for the pinned contracts.
    # --drift-rate (r13) re-encodes the PHYSICAL schema with logical
    # values unchanged (int64→int32 where it fits, timestamp unit/tz
    # rotation, trailing pad column, column-order permutation): any
    # divergence is reader-schema dependence — the events.ts
    # INT64↔timestamp drift class that already bit once (TESTDATA).
    ("contract_fuzz_hi", [sys.executable, "tools/contract_fuzz.py",
                          "--null-rate", "0.05", "--empty-rate", "0.03",
                          "--dup-rate", "0.05", "--nan-rate", "0.05",
                          "--conflict-rate", "0.05", "--permute-rows",
                          "--unicode-rate", "0.05",
                          "--extreme-rate", "0.05",
                          "--drift-rate", "0.05",
                          "--out", "/tmp/fuzz_sf_hi"]),
    ("scale_study", [sys.executable, "tools/scale_study.py"]),
    # third decade (r12): the 10 most expensive bench queries measured
    # sf0.1 → synthesized sf1 (fixture built on demand). The narrow
    # two-decade window cannot see super-linear onset — the r10 tfidf
    # df-cap OOM was only visible here.
    # --cores-leg 8 (r14, VERDICT r13 #7): the same top-10 queries
    # re-timed at local[8] on the synthetic decade, gated on a >= 2x
    # speedup from 8 -> 32 cores for queries with >= 10 s of low-core
    # work — at sf0.1 every 8-vs-32 ratio sits at ~1 (fixed costs), so
    # a parallelism regression was previously invisible to any gate.
    ("scale_study_sf1", [sys.executable, "tools/scale_study.py",
                         "--small", "/root/testdata/sf0.1",
                         "--big", "/tmp/sf1_synth", "--synth-big",
                         "--top-bench", "10", "--cores-leg", "8"]),
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
]


def run_gate(name: str, cmd: list[str]) -> tuple[bool, float]:
    log = f"/tmp/gate_{name}.log"
    t0 = time.time()
    with open(log, "w") as f:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=f,
                            stderr=subprocess.STDOUT).returncode
    dt = time.time() - t0
    ok = rc == 0
    print(f"{'PASS' if ok else 'FAIL'}  {name:<14} {dt:7.1f}s  ({log})")
    if not ok:
        tail = open(log).read().splitlines()[-15:]
        for line in tail:
            print(f"    | {line}")
    return ok, dt


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=None,
                    help="stamp CORRECTNESS_local_r{NN}.json if all green")
    ap.add_argument("--skip", default="",
                    help="comma-separated gate names to skip")
    ap.add_argument("--sf01", action="store_true",
                    help="also attest the full registry at sf0.1 "
                         "(writes CORRECTNESS_sf01.json)")
    ap.add_argument("--bench", action="store_true",
                    help="run tools/bench_gate.py as the last gate "
                         "(needs an idle host; writes BENCH_local.json)")
    ap.add_argument("--bench-ab", default=None, metavar="REF",
                    help="passed to the bench gate as --ab: also bench "
                         "REF on this host, so a neutral A/B can prove "
                         "a fleet-wide timing shift is the host class, "
                         "not the code (see tools/bench_gate.py)")
    ap.add_argument("--bench-waiver", default=None, metavar="REASON",
                    help="stamp without the bench gate, recording REASON "
                         "(e.g. 'no idle window; driver benches r11') — "
                         "the documented alternative the r10 verdict asks "
                         "for, not a silent skip")
    args = ap.parse_args()
    skip = {s.strip() for s in args.skip.split(",") if s.strip()}

    gates = list(GATES)
    if args.sf01 or args.round is not None:
        gates.insert(3, ("oracle_sf01",
                         [sys.executable, "tools/oracle_check.py",
                          "/root/testdata/sf0.1",
                          "--json", "CORRECTNESS_sf01.json"]))
    if args.bench:
        # last: it wants the quietest host the battery can give it
        cmd = [sys.executable, "tools/bench_gate.py"]
        if args.bench_ab:
            cmd += ["--ab", args.bench_ab]
        gates.append(("bench", cmd))
    results: dict[str, bool] = {}
    for name, cmd in gates:
        if name in skip:
            print(f"SKIP  {name}")
            continue
        results[name], _ = run_gate(name, cmd)

    all_green = bool(results) and all(results.values())
    print(f"\ngates: {sum(results.values())}/{len(results)} green")
    if args.round is not None:
        # Stamping requires the FULL battery: a skipped gate is not a
        # green gate, and all() over an empty dict is vacuously true —
        # without this check `--skip <everything> --round N` would
        # stamp a snapshot with zero checks run.
        ran = set(results)
        # stamping requires every default gate PLUS the sf0.1 leg
        missing = [n for n, _ in gates if n not in ran]
        if missing:
            print(f"NOT stamping round {args.round}: skipped gates "
                  f"{missing} — stamping requires the full battery")
            return 1
        # …and a perf leg: either the bench gate ran green above, or
        # an explicit recorded waiver (r10 verdict #4 — a timing
        # regression must be able to block a stamp)
        if "bench" not in ran:
            if not args.bench_waiver:
                print(f"NOT stamping round {args.round}: no bench gate "
                      "— rerun with --bench (idle host) or record a "
                      "--bench-waiver REASON")
                return 1
            print(f"bench waived for round {args.round}: "
                  f"{args.bench_waiver}")
        if not all_green:
            print(f"NOT stamping round {args.round}: red gates "
                  f"{[n for n, ok in results.items() if not ok]}")
            return 1
        rc = subprocess.run(
            [sys.executable, "tools/stamp_round.py", str(args.round)],
            cwd=ROOT).returncode
        if rc != 0:
            return rc
        print(f"stamped round {args.round}")
    return 0 if all_green else 1


if __name__ == "__main__":
    sys.exit(main())
