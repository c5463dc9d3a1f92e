"""Two-scale scaling study: run oracle queries at two sf dirs and
report per-query medians, the 10x wall ratio, and the scaling exponent
``log10(t_big / t_small)`` (1.0 = linear, > 1 super-linear).

This is the harness behind PERFORMANCE.md's two-scale table — run it
after operator changes so the table never drifts from measurement.

Usage:
  python tools/scale_study.py [--small DIR] [--big DIR]
      [--top-bench N] [--synth-big] [--cores-leg C] [query ...]

Defaults: sf0.01 -> sf0.1, median of 3, all bench HEADLINE queries.
Emits a markdown table on stdout (paste-ready) and one JSON line on
stderr for tooling.

Third decade (r12, VERDICT r11 #4): the sf0.01→sf0.1 window is too
narrow to see super-linear onset (the r10 tfidf df-cap OOM was only
visible at the synthesized third decade), so ``run_gates`` now also
runs ``--small /root/testdata/sf0.1 --big /tmp/sf1_synth --synth-big
--top-bench 10``: the 10 most expensive bench queries (by
BENCH_BASELINE seconds) measured sf0.1 → synth-sf1. ``--synth-big``
builds the fixture via ``tools/synth_scale.py`` when the dir is
missing; ``--top-bench N`` selects the N largest-baseline tracked
queries. The exponent gate (exit 1 when any window goes super-linear)
applies unchanged.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

N = 3                   # timed passes per median
CORES_FLOOR_S = 10.0    # core-scaling gate: smaller low-core times are
                        # fixed-cost dominated and not gated
CORES_MIN_SPEEDUP = 2.0  # 4x the cores must buy at least 2x
#: headroom for the synthesized-sf1 decade; the session factory
#: deliberately keeps the bench default at 1g (see session.py
#: measurement note)
HEAP = {"spark.driver.memory": "12g"}


def median_seconds(spark, query, sf: str) -> float:
    """One warm pass, then the median of ``N`` timed passes of ``query``
    through bench.py's ``force`` (noop sink, one ``cache_scope()`` per
    pass, catalog cache cleared after it)."""
    bench.force(spark, query, sf)  # warm (plan + page cache)
    return statistics.median(bench.force(spark, query, sf)
                             for _ in range(N))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.01")
    ap.add_argument("--big", default="/root/testdata/sf0.1")
    ap.add_argument("--top-bench", type=int, default=None, metavar="N",
                    help="run the N most expensive tracked queries by "
                         "BENCH_BASELINE.json seconds (third-decade set)")
    ap.add_argument("--synth-big", action="store_true",
                    help="build --big via tools/synth_scale.py if the "
                         "directory is missing")
    ap.add_argument("--cores-leg", type=int, default=None, metavar="C",
                    help="after the two-scale table, re-time the --big "
                         "queries in fresh local[C] and local[CPUS] "
                         "sessions (shuffle partitions max(2*cores, 8) "
                         "in each) and gate core-scaling: "
                         "sub-second sf0.1 queries cannot distinguish "
                         "parallel from serial work (r13 verdict: every "
                         "8-vs-32-core ratio sat at ~1), so this leg "
                         "belongs on the synthetic third decade where "
                         "per-query work is tens of seconds")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    if args.synth_big and not os.path.isdir(args.big):
        print(f"# building synthetic fixture {args.big} "
              f"(tools/synth_scale.py)", flush=True)
        subprocess.run([sys.executable,
                        os.path.join(bench.ROOT, "tools", "synth_scale.py"),
                        "--out", args.big], check=True, cwd=bench.ROOT)
    mod = bench.registry()
    spark = bench.session(**HEAP)

    qs = mod.queries()
    if args.top_bench:
        base = json.load(open(os.path.join(bench.ROOT,
                                           "BENCH_BASELINE.json")))
        secs = dict(base.get("queries", {}))
        secs.update(base.get("non_headline", {}))
        names = [q for q, _ in
                 sorted(secs.items(), key=lambda kv: -kv[1])
                 if q in qs][:args.top_bench]
    else:
        names = args.queries or [q for q in bench.HEADLINE if q in qs]
    out = {}
    print("| query | small s | big s | ratio | exp |")
    print("|---|---|---|---|---|")
    for name in names:
        med = {sf: median_seconds(spark, qs[name], sf)
               for sf in (args.small, args.big)}
        ratio = med[args.big] / med[args.small]
        exp = math.log10(ratio)
        out[name] = {"small_s": round(med[args.small], 3),
                     "big_s": round(med[args.big], 3),
                     "ratio": round(ratio, 2), "exp": round(exp, 2)}
        print(f"| {name} | {med[args.small]:.2f} | {med[args.big]:.2f} "
              f"| {ratio:.2f}x | {exp:.2f} |", flush=True)
    doc = {"small": args.small, "big": args.big,
           "n": N, "queries": out}
    rc = 0 if max(out.values(), key=lambda d: d["exp"])["exp"] <= 1.0 \
        else 1

    if args.cores_leg:
        # Each core count gets its own fresh session, with shuffle
        # partitions scaled to it (a constant tuned for either count
        # would penalize the other; AQE re-coalesces, so the number only
        # sets the pre-coalesce task grain).
        high_cores = int(bench.CPUS)
        spark.stop()
        t = {}
        for cores in (args.cores_leg, high_cores):
            session = bench.session(
                cores, **HEAP,
                **{"spark.sql.shuffle.partitions": str(max(cores * 2, 8))})
            t[cores] = {name: median_seconds(session, qs[name], args.big)
                        for name in names}
            session.stop()
        cores_out = {}
        print(f"\n| query | t{args.cores_leg}c | t{high_cores}c "
              f"| speedup |")
        print("|---|---|---|---|")
        for name in names:
            t_low, t_high = t[args.cores_leg][name], t[high_cores][name]
            speedup = t_low / t_high if t_high else float("nan")
            gated = t_low >= CORES_FLOOR_S
            cores_out[name] = {"t_low": round(t_low, 3),
                               "t_high": round(t_high, 3),
                               "speedup": round(speedup, 2),
                               "gated": gated}
            flag = ""
            if gated and speedup < CORES_MIN_SPEEDUP:
                rc = 1
                flag = "  <-- FAIL core-scaling gate"
            print(f"| {name} | {t_low:.2f} | {t_high:.2f} "
                  f"| {speedup:.2f}x |{flag}", flush=True)
        doc["cores_leg"] = {"low_cores": args.cores_leg,
                            "high_cores": high_cores,
                            "floor_s": CORES_FLOOR_S,
                            "min_speedup": CORES_MIN_SPEEDUP,
                            "queries": cores_out}

    print(json.dumps(doc), file=sys.stderr)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
