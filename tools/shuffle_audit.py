"""Shuffle-volume audit: MEASURE what the plan audit argues.

For every oracle query, run the plan against a dataset dir and read the
per-stage metrics from the Spark status REST API: bytes/records read
(inputBytes reflects COLUMN-PRUNED scans — a one-column groupBy over
10 MB of lineitem reads ~18 KB, which is itself evidence the pruning
works), shuffle write bytes/records, disk spill. The headline number
is ROW AMPLIFICATION ``shuffle_write_records / input_records`` — how
many rows cross the network per row scanned. It is scale-invariant
(both sides grow with the data), so it characterizes the PLAN:
~0 for zero-shuffle projections, <1 for map-side-combined
aggregations, the explode fan-out factor (tokens/doc) for the
shingle/pair queries — by design, not by accident.

The gate flags (a) any DISK SPILL — partitions no longer fit in
memory — and (b) AMPLIFICATION REGRESSIONS against the committed
SHUFFLE.md baseline (> 1.5x the recorded rows_ratio + 0.5 absolute):
a plan edit that starts shuffling what it used to combine map-side
fails the audit even though nothing is "slow" at test sf.

Usage: python tools/shuffle_audit.py [sf_dir] [--json OUT] [query ...]
Writes a markdown table to SHUFFLE.md by default.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--json", dest="json_out")
    ap.add_argument("--out-md", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SHUFFLE.md"))
    ap.add_argument("--max-ratio", type=float, default=None,
                    help="optional absolute ratio bound (default: "
                         "regression-vs-baseline only)")
    ap.add_argument("--bootstrap", action="store_true",
                    help="allow running WITHOUT a committed SHUFFLE.md "
                         "baseline (first run / deliberate reset)")
    args = ap.parse_args()

    # A silently-missing baseline turns the regression gate into a
    # no-op (it happened: SHUFFLE.md was deleted in an unrelated
    # commit and the >1.5x check ran dead for a round). Fail LOUDLY
    # before Spark even starts unless the caller owns the reset.
    if not os.path.exists(args.out_md) and not args.bootstrap:
        print(f"ERROR: baseline {args.out_md} is missing — the "
              "regression gate would be a no-op. Restore the committed "
              "SHUFFLE.md or pass --bootstrap to regenerate it.",
              file=sys.stderr)
        return 2

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "entry_shuffle_audit", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from zacks_estimates_financial_statements_spark.session import get_spark
    from zacks_estimates_financial_statements_spark.util import cache_scope
    spark = get_spark(
        app_name="shuffle-audit",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "0",
                    "spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    ui, app = sc.uiWebUrl, sc.applicationId

    def stages():
        with urllib.request.urlopen(
                f"{ui}/api/v1/applications/{app}/stages?status=complete"
        ) as r:
            return json.load(r)

    # previous committed rows_ratio column = the regression baseline
    baseline: dict[str, float] = {}
    if os.path.exists(args.out_md):
        for line in open(args.out_md):
            parts = [c.strip() for c in line.strip().strip("|").split("|")]
            if len(parts) == 8 and parts[0] not in ("query", "---"):
                try:
                    baseline[parts[0]] = float(parts[5])
                except ValueError:
                    pass

    qs = mod.queries()
    names = args.queries or list(qs)
    rows, flagged = {}, []
    for name in names:
        before = {(s["stageId"], s["attemptId"]) for s in stages()}
        try:
            with cache_scope():
                t0 = time.time()
                df = qs[name](spark, args.sf_dir)
                df.write.format("noop") \
                    .mode("overwrite").save()  # full eval, no count-pruning
                wall = time.time() - t0
        except Exception as exc:  # noqa: BLE001
            rows[name] = {"err": str(exc)[:120]}
            flagged.append((name, "ERR"))
            continue
        finally:
            # per-query honesty (bench.py's rule): no later query's
            # shuffle numbers are measured against this query's
            # leftover cache
            spark.catalog.clearCache()
        time.sleep(0.3)
        inb = shw = spill = inr = shr = 0
        for s in stages():
            if (s["stageId"], s["attemptId"]) in before:
                continue
            inb += s.get("inputBytes", 0)
            shw += s.get("shuffleWriteBytes", 0)
            spill += s.get("diskBytesSpilled", 0)
            inr += s.get("inputRecords", 0)
            shr += s.get("shuffleWriteRecords", 0)
        ratio = shr / inr if inr else 0.0
        rows[name] = {"input_mb": round(inb / 1e6, 2),
                      "input_krows": round(inr / 1e3, 1),
                      "shuffle_mb": round(shw / 1e6, 2),
                      "shuffle_krows": round(shr / 1e3, 1),
                      "spill_mb": round(spill / 1e6, 2),
                      "ratio": round(ratio, 2),
                      "wall_s": round(wall, 2)}
        if args.max_ratio is not None and ratio > args.max_ratio:
            flagged.append((name, f"ratio {ratio:.1f}"))
        old = baseline.get(name)
        if old is not None and ratio > old * 1.5 + 0.5:
            flagged.append((name, f"ratio {ratio:.1f} vs baseline {old}"))
        if spill:
            flagged.append((name, f"spill {spill/1e6:.0f}MB"))
        print(f"{name}: in={inr/1e3:.0f}k rows shuffle={shr/1e3:.0f}k "
              f"rows_ratio={ratio:.2f} spill={spill/1e6:.1f}MB",
              file=sys.stderr)

    spark.stop()
    with open(args.out_md, "w") as f:
        f.write(
            "# Shuffle-volume audit (auto-generated by "
            "tools/shuffle_audit.py)\n\n"
            f"Measured per-query at `{args.sf_dir}` from the Spark "
            "status REST API: bytes read from storage, bytes written to "
            "shuffle, disk spill. `ratio` = shuffle/input — the "
            "100 TB network number: rows shuffled per row scanned "
            "(scale-invariant — it characterizes the PLAN, not the "
            "test size; input bytes reflect column-pruned scans). "
            "~0 = zero-shuffle projection, <1 = map-side-combined, "
            "token-fan-out for the shingle/pair explodes — by design. "
            "The gate flags disk spill and regressions vs this "
            "committed baseline (>1.5x + 0.5 the recorded "
            "rows_ratio).\n\n"
            "| query | input MB | input krows | shuffle MB "
            "| shuffle krows | rows_ratio | spill MB | wall s |\n"
            "|---|---|---|---|---|---|---|---|\n")
        for name in names:
            r = rows.get(name, {})
            if "err" in r:
                f.write(f"| {name} | ERR: {r['err'][:40]} | | | | | | |\n")
            else:
                f.write(f"| {name} | {r['input_mb']} "
                        f"| {r['input_krows']} | {r['shuffle_mb']} "
                        f"| {r['shuffle_krows']} | {r['ratio']} "
                        f"| {r['spill_mb']} | {r['wall_s']} |\n")
        f.write("\nFlagged (spill or ratio regression): "
                f"**{len(flagged)}**"
                + (": " + ", ".join(f"{n} ({w})" for n, w in flagged)
                   if flagged else "") + "\n")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(rows, f, indent=2)
    print(f"wrote {args.out_md}; {len(flagged)} flagged")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
