"""Shuffle-volume audit: MEASURE what the plan audit argues.

For every oracle query, run the plan against a dataset dir and read the
per-stage metrics from the Spark status REST API: bytes/records read
(inputBytes reflects COLUMN-PRUNED scans — a one-column groupBy over
10 MB of lineitem reads ~18 KB, which is itself evidence the pruning
works), shuffle write bytes/records, disk spill. The headline number
is ROW AMPLIFICATION ``shuffle_write_records / input_records`` — how
many rows cross the network per row scanned: ~0 for zero-shuffle
projections, <1 for map-side-combined aggregations, the explode
fan-out factor (tokens/doc) for the shingle/pair queries — by design,
not by accident. The ratio is NOT scale-invariant: how much a
map-side combine collapses, and how large a fixed-size sample is next
to its input, both change with the data, so the same plan reads up to
10x apart at sf0.01 and sf0.1.

The gate flags (a) any DISK SPILL — partitions no longer fit in
memory — and (b) AMPLIFICATION REGRESSIONS against the committed
SHUFFLE.md baseline (> 1.5x the recorded rows_ratio + 0.5 absolute):
a plan edit that starts shuffling what it used to combine map-side
fails the audit even though nothing is "slow" at test sf. The
baseline only judges a run at the ``sf_dir`` its header names; any
other ``sf_dir`` — like a missing baseline — exits 2 before Spark
starts unless ``--bootstrap`` rewrites the baseline at the new scale.

Usage: python tools/shuffle_audit.py [sf_dir] [query ...] [--bootstrap]
Writes the markdown table to SHUFFLE.md. A run filtered to some queries
rewrites only their rows; every other row of the baseline stays as
committed, in its place (a ``--bootstrap`` run at a new scale writes
only what it measured).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

OUT_MD = os.path.join(bench.ROOT, "SHUFFLE.md")


def baseline_error(md_text: str | None, sf_dir: str) -> str | None:
    """Why a SHUFFLE.md baseline (its text, None when the file is
    missing) cannot judge a run at ``sf_dir``, or None when it can. A
    missing baseline turns the gate into a no-op (it happened: SHUFFLE.md
    was deleted in an unrelated commit and the check ran dead for a
    round); one measured at another scale, read from its ``Measured
    per-query at `…``` header, flags plans that did not change."""
    if md_text is None:
        return (f"baseline {OUT_MD} is missing — the regression gate "
                "would be a no-op")
    m = re.search(r"Measured per-query at `([^`]*)`", md_text)
    measured_at = m.group(1) if m else None
    if measured_at != sf_dir:
        return (f"baseline {OUT_MD} was measured at {measured_at!r}, not "
                f"{sf_dir!r} — its rows_ratio column does not judge this "
                "scale")
    return None


def _table_rows(md_text: str) -> list[tuple[str, list[str], str]]:
    """(query, cells, line) of each query row of a SHUFFLE.md table."""
    rows = []
    for line in md_text.splitlines():
        parts = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(parts) == 8 and parts[0] not in ("query", "---"):
            rows.append((parts[0], parts, line))
    return rows


def merge_rows(md_text: str | None, measured: dict[str, str]) -> list[str]:
    """The table rows to write: the baseline's rows in their order, each
    replaced by its ``measured`` row when this run measured that query,
    then the measured queries the baseline lacks. A run filtered to a few
    queries keeps every other query's baseline row verbatim."""
    lines, seen = [], set()
    for name, _, line in _table_rows(md_text or ""):
        lines.append(measured.get(name, line))
        seen.add(name)
    return lines + [line for name, line in measured.items() if name not in seen]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--bootstrap", action="store_true",
                    help="allow running without a SHUFFLE.md baseline "
                         "measured at sf_dir and rewrite it (first run, "
                         "new scale or deliberate reset)")
    args = ap.parse_args()

    # Fail LOUDLY before Spark even starts unless the caller owns the
    # reset.
    text = open(OUT_MD).read() if os.path.exists(OUT_MD) else None
    error = baseline_error(text, args.sf_dir)
    if error and not args.bootstrap:
        print(f"ERROR: {error}. Restore the committed SHUFFLE.md, run at "
              "its sf_dir, or pass --bootstrap to regenerate it.",
              file=sys.stderr)
        return 2

    # previous committed rows_ratio column = the regression baseline
    baseline: dict[str, float] = {}
    for name, parts, _ in [] if error else _table_rows(text):
        try:
            baseline[name] = float(parts[5])
        except ValueError:
            pass

    mod = bench.registry()
    spark = bench.session(**bench.STAGE_UI)

    qs = mod.queries()
    names = args.queries or list(qs)
    rows, flagged = {}, []
    for name in names:
        try:
            with bench.new_stages(spark) as stages:
                wall = bench.force(spark, qs[name], args.sf_dir)
        except Exception as exc:  # noqa: BLE001
            rows[name] = {"err": str(exc)[:120]}
            flagged.append((name, "ERR"))
            continue
        inb = shw = spill = inr = shr = 0
        for s in stages:
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
        old = baseline.get(name)
        if old is not None and ratio > old * 1.5 + 0.5:
            flagged.append((name, f"ratio {ratio:.1f} vs baseline {old}"))
        if spill:
            flagged.append((name, f"spill {spill/1e6:.0f}MB"))
        print(f"{name}: in={inr/1e3:.0f}k rows shuffle={shr/1e3:.0f}k "
              f"rows_ratio={ratio:.2f} spill={spill/1e6:.1f}MB",
              file=sys.stderr)

    spark.stop()
    with open(OUT_MD, "w") as f:
        f.write(
            "# Shuffle-volume audit (auto-generated by "
            "tools/shuffle_audit.py)\n\n"
            f"Measured per-query at `{args.sf_dir}` from the Spark "
            "status REST API: bytes read from storage, bytes written to "
            "shuffle, disk spill. `ratio` = shuffle/input — the "
            "100 TB network number: rows shuffled per row scanned "
            "(it characterizes the PLAN at this scale — it moves with "
            "the data, so it is only compared at this sf_dir; input "
            "bytes reflect column-pruned scans). "
            "~0 = zero-shuffle projection, <1 = map-side-combined, "
            "token-fan-out for the shingle/pair explodes — by design. "
            "The gate flags disk spill and regressions vs this "
            "committed baseline (>1.5x + 0.5 the recorded "
            "rows_ratio).\n\n"
            "| query | input MB | input krows | shuffle MB "
            "| shuffle krows | rows_ratio | spill MB | wall s |\n"
            "|---|---|---|---|---|---|---|---|\n")
        measured = {}
        for name in names:
            r = rows[name]
            if "err" in r:
                measured[name] = f"| {name} | ERR: {r['err'][:40]} | | | | | | |"
            else:
                measured[name] = (f"| {name} | {r['input_mb']} "
                                  f"| {r['input_krows']} | {r['shuffle_mb']} "
                                  f"| {r['shuffle_krows']} | {r['ratio']} "
                                  f"| {r['spill_mb']} | {r['wall_s']} |")
        for line in merge_rows(None if error else text, measured):
            f.write(line + "\n")
        f.write("\nFlagged (spill or ratio regression): "
                f"**{len(flagged)}**"
                + (": " + ", ".join(f"{n} ({w})" for n, w in flagged)
                   if flagged else "") + "\n")
    print(f"wrote {OUT_MD}; {len(flagged)} flagged")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
