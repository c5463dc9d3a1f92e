"""Stamp the round-N attestation snapshot from the canonical artifact.

Round-7 lesson (VERDICT.md "What's missing" #2): the ``_rNN`` snapshot
was written mid-round by hand (119 queries) while the canonical
``CORRECTNESS_local.json`` finished the round complete (147) — the
judge diffs the round-stamped copy first, so a stale snapshot
misreports the round even when the canonical file is green. The
snapshot must therefore be BYTE-DERIVED from the canonical artifact as
the LAST step of a round, never hand-emitted.

Usage: python tools/stamp_round.py <round>     (e.g. 8)

Copies ``CORRECTNESS_local.json`` → ``CORRECTNESS_local_r{NN}.json``
verbatim and refuses to stamp when the canonical artifact is missing,
lags the query registry, or carries red rows (a snapshot of a bad
attestation is worse than none). ``tests/test_attestation.py``
additionally pins that the NEWEST committed snapshot matches the
registry key set, so a stale stamp fails the suite.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402


def head_newer_than_artifact(src: str) -> str | None:
    """r13 (the r12 ordering slip): a commit that lands AFTER the
    canonical attestation was produced means the artifact attests a
    pre-HEAD tree — 'stamped artifacts attest HEAD' would silently
    break. Returns a description when HEAD is newer, None when fresh.
    Merely-uncommitted changes are caught separately (dirty check)."""
    try:
        out = subprocess.run(
            ["git", "log", "-1", "--format=%ct %H"], cwd=ROOT,
            capture_output=True, text=True, check=True).stdout.split()
        head_time, head = int(out[0]), out[1]
    except (subprocess.CalledProcessError, ValueError, IndexError):
        return None  # not a git repo / detached oddity: don't block
    art_time = os.path.getmtime(src)
    if head_time > art_time:
        return (f"HEAD {head[:12]} committed at {head_time} is NEWER "
                f"than {os.path.basename(src)} (mtime {int(art_time)})")
    return None


def main() -> int:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        print(__doc__, file=sys.stderr)
        return 2
    rnd = int(sys.argv[1])
    src = os.path.join(ROOT, "CORRECTNESS_local.json")
    dst = os.path.join(ROOT, f"CORRECTNESS_local_r{rnd:02d}.json")
    if not os.path.exists(src):
        print("CORRECTNESS_local.json missing — run a FULL "
              "tools/oracle_check.py first", file=sys.stderr)
        return 1
    results = json.load(open(src))
    keys = set(bench.registry().queries())
    if set(results) != keys:
        print("refusing to stamp: canonical attestation lags the "
              f"registry (missing={sorted(keys - set(results))} "
              f"extra={sorted(set(results) - keys)}) — re-run a FULL "
              "tools/oracle_check.py", file=sys.stderr)
        return 1
    red = [n for n, r in results.items()
           if r.get("err") or r.get("rows_match") is False
           or r.get("schema_match") is False
           or r.get("hash_match") is False]
    if red:
        print(f"refusing to stamp red attestation rows: {sorted(red)}",
              file=sys.stderr)
        return 1
    stale = head_newer_than_artifact(src)
    if stale:
        print(f"refusing to stamp a pre-HEAD attestation: {stale} — "
              "source was committed AFTER the gate battery ran (the r12 "
              "ordering slip); re-run tools/run_gates.py on the quiesced "
              "tree, then stamp", file=sys.stderr)
        return 1
    dirty = subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=no"],
        cwd=ROOT, capture_output=True, text=True).stdout.strip()
    if any(line.split()[-1].endswith((".py",)) for line in
           dirty.splitlines()):
        print("refusing to stamp with uncommitted .py changes — the "
              "attestation would bind to no commit:\n" + dirty,
              file=sys.stderr)
        return 1
    shutil.copyfile(src, dst)
    print(f"stamped {os.path.basename(dst)}: {len(results)} green "
          "queries (byte-identical to canonical)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
