"""Mid-batch crash recovery for the batch sink: the calendar loaders'
W4/W5 merge (a ``TableStore`` versioned overwrite).

The streaming sinks' kill-mid-batch tests live in
``test_streaming.py`` (estimates fan-out, balance-sheet 3-table
transaction). This covers the BATCH sink: the test kills the write at
its sharpest point — after the data is durably written,
before the commit (pointer flip / final rename) — and proves

1. the crash is observable as NO state change (readers still see the
   pre-crash table: the version pointer is the atomicity unit), and
2. a plain re-run converges to the uninterrupted twin's end-state
   (idempotence: the retry needs no cleanup step) — for the store this
   includes vacuum: the retry's GC removes the version dir the crash
   orphaned.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest

from zacks_estimates_financial_statements_spark.operators.writer import TableStore

D = datetime.date


def _rows(store):
    return sorted(map(tuple, store.read().collect()))


def _version_dirs(store):
    return sorted(e for e in os.listdir(store.path) if e.startswith("v-"))


class _Boom(RuntimeError):
    pass


def test_calendar_merge_mid_commit_crash_recovery(spark, tmp_path):
    """Kill the earnings-calendar loader's fused W4/W5/W1 merge at the
    pointer flip: the stored calendar is unchanged (no half-applied
    window delete), the merged version is an orphan dir next to the
    live one, and re-running the SAME loader run converges to the
    uninterrupted end-state and vacuums the orphan."""
    from zacks_estimates_financial_statements_spark.pipelines import (
        calendar_pipeline as pipe,
    )
    from zacks_estimates_financial_statements_spark.sources.raw_zone import (
        read_calendar_files,
    )

    folder_date = D(2024, 5, 10)
    initial = spark.createDataFrame(
        [("AAPL", D(2024, 5, 8), None),    # in batch + trailing week -> W5
         ("AAPL", D(2024, 2, 1), None),    # old row survives
         ("MSFT", D(2024, 6, 30), None)],  # future row -> W4 delete
        "act_symbol string, date date, `when` string")

    def drop(base):
        d = base / "earnings-calendar" / "2024-05-10"
        d.mkdir(parents=True, exist_ok=True)
        (d / "2024-05-11.json").write_text(
            json.dumps({"data": [["AAPL", "", "", "amc"]]}))

    def run(raw_base, table_base):
        store = TableStore(spark, str(table_base), "earnings_calendar")
        if not store.exists():
            store.overwrite(initial)
        files = read_calendar_files(spark, str(raw_base),
                                    "earnings-calendar", "2024-05-10")
        pipe.load_earnings_calendar(store, files, folder_date)
        return store

    drop(tmp_path / "raw")
    want = _rows(run(tmp_path / "raw", tmp_path / "ta"))

    store = TableStore(spark, str(tmp_path / "tb"), "earnings_calendar")
    store.overwrite(initial)
    before = _rows(store)
    real_flip = TableStore._flip

    def faulty_flip(self, version):
        raise _Boom("injected crash at calendar merge commit")

    TableStore._flip = faulty_flip
    try:
        with pytest.raises(_Boom):
            run(tmp_path / "raw", tmp_path / "tb")
    finally:
        TableStore._flip = real_flip
    # W4/W5 is a single versioned overwrite: a crash cannot leave the
    # window half-deleted — the table is byte-for-byte the pre-state
    assert _rows(store) == before
    # the crash really was mid-commit: the merged version dir was fully
    # written (an orphan, pending GC) but the pointer still names the
    # pre-crash version
    live = store.current_version()
    orphans = [v for v in _version_dirs(store) if v != live]
    assert live in _version_dirs(store) and len(orphans) == 1

    assert _rows(run(tmp_path / "raw", tmp_path / "tb")) == want
    # the retry's flip vacuums both the superseded live version and the
    # orphan: only the new live version remains
    assert _version_dirs(store) == [store.current_version()]
    assert store.current_version() not in (live, orphans[0])


