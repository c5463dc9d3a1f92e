"""Mid-batch crash recovery for the batch sinks: the calendar
loaders' W4/W5 merge (a ``TableStore`` versioned overwrite) and the
``write_training_shards`` export.

The streaming sinks' kill-mid-batch tests live in
``test_streaming.py`` (dedup gate, estimates fan-out, balance-sheet
3-table transaction). These cover the BATCH sinks: each test kills
the write at its sharpest point — after the data is durably written,
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
import glob
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


def test_training_shards_mid_rename_crash_recovery(spark, tmp_path):
    """Kill write_training_shards mid-way through the part-file rename
    loop (after the distributed staging write committed, after the
    first shard renamed): the output dir is visibly partial, and a
    plain re-run produces the byte-identical shard set of an
    uninterrupted run — the determinism contract doubling as the
    recovery contract."""
    from zacks_estimates_financial_statements_spark import export as E

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text", "source").limit(120))
    shards = 4

    out_a = str(tmp_path / "shards_a")
    want_paths = E.write_training_shards(docs, out_a, "doc_id",
                                         shards=shards, compress=False)
    want = [open(p, "rb").read() for p in want_paths]

    out_b = str(tmp_path / "shards_b")
    real_move = E.shutil.move
    calls = {"n": 0}

    def faulty_move(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise _Boom("injected crash mid shard-rename loop")
        return real_move(src, dst)

    E.shutil.move = faulty_move
    try:
        with pytest.raises(_Boom):
            E.write_training_shards(docs, out_b, "doc_id",
                                    shards=shards, compress=False)
    finally:
        E.shutil.move = real_move
    assert calls["n"] == 2
    # genuinely partial: one shard landed, the staging dir remains
    landed = glob.glob(os.path.join(out_b, "shard-*.jsonl"))
    assert len(landed) == 1
    assert os.path.isdir(os.path.join(out_b, "_staging"))

    got_paths = E.write_training_shards(docs, out_b, "doc_id",
                                        shards=shards, compress=False)
    assert [os.path.basename(p) for p in got_paths] == \
        [os.path.basename(p) for p in want_paths]
    assert [open(p, "rb").read() for p in got_paths] == want
    assert not os.path.isdir(os.path.join(out_b, "_staging"))
