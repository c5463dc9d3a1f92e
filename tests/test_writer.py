"""Writer-library semantics: W1 idempotent upsert, W4 windowed replace,
W6 delete-via-join, validation split (FIXTURES.md scenarios 1-3)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.operators.writer import TableStore

D = datetime.date


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path), "earnings_calendar")


def _rows(store):
    return sorted((r["act_symbol"], r["date"], r["when"])
                  for r in store.read().collect())


def test_upsert_ignore_idempotent(spark, store):
    batch = spark.createDataFrame(
        [("AAPL", D(2024, 5, 1), "After market close"),
         ("MSFT", D(2024, 5, 2), None)],
        "act_symbol string, date date, `when` string")
    store.upsert_ignore(batch)
    first = _rows(store)
    # re-run: no-op (FIXTURES scenario 1)
    store.upsert_ignore(batch)
    assert _rows(store) == first
    # conflicting second write for same PK: first wins (ON CONFLICT DO NOTHING)
    batch2 = spark.createDataFrame(
        [("AAPL", D(2024, 5, 1), "Before market open"),
         ("NVDA", D(2024, 5, 3), "Before market open")],
        "act_symbol string, date date, `when` string")
    store.upsert_ignore(batch2)
    rows = _rows(store)
    assert ("AAPL", D(2024, 5, 1), "After market close") in rows
    assert ("NVDA", D(2024, 5, 3), "Before market open") in rows
    assert len(rows) == 3


def test_upsert_batch_dedup_keeps_one_row_per_pk(spark, store):
    # two rows with same PK in ONE batch: exactly one of them lands
    batch = spark.createDataFrame(
        [("AAPL", D(2024, 5, 1), "Before market open"),
         ("AAPL", D(2024, 5, 1), "After market close")],
        "act_symbol string, date date, `when` string")
    store.upsert_ignore(batch)   # earnings_calendar PK: (act_symbol, date)
    rows = store.read().collect()
    assert len(rows) == 1
    assert rows[0]["when"] in ("Before market open", "After market close")


def test_delete_where_equi_and_condition(spark, store):
    store.upsert_ignore(spark.createDataFrame(
        [("AAPL", D(2024, 5, 1), None), ("AAPL", D(2024, 8, 1), None),
         ("MSFT", D(2024, 5, 2), None)],
        "act_symbol string, date date, `when` string"))
    condemned = spark.createDataFrame([("AAPL", D(2024, 5, 1))],
                                      "act_symbol string, date date")
    store.delete_where(condemned, on=["act_symbol", "date"])
    assert _rows(store) == [("AAPL", D(2024, 8, 1), None),
                            ("MSFT", D(2024, 5, 2), None)]


def test_delete_where_joins_without_a_hint(spark, store, monkeypatch):
    """The condemned keys arrive from outside the plan, so delete_where
    hints no broadcast: AQE measures the key set at run time and
    broadcasts it only when it is small, instead of a forced broadcast
    OOMing every executor on an oversized set."""
    store.upsert_ignore(spark.createDataFrame(
        [("AAPL", D(2024, 5, 1), None), ("MSFT", D(2024, 5, 2), None)],
        "act_symbol string, date date, `when` string"))
    condemned = spark.createDataFrame([("AAPL", D(2024, 5, 1))],
                                      "act_symbol string, date date")
    written = []
    rewrite = TableStore._overwrite_locked

    def spy(self, df):
        written.append(df._jdf.queryExecution().logical().toString())
        rewrite(self, df)

    monkeypatch.setattr(TableStore, "_overwrite_locked", spy)
    store.delete_where(condemned, on=["act_symbol", "date"])
    assert "Hint" not in written[0]
    assert _rows(store) == [("MSFT", D(2024, 5, 2), None)]


def test_read_empty_table_has_declared_schema(spark, tmp_path):
    store = TableStore(spark, str(tmp_path), "rank_score")
    df = store.read()
    assert df.count() == 0
    assert df.schema.fieldNames() == ["act_symbol", "date", "rank", "value",
                                      "growth", "momentum", "vgm"]


def test_read_starts_no_spark_job(spark, tmp_path):
    """read() takes the declared schema instead of inferring one from
    Parquet footers, so even a written, partitioned table is read
    without a Spark job."""
    store = TableStore(spark, str(tmp_path), "rank_score")
    store.upsert_ignore(spark.createDataFrame(
        [("AAPL", D(2024, 5, 1), "Hold", "A", "B", "C", "D"),
         ("MSFT", D(2024, 5, 8), "Buy", "A", "A", "A", "A")],
        "act_symbol string, date date, rank string, value string, "
        "growth string, momentum string, vgm string"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("read-probe", "TableStore.read")
    try:
        df = store.read()
        assert df.schema.fieldNames() == ["act_symbol", "date", "rank",
                                          "value", "growth", "momentum",
                                          "vgm"]
        assert tracker.getJobIdsForGroup("read-probe") == []
        # the probe sees this thread's jobs: an action does show up
        assert df.count() == 2
        assert tracker.getJobIdsForGroup("read-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_upsert_antijoin_prunes_stored_side_to_batch_partitions(spark, tmp_path):
    # W1 at scale: the stored side of the anti-join must be partition-
    # pruned to the batch's own dates (metadata-bounded scan), never a
    # forced broadcast of the full stored PK history.
    store = TableStore(spark, str(tmp_path), "rank_score")
    schema = ("act_symbol string, date date, rank string, value string, "
              "growth string, momentum string, vgm string")
    store.upsert_ignore(spark.createDataFrame(
        [("AAPL", D(2024, 5, 1), "Hold", "A", "B", "C", "D"),
         ("MSFT", D(2024, 5, 8), "Buy", "A", "A", "A", "A")], schema))
    batch = spark.createDataFrame(
        [("NVDA", D(2024, 5, 8), "Buy", "A", "A", "A", "A"),
         ("MSFT", D(2024, 5, 8), "Sell", "F", "F", "F", "F")], schema)
    fresh = store._fresh_rows(batch, ("act_symbol", "date"))
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    # stored scan pruned to the batch's date only
    assert "PartitionFilters: [" in plan and "2024-05-08" in plan
    assert "2024-05-01" not in plan
    # no hint forces the stored history through the driver
    assert "ResolvedHint" not in plan
    # semantics unchanged: existing PK skipped, new PK survives
    assert [(r.act_symbol, r.rank) for r in fresh.collect()] == \
        [("NVDA", "Buy")]
    # end-to-end: append only the fresh key
    store.upsert_ignore(batch)
    assert store.read().count() == 3
    assert store.read().filter("act_symbol='MSFT'").first().rank == "Buy"


def test_partitioned_layout_and_pruning(spark, tmp_path):
    import os
    store = TableStore(spark, str(tmp_path), "rank_score")
    batch = spark.createDataFrame(
        [("AAPL", D(2024, 5, 1), "Hold", "A", "B", "C", "D"),
         ("MSFT", D(2024, 5, 8), "Buy", "A", "A", "A", "A")],
        "act_symbol string, date date, rank string, value string, "
        "growth string, momentum string, vgm string")
    store.upsert_ignore(batch)
    live = store._live_dir()
    assert sorted(e for e in os.listdir(live) if e.startswith("date=")) == \
        ["date=2024-05-01", "date=2024-05-08"]
    # read restores declared column order
    assert store.read().columns[:2] == ["act_symbol", "date"]
    # a date filter prunes partitions
    plan = store.read().filter("date = '2024-05-08'") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "2024-05-08" in plan
    # incremental append touches only the new partition
    store.upsert_ignore(spark.createDataFrame(
        [("NVDA", D(2024, 5, 9), "Hold", "A", "B", "C", "D")], batch.schema))
    assert store.read().count() == 3
    assert "date=2024-05-09" in os.listdir(live)


def test_concurrent_writer_detected_and_lock_released(spark, store):
    from zacks_estimates_financial_statements_spark.operators.writer import (
        ConcurrentWriteError,
    )
    df = spark.createDataFrame(
        [("MSFT", D(2025, 1, 15), "Before market open")],
        "act_symbol string, date date, when string")
    store.overwrite(df)

    # a second store over the same table dir, mid-write (lock held)
    other = TableStore(spark, store.root, store.name)
    with store.write_lock():
        with pytest.raises(ConcurrentWriteError, match="locked by another"):
            other.overwrite(df)
        with pytest.raises(ConcurrentWriteError):
            other.upsert_ignore(df)
        with pytest.raises(ConcurrentWriteError):
            other.delete_where(df.select("act_symbol", "date"),
                               on=["act_symbol", "date"])
    # lock released on exit -> writes proceed again, data intact
    other.upsert_ignore(spark.createDataFrame(
        [("AAPL", D(2025, 1, 15), "After market close")], df.schema))
    assert len(_rows(store)) == 2
    # failed attempts never flipped the pointer or corrupted the table
    assert store.read().count() == 2


def test_empty_partitioned_write_reads_back_empty(spark, tmp_path):
    # a load where every row was filtered writes a version dir with no
    # parquet files; read() must fall back to the declared schema
    store = TableStore(spark, str(tmp_path), "eps_estimate")  # partitioned
    empty = spark.createDataFrame(
        [], TableStore(spark, str(tmp_path), "eps_estimate").read().schema)
    store.overwrite(empty)
    assert store.exists()
    assert store.read().count() == 0
    # and the table recovers on the next real write
    import datetime as dt
    from decimal import Decimal
    store.upsert_ignore(spark.createDataFrame(
        [("MSFT", dt.date(2025, 1, 15), "Current Quarter",
          dt.date(2024, 12, 31), Decimal("1.5"), Decimal("1.5"), 5,
          Decimal("1.6"), Decimal("1.4"), Decimal("1.3"))],
        store.read().schema))
    assert store.read().count() == 1


def test_compact_consolidates_small_files(spark, tmp_path):
    import glob
    store = TableStore(spark, str(tmp_path), "earnings_calendar")
    for i in range(5):  # each upsert appends its own files
        store.upsert_ignore(spark.createDataFrame(
            [(f"SYM{i}{j}", D(2025, 1, 10 + i), "Before market open")
             for j in range(3)],
            "act_symbol string, date date, when string"))
    live = store._live_dir()
    before = len(glob.glob(f"{live}/**/*.parquet", recursive=True))
    assert before >= 5
    rows_before = _rows(store)
    store.compact()
    after = len(glob.glob(f"{store._live_dir()}/**/*.parquet",
                          recursive=True))
    assert after < before
    assert _rows(store) == rows_before


def test_superseded_version_vacuumed_after_flip(spark, tmp_path):
    """W7: the flip vacuums the superseded version right away, as the
    reference vacuums after each load; only the live version stays."""
    import os

    store = TableStore(spark, str(tmp_path), "earnings_calendar")
    df1 = spark.createDataFrame(
        [("AAA", D(2025, 1, 1), "Before market open")],
        "act_symbol string, date date, when string")
    store.overwrite(df1)
    v1 = store.current_version()
    assert store.read(version=v1).collect()[0]["when"] == "Before market open"
    store.overwrite(df1.withColumn("when", F.lit("After market close")))
    assert store.read().collect()[0]["when"] == "After market close"
    assert [e for e in os.listdir(store.path) if e.startswith("v-")] == \
        [store.current_version()]
    with pytest.raises(ValueError, match="not retained"):
        store.read(version=v1)


def test_stale_lock_reclaimed_live_lock_respected(spark, store):
    import os
    from zacks_estimates_financial_statements_spark.operators.writer import (
        ConcurrentWriteError, _LOCK, _HOSTNAME,
    )
    df = spark.createDataFrame(
        [("MSFT", D(2025, 1, 15), "Before market open")],
        "act_symbol string, date date, when string")
    os.makedirs(store.path, exist_ok=True)
    lock = os.path.join(store.path, _LOCK)

    # 1) same host, dead pid -> reclaimed without manual removal
    with open(lock, "w") as fh:
        fh.write(f"pid=999999999 host={_HOSTNAME} "
                 f"at=2026-01-01T00:00:00+00:00")
    store.overwrite(df)                      # takes over, then releases
    assert not os.path.exists(lock)
    assert store.read().count() == 1

    # 2) unknown host, expired lease -> reclaimed
    with open(lock, "w") as fh:
        fh.write("pid=1 host=elsewhere at=2020-01-01T00:00:00+00:00")
    store.upsert_ignore(spark.createDataFrame(
        [("AAPL", D(2025, 1, 15), "After market close")], df.schema))
    assert store.read().count() == 2

    # 3) unknown host, fresh lease -> still fails fast
    import datetime as _dt
    now = _dt.datetime.now(_dt.timezone.utc).isoformat()
    with open(lock, "w") as fh:
        fh.write(f"pid=1 host=elsewhere at={now}")
    with pytest.raises(ConcurrentWriteError, match="locked by another"):
        store.overwrite(df)
    os.unlink(lock)

    # 4) same host, LIVE pid (ours) -> fails fast even though lease fresh
    with open(lock, "w") as fh:
        fh.write(f"pid={os.getpid()} host={_HOSTNAME} at={now}")
    with pytest.raises(ConcurrentWriteError):
        store.overwrite(df)
    os.unlink(lock)


def test_snapshot_pin_survives_flip_and_gc(spark, tmp_path):
    """A reader that pinned version N keeps reading N across a
    concurrent writer's pointer flip + vacuum; once the pin is
    released, the next GC reclaims the old version."""
    import os

    def rows(n):
        return spark.createDataFrame(
            [(f"S{i}", D(2025, 1, 1), None) for i in range(n)],
            "act_symbol string, date date, `when` string")

    store = TableStore(spark, str(tmp_path), "earnings_calendar")
    store.overwrite(rows(5))
    with store.snapshot() as snap:
        v0 = snap.version
        assert snap.read().count() == 5
        # concurrent writer flips twice; GC runs after each flip but
        # must retain the pinned version
        store.overwrite(rows(9))
        store.overwrite(rows(3))
        assert os.path.isdir(os.path.join(store.path, v0))
        assert snap.read().count() == 5          # still the snapshot
        assert store.read().count() == 3         # live moved on
    # pin released: the next writer GC reclaims v0
    store.overwrite(rows(7))
    assert not os.path.isdir(os.path.join(store.path, v0))
    # a table with no live version has nothing to pin
    with pytest.raises(ValueError, match="cannot pin"):
        TableStore(spark, str(tmp_path), "dividend_calendar").snapshot().__enter__()


def test_snapshot_stale_pin_is_reaped(spark, tmp_path):
    """A pin left by a provably-dead reader (same host, pid gone) does
    not hold retention hostage: GC reaps it and vacuums the version."""
    import os

    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.operators.writer import (
        _HOSTNAME,
        TableStore,
    )

    store = TableStore(spark, str(tmp_path), "stalepin")
    store.overwrite(spark.range(5).select(F.col("id")))
    v0 = store.current_version()
    # forge a pin from a dead pid on this host
    pin = os.path.join(store.path, f"_PIN_{v0}.deadbeef")
    with open(pin, "w") as f:
        f.write(f"pid=999999999 host={_HOSTNAME} "
                f"at=2020-01-01T00:00:00+00:00")
    store.overwrite(spark.range(9).select(F.col("id")))
    assert not os.path.exists(pin)
    assert not os.path.isdir(os.path.join(store.path, v0))
