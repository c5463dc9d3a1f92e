"""Calendar parse + pipeline tests (FIXTURES.md §B3, scenarios 3-4)."""

from __future__ import annotations

import datetime
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.parse import calendars as C
from zacks_estimates_financial_statements_spark.pipelines import calendar_pipeline as pipe
from zacks_estimates_financial_statements_spark.schemas import TABLES
from zacks_estimates_financial_statements_spark.sources.raw_zone import read_calendar_files

D = datetime.date


def _write_day_file(base, dataset, folder, event_date, rows, decorate=False):
    d = base / dataset / folder
    d.mkdir(parents=True, exist_ok=True)
    payload = json.dumps({"data": rows})
    if decorate:
        payload = ("window.app_data = " + payload
                   .replace(rows[0][0], f"<span>{rows[0][0]}</span>", 1))
    (d / f"{event_date}.json").write_text(payload)


def test_earnings_parse_cleanup_and_positions(spark, tmp_path):
    # raw payload with prefix, HTML tags, and Quick Quote noise
    rows = [["AAPL", "Apple Inc. AAPL Quick Quote", "5", "amc", "x"],
            ["MSFT", "Microsoft", "3", "bmo", "y"],
            ["XYZ", "Whatever", "1", "--", "z"]]
    _write_day_file(tmp_path, "earnings-calendar", "2024-05-10", "2024-05-15",
                    rows, decorate=True)
    files = read_calendar_files(spark, str(tmp_path), "earnings-calendar",
                                "2024-05-10")
    got = sorted((r["act_symbol"], r["date"], r["when"])
                 for r in C.earnings_rows(files).collect())
    assert got == [
        ("AAPL", D(2024, 5, 15), "After market close"),
        ("MSFT", D(2024, 5, 15), "Before market open"),
        ("XYZ", D(2024, 5, 15), None),
    ]


def test_dividend_parse_positions(spark, tmp_path):
    rows = [["AAPL", "Apple", "x", "$0.25", "x", "2024-05-20", "x", "2024-06-01"],
            ["MSFT", "Microsoft", "x", "$1.10", "x", "2024-05-21", "x", "--"]]
    _write_day_file(tmp_path, "dividend-calendar", "2024-05-10", "2024-05-20", rows)
    files = read_calendar_files(spark, str(tmp_path), "dividend-calendar",
                                "2024-05-10")
    got = sorted((r["act_symbol"], r["ex_date"], str(r["amount"]), r["payable_date"])
                 for r in C.dividend_rows(files).collect())
    assert got == [
        ("AAPL", D(2024, 5, 20), "0.250000", D(2024, 6, 1)),
        ("MSFT", D(2024, 5, 21), "1.100000", None),
    ]


def test_dividend_malformed_dates_degrade_per_row(spark, tmp_path):
    """ANSI NULL contract: a malformed scraped date NULLs its own row
    (try_to_date) instead of aborting the job, and the loader drops
    rows whose ex_date is unparseable — mirroring the reference's
    per-file transaction where a bad row cannot load."""
    rows = [["AAPL", "Apple", "x", "$0.25", "x", "not-a-date", "x", "2024-06-01"],
            ["MSFT", "Microsoft", "x", "$1.10", "x", "2024-05-21", "x", "05/32/2024"]]
    _write_day_file(tmp_path, "dividend-calendar", "2024-05-10", "2024-05-20", rows)
    files = read_calendar_files(spark, str(tmp_path), "dividend-calendar",
                                "2024-05-10")
    got = sorted((r["act_symbol"], r["ex_date"], r["payable_date"])
                 for r in C.dividend_rows(files).collect())
    assert got == [("AAPL", None, D(2024, 6, 1)),
                   ("MSFT", D(2024, 5, 21), None)]
    store = TableStore(spark, str(tmp_path / "tables"), "dividend_calendar")
    pipe.load_dividend_calendar(store, files, D(2024, 5, 10))
    kept = [(r["act_symbol"], r["ex_date"]) for r in store.read().collect()]
    assert kept == [("MSFT", D(2024, 5, 21))]


@pytest.fixture()
def ec_store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "tables"), "earnings_calendar")


def test_move_forward_semantics(spark, tmp_path, ec_store):
    """FIXTURES scenario 3: record within 7 days moves forward; past rows
    and distant-past rows survive."""
    folder_date = D(2024, 5, 10)
    ec_store.overwrite(spark.createDataFrame(
        [("AAPL", D(2024, 5, 8), None),     # within 7d window, symbol in batch -> deleted
         ("AAPL", D(2024, 2, 1), None),     # old row survives
         ("ORCL", D(2024, 5, 9), None),     # not in batch -> survives
         ("MSFT", D(2024, 6, 30), None)],   # future row -> W4 delete
        "act_symbol string, date date, `when` string"))
    _write_day_file(tmp_path, "earnings-calendar", "2024-05-10", "2024-05-11",
                    [["AAPL", "", "", "amc"]])
    _write_day_file(tmp_path, "earnings-calendar", "2024-05-10", "2024-05-12",
                    [["MSFT", "", "", "bmo"]])
    files = read_calendar_files(spark, str(tmp_path), "earnings-calendar",
                                "2024-05-10")
    pipe.load_earnings_calendar(ec_store, files, folder_date)
    got = sorted((r["act_symbol"], r["date"], r["when"])
                 for r in ec_store.read().collect())
    assert got == [
        ("AAPL", D(2024, 2, 1), None),
        ("AAPL", D(2024, 5, 11), "After market close"),
        ("MSFT", D(2024, 5, 12), "Before market open"),
        ("ORCL", D(2024, 5, 9), None),
    ]


def test_last_file_wins_per_symbol(spark, tmp_path, ec_store):
    """Reference loop semantics: a symbol appearing on two horizon days
    keeps only the later one (each insert deletes the symbol's >=
    folder_date - 7d rows first)."""
    folder_date = D(2024, 5, 10)
    _write_day_file(tmp_path, "earnings-calendar", "2024-05-10", "2024-05-12",
                    [["AAPL", "", "", "amc"]])
    _write_day_file(tmp_path, "earnings-calendar", "2024-05-10", "2024-05-20",
                    [["AAPL", "", "", "bmo"]])
    files = read_calendar_files(spark, str(tmp_path), "earnings-calendar",
                                "2024-05-10")
    pipe.load_earnings_calendar(ec_store, files, folder_date)
    got = [(r["act_symbol"], r["date"], r["when"])
           for r in ec_store.read().collect()]
    assert got == [("AAPL", D(2024, 5, 20), "Before market open")]


def test_stale_estimate_cleanup(spark, ec_store):
    """FIXTURES scenario 4: two future dates inside one projected quarter
    window -> only max(date) survives."""
    ec_store.overwrite(spark.createDataFrame(
        [("AAPL", D(2024, 7, 20), None),
         ("AAPL", D(2024, 8, 1), None),     # same window: only this survives
         ("AAPL", D(2024, 3, 1), None),     # before any window: untouched
         ("MSFT", D(2024, 7, 25), None)],   # different symbol, single date
        "act_symbol string, date date, `when` string"))
    # last actual reporting date 2024-03-31 -> projected window (03-31, 06-30],
    # then the projected next-quarter-end 06-30 -> window (06-30, 09-30]
    bsa = spark.createDataFrame(
        [("AAPL", D(2024, 3, 31), "Quarter"), ("MSFT", D(2024, 3, 31), "Quarter")],
        "act_symbol string, date date, period string")
    pipe.cleanup_stale_earnings(ec_store, bsa)
    got = sorted((r["act_symbol"], r["date"]) for r in ec_store.read().collect())
    assert got == [("AAPL", D(2024, 3, 1)), ("AAPL", D(2024, 8, 1)),
                   ("MSFT", D(2024, 7, 25))]


def test_dividend_runner_path(spark, tmp_path):
    """runner.run_dividend_calendar end-to-end over fixture files."""
    import json as _json
    from zacks_estimates_financial_statements_spark import runner
    d = tmp_path / "raw" / "dividend-calendar" / "2024-05-10"
    d.mkdir(parents=True)
    (d / "2024-05-20.json").write_text(_json.dumps({"data": [
        ["AAPL", "Apple", "x", "$0.25", "x", "2024-05-20", "x", "2024-06-01"],
        ["MSFT", "Microsoft", "x", "$1.10", "x", "2024-05-21", "x", "--"]]}))
    out = runner.run_dividend_calendar(
        spark, str(tmp_path / "raw"), str(tmp_path / "tables"), "2024-05-10")
    assert out == {"dividend_calendar": 2}
    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    rows = sorted((r["act_symbol"], str(r["amount"]))
                  for r in TableStore(spark, str(tmp_path / "tables"),
                                      "dividend_calendar").read().collect())
    assert rows == [("AAPL", "0.250000"), ("MSFT", "1.100000")]


@pytest.mark.parametrize("dataset", ["earnings-calendar", "dividend-calendar"])
def test_a_date_before_the_rolling_week_fails_the_run(spark, tmp_path, dataset):
    """The fused W4/W5/W1 merge equals the reference loop only for
    incoming dates >= folder_date - 7 days: an older row survives W5
    beside its stored twin, two rows under one key. The assertion rides
    the overwrite's own plan, so the run fails and the live table stays."""
    earnings = dataset == "earnings-calendar"
    name = "earnings_calendar" if earnings else "dividend_calendar"
    store = TableStore(spark, str(tmp_path / "tables"), name)
    old = D(2024, 5, 1)
    store.overwrite(spark.createDataFrame(
        [("AAPL", old, None)] if earnings
        else [("AAPL", old, Decimal("0.25"), None)], TABLES[name]))
    before = store.current_version()
    row = (["AAPL", "", "", "amc"] if earnings
           else ["AAPL", "Apple", "x", "$0.25", "x", str(old), "x", "--"])
    _write_day_file(tmp_path, dataset, "2024-05-20", str(old), [row])
    files = read_calendar_files(spark, str(tmp_path), dataset, "2024-05-20")
    load = pipe.load_earnings_calendar if earnings else pipe.load_dividend_calendar
    with pytest.raises(Exception, match="before folder_date - 7 days"):
        load(store, files, D(2024, 5, 20))
    assert store.current_version() == before
    assert store.read().count() == 1
