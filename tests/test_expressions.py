"""Unit tests for the scalar expression kit (SURVEY §2.4), including the
month-end edge dates called out in SURVEY §7.4.2 and FIXTURES.md scenario 5/6."""

from __future__ import annotations

import datetime
from decimal import Decimal

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import expressions as E


def _col_vals(spark, data, fn, in_type="string"):
    df = spark.createDataFrame([(v,) for v in data], f"x {in_type}")
    return [r[0] for r in df.select(fn(F.col("x")).alias("y")).collect()]


def test_clean_numeric_cell_grammar(spark):
    # FIXTURES.md scenario 6: "NA", lone "M", magnitudes, parens, commas
    vals = _col_vals(
        spark,
        ["NA", "M", "1.5B", "2T", "3.1M", "(0.12)", "1,234.5", " 7 ", "0"],
        E.clean_numeric_cell,
    )
    assert vals == [
        None,
        None,
        Decimal("1500000000.000000"),
        Decimal("2000000000000.000000"),
        Decimal("3100000.000000"),
        Decimal("0.120000"),  # parens stripped, NOT negated
        Decimal("1234.500000"),
        Decimal("7.000000"),
        Decimal("0.000000"),
    ]


def test_clean_numeric_cell_garbage_is_null(spark):
    # Spark 4 ANSI mode: plain cast would throw on malformed input; the
    # grammar must degrade to NULL (try_cast) instead of failing the job.
    vals = _col_vals(spark, ["", "abc", "--", None], E.clean_numeric_cell)
    assert vals == [None, None, None, None]


def test_month_end_from_mm_yyyy(spark):
    vals = _col_vals(spark, ["02/2024", "12/2023", "04/2025"],
                     E.month_end_from_mm_yyyy)
    assert vals == [datetime.date(2024, 2, 29), datetime.date(2023, 12, 31),
                    datetime.date(2025, 4, 30)]


def test_prior_period_date_month_end_edges(spark):
    df = spark.createDataFrame(
        [(datetime.date(2024, 3, 31), "Quarter"),
         (datetime.date(2024, 6, 30), "Quarter"),
         (datetime.date(2024, 12, 31), "Quarter"),
         (datetime.date(2024, 2, 29), "Year"),
         (datetime.date(2024, 12, 31), "Year")],
        "date date, period string")
    vals = [r[0] for r in df.select(
        E.prior_period_date(F.col("date"), F.col("period")).alias("p")).collect()]
    # Quarter: +1d -3mo -1d (quarter-end -> previous quarter-end)
    assert vals[0] == datetime.date(2023, 12, 31)
    assert vals[1] == datetime.date(2024, 3, 31)
    assert vals[2] == datetime.date(2024, 9, 30)
    # Year: -12 months (Feb 29 clamps to Feb 28)
    assert vals[3] == datetime.date(2023, 2, 28)
    assert vals[4] == datetime.date(2023, 12, 31)


def test_next_quarter_end(spark):
    df = spark.createDataFrame([(datetime.date(2024, 3, 31),),
                                (datetime.date(2023, 12, 31),)], "d date")
    vals = [r[0] for r in df.select(E.next_quarter_end(F.col("d")).alias("q")).collect()]
    assert vals == [datetime.date(2024, 6, 30), datetime.date(2024, 3, 31)]


def test_enum_codecs(spark):
    assert _col_vals(spark, ["annual", "quarterly"],
                     E.decode_statement_period) == ["Year", "Quarter"]
    assert _col_vals(spark, ["amc", "bmo", "--"],
                     E.decode_when) == ["After market close", "Before market open", None]
    assert _col_vals(spark, ["Strong Buy", "Hold", "Strong Sell", "junk"],
                     E.to_integer_rank) == [1, 3, 5, None]


def test_scale_millions_and_statement_cell(spark):
    vals = _col_vals(spark, ["1,234.5", "NA", "-12.25"],
                     lambda c: E.scale_millions(E.clean_statement_cell(c)))
    assert vals == [Decimal("1234500000.000000"), None, Decimal("-12250000.000000")]


def test_export_text(spark):
    df = spark.createDataFrame([(Decimal("1.5"),), (None,)], "x decimal(10,2)")
    vals = [r[0] for r in df.select(E.export_text(F.col("x")).alias("y")).collect()]
    assert vals == ["1.50", ""]
