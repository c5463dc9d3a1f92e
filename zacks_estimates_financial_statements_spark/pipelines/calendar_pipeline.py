"""Calendar pipelines — SURVEY §3.3, the minimum end-to-end slice.

The reference's per-row SQL loop (earnings-calendar-transform-load.rkt:
45-106) collapses into one dataflow with three fused write semantics:

- **W4** future-horizon reset: ``DELETE WHERE date >= folder_date`` before
  reloading (line 45-51);
- **W5** rolling-week move-forward: per incoming symbol, ``DELETE WHERE
  act_symbol = $1 AND date >= folder_date - 7 days`` before each insert
  (line 79-87). Because the loop deletes before *every* row insert and all
  incoming dates are >= folder_date, the observable end state is
  *last-processed row wins per symbol* (files iterate in filename =
  chronological order, rows in payload order);
- **W1** ``ON CONFLICT DO NOTHING`` on (act_symbol, date).

The stale-estimate cleanup (lines 109-148) is the J2 non-equi range join +
A3 group-wise max + J3 delete, kept as an explicit dataflow here.

Scale: the merge shuffles only on act_symbol (the natural key); the
balance-sheet side of the cleanup aggregates to one row per (symbol,
reporting date) — small relative to the calendar — and broadcasts.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions.expressions import next_quarter_end
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.parse import calendars as P


def last_row_per_symbol(new_rows: DataFrame) -> DataFrame:
    """The reference loop's observable winner: for each symbol, the last
    (file, row) processed — max (path, row_idx). Ties impossible (path,
    row_idx) is unique."""
    w = Window.partitionBy("act_symbol").orderBy(
        F.col("path").desc(), F.col("row_idx").desc())
    return (new_rows
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "path", "row_idx"))


def merge_calendar(existing: DataFrame, new_rows: DataFrame,
                   folder_date: datetime.date, date_col: str) -> DataFrame:
    """W4+W5+W1 fused — the after-state of one loader run.

    kept = existing rows with ``date < folder_date`` (W4) that are NOT
    (symbol ∈ batch AND date >= folder_date − 7 days) (W5);
    result = kept ∪ per-symbol winners of the batch.

    The fusion equals the reference loop only when every incoming date is
    >= folder_date − 7 days (an older row would survive W5 beside its
    stored twin, two rows under one key), so the batch asserts it inside
    this plan: the write that runs it fails instead.
    """
    week_ago = F.date_sub(F.lit(folder_date), 7)
    in_week = F.col(date_col) >= week_ago
    winners = last_row_per_symbol(new_rows.filter(F.assert_true(
        in_week, f"{date_col} before folder_date - 7 days").isNull()))
    batch_symbols = winners.select("act_symbol").distinct()
    # W4 filter, then W5: drop rows of batch symbols within the trailing week
    kept = (existing
            .filter(F.col(date_col) < F.lit(folder_date))
            .join(F.broadcast(batch_symbols.withColumn("__inb", F.lit(True))),
                  "act_symbol", "left")
            .filter(~(F.coalesce(F.col("__inb"), F.lit(False)) & in_week))
            .drop("__inb"))
    return kept.unionByName(winners)


def load_earnings_calendar(store: TableStore, files: DataFrame,
                           folder_date: datetime.date) -> None:
    """One run of the earnings-calendar loader (T8/T9 + W4/W5/W1)."""
    new_rows = P.earnings_rows(files).filter(F.col("act_symbol").isNotNull())
    store.overwrite(merge_calendar(store.read(), new_rows, folder_date, "date"))


def load_dividend_calendar(store: TableStore, files: DataFrame,
                           folder_date: datetime.date) -> None:
    """One run of the dividend-calendar loader (T8/T10 + W4/W5/W1).
    No stale-estimate cleanup for dividends
    (dividend-calendar-transform-load.rkt has no such step)."""
    new_rows = P.dividend_rows(files).filter(
        F.col("act_symbol").isNotNull() & F.col("amount").isNotNull()
        & F.col("ex_date").isNotNull())
    store.overwrite(merge_calendar(store.read(), new_rows, folder_date, "ex_date"))


def stale_earnings_keys(ec: DataFrame, bsa: DataFrame) -> DataFrame:
    """J2+A3+J3 — condemned (act_symbol, date) pairs: estimated earnings
    dates superseded within a reporting-quarter window
    (earnings-calendar-transform-load.rkt:109-148).

    ``bsa`` is the balance_sheet_assets table; windows are the distinct
    actual reporting dates plus one projected next-quarter-end per symbol
    (J5 union). Each calendar date falling in (bsa_date,
    next_quarter_end(bsa_date)] competes; only the max date per (symbol,
    window) survives; others are condemned. The registry's
    ``stale_cleanup`` query runs this kernel against its DuckDB twin.
    """
    actual = bsa.select("act_symbol", "date").distinct()
    projected = (bsa.groupBy("act_symbol")
                 .agg(F.max("date").alias("date"))
                 .select("act_symbol", next_quarter_end(F.col("date")).alias("date")))
    windows = actual.unionByName(projected).distinct() \
        .withColumnRenamed("date", "bsa_date") \
        .withColumn("window_end", next_quarter_end(F.col("bsa_date")))

    joined = (ec.alias("ec")
              .join(F.broadcast(windows.alias("w")), "act_symbol")
              .filter((F.col("ec.date") > F.col("bsa_date"))
                      & (F.col("ec.date") <= F.col("window_end"))))
    ecm = (joined.groupBy("act_symbol", "bsa_date", "window_end")
           .agg(F.max("date").alias("max_date")))
    condemned = (ec.alias("ec")
                 .join(F.broadcast(ecm), "act_symbol")
                 .filter((F.col("ec.date") != F.col("max_date"))
                         & (F.col("ec.date") > F.col("bsa_date"))
                         & (F.col("ec.date") <= F.col("window_end"))))
    return condemned.select("act_symbol", "date").distinct()


def cleanup_stale_earnings(store: TableStore, bsa: DataFrame) -> None:
    """W6 — apply the stale-estimate delete to the stored table."""
    condemned = stale_earnings_keys(store.read(), bsa)
    store.delete_where(condemned, on=["act_symbol", "date"])
