"""CSV export surface — SURVEY §2.8 W8/W9 + §2.2 P6/P7 + §2.7 O1.

The reference writes one CSV per distinct date per table, with a fixed
header, ``::text`` casts, NULL→'' coalescing, and multi-column ordering
(dump-dat.rkt:44-134, dump-dolt-estimates.rkt:46-140). Two dump flavors:

- **dat** dumps (eps/sales estimate): all-columns-NOT-NULL gate (P6);
- **dolt** dumps: every nullable column ``coalesce(x::text, '')`` (F14).

Spark-first shape: ONE distributed job per table — repartition by the
date column, sort within partitions, write with ``partitionBy`` so each
date lands in its own file; a driver-side metadata pass renames
``date=YYYY-MM-DD/part-*.csv`` to ``YYYY-MM-DD.csv``. No per-date query
loop, no ``collect()`` of data — at scale this is a single shuffle
instead of N scans.

The dolt publish step (``dolt table import`` + commit/push, W9) runs
outside Spark: ``publish_sequence`` builds the reference's exact argv
sequence and ``publish`` executes it (or prints it with dry_run) inside
the dolt working dir — wired to ``runner.py publish`` / ``dump-dolt
--publish``.
"""

from __future__ import annotations

import calendar
import datetime
import glob
import os
import shutil
import subprocess

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F



def decimal_text(col: Column) -> Column:
    """Postgres ``numeric::text`` renders without trailing zeros; Spark's
    decimal cast keeps full scale ("1.500000"). Trim to match."""
    s = col.cast("string")
    trimmed = F.regexp_replace(
        F.regexp_replace(s, r"(\.\d*?)0+$", "$1"), r"\.$", "")
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(trimmed)


def _text_cols(df: DataFrame, decimal_cols: set[str],
               coalesce_null: bool) -> list[Column]:
    out = []
    for f in df.schema.fields:
        c = decimal_text(F.col(f.name)) if f.name in decimal_cols \
            else F.col(f.name).cast("string")
        out.append((F.coalesce(c, F.lit("")) if coalesce_null else c)
                   .alias(f.name))
    return out


def dump_per_date_csv(df: DataFrame, out_dir: str, date_col: str,
                      order_by: list[str],
                      start_date: str | None = None,
                      end_date: str | None = None,
                      not_null: list[str] | None = None,
                      coalesce_null: bool = True) -> list[str]:
    """Write one ordered, headered CSV per distinct ``date_col`` value in
    [start_date, end_date]; returns the written file paths.

    ``not_null``: dat-flavor all-not-null row gate (dump-dat.rkt:66-71).
    """
    decimal_cols = {f.name for f in df.schema.fields
                    if f.dataType.typeName().startswith("decimal")}
    if start_date:
        df = df.filter(F.col(date_col) >= F.lit(start_date).cast("date"))
    if end_date:
        df = df.filter(F.col(date_col) <= F.lit(end_date).cast("date"))
    if not_null:
        df = df.na.drop(subset=not_null)

    staged = (df
              .withColumn("__pdate", F.col(date_col).cast("string"))
              .repartition(F.col("__pdate"))
              # leading __pdate satisfies the partitioned-write's required
              # ordering, so the writer does not inject its own (unstable)
              # sort and the within-file order survives
              .sortWithinPartitions("__pdate", *order_by)
              .select(*_text_cols(df, decimal_cols, coalesce_null),
                      F.col("__pdate")))
    tmp = os.path.join(out_dir, "_staging")
    (staged.write.mode("overwrite")
     .option("header", True).option("emptyValue", "")
     .partitionBy("__pdate").csv(tmp))

    os.makedirs(out_dir, exist_ok=True)
    written = []
    for d in sorted(glob.glob(os.path.join(tmp, "__pdate=*"))):
        date_val = os.path.basename(d).split("=", 1)[1]
        parts = sorted(glob.glob(os.path.join(d, "part-*.csv")))
        target = os.path.join(out_dir, f"{date_val}.csv")
        if len(parts) == 1:
            shutil.move(parts[0], target)
        else:  # defensive: concatenate preserving single header
            with open(target, "w") as out:
                for i, p in enumerate(parts):
                    with open(p) as f_in:
                        lines = f_in.readlines()
                    out.writelines(lines if i == 0 else lines[1:])
        written.append(target)
    shutil.rmtree(tmp, ignore_errors=True)
    return written


# -- reference dump shapes ---------------------------------------------------

#: (columns, order_by, not_null gate) per dat dump (dump-dat.rkt:50-75,
#: :96-121)
DAT_DUMPS = {
    "eps_estimate": (
        ["act_symbol", "date", "period", "period_end_date", "consensus",
         "recent", "count", "high", "low", "year_ago"],
        ["act_symbol", "date", "period", "period_end_date"],
        ["consensus", "recent", "count", "high", "low", "year_ago"]),
    "sales_estimate": (
        ["act_symbol", "date", "period", "period_end_date", "consensus",
         "count", "high", "low", "year_ago"],
        ["act_symbol", "date", "period", "period_end_date"],
        ["consensus", "count", "high", "low", "year_ago"]),
}

#: dolt dumps: (columns, order_by) — date leads, NULLs coalesce to ''
#: (dump-dolt-estimates.rkt:54-66 etc., dump-dolt-statements.rkt:53-78)
DOLT_DUMPS = {
    "rank_score": (["date", "act_symbol", "rank", "value", "growth",
                    "momentum", "vgm"], ["act_symbol", "date"]),
    "eps_estimate": (["date", "act_symbol", "period", "period_end_date",
                      "consensus", "recent", "count", "high", "low",
                      "year_ago"], ["act_symbol", "date", "period"]),
    "sales_estimate": (["date", "act_symbol", "period", "period_end_date",
                        "consensus", "count", "high", "low", "year_ago"],
                       ["act_symbol", "date", "period"]),
    "eps_history": (["act_symbol", "period_end_date", "reported",
                     "estimate"], ["act_symbol", "period_end_date"]),
}

# statement tables (dump-dolt-statements.rkt:46-78 etc.): schema column
# order, ordered by (act_symbol, date, period); earnings calendar
# (dump-dolt-earnings-calendar.rkt:50-59): rolling re-export window.
from zacks_estimates_financial_statements_spark import schemas as _schemas  # noqa: E402

for _table in ("balance_sheet_assets", "balance_sheet_liabilities",
               "balance_sheet_equity", "cash_flow_statement",
               "income_statement"):
    DOLT_DUMPS[_table] = (_schemas.TABLES[_table].fieldNames(),
                          ["act_symbol", "date", "period"])
DOLT_DUMPS["earnings_calendar"] = (["act_symbol", "date", "when"],
                                   ["act_symbol", "date"])
DOLT_DUMPS["dividend_calendar"] = (
    ["act_symbol", "ex_date", "amount", "payable_date"],
    ["act_symbol", "ex_date"])


#: reference dump-window defaults: statements look back 250 days
#: (dump-dolt-statements.rkt:11), estimates/dat dumps default to a
#: same-day snapshot (dump-dolt-estimates.rkt:11-13, dump-dat.rkt:8),
#: and eps_history always widens its start by 6 months
#: (dump-dolt-estimates.rkt:212-213).
STATEMENT_LOOKBACK_DAYS = 250
EPS_HISTORY_LOOKBACK_MONTHS = 6

_STATEMENT_DUMP_TABLES = frozenset({
    "income_statement", "balance_sheet_assets", "balance_sheet_liabilities",
    "balance_sheet_equity", "cash_flow_statement"})


def _months_back(d: datetime.date, months: int) -> datetime.date:
    """Postgres ``date - interval 'N months'`` semantics (day clamped to
    the target month's length)."""
    y, m0 = divmod(d.year * 12 + d.month - 1 - months, 12)
    return datetime.date(y, m0 + 1,
                         min(d.day, calendar.monthrange(y, m0 + 1)[1]))


def default_dump_window(table: str,
                        start_date: str | None = None,
                        end_date: str | None = None,
                        today: datetime.date | None = None
                        ) -> tuple[str, str]:
    """Resolve the (start, end) dump window the reference scripts would
    use for ``table`` when flags are omitted — a no-arg dump must bound
    its window exactly like the reference, not dump full history."""
    end = (datetime.date.fromisoformat(end_date) if end_date
           else (today or datetime.date.today()))
    if table == "eps_history":
        base = (datetime.date.fromisoformat(start_date) if start_date
                else end)
        start = _months_back(base, EPS_HISTORY_LOOKBACK_MONTHS)
    elif start_date:
        start = datetime.date.fromisoformat(start_date)
    elif table in _STATEMENT_DUMP_TABLES:
        start = end - datetime.timedelta(days=STATEMENT_LOOKBACK_DAYS)
    else:
        start = end
    return start.isoformat(), end.isoformat()


def dump_dat(df: DataFrame, table: str, out_dir: str,
             start_date: str | None = None,
             end_date: str | None = None) -> list[str]:
    cols, order, gate = DAT_DUMPS[table]
    return dump_per_date_csv(df.select(*cols), out_dir, "date", order,
                             start_date, end_date, not_null=gate,
                             coalesce_null=False)


def dump_dolt(df: DataFrame, table: str, out_dir: str,
              start_date: str | None = None,
              end_date: str | None = None) -> list[str]:
    cols, order = DOLT_DUMPS.get(table) or (df.columns, df.columns[:2])
    date_col = {"eps_history": "period_end_date",
                "dividend_calendar": "ex_date"}.get(table, "date")
    d = df.select(*cols)
    if table == "eps_history":
        d = d.distinct()  # dump-dolt-estimates.rkt:191 (select distinct)
    return dump_per_date_csv(d, out_dir, date_col, order, start_date,
                             end_date, coalesce_null=True)


def reexport_earnings_calendar(df: DataFrame, out_dir: str,
                               as_of_date: str) -> tuple[str, list[list[str]]]:
    """dump-dolt-earnings-calendar.rkt:40-62 — re-export the rolling
    window (as_of − 7 days onward) as ONE csv named by the as-of date,
    plus the publisher's pre-clean delete + import/commit/push argv. The
    MySQL-dialect pre-clean (`delete … where date >= date_sub(...)`)
    becomes the remote half of the same rolling-window replace the engine
    applies locally (W5)."""
    window = df.filter(
        F.col("date") >= F.date_sub(F.lit(as_of_date).cast("date"), 7))
    cols = [F.col("act_symbol").cast("string"),
            F.col("date").cast("string"),
            F.coalesce(F.col("when").cast("string"), F.lit(""))
            .alias("when")]
    os.makedirs(out_dir, exist_ok=True)
    target = os.path.join(out_dir, f"earnings-calendar-{as_of_date}.csv")
    # same Spark CSV writer as the per-date dumps (no driver-side pandas):
    # the 7-day window is single-file by contract, so sort + coalesce(1)
    tmp = os.path.join(out_dir, "_reexport_staging")
    (window.select(*cols).orderBy("act_symbol", "date").coalesce(1)
     .write.mode("overwrite").option("header", True)
     .option("emptyValue", "").csv(tmp))
    part = sorted(glob.glob(os.path.join(tmp, "part-*.csv")))[0]
    shutil.move(part, target)
    shutil.rmtree(tmp, ignore_errors=True)
    cmds = [["dolt", "sql", "-q",
             ("delete from earnings_calendar where date >= "
              f"date_sub('{as_of_date}', interval 7 day)")],
            *publish_sequence("earnings_calendar", [target], as_of_date)]
    return target, cmds


def publish_sequence(table: str, csv_files: list[str],
                     end_date: str, gc: bool = False) -> list[list[str]]:
    """The full per-table publish: import every per-date CSV, then one
    add + commit + push — exactly the reference's loop-then-commit shape
    (dump-dolt-estimates.rkt:71 per-date import, :86-87 tail). ``gc``
    appends the final ``dolt gc`` the statements dump runs once after
    its last table (dump-dolt-statements.rkt:326)."""
    cmds = [["dolt", "table", "import", "-u", "--continue", table, f]
            for f in csv_files]
    cmds += [
        ["dolt", "add", table],
        ["dolt", "commit", "-m", f"{table} {end_date} update"],
        ["dolt", "push", "--silent"],
    ]
    if gc:
        cmds.append(["dolt", "gc"])
    return cmds


def publish(table: str, csv_files: list[str], dolt_dir: str,
            end_date: str, dry_run: bool = False, gc: bool = False,
            run=None) -> list[list[str]]:
    """Execute (or, with ``dry_run``, print) the publish sequence inside
    the dolt working dir — closes W9 end-to-end. Returns the argv lists.
    ``run`` is injectable for tests; the default shells out with
    check=True so a failed import aborts before commit/push.

    CSV paths are resolved to absolute first: the commands execute with
    ``cwd=dolt_dir``, so a relative dump path (the default when
    ``--dolt-dir`` falls back to ``--out``) would otherwise make
    ``dolt table import`` look for the files under the dolt dir and
    abort the publish."""
    cmds = publish_sequence(table, [os.path.abspath(f) for f in csv_files],
                            end_date, gc=gc)
    if run is None:
        def run(argv):  # pragma: no cover - exercised via injection
            subprocess.run(argv, cwd=dolt_dir, check=True)
    for argv in cmds:
        if dry_run:
            print("DRY-RUN [" + dolt_dir + "] " + " ".join(argv))
        else:
            run(argv)
    return cmds


