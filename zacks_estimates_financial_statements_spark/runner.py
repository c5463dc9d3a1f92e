"""Pipeline runner — the engine's CLI, replacing the reference's shell
orchestrators (estimate-extract-transform-load.sh,
financial-statement-transform-load-yesterday.sh,
earnings-calendar-extract-transform-load.sh,
dividend-calendar-extract-transform-load.sh).

The HTTP extract stage is intentionally out of engine scope (SURVEY §2.1
S1-S3: a thin non-Spark politeness-limited fetcher owns the raw zone);
the runner drives transform-load + maintenance + export for a raw zone
that already exists::

    python -m zacks_estimates_financial_statements_spark.runner estimates   --raw /data/raw --tables /data/tables --date 2026-08-13
    python -m zacks_estimates_financial_statements_spark.runner statements  --raw ... --tables ... --date ...
    python -m zacks_estimates_financial_statements_spark.runner earnings-calendar --raw ... --tables ... --date ...
    python -m zacks_estimates_financial_statements_spark.runner dividend-calendar --raw ... --tables ... --date ...
    python -m zacks_estimates_financial_statements_spark.runner dump-dolt   --tables ... --out /data/dolt --table eps_estimate
    python -m zacks_estimates_financial_statements_spark.runner publish     --table eps_estimate --out /data/dolt --dolt-dir /var/dolt --dry-run

Dump windows default to the reference's bounds when --start-date /
--end-date are omitted (250-day statements lookback, same-day estimate
snapshots, 6-month eps_history widening); pass --all-dates for full
history. The raw zone itself is written by the thin fetcher
(``python -m zacks_estimates_financial_statements_spark.ingest``, S1-S3).
"""

from __future__ import annotations

import argparse
import datetime
import glob
import json
import os
import sys
from concurrent.futures import ThreadPoolExecutor

from zacks_estimates_financial_statements_spark import export as X
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.parse.estimates import parse_estimates
from zacks_estimates_financial_statements_spark.parse.statements import parse_statements
from zacks_estimates_financial_statements_spark.pipelines import (
    calendar_pipeline,
    estimate_pipeline,
    statement_pipeline,
)
from zacks_estimates_financial_statements_spark.pipelines.estimate_pipeline import (
    ESTIMATE_TABLES,
)
from zacks_estimates_financial_statements_spark.pipelines.statement_pipeline import (
    STATEMENT_KINDS,
)
from zacks_estimates_financial_statements_spark.session import get_spark
from zacks_estimates_financial_statements_spark.sources.raw_zone import (
    read_calendar_files,
    read_documents,
)


def _stores(spark, root: str, names: list[str]) -> dict[str, TableStore]:
    return {n: TableStore(spark, root, n) for n in names}


def run_estimates(spark, raw: str, tables: str, date: str) -> dict:
    docs = read_documents(spark, raw, "estimates", date)
    parsed = parse_estimates(docs)
    return estimate_pipeline.load_estimates(
        parsed, _stores(spark, tables, ESTIMATE_TABLES))


def run_statements(spark, raw: str, tables: str, date: str,
                   kinds: list[str] | None = None) -> dict:
    """The three statement kinds read disjoint raw datasets and write
    disjoint destination tables, so they load concurrently (thread-pool
    job submission; the balance sheet's 3-table coupling stays inside
    its kind)."""
    def one(kind: str) -> tuple[str, dict]:
        dataset, dest = STATEMENT_KINDS[kind]
        docs = read_documents(spark, raw, dataset, date)
        statement_pipeline.load_statement(
            parse_statements(docs, kind), kind, _stores(spark, tables, dest))
        return kind, {t: TableStore(spark, tables, t).live_rows()
                      for t in dest}

    todo = kinds or list(STATEMENT_KINDS)
    with ThreadPoolExecutor(max_workers=len(todo)) as ex:
        return dict(ex.map(one, todo))


def run_earnings_calendar(spark, raw: str, tables: str, date: str) -> dict:
    store = TableStore(spark, tables, "earnings_calendar")
    files = read_calendar_files(spark, raw, "earnings-calendar", date)
    calendar_pipeline.load_earnings_calendar(
        store, files, datetime.date.fromisoformat(date))
    bsa = TableStore(spark, tables, "balance_sheet_assets").read()
    calendar_pipeline.cleanup_stale_earnings(store, bsa)
    return {"earnings_calendar": store.live_rows()}


def run_dividend_calendar(spark, raw: str, tables: str, date: str) -> dict:
    store = TableStore(spark, tables, "dividend_calendar")
    files = read_calendar_files(spark, raw, "dividend-calendar", date)
    calendar_pipeline.load_dividend_calendar(
        store, files, datetime.date.fromisoformat(date))
    return {"dividend_calendar": store.live_rows()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="zacks_estimates_financial_statements_spark.runner")
    ap.add_argument("pipeline",
                    choices=["estimates", "statements", "earnings-calendar",
                             "dividend-calendar", "dump-dat", "dump-dolt",
                             "publish", "compact", "archive"])
    ap.add_argument("--raw", help="raw zone root")
    ap.add_argument("--tables", help="table store root")
    ap.add_argument("--date", help="folder date yyyy-MM-dd")
    ap.add_argument("--out", help="export output dir")
    ap.add_argument("--table", help="table to export/publish")
    ap.add_argument("--start-date")
    ap.add_argument("--end-date")
    ap.add_argument("--all-dates", action="store_true",
                    help="dump full history (disable reference windows)")
    ap.add_argument("--publish", action="store_true",
                    help="after dump-dolt, run the dolt publish sequence")
    ap.add_argument("--dolt-dir", help="dolt working dir for publish")
    ap.add_argument("--dry-run", action="store_true",
                    help="print publish commands instead of running them")
    ap.add_argument("--gc", action="store_true",
                    help="append the reference's final 'dolt gc' to publish")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    if args.pipeline == "publish":
        # W9 executor — no Spark session needed: import the already-dumped
        # per-date CSVs, then add/commit/push (dump-dolt-estimates.rkt:71-87)
        csvs = sorted(glob.glob(os.path.join(args.out, "*.csv")))
        end = args.end_date or datetime.date.today().isoformat()
        cmds = X.publish(args.table, csvs, args.dolt_dir or args.out, end,
                         dry_run=args.dry_run, gc=args.gc)
        print(json.dumps({"pipeline": "publish",
                          "result": {"commands": len(cmds),
                                     "csv_files": len(csvs)}}))
        return 0

    if args.pipeline == "archive":
        # the reference's post-load `7zr a <raw>/<dataset>/<date>.7z`
        # (estimate-extract-transform-load.sh:9) — pure file op, no
        # Spark session; --table names the dataset
        from zacks_estimates_financial_statements_spark.sources import raw_zone as RZ
        if not (args.raw and args.table and args.date):
            ap.error("archive needs --raw, --table (dataset) and --date")
        manifest = RZ.archive_day(args.raw, args.table, args.date)
        print(json.dumps({"pipeline": "archive", "result": manifest}))
        return 0

    if not args.tables:
        ap.error("--tables is required for this pipeline")
    spark = get_spark(app_name=f"zacks-{args.pipeline}", master=args.master)
    try:
        if args.pipeline == "estimates":
            result = run_estimates(spark, args.raw, args.tables, args.date)
        elif args.pipeline == "statements":
            result = run_statements(spark, args.raw, args.tables, args.date)
        elif args.pipeline == "earnings-calendar":
            result = run_earnings_calendar(spark, args.raw, args.tables,
                                           args.date)
        elif args.pipeline == "dividend-calendar":
            result = run_dividend_calendar(spark, args.raw, args.tables,
                                           args.date)
        elif args.pipeline == "compact":
            # W7 maintenance: consolidate small files from incremental
            # appends; --table limits to one table, default = all known
            names = [args.table] if args.table else [
                n for n in sorted(os.listdir(args.tables))
                if os.path.isdir(os.path.join(args.tables, n))]
            for n in names:
                TableStore(spark, args.tables, n).compact()
            result = {"compacted": names}
        elif args.pipeline in ("dump-dat", "dump-dolt"):
            store = TableStore(spark, args.tables, args.table)
            fn = X.dump_dat if args.pipeline == "dump-dat" else X.dump_dolt
            if args.all_dates:
                start, end = args.start_date, args.end_date
            else:
                start, end = X.default_dump_window(
                    args.table, args.start_date, args.end_date)
            files = fn(store.read(), args.table, args.out, start, end)
            result = {"files": files, "window": [start, end]}
            if args.publish and args.pipeline == "dump-dolt":
                cmds = X.publish(args.table, files,
                                 args.dolt_dir or args.out,
                                 end or datetime.date.today().isoformat(),
                                 dry_run=args.dry_run, gc=args.gc)
                result["published"] = len(cmds)
        print(json.dumps({"pipeline": args.pipeline, "result": result}))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
