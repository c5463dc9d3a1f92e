"""The ``daily`` workload: the reference's daily cron run against history.

One timed run loads one new folder date through the runner's public
functions (``run_statements`` for the income statement, ``run_estimates``,
``run_earnings_calendar`` with its stale cleanup, ``run_dividend_calendar``)
into a restored copy of a seeded table store, then dumps that day's EPS
estimates and the income statement's window with ``export.dump_dolt``.
The first run is the first pipeline work in a fresh JVM, as each cron
invocation of the reference is; it takes longer than ``--seconds``, so
that is the only one.

The day carries one statement kind, not three: a cold run of all three
(the balance sheet's three-table load alone is ~30 s) takes ~90 s on a
4-vCPU VM, too long to repeat for a median within the benchmark's time
budget. The income statement is the single-table sni chain; the balance
sheet is still loaded by the history and read by the stale-earnings
cleanup. The statement load runs first: it warms the writer paths the
estimates' six concurrent upserts then share (order does not change any
table: the runners write disjoint tables).

The seeded history (``HISTORY_DATES`` prior folder dates of a fixed
universe) is built once per checkout by ``build_history``, through one
``availableNow`` pass of ``run_estimates_stream`` + ``run_statements_stream``
and the calendar runner per date, and kept under the work directory;
its row counts are checked against the generator before it is used.
That pass is the insert-heavy, multi-date load: its batch count and
times (from the queries' progress reports) are kept with the store as
the ``raw_zone_stream`` layer metrics. The new day's documents come from
``--seed``.
"""

from __future__ import annotations

import datetime
import functools
import json
import os
import shutil
import threading
import time
import traceback
from collections import Counter

from perfbench import measure
from perfbench.rawzone import CALENDAR_TABLES, ESTIMATE_TABLES, STATEMENT_TABLES, RawZone

UNIVERSE_SEED = 20250506
N_SYMBOLS = 16
HISTORY_DATES = 3
#: export.dump_dolt calls of one day: the day's EPS estimate snapshot and
#: the income statement's 250-day window
DUMP_TABLES = ["eps_estimate", "income_statement"]
TABLES = ESTIMATE_TABLES + STATEMENT_TABLES + CALENDAR_TABLES
STREAM_METRICS = "raw_zone_stream.json"
#: statement kinds the new day loads
DAILY_KINDS = ("income",)
RUNNER_CALLS = [("run_statements", {"kinds": list(DAILY_KINDS)}),
                ("run_estimates", {}), ("run_earnings_calendar", {}),
                ("run_dividend_calendar", {})]
#: which runner call loads each table (a failed row-count check fails it)
LOADED_BY = {**{t: "run_estimates" for t in ESTIMATE_TABLES},
             **{t: "run_statements" for t in STATEMENT_TABLES},
             "earnings_calendar": "run_earnings_calendar",
             "dividend_calendar": "run_dividend_calendar"}


def universe(day_seed: int | None = None) -> RawZone:
    return RawZone(UNIVERSE_SEED, N_SYMBOLS, HISTORY_DATES + 1,
                   day_seed=day_seed)


def table_rows(tables: str) -> dict[str, int]:
    """Live rows per table, from parquet footers (no Spark job)."""
    out = {}
    for t in TABLES:
        ptr = os.path.join(tables, t, "_CURRENT")
        if not os.path.exists(ptr):
            out[t] = 0
            continue
        with open(ptr) as fh:
            live = os.path.join(tables, t, fh.read().strip())
        out[t] = measure.parquet_rows(measure.parquet_files(live))
    return out


def build_history(spark, target: str) -> None:
    """Load the history dates into ``<target>/tables`` and check them."""
    from zacks_estimates_financial_statements_spark import runner
    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import (
        run_estimates_stream,
        run_statements_stream,
    )

    rz = universe()
    history = rz.dates[:HISTORY_DATES]
    tmp = target + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    raw, tables = os.path.join(tmp, "raw"), os.path.join(tmp, "tables")
    rz.write(raw, history)
    t = time.time()
    queries = [run_estimates_stream(spark, raw, tables,
                                    os.path.join(tmp, "ckpt", "estimates"))]
    queries += run_statements_stream(spark, raw, tables,
                                     os.path.join(tmp, "ckpt", "statements"))
    for q in queries:
        q.awaitTermination()
    progress = [p for q in queries for p in q.recentProgress]
    with open(os.path.join(tmp, STREAM_METRICS), "w") as fh:
        json.dump({"raw_zone_stream.pass_s": time.time() - t,
                   "raw_zone_stream.batches": len(progress),
                   "raw_zone_stream.batch_s":
                       sum(p.batchDuration for p in progress) / 1e3}, fh)
    for day in history:
        runner.run_earnings_calendar(spark, raw, tables, day.isoformat())
        runner.run_dividend_calendar(spark, raw, tables, day.isoformat())
    want = rz.expected(history).counts()
    got = table_rows(tables)
    if got != want:
        raise RuntimeError(f"history store rows {got} != expected {want}")
    shutil.rmtree(os.path.join(tmp, "raw"))
    shutil.rmtree(os.path.join(tmp, "ckpt"))
    os.replace(tmp, target)


class Daily:
    """One invocation of the daily workload (see module docstring)."""

    def __init__(self, seed: int, work: str, history: str):
        self.rz = universe(seed)
        self.day = self.rz.dates[-1]
        self.work = work
        self.history = history
        self.base = self.raw = self.tables = ""
        self.n_docs = {"html": 0, "calendar": 0}
        self.dumped: dict[str, list[str]] = {}

    def prepare(self, k: int) -> None:
        """Write the day's raw zone and restore the seeded store for the
        ``k``-th run."""
        self.base = os.path.join(self.work, f"run{k}")
        self.raw = os.path.join(self.base, "raw")
        self.tables = os.path.join(self.base, "tables")
        self.n_docs = self.rz.write(self.raw, [self.day], DAILY_KINDS)
        shutil.copytree(os.path.join(self.history, "tables"), self.tables)

    def run(self, spark, tracer=None) -> dict[str, bool]:
        """The timed run: {op name: raised?}."""
        from zacks_estimates_financial_statements_spark import export, runner
        from zacks_estimates_financial_statements_spark.operators.writer import TableStore

        day = self.day.isoformat()
        ok: dict[str, bool] = {}
        for name, kw in RUNNER_CALLS:
            ok[name] = _call(tracer, f"runner.{name}",
                             functools.partial(getattr(runner, name), **kw),
                             spark, self.raw, self.tables, day)
        for table in DUMP_TABLES:
            start, end = export.default_dump_window(table, None, day)
            out = os.path.join(self.base, "dump", table)

            def dump(table=table, start=start, end=end, out=out):
                self.dumped[table] = export.dump_dolt(
                    TableStore(spark, self.tables, table).read(), table, out,
                    start, end)
            ok[f"dump_dolt:{table}"] = _call(tracer, "export.dump", dump)
        return ok

    def check(self, ok: dict[str, bool]) -> list[str]:
        """Row counts per table and CSV files per dump against the
        generator; returns the failed operations."""
        ex = self.rz.expected(self.rz.dates, DAILY_KINDS)
        want, got = ex.counts(), table_rows(self.tables)
        for t in TABLES:
            if got[t] != want[t]:
                ok[LOADED_BY[t]] = False
        for table in DUMP_TABLES:
            start, end = (self.day if table in ESTIMATE_TABLES
                          else self.day - datetime.timedelta(days=250)), self.day
            n = ex.dates_in(table, start, end)
            if len(self.dumped.get(table, [])) != n:
                ok[f"dump_dolt:{table}"] = False
        return [op for op, good in ok.items() if not good]

    def docs(self) -> int:
        """Raw documents of the day: HTML pages plus calendar day-files."""
        return self.n_docs["html"] + self.n_docs["calendar"]

    def store_mb(self) -> float:
        return measure.tree_bytes(self.tables) / 2**20


def _call(tracer, span: str, fn, *args) -> bool:
    """Run one operation; False if it raised."""
    try:
        if tracer is not None:
            with tracer.span(span):
                fn(*args)
        else:
            fn(*args)
        return True
    except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
        traceback.print_exc()
        return False


class Counters:
    """Thread-safe counters filled by the span wrappers."""

    def __init__(self) -> None:
        self.values: Counter = Counter()
        self._lock = threading.Lock()

    def add(self, name: str, n: float) -> None:
        with self._lock:
            self.values[name] += n


def _live_rows(store) -> int:
    v = store.current_version()
    if v is None:
        return 0
    return measure.parquet_rows(
        measure.parquet_files(os.path.join(store.path, v)))


def instrument(tracer, counters: Counters) -> None:
    """Wrap the action-performing public calls of the ELT layers: each
    becomes a span, and the writer calls record files and rows added
    (from parquet footers) and rows offered (one extra count job per
    upsert, charged to the ``trace`` layer)."""
    from zacks_estimates_financial_statements_spark import export
    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    from zacks_estimates_financial_statements_spark.pipelines import (
        calendar_pipeline,
        estimate_pipeline,
        statement_pipeline,
    )

    def files_before(store, *_):
        return set(measure.parquet_files(store.path))

    def files_after(before, _result, store, *_):
        new = set(measure.parquet_files(store.path)) - before
        counters.add("writer.files_added", len(new))
        return new

    def upsert_before(store, batch, *_):
        with tracer.span("trace.count"):
            counters.add("writer.rows_offered", batch.count())
        return files_before(store)

    def upsert_after(before, result, store, *_):
        counters.add("writer.rows_written",
                     measure.parquet_rows(files_after(before, result, store)))
        counters.add("writer.upsert_calls", 1)

    def cleanup_after(before, _result, store, *_):
        counters.add("calendar_pipeline.condemned_rows",
                     before - _live_rows(store))

    def dump_after(_before, files, *_):
        counters.add("export.csv_files", len(files))
        for f in files:
            with open(f) as fh:
                counters.add("export.rows", sum(1 for _ in fh) - 1)

    tracer.wrap(TableStore, "upsert_ignore", "writer.upsert",
                upsert_before, upsert_after)
    tracer.wrap(TableStore, "overwrite", "writer.overwrite",
                files_before, files_after)
    tracer.wrap(TableStore, "delete_where", "writer.delete",
                files_before, files_after)
    tracer.wrap(estimate_pipeline, "load_estimates", "estimate_pipeline.load")
    tracer.wrap(statement_pipeline, "load_statement", "statement_pipeline.load")
    tracer.wrap(calendar_pipeline, "load_earnings_calendar",
                "calendar_pipeline.merge")
    tracer.wrap(calendar_pipeline, "load_dividend_calendar",
                "calendar_pipeline.merge")
    tracer.wrap(calendar_pipeline, "cleanup_stale_earnings",
                "calendar_pipeline.cleanup",
                lambda store, *_: _live_rows(store), cleanup_after)
    tracer.wrap(export, "dump_dolt", "export.dump", after=dump_after)
    tracer.propagate_to_pools()


def traced_extras(spark, tracer, daily: Daily, layer: dict) -> None:
    """Trace-only measurements after the timed run: the lazy layers forced
    through the noop sink on the same inputs (self time = difference of
    successive prefixes), plus the history build's streaming figures."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    from zacks_estimates_financial_statements_spark.parse import calendars as PC
    from zacks_estimates_financial_statements_spark.parse.estimates import parse_estimates
    from zacks_estimates_financial_statements_spark.parse.statements import parse_statements
    from zacks_estimates_financial_statements_spark.pipelines import (
        estimate_pipeline,
        statement_pipeline,
    )
    from zacks_estimates_financial_statements_spark.sources.raw_zone import (
        read_calendar_files,
        read_documents,
    )

    from perfbench.rawzone import STATEMENTS

    raw, day = daily.raw, daily.day.isoformat()
    stored_root = os.path.join(daily.work, "prefix_tables")
    shutil.copytree(os.path.join(daily.history, "tables"), stored_root)

    def force(span: str, df, *aggs):
        """Seconds to push ``df`` through the noop sink, plus observed
        aggregates from the same action."""
        obs = Observation()
        aggs = aggs or (F.count(F.lit(1)).alias("n"),)
        with tracer.span(span):
            t = time.time()
            df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
            dt = time.time() - t
        return dt, obs.get

    ok_rows = F.sum(F.col("parse_error").isNull().cast("int")).alias("ok")
    n_rows = F.count(F.lit(1)).alias("n")
    docs = parsed_rows = parsed_ok = 0

    # estimates: scan -> parse -> validity gate
    src = read_documents(spark, raw, "estimates", day)
    t_scan, m = force("raw_zone.scan", src)
    docs += m["n"]
    parsed = parse_estimates(src)
    t_parse, m = force("parse.estimates", parsed, n_rows, ok_rows)
    parsed_rows += m["n"]
    parsed_ok += m["ok"]
    t_gate, _ = force("estimate_pipeline.gate",
                      parsed.filter(estimate_pipeline.doc_valid_condition()))
    scan_s = t_scan
    layer["parse.estimates_s"] = max(t_parse - t_scan, 0.0)
    layer["estimate_pipeline.gate_s"] = max(t_gate - t_parse, 0.0)

    # statements: scan -> parse -> typed candidates -> sni chain
    parse_s = typed_s = sni_s = 0.0
    cands = accepted = 0
    for kind in DAILY_KINDS:
        dataset, dest, _ = STATEMENTS[kind]
        src = read_documents(spark, raw, dataset, day)
        t1, m = force("raw_zone.scan", src)
        docs += m["n"]
        scan_s += t1
        rows = parse_statements(src, kind)
        t2, m = force("parse.statements", rows, n_rows, ok_rows)
        parsed_rows += m["n"]
        parsed_ok += m["ok"]
        typed = statement_pipeline.typed_candidates(rows, kind)
        t3, m = force("statement_pipeline.typed", typed)
        cands += m["n"]
        with tracer.span("trace.prefix"):
            stores = [TableStore(spark, stored_root, t).read() for t in dest]
        stored = stores[0]
        for other in stores[1:]:
            stored = stored.join(other, ["act_symbol", "date", "period"])
        t4, m = force("statement_pipeline.sni",
                      statement_pipeline.apply_sni_chain(typed, stored, kind))
        accepted += m["n"]
        parse_s += max(t2 - t1, 0.0)
        typed_s += max(t3 - t2, 0.0)
        sni_s += max(t4 - t3, 0.0)
    layer["parse.statements_s"] = parse_s
    layer["statement_pipeline.typed_s"] = typed_s
    layer["statement_pipeline.sni_s"] = sni_s
    layer["statement_pipeline.accept_ratio"] = accepted / cands if cands else 0.0

    # calendars: scan -> parse
    cal_s = 0.0
    for dataset, rows_of in (("earnings-calendar", PC.earnings_rows),
                             ("dividend-calendar", PC.dividend_rows)):
        files = read_calendar_files(spark, raw, dataset, day)
        t1, m = force("raw_zone.scan", files)
        docs += m["n"]
        scan_s += t1
        t2, _ = force("parse.calendars", rows_of(files))
        cal_s += max(t2 - t1, 0.0)
    layer["parse.calendars_s"] = cal_s
    layer["raw_zone.scan_s"] = scan_s
    layer["parse.docs"] = docs
    layer["parse.ok_ratio"] = parsed_ok / parsed_rows if parsed_rows else 0.0
    layer["raw_zone.files"] = sum(len(f) for _, _, f in os.walk(raw))
    layer["raw_zone.mb"] = measure.tree_bytes(raw) / 2**20

    with open(os.path.join(daily.history, STREAM_METRICS)) as fh:
        layer.update(json.load(fh))
