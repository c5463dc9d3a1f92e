"""Structured Streaming: the raw-zone document loaders, watermarked
windowed aggregation, streaming dedup and attribution, and the stateful
fetch scheduler."""

from __future__ import annotations

import datetime

from zacks_estimates_financial_statements_spark.streaming import raw_zone_stream as S

D = datetime.datetime


def test_windowed_event_counts_batch_parity(spark):
    events = spark.createDataFrame(
        [(1, D(2024, 5, 1, 10, 5), "click", 1.0),
         (2, D(2024, 5, 1, 10, 55), "click", 2.0),
         (3, D(2024, 5, 1, 11, 5), "view", 3.0)],
        "event_id long, ts timestamp, event_type string, value double")
    out = {(str(r["window_start"]), r["event_type"]): (r["n"], str(r["sum_value"]))
           for r in S.windowed_event_counts(events).collect()}
    assert out[("2024-05-01 10:00:00", "click")] == (2, "3.000000")
    assert out[("2024-05-01 11:00:00", "view")] == (1, "3.000000")


def test_dedup_events_stream_and_batch(spark, tmp_path):
    events = spark.createDataFrame(
        [(1, D(2024, 5, 1, 10, 0), "click", 1.0),
         (1, D(2024, 5, 1, 10, 0), "click", 1.0),   # exact replay
         (2, D(2024, 5, 1, 10, 1), "view", 2.0),
         (2, D(2024, 5, 1, 10, 2), "view", 2.0),    # same key, later ts
         (3, D(2024, 5, 1, 10, 3), "click", 3.0)],
        "event_id long, ts timestamp, event_type string, value double")
    # batch path (unified semantics)
    assert S.dedup_events(events).count() == 3
    # streaming path: file source -> dedup -> memory sink
    src = str(tmp_path / "events")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (S.dedup_events(stream).writeStream.format("memory")
         .queryName("dedup_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select event_id from dedup_out").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2, 3]


def test_estimates_stream_incremental_load(spark, tmp_path):
    """File-stream estimates ingest: first pass loads day 1, second pass
    picks up ONLY day 2 (checkpointed), and the idempotent upserts keep
    PK counts exact across replays."""
    from fixtures import estimate_page

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore

    base, ckpt, tables = (str(tmp_path / "raw"), str(tmp_path / "ck"),
                          str(tmp_path / "tables"))
    d1 = tmp_path / "raw" / "estimates" / "2024-06-01"
    d1.mkdir(parents=True)
    (d1 / "AAPL.detailed-estimates.html").write_text(estimate_page())

    q = S.run_estimates_stream(spark, base, tables, ckpt)
    q.awaitTermination(120)
    rank = TableStore(spark, tables, "rank_score")
    first = {(r["act_symbol"], r["date"]) for r in rank.read().collect()}
    assert first == {("AAPL", datetime.date(2024, 6, 1))}

    d2 = tmp_path / "raw" / "estimates" / "2024-06-02"
    d2.mkdir()
    (d2 / "MSFT.detailed-estimates.html").write_text(estimate_page())
    q = S.run_estimates_stream(spark, base, tables, ckpt)
    q.awaitTermination(120)
    got = {(r["act_symbol"], r["date"]) for r in rank.read().collect()}
    assert got == {("AAPL", datetime.date(2024, 6, 1)),
                   ("MSFT", datetime.date(2024, 6, 2))}


def test_statements_stream_incremental_load(spark, tmp_path):
    """Per-kind statement streams load through the batch loaders and
    pick up new dated folders incrementally."""
    from fixtures import income_statement_page

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore

    av = {f: [str(100 + i * 1000 + c) for c in range(5)]
          for i, f in enumerate(__import__("fixtures")._INCOME_FIELDS)}
    html = income_statement_page(
        ["12/31/23", "12/31/22", "12/31/21", "12/31/20", "12/31/19"],
        ["3/31/24", "12/31/23", "9/30/23", "6/30/23", "3/31/23"], av, av)
    base = tmp_path / "raw"
    d1 = base / "income-statement" / "2024-06-01"
    d1.mkdir(parents=True)
    (d1 / "AAPL.income-statement.html").write_text(html)

    qs = S.run_statements_stream(spark, str(base), str(tmp_path / "t"),
                                 str(tmp_path / "ck"), kinds=["income"])
    for q in qs:
        q.awaitTermination(120)
    store = TableStore(spark, str(tmp_path / "t"), "income_statement")
    assert store.read().filter("act_symbol = 'AAPL'").count() == 10

    d2 = base / "income-statement" / "2024-06-02"
    d2.mkdir()
    (d2 / "MSFT.income-statement.html").write_text(html)
    qs = S.run_statements_stream(spark, str(base), str(tmp_path / "t"),
                                 str(tmp_path / "ck"), kinds=["income"])
    for q in qs:
        q.awaitTermination(120)
    got = {r["act_symbol"] for r in store.read().collect()}
    assert got == {"AAPL", "MSFT"}


def test_stream_skips_non_document_files(spark, tmp_path):
    """A stray file in a dated folder is not a document: the stream
    reads only the dataset's suffix, as the batch reader does, and both
    take the symbol and folder date from the same path parse."""
    from fixtures import estimate_page

    from zacks_estimates_financial_statements_spark.sources.raw_zone import read_documents

    base = tmp_path / "raw"
    d = base / "estimates" / "2024-06-01"
    d.mkdir(parents=True)
    (d / "AAPL.detailed-estimates.html").write_text(estimate_page())
    (d / "junk.txt").write_text("not a page")

    q = (S.stream_documents(spark, str(base), "estimates")
         .select("act_symbol", "folder_date").writeStream.format("memory")
         .queryName("stray_file_docs")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = spark.sql("select * from stray_file_docs").collect()
    batch = (read_documents(spark, str(base), "estimates", "2024-06-01")
             .select("act_symbol", "folder_date").collect())
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch)) == \
        [("AAPL", datetime.date(2024, 6, 1))]


def test_attribution_stream_batch_parity(spark, tmp_path):
    """The watermarked stream-stream interval join must emit the same
    attribution pairs as the batch twin, across microbatch boundaries
    (impression and its conversion can land in different batches)."""
    from pyspark.sql import functions as F

    imp_rows = [(10, 1, D(2024, 5, 1, 10, 0)),
                (11, 1, D(2024, 5, 1, 10, 40)),
                (12, 2, D(2024, 5, 1, 9, 0)),    # outside horizon
                (13, 3, D(2024, 5, 1, 11, 0))]   # after the conversion
    conv_rows = [(20, 1, D(2024, 5, 1, 11, 5)),  # matches 11 (and 10? 10:00 is 65min before -> no)
                 (21, 2, D(2024, 5, 1, 10, 30)),  # no in-horizon click
                 (22, 3, D(2024, 5, 1, 10, 59))]  # click is later -> no
    schema = "event_id long, user_id long, ts timestamp"
    imp_b = spark.createDataFrame(imp_rows, schema)
    conv_b = spark.createDataFrame(conv_rows, schema)
    batch = {tuple(r) for r in S.attribute_conversions(
        imp_b, conv_b, horizon="1 hour")
        .select("conversion_id", "impression_id", "lag_us").collect()}
    assert batch == {(20, 11, 25 * 60 * 1_000_000)}

    # streaming twin: one file per microbatch, join state spans batches
    imp_src, conv_src = tmp_path / "imp", tmp_path / "conv"
    imp_b.filter("event_id = 10").write.parquet(str(imp_src / "a"))
    imp_b.filter("event_id != 10").write.parquet(str(imp_src / "b"))
    conv_b.write.parquet(str(conv_src / "a"))
    imp_s = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1")
             .parquet(str(imp_src) + "/*"))
    conv_s = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(str(conv_src) + "/*"))
    out = S.attribute_conversions(imp_s, conv_s, horizon="1 hour")
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("attr_pairs")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.sql(
        "select conversion_id, impression_id, lag_us from attr_pairs")
        .collect()}
    assert streamed == batch

    # last-touch fold picks the latest impression deterministically
    folded = S.last_touch(S.attribute_conversions(
        imp_b, conv_b, horizon="2 hours"))
    got = {(r["conversion_id"], r["impression_id"], r["n_candidates"])
           for r in folded.collect()}
    assert got == {(20, 11, 2), (21, 12, 1)}


# ------------------------------------------------------- politeness scheduler

def test_schedule_fetches_stream_state_across_batches(spark, tmp_path):
    import time

    src = tmp_path / "fetch_src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [("h", 1, D(2024, 5, 1, 10, 0, 0)), ("h", 2, D(2024, 5, 1, 10, 0, 1))],
        "host string, id long, ts timestamp")
    b1.coalesce(1).write.parquet(str(src / "batch1"))
    time.sleep(1.1)   # distinct mod-times -> file order == batch order
    # second file: arrival right after batch 1 — carried state must
    # push its dispatch out, not restart the key's schedule
    b2 = spark.createDataFrame(
        [("h", 3, D(2024, 5, 1, 10, 0, 2))],
        "host string, id long, ts timestamp")
    b2.coalesce(1).write.parquet(str(src / "batch2"))
    stream = (spark.readStream.schema("host string, id long, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/*"))
    out = S.schedule_fetches(stream, "host", "id", "ts", interval_sec=10)
    q = (out.writeStream.format("memory").queryName("fetch_sched")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = {r["id"]: r for r in spark.sql(
        "select * from fetch_sched").collect()}
    base = rows[1]["arrival_us"]
    assert rows[1]["sched_us"] == base
    assert rows[2]["sched_us"] == base + 10_000_000
    # batch-2 request honors batch-1 state: 20 s after the first fetch
    assert rows[3]["sched_us"] == base + 20_000_000
    assert [rows[i]["position"] for i in (1, 2, 3)] == [0, 1, 2]


def test_schedule_fetches_batch_twin_parity(spark):
    df = spark.createDataFrame(
        [("h", 1, D(2024, 5, 1, 10, 0, 0)), ("h", 2, D(2024, 5, 1, 10, 0, 3)),
         ("g", 3, D(2024, 5, 1, 10, 0, 1))],
        "host string, id long, ts timestamp")
    batch = S.schedule_fetches(df, "host", "id", "ts", interval_sec=5)
    from zacks_estimates_financial_statements_spark.functions.web import politeness_schedule
    twin = politeness_schedule(df, "host", "id", "ts", interval_sec=5)
    assert sorted(map(tuple, batch.collect())) == \
        sorted(map(tuple, twin.collect()))


def _table_snapshot(spark, tables, names):
    """Content snapshot: rows as tuples in NAME-sorted column order.
    The recovery contract is row-content equality — a store version's
    physical column order can differ between an in-process create+
    upsert sequence and a restart's upsert (both orders are valid
    reads of their own version), so the comparison must not see it."""
    from zacks_estimates_financial_statements_spark.operators.writer import TableStore

    out = {}
    for name in names:
        store = TableStore(spark, tables, name)
        if store.exists():
            df = store.read()
            df = df.select(*sorted(df.columns))
            out[name] = sorted(map(tuple, df.collect()))
        else:
            out[name] = []
    return out


def test_estimates_stream_mid_batch_crash_recovery(spark, tmp_path):
    """Kill the estimates loader mid-fan-out (one of the six destination
    tables written, the rest not), restart, and prove convergence to
    the uninterrupted end-state — the per-document-transaction analog
    (SURVEY W3) under a crash instead of a bad document."""
    import pytest
    from fixtures import estimate_page
    from pyspark.errors import StreamingQueryException

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    from zacks_estimates_financial_statements_spark.pipelines.estimate_pipeline import (
        ESTIMATE_TABLES,
    )

    def drop(base):
        d = base / "estimates" / "2024-06-01"
        d.mkdir(parents=True)
        (d / "AAPL.detailed-estimates.html").write_text(estimate_page())

    # uninterrupted twin
    drop(tmp_path / "raw_a")
    q = S.run_estimates_stream(spark, str(tmp_path / "raw_a"),
                               str(tmp_path / "ta"), str(tmp_path / "cka"))
    q.awaitTermination(120)
    want = _table_snapshot(spark, str(tmp_path / "ta"),
                           list(ESTIMATE_TABLES))
    assert all(want[t] for t in ESTIMATE_TABLES)

    # faulted run: let exactly ONE table write commit, fail the rest
    drop(tmp_path / "raw_b")
    tables_b, ck_b = str(tmp_path / "tb"), str(tmp_path / "ckb")
    real = TableStore.upsert_ignore
    import threading
    lock = threading.Lock()
    calls = {"n": 0}

    def faulty(self, *a, **kw):
        with lock:  # serialize: exactly one write wins, the rest die
            calls["n"] += 1
            if calls["n"] > 1:
                raise RuntimeError("injected mid-fan-out crash")
            return real(self, *a, **kw)

    TableStore.upsert_ignore = faulty
    try:
        q = S.run_estimates_stream(spark, str(tmp_path / "raw_b"),
                                   tables_b, ck_b)
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(120)
    finally:
        TableStore.upsert_ignore = real
    partial = _table_snapshot(spark, tables_b, list(ESTIMATE_TABLES))
    n_written = sum(1 for t in ESTIMATE_TABLES if partial[t])
    assert n_written == 1  # genuinely mid-fan-out

    q = S.run_estimates_stream(spark, str(tmp_path / "raw_b"),
                               tables_b, ck_b)
    q.awaitTermination(120)
    assert _table_snapshot(spark, tables_b, list(ESTIMATE_TABLES)) == want


def test_statements_stream_mid_batch_crash_recovery(spark, tmp_path):
    """Kill the balance-sheet loader mid-fan-out — ONE of its three
    destination tables written, the other two not (the tightest
    coupling in the write path: one parsed document feeds
    assets/liabilities/equity) — restart, and prove convergence to the
    uninterrupted end-state."""
    import pytest
    from fixtures import balance_sheet_page
    from pyspark.errors import StreamingQueryException

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    from zacks_estimates_financial_statements_spark.schemas import (
        BALANCE_SHEET_ASSETS_COLS,
        BALANCE_SHEET_EQUITY_COLS,
        BALANCE_SHEET_LIABILITIES_COLS,
    )

    fields = (list(BALANCE_SHEET_ASSETS_COLS)
              + list(BALANCE_SHEET_LIABILITIES_COLS)
              + list(BALANCE_SHEET_EQUITY_COLS))
    av = {f: [str(100 + i * 100 + c) for c in range(5)]
          for i, f in enumerate(fields)}
    html = balance_sheet_page(
        ["12/31/2023", "12/31/2022", "12/31/2021", "12/31/2020",
         "12/31/2019"],
        ["3/31/2024", "12/31/2023", "9/30/2023", "6/30/2023",
         "3/31/2023"], av, av)
    tables3 = ["balance_sheet_assets", "balance_sheet_liabilities",
               "balance_sheet_equity"]

    def drop(base):
        d = base / "balance-sheet" / "2024-06-01"
        d.mkdir(parents=True)
        (d / "AAPL.balance-sheet.html").write_text(html)

    drop(tmp_path / "raw_a")
    for q in S.run_statements_stream(spark, str(tmp_path / "raw_a"),
                                     str(tmp_path / "ta"),
                                     str(tmp_path / "cka"),
                                     kinds=["balance"]):
        q.awaitTermination(120)
    want = _table_snapshot(spark, str(tmp_path / "ta"), tables3)
    assert all(want[t] for t in tables3)

    drop(tmp_path / "raw_b")
    tb, ckb = str(tmp_path / "tb"), str(tmp_path / "ckb")
    real = TableStore.upsert_ignore
    import threading
    lock = threading.Lock()
    calls = {"n": 0}

    def faulty(self, *a, **kw):
        with lock:
            calls["n"] += 1
            if calls["n"] > 1:
                raise RuntimeError("injected mid-fan-out crash")
            return real(self, *a, **kw)

    TableStore.upsert_ignore = faulty
    try:
        qs = S.run_statements_stream(spark, str(tmp_path / "raw_b"),
                                     tb, ckb, kinds=["balance"])
        with pytest.raises(StreamingQueryException):
            for q in qs:
                q.awaitTermination(120)
    finally:
        TableStore.upsert_ignore = real
    partial = _table_snapshot(spark, tb, tables3)
    assert sum(1 for t in tables3 if partial[t]) == 1  # mid-fan-out

    for q in S.run_statements_stream(spark, str(tmp_path / "raw_b"),
                                     tb, ckb, kinds=["balance"]):
        q.awaitTermination(120)
    assert _table_snapshot(spark, tb, tables3) == want


def _income_html(base):
    from fixtures import _INCOME_FIELDS, income_statement_page

    v = {f: [str(base + i * 1000 + c) for c in range(5)]
         for i, f in enumerate(_INCOME_FIELDS)}
    return income_statement_page(
        ["12/31/23", "12/31/22", "12/31/21", "12/31/20", "12/31/19"],
        ["3/31/24", "12/31/23", "9/30/23", "6/30/23", "3/31/23"], v, v)


def _write_docs(raw, dataset, day, suffix, html, symbols, mtime):
    """One dated folder of documents. The file stream lists files by
    modification time, so ``mtime`` sets where the folder falls in the
    batch."""
    import os

    d = raw / dataset / day
    d.mkdir(parents=True)
    for s in symbols:
        (d / f"{s}{suffix}").write_text(html)
        os.utime(d / f"{s}{suffix}", (mtime, mtime))


def test_multi_date_stream_keeps_earliest_folder(spark, tmp_path):
    """One availableNow pass over two dated folders leaves the same tables
    as one runner call per folder, oldest first: the later folder is a
    re-scrape with changed values, and first-write-wins keeps the earlier
    folder's rows — in the statement sni walk and in eps_history, the one
    estimate table whose key has no folder date. The later folder's files
    are listed first (older mtimes, as when archived folders are restored
    out of order): the result must follow folder dates, not listing
    order."""
    from fixtures import estimate_page

    from zacks_estimates_financial_statements_spark import runner
    from zacks_estimates_financial_statements_spark.operators.writer import TableStore

    symbols = ["AAPL", "MSFT", "NVDA", "ZZZZ"]
    raw = tmp_path / "raw"
    mtimes = [1_700_000_100, 1_700_000_000]  # earlier folder listed last
    income_days = {"2024-06-01": 100, "2024-06-08": 200}
    for (day, base), mtime in zip(income_days.items(), mtimes):
        _write_docs(raw, "income-statement", day, ".income-statement.html",
                    _income_html(base), symbols, mtime)
    estimate_days = {"2025-01-15": ["1.05", "0.98", "0.92", "0.88"],
                     "2025-01-22": ["2.05", "1.98", "1.92", "1.88"]}
    for (day, reported), mtime in zip(estimate_days.items(), mtimes):
        html = estimate_page(surprise={"reported": reported,
                                       "estimate": reported})
        _write_docs(raw, "estimates", day, ".detailed-estimates.html", html,
                    symbols, mtime)

    streamed, batch = str(tmp_path / "ts"), str(tmp_path / "tb")
    queries = [S.run_estimates_stream(spark, str(raw), streamed,
                                      str(tmp_path / "ck" / "est"))]
    queries += S.run_statements_stream(spark, str(raw), streamed,
                                       str(tmp_path / "ck" / "stmt"),
                                       kinds=["income"])
    for q in queries:
        q.awaitTermination(120)
    for day in sorted(income_days):
        runner.run_statements(spark, str(raw), batch, day, kinds=["income"])
    for day in sorted(estimate_days):
        runner.run_estimates(spark, str(raw), batch, day)

    names = ["income_statement", "eps_history"]
    want = _table_snapshot(spark, batch, names)
    assert len(want["income_statement"]) == 40
    assert len(want["eps_history"]) == 16
    assert _table_snapshot(spark, streamed, names) == want
    sales = {r["sales"] for r in TableStore(spark, streamed, "income_statement")
             .read().filter("period = 'Year' and date = '2023-12-31'").collect()}
    assert sales == {100_000_000}  # the 2024-06-01 value, x1e6


def test_cash_flow_stream_spans_layout_eras(spark, tmp_path):
    """One cash-flow stream pass over a legacy-layout folder (before
    2024-02-01) and a current-layout folder equals one runner call per
    folder: the parser picks each document's era, and the legacy folder's
    annual rows win the keys both folders carry."""
    from fixtures import cash_flow_page

    from zacks_estimates_financial_statements_spark import runner
    from zacks_estimates_financial_statements_spark.schemas import (
        CASH_FLOW_STATEMENT_COLS,
    )

    def page(base, legacy):
        v = {f: [str(base + i * 1000 + c) for c in range(5)]
             for i, f in enumerate(CASH_FLOW_STATEMENT_COLS)}
        return cash_flow_page(
            ["12/31/2023", "12/31/2022", "12/31/2021", "12/31/2020",
             "12/31/2019"],
            ["3/31/2024", "12/31/2023", "9/30/2023", "6/30/2023",
             "3/31/2023"], v, v, legacy=legacy)

    symbols = ["AAPL", "MSFT"]
    raw = tmp_path / "raw"
    days = {"2024-01-20": page(100, True), "2024-06-01": page(500, False)}
    for (day, html), mtime in zip(days.items(), [1_700_000_100, 1_700_000_000]):
        _write_docs(raw, "cash-flow-statement", day,
                    ".cash-flow-statement.html", html, symbols, mtime)

    streamed, batch = str(tmp_path / "ts"), str(tmp_path / "tb")
    for q in S.run_statements_stream(spark, str(raw), streamed,
                                     str(tmp_path / "ck"),
                                     kinds=["cash_flow"]):
        q.awaitTermination(120)
    for day in sorted(days):
        runner.run_statements(spark, str(raw), batch, day, kinds=["cash_flow"])

    want = _table_snapshot(spark, batch, ["cash_flow_statement"])
    # 5 legacy annual rows + 5 current quarterly rows per symbol
    assert len(want["cash_flow_statement"]) == 20
    assert _table_snapshot(spark, streamed, ["cash_flow_statement"]) == want


def test_package_ships_once_under_concurrent_first_calls():
    """Streaming queries started together make their first
    ``ensure_package_on_executors`` calls from several threads at once;
    the package must be added once, not once per racing thread (a second
    add of a half-written zip fails the executors' fetch)."""
    import sys
    import threading
    import time
    from types import SimpleNamespace

    from zacks_estimates_financial_statements_spark import util

    added = []

    class Context:
        def addPyFile(self, path):
            time.sleep(0.05)  # widen the window between check and set
            added.append(path)

    fake = SimpleNamespace(sparkContext=Context())
    start = threading.Barrier(8)

    def first_call():
        start.wait(timeout=10)
        util.ensure_package_on_executors(fake)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=first_call) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(added) == 1
