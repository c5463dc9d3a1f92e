"""Structured Streaming extension: incremental calendar file pickup,
watermarked windowed aggregation, stateful sessionization."""

from __future__ import annotations

import datetime
import json

from zacks_estimates_financial_statements_spark.streaming import raw_zone_stream as S

D = datetime.datetime


def _write_day_file(base, folder, event_date, rows):
    d = base / folder
    d.mkdir(parents=True, exist_ok=True)
    (d / f"{event_date}.json").write_text(
        "window.app_data = " + json.dumps({"data": rows}))


def test_stream_calendar_incremental_pickup(spark, tmp_path):
    raw = tmp_path / "earnings-calendar"
    _write_day_file(raw, "2024-05-10", "2024-05-15", [["AAPL", "", "", "amc"]])
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        rows = S.stream_calendar_rows(spark, str(raw) + "/*/")
        q = (rows.selectExpr("event_date", "row[0] as act_symbol")
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(r["event_date"], r["act_symbol"])
                for r in spark.read.parquet(out).collect()}

    got = run_once()
    assert got == {(datetime.date(2024, 5, 15), "AAPL")}
    # second day-file arrives; only the new file is processed on rerun
    _write_day_file(raw, "2024-05-11", "2024-05-16", [["MSFT", "", "", "bmo"]])
    got = run_once()
    assert got == {(datetime.date(2024, 5, 15), "AAPL"),
                   (datetime.date(2024, 5, 16), "MSFT")}


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


def _await_rows(spark, q, table, n, timeout_s=90):
    """Poll a memory sink until ``n`` rows arrive (state-timeout queries
    never self-terminate under availableNow), then stop the query."""
    import time

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if spark.sql(f"select count(*) from {table}").collect()[0][0] >= n:
            break
        time.sleep(0.5)
    q.stop()


def test_sessionize_events_stream(spark, tmp_path):
    src = tmp_path / "events_src"
    src.mkdir()
    events = spark.createDataFrame(
        [(1, D(2024, 5, 1, 10, 0)), (1, D(2024, 5, 1, 10, 10)),
         (1, D(2024, 5, 1, 12, 0)),   # > 30 min gap -> new session
         (2, D(2024, 5, 1, 9, 0))],
        "user_id long, ts timestamp")
    events.write.parquet(str(src / "batch1"))

    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(str(src) + "/*"))
    sessions = S.sessionize_events(stream, gap_seconds=1800)
    q = (sessions.writeStream.format("memory").queryName("sessions")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    _await_rows(spark, q, "sessions", 1)
    got = sorted((r["user_id"], str(r["session_start"]), r["n_events"])
                 for r in spark.sql("select * from sessions").collect())
    # the 10:00-10:10 session closed when the 12:00 event arrived; the
    # still-open sessions (12:00 and user 2) remain in state
    assert got == [(1, "2024-05-01 10:00:00", 2)]


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


def test_sessionize_stream_batch_parity(spark, tmp_path):
    """The applyInPandasWithState sessionizer and the window-function
    batch twin must produce identical sessions. A far-future sentinel
    event per user forces every real session closed in the stream."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(42)
    rows = []
    for user in range(1, 4):
        t = 1_700_000_000 + user
        for _ in range(12):
            t += rng.choice([60, 300, 900, 2400, 7200])  # mixed gaps
            rows.append((user, datetime.datetime.utcfromtimestamp(t)))
    sentinel = datetime.datetime(2030, 1, 1)
    stream_rows = rows + [(u, sentinel) for u in range(1, 4)]

    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = (F.col("ts").cast("long")
           - F.lag(F.col("ts").cast("long")).over(w)) > 1800
    sess = (ev.withColumn("ns", F.when(gap.isNull() | ~gap, 0).otherwise(1))
            .withColumn("sid", F.sum("ns").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "sid")
            .agg(F.min("ts").alias("s"), F.max("ts").alias("e"),
                 F.count(F.lit(1)).alias("n")))
    batch = {(r["user_id"], r["s"], r["e"], r["n"])
             for r in sess.collect()}

    src = tmp_path / "ev"
    spark.createDataFrame(stream_rows, "user_id long, ts timestamp") \
        .write.parquet(str(src))
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(str(src)))
    q = (S.sessionize_events(stream, gap_seconds=1800)
         .writeStream.format("memory").queryName("parity_sessions")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    _await_rows(spark, q, "parity_sessions", len(batch))
    streamed = {(r["user_id"], r["session_start"], r["session_end"],
                 r["n_events"])
                for r in spark.sql("select * from parity_sessions").collect()
                if r["session_start"] < sentinel}
    assert streamed == batch and len(batch) > 5


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


def test_dedup_gate_stream_admits_and_quarantines(spark, tmp_path):
    import json as J

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import (
        run_dedup_gate_stream,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    tables = str(tmp_path / "tables")
    ck = str(tmp_path / "ck")

    def drop(name, rows):
        (inbox / name).write_text(
            "\n".join(J.dumps(r) for r in rows) + "\n")

    base = "the quick brown fox jumps over the lazy dog again today"
    drop("b1.jsonl", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": "completely different first-batch text here"},
    ])
    q = run_dedup_gate_stream(spark, str(inbox / "*.jsonl"), tables, ck)
    q.awaitTermination(120)

    corpus = TableStore(spark, tables, "gate_corpus")
    assert {r.doc_id for r in corpus.read().collect()} == {1, 2}

    # batch 2: one exact dup of doc 1, one fresh doc
    drop("b2.jsonl", [
        {"doc_id": 10, "text": base},
        {"doc_id": 11, "text": "a genuinely new document in batch two"},
    ])
    q = run_dedup_gate_stream(spark, str(inbox / "*.jsonl"), tables, ck)
    q.awaitTermination(120)

    assert {r.doc_id for r in corpus.read().collect()} == {1, 2, 11}
    rej = {r.doc_id: (r.matched_id, r.est_jaccard) for r in
           TableStore(spark, tables, "gate_rejects").read().collect()}
    assert rej == {10: (1, 1.0)}
    # the admitted doc's signatures joined the index (probed next batch)
    idx_ids = {r.doc_id for r in
               TableStore(spark, tables, "gate_index").read().collect()}
    assert idx_ids == {1, 2, 11}


def test_dedup_gate_stream_within_batch(spark, tmp_path):
    import json as J

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import (
        run_dedup_gate_stream,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    text = "one single batch carrying two identical documents inside it"
    (inbox / "b1.jsonl").write_text("\n".join(J.dumps(r) for r in [
        {"doc_id": 1, "text": text},
        {"doc_id": 2, "text": text},                      # intra-batch dup
        {"doc_id": 3, "text": "an unrelated document rides along fine"},
    ]) + "\n")
    q = run_dedup_gate_stream(spark, str(inbox / "*.jsonl"),
                              str(tmp_path / "tables"),
                              str(tmp_path / "ck"),
                              dedup_within_batch=True)
    q.awaitTermination(120)
    corpus = {r.doc_id for r in TableStore(
        spark, str(tmp_path / "tables"), "gate_corpus").read().collect()}
    assert corpus == {1, 3}                               # keeper = min id
    rej = {r.doc_id: (r.matched_id, r.est_jaccard) for r in TableStore(
        spark, str(tmp_path / "tables"), "gate_rejects").read().collect()}
    assert rej == {2: (1, None)}


def test_dedup_gate_stream_quality_gate(spark, tmp_path):
    """min_quality routes junk to gate_lowquality BEFORE any sketch
    work; surviving docs still dedup against the stored index."""
    import json as J

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import (
        run_dedup_gate_stream,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    tables = str(tmp_path / "tables")
    ck = str(tmp_path / "ck")
    good = ("the quick brown fox jumps over the lazy dog and then runs "
            "into the forest while the sun sets over the quiet hills")
    (inbox / "b1.jsonl").write_text("\n".join(J.dumps(r) for r in [
        {"doc_id": 1, "text": good},
        {"doc_id": 2, "text": "!!! ### $$$ %%%"},   # symbol soup
    ]) + "\n")
    q = run_dedup_gate_stream(spark, str(inbox / "*.jsonl"), tables, ck,
                              min_quality=0.3)
    q.awaitTermination(120)

    corpus = TableStore(spark, tables, "gate_corpus")
    assert {r.doc_id for r in corpus.read().collect()} == {1}
    lowq = {r.doc_id: r.quality for r in
            TableStore(spark, tables, "gate_lowquality").read().collect()}
    assert set(lowq) == {2} and lowq[2] < 0.3
    # the junk doc never reached the index
    assert {r.doc_id for r in
            TableStore(spark, tables, "gate_index").read().collect()} == {1}

    # batch 2: a dup of doc 1 (quarantined by dedup) + junk (by quality)
    (inbox / "b2.jsonl").write_text("\n".join(J.dumps(r) for r in [
        {"doc_id": 10, "text": good},
        {"doc_id": 11, "text": "!!! ??? ,,, ;;;"},
    ]) + "\n")
    q = run_dedup_gate_stream(spark, str(inbox / "*.jsonl"), tables, ck,
                              min_quality=0.3)
    q.awaitTermination(120)
    assert {r.doc_id for r in corpus.read().collect()} == {1}
    rej = {r.doc_id for r in
           TableStore(spark, tables, "gate_rejects").read().collect()}
    assert rej == {10}
    assert set(r.doc_id for r in
               TableStore(spark, tables, "gate_lowquality").read()
               .collect()) == {2, 11}


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


def test_profile_monitor_stream_flags_drift(spark, tmp_path):
    """Two microbatches: the second's null spike and cardinality
    collapse must land in profile_drift with that epoch; both batches'
    profiles land in profile_history."""
    import json

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "a.jsonl", "w") as f:
        for i in range(200):
            f.write(json.dumps({"doc_id": i, "text": f"alpha {i}",
                                "source": f"s{i % 50}"}) + "\n")
    tables, ckpt = str(tmp_path / "t"), str(tmp_path / "c")
    schema = "doc_id long, text string, source string"

    def run_once():
        q = S.run_profile_monitor_stream(spark, str(src) + "/*.jsonl",
                                         tables, ckpt, schema)
        q.awaitTermination(120)

    run_once()
    hist = TableStore(spark, tables, "profile_history").read()
    assert {r["column"] for r in hist.collect()} == \
        {"doc_id", "text", "source"}
    assert not TableStore(spark, tables, "profile_drift").exists()

    # batch 2: 30% null text, source collapses to one value
    with open(src / "b.jsonl", "w") as f:
        for i in range(200, 400):
            f.write(json.dumps({
                "doc_id": i,
                "text": None if i % 3 == 0 else f"beta {i}",
                "source": "s0"}) + "\n")
    run_once()
    hist2 = TableStore(spark, tables, "profile_history").read()
    assert hist2.select("epoch").distinct().count() == 2
    flagged = {r["column"]: r for r in
               TableStore(spark, tables, "profile_drift").read().collect()}
    assert flagged["text"]["null_drift"]
    assert flagged["source"]["distinct_drift"]
    assert "doc_id" not in flagged


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


def test_dedup_gate_stream_mid_batch_crash_recovery(spark, tmp_path):
    """Kill the dedup-gate foreachBatch MID-epoch — after the epoch's
    first table write (rejects) commits, before corpus/index — restart
    from the checkpoint, and prove the end-state equals an
    uninterrupted run. This is the exactly-once-EFFECT claim the
    PK-upsert design makes (module docstring recovery contract): the
    failed epoch is not committed, the file source replays it, and the
    already-written prefix upserts as a no-op."""
    import json as J

    import pytest
    from pyspark.errors import StreamingQueryException

    from zacks_estimates_financial_statements_spark.operators.writer import TableStore
    from zacks_estimates_financial_statements_spark.streaming.raw_zone_stream import (
        run_dedup_gate_stream,
    )

    base = "the quick brown fox jumps over the lazy dog again today"
    batches = [
        [{"doc_id": 1, "text": base},
         {"doc_id": 2, "text": "completely different first-batch text here"}],
        [{"doc_id": 10, "text": base},  # near-dup of 1 -> rejects write
         {"doc_id": 11, "text": "a genuinely new document in batch two"}],
    ]
    names = ["gate_corpus", "gate_index", "gate_rejects"]

    def drop_all(inbox):
        inbox.mkdir()
        for i, rows in enumerate(batches):
            p = inbox / f"b{i}.jsonl"
            p.write_text("\n".join(J.dumps(r) for r in rows) + "\n")
            # pin file order so batch replay order is deterministic
            import os
            os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    # uninterrupted twin
    drop_all(tmp_path / "inbox_a")
    q = run_dedup_gate_stream(spark, str(tmp_path / "inbox_a" / "*.jsonl"),
                              str(tmp_path / "ta"), str(tmp_path / "cka"))
    q.awaitTermination(120)
    want = _table_snapshot(spark, str(tmp_path / "ta"), names)
    assert [r[0] for r in want["gate_rejects"]] == [10]

    # faulted run: epoch 0 does 2 upserts (corpus, index); epoch 1 does
    # rejects, corpus, index — crash entering its SECOND write (call 4)
    drop_all(tmp_path / "inbox_b")
    tables_b, ck_b = str(tmp_path / "tb"), str(tmp_path / "ckb")
    real = TableStore.upsert_ignore
    calls = {"n": 0}

    def faulty(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 4:
            raise RuntimeError("injected mid-batch crash")
        return real(self, *a, **kw)

    TableStore.upsert_ignore = faulty
    try:
        q = run_dedup_gate_stream(spark, str(tmp_path / "inbox_b" / "*.jsonl"),
                                  tables_b, ck_b)
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(120)
    finally:
        TableStore.upsert_ignore = real
    assert calls["n"] == 4
    # the crash really was mid-batch: epoch 1's rejects write landed,
    # its corpus/index writes did not
    partial = _table_snapshot(spark, tables_b, names)
    assert [r[0] for r in partial["gate_rejects"]] == [10]
    assert sorted(r[0] for r in partial["gate_corpus"]) == [1, 2]

    # restart from the checkpoint: epoch 1 replays whole; PK upserts
    # make the already-written rejects row a no-op
    q = run_dedup_gate_stream(spark, str(tmp_path / "inbox_b" / "*.jsonl"),
                              tables_b, ck_b)
    q.awaitTermination(120)
    assert _table_snapshot(spark, tables_b, names) == want


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
