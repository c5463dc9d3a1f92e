"""CSV export tests (W8): per-date files, headers, ordering, NULL
rendering, not-null gate, decimal text trimming."""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

from zacks_estimates_financial_statements_spark import export as X

D = datetime.date


def _eps_estimate_df(spark):
    return spark.createDataFrame(
        [("MSFT", D(2025, 1, 15), "Current Quarter", D(2024, 12, 31),
          Decimal("1.5"), Decimal("1.52"), 5, Decimal("1.6"), Decimal("1.4"),
          Decimal("1.3")),
         ("AAPL", D(2025, 1, 15), "Current Quarter", D(2024, 12, 31),
          Decimal("2.25"), None, 7, Decimal("2.4"), Decimal("2.1"),
          Decimal("2.0")),
         ("AAPL", D(2025, 1, 22), "Current Quarter", D(2024, 12, 31),
          Decimal("2.30"), Decimal("2.31"), 7, Decimal("2.5"), Decimal("2.2"),
          Decimal("2.0"))],
        "act_symbol string, date date, period string, period_end_date date, "
        "consensus decimal(38,6), recent decimal(38,6), count short, "
        "high decimal(38,6), low decimal(38,6), year_ago decimal(38,6)")


def test_dump_dat_not_null_gate_and_per_date_files(spark, tmp_path):
    out = str(tmp_path / "dat")
    files = X.dump_dat(_eps_estimate_df(spark), "eps_estimate", out)
    assert [f.split("/")[-1] for f in files] == ["2025-01-15.csv", "2025-01-22.csv"]
    lines = open(files[0]).read().strip().split("\n")
    # AAPL row dropped by the recent-is-null gate; header preserved
    assert lines[0] == "act_symbol,date,period,period_end_date,consensus,recent,count,high,low,year_ago"
    assert lines[1:] == ["MSFT,2025-01-15,Current Quarter,2024-12-31,1.5,1.52,5,1.6,1.4,1.3"]


def test_dump_dolt_coalesces_null_and_orders(spark, tmp_path):
    out = str(tmp_path / "dolt")
    files = X.dump_dolt(_eps_estimate_df(spark), "eps_estimate", out)
    lines = open(files[0]).read().strip().split("\n")
    assert lines[0].startswith("date,act_symbol,period")
    # AAPL sorts first; its NULL recent renders as empty string
    assert lines[1] == "2025-01-15,AAPL,Current Quarter,2024-12-31,2.25,,7,2.4,2.1,2"
    assert lines[2].startswith("2025-01-15,MSFT")


def test_decimal_text_trims_trailing_zeros(spark):
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(Decimal("1.500000"),), (Decimal("2.000000"),), (Decimal("0.123456"),),
         (None,)], "x decimal(38,6)")
    vals = [r[0] for r in df.select(X.decimal_text(F.col("x")).alias("t")).collect()]
    assert vals == ["1.5", "2", "0.123456", None]


def test_reexport_earnings_calendar(spark, tmp_path):
    import datetime
    df = spark.createDataFrame(
        [("AAPL", datetime.date(2024, 5, 9), "After market close"),
         ("MSFT", datetime.date(2024, 5, 1), None),      # outside window
         ("NVDA", datetime.date(2024, 5, 20), None)],
        "act_symbol string, date date, `when` string")
    target, cmds = X.reexport_earnings_calendar(df, str(tmp_path), "2024-05-10")
    lines = open(target).read().strip().split("\n")
    assert lines[0] == "act_symbol,date,when"
    assert lines[1:] == ["AAPL,2024-05-09,After market close",
                         "NVDA,2024-05-20,"]
    assert cmds[0][:2] == ["dolt", "sql"]
    assert any("table" in c for c in cmds[1])


# ---------------------------------------------------------------------------
# Reference dump windows + W9 publish
# ---------------------------------------------------------------------------


def test_default_dump_window_statements_250_days():
    today = D(2026, 8, 13)
    start, end = X.default_dump_window("income_statement", today=today)
    assert end == "2026-08-13"
    assert start == (today - datetime.timedelta(days=250)).isoformat()
    # explicit end anchors the lookback
    start, end = X.default_dump_window("balance_sheet_assets",
                                       end_date="2025-01-01")
    assert (start, end) == ("2024-04-26", "2025-01-01")


def test_default_dump_window_snapshot_and_eps_history():
    today = D(2026, 8, 13)
    assert X.default_dump_window("rank_score", today=today) == \
        ("2026-08-13", "2026-08-13")
    # eps_history widens start by 6 months even when start is explicit
    assert X.default_dump_window("eps_history", today=today) == \
        ("2026-02-13", "2026-08-13")
    assert X.default_dump_window("eps_history", start_date="2025-03-31",
                                 end_date="2025-06-30") == \
        ("2024-09-30", "2025-06-30")
    # month-end clamp (May 31 - 3 months style edge)
    assert X._months_back(D(2025, 3, 31), 1) == D(2025, 2, 28)


def test_publish_sequence_matches_reference_argv():
    cmds = X.publish_sequence(
        "eps_estimate", ["/d/2025-01-15.csv", "/d/2025-01-22.csv"],
        "2025-01-22")
    assert cmds == [
        ["dolt", "table", "import", "-u", "--continue", "eps_estimate",
         "/d/2025-01-15.csv"],
        ["dolt", "table", "import", "-u", "--continue", "eps_estimate",
         "/d/2025-01-22.csv"],
        ["dolt", "add", "eps_estimate"],
        ["dolt", "commit", "-m", "eps_estimate 2025-01-22 update"],
        ["dolt", "push", "--silent"],
    ]


def test_publish_dry_run_and_injected_runner(capsys):
    ran = []
    X.publish("rank_score", ["/d/a.csv"], "/dolt", "2025-01-22",
              run=ran.append)
    assert [c[0:2] for c in ran] == [["dolt", "table"], ["dolt", "add"],
                                     ["dolt", "commit"], ["dolt", "push"]]
    ran.clear()
    X.publish("rank_score", ["/d/a.csv"], "/dolt", "2025-01-22",
              dry_run=True, run=ran.append)
    assert ran == []
    out = capsys.readouterr().out
    assert "DRY-RUN [/dolt] dolt table import -u --continue rank_score" in out
    assert "dolt push --silent" in out


def test_runner_publish_subcommand_dry_run(tmp_path, capsys):
    from zacks_estimates_financial_statements_spark import runner
    (tmp_path / "2025-01-15.csv").write_text("a,b\n1,2\n")
    (tmp_path / "2025-01-22.csv").write_text("a,b\n3,4\n")
    rc = runner.main(["publish", "--table", "eps_estimate",
                      "--out", str(tmp_path), "--dolt-dir", "/var/dolt",
                      "--end-date", "2025-01-22", "--dry-run"])
    assert rc == 0
    out = capsys.readouterr().out
    assert out.count("dolt table import") == 2
    assert "eps_estimate 2025-01-22 update" in out
    assert '"csv_files": 2' in out


def test_publish_gc_appended():
    cmds = X.publish_sequence("income_statement", ["/d/a.csv"],
                              "2025-01-22", gc=True)
    assert cmds[-1] == ["dolt", "gc"]
    assert cmds[-2] == ["dolt", "push", "--silent"]


def test_publish_resolves_relative_csv_paths(capsys):
    # commands run with cwd=dolt_dir: a relative dump path must be
    # resolved before it lands in the import argv, or dolt looks for the
    # file under the dolt dir and the publish aborts
    ran = []
    X.publish("rank_score", ["rel/a.csv"], "/dolt", "2025-01-22",
              run=ran.append)
    assert ran[0][-1] == os.path.abspath("rel/a.csv")
    assert os.path.isabs(ran[0][-1])


def test_runner_dump_dolt_forwards_gc(monkeypatch, tmp_path):
    # the dump-dolt --publish branch must forward --gc like the
    # standalone publish subcommand does (the reference's statements dump
    # ends with one 'dolt gc', dump-dolt-statements.rkt:326)
    from zacks_estimates_financial_statements_spark import runner
    seen = {}

    def fake_publish(table, files, dolt_dir, end, dry_run=False, gc=False,
                     run=None):
        seen["gc"] = gc
        return []

    monkeypatch.setattr(runner.X, "publish", fake_publish)
    monkeypatch.setattr(runner.X, "dump_dolt",
                        lambda df, t, out, s, e: [])
    monkeypatch.setattr(runner, "get_spark",
                        lambda **kw: __import__("types").SimpleNamespace(
                            stop=lambda: None))
    monkeypatch.setattr(runner, "TableStore",
                        lambda spark, root, name:
                        __import__("types").SimpleNamespace(read=lambda: None))
    rc = runner.main(["dump-dolt", "--table", "eps_estimate",
                      "--tables", str(tmp_path), "--out", str(tmp_path),
                      "--publish", "--gc", "--dry-run",
                      "--start-date", "2025-01-01",
                      "--end-date", "2025-01-22"])
    assert rc == 0 and seen["gc"] is True


