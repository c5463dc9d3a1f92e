"""Raw-zone archival (sources/raw_zone.py archive_day /
read_archived_documents) — the reference's post-load compression step
(estimate-extract-transform-load.sh:9 `7zr a .../<date>.7z`), modeled
as tar.xz with verify-before-trust semantics and a distributed
read-back that feeds the same parsers as the live folder scan."""

from __future__ import annotations

import os
import shutil
import tarfile

import pytest

from tests.fixtures import estimate_page
from zacks_estimates_financial_statements_spark.parse.estimates import parse_estimates
from zacks_estimates_financial_statements_spark.sources import raw_zone


def _make_day(base, dataset, date, syms):
    folder = base / dataset / date
    folder.mkdir(parents=True)
    for s in syms:
        (folder / f"{s}.detailed-estimates.html").write_text(
            f"<html><body>{s}@{date}</body></html>")
    (folder / "ignore.txt").write_text("not html")
    return folder


def test_archive_day_round_trip_and_idempotence(tmp_path):
    base = tmp_path
    _make_day(base, "estimates", "2024-05-01", ["AAPL", "MSFT", "NVDA"])
    m1 = raw_zone.archive_day(str(base), "estimates", "2024-05-01")
    assert m1["n_members"] == 3 and os.path.exists(m1["archive"])
    assert m1["bytes_out"] > 0
    # idempotent: second call verifies and reuses
    m2 = raw_zone.archive_day(str(base), "estimates", "2024-05-01")
    assert m2["archive"] == m1["archive"]
    # member set: basenames only, suffix-filtered (no ignore.txt)
    with tarfile.open(m1["archive"], "r:xz") as tf:
        names = sorted(m.name for m in tf.getmembers())
    assert names == ["AAPL.detailed-estimates.html",
                     "MSFT.detailed-estimates.html",
                     "NVDA.detailed-estimates.html"]


def test_archive_day_refuses_mismatch_and_missing(tmp_path):
    base = tmp_path
    folder = _make_day(base, "estimates", "2024-05-02", ["AAPL"])
    raw_zone.archive_day(str(base), "estimates", "2024-05-02")
    # source changed after archival: a re-archive must refuse, not clobber
    (folder / "AAPL.detailed-estimates.html").write_text("<html>changed")
    with pytest.raises(ValueError, match="does not match"):
        raw_zone.archive_day(str(base), "estimates", "2024-05-02")
    with pytest.raises(ValueError, match="no raw-zone folder"):
        raw_zone.archive_day(str(base), "estimates", "1999-01-01")
    (base / "estimates" / "2024-05-03").mkdir()
    with pytest.raises(ValueError, match="nothing matching"):
        raw_zone.archive_day(str(base), "estimates", "2024-05-03")


def test_read_archived_documents_distributed(spark, tmp_path):
    base = tmp_path
    for date, syms in (("2024-05-05", ["AAPL", "MSFT"]),
                       ("2024-05-06", ["NVDA"])):
        folder = _make_day(base, "estimates", date, syms)
        raw_zone.archive_day(str(base), "estimates", date)
        shutil.rmtree(folder)   # history lives only in the archives
    df = raw_zone.read_archived_documents(
        spark, str(base / "estimates"), "estimates")
    rows = {(r["act_symbol"], str(r["folder_date"])): r["content"]
            for r in df.collect()}
    assert set(rows) == {("AAPL", "2024-05-05"), ("MSFT", "2024-05-05"),
                         ("NVDA", "2024-05-06")}
    assert rows[("NVDA", "2024-05-06")] == \
        "<html><body>NVDA@2024-05-06</body></html>"


def test_parsing_an_archive_equals_parsing_the_live_folder(spark, tmp_path):
    folder = tmp_path / "estimates" / "2024-12-02"
    folder.mkdir(parents=True)
    for sym, rank in (("AAPL", "1-Strong Buy"), ("MSFT", "3-Hold")):
        (folder / f"{sym}.detailed-estimates.html").write_text(
            estimate_page(rank_text=rank))
    live = raw_zone.read_documents(spark, str(tmp_path), "estimates",
                                   "2024-12-02")
    raw_zone.archive_day(str(tmp_path), "estimates", "2024-12-02")
    archived = raw_zone.read_archived_documents(
        spark, str(tmp_path / "estimates"), "estimates")
    assert archived.columns == live.columns
    want = sorted(parse_estimates(live).collect())
    assert [(r["act_symbol"], r["parse_error"]) for r in want] == \
        [("AAPL", None), ("MSFT", None)]
    assert sorted(parse_estimates(archived).collect()) == want
