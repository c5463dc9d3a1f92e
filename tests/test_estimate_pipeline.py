"""Estimates lifecycle: 6-table fan-out, document-validity gate, upsert
idempotence (FIXTURES scenarios 1, 6)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest

from tests.fixtures import estimate_page
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.parse.estimates import parse_estimates
from zacks_estimates_financial_statements_spark.pipelines import estimate_pipeline as pipe

D = datetime.date
TABLES = ["rank_score", "sales_estimate", "eps_estimate", "eps_revision",
          "eps_perception", "eps_history"]


@pytest.fixture()
def stores(spark, tmp_path):
    return {t: TableStore(spark, str(tmp_path), t) for t in TABLES}


def _parsed(spark, docs):
    df = spark.createDataFrame(
        docs, "act_symbol string, folder_date date, content string")
    return parse_estimates(df)


def test_full_fanout_and_idempotence(spark, stores):
    html = estimate_page()
    parsed = _parsed(spark, [("AAPL", D(2025, 1, 15), html)])
    counters = pipe.load_estimates(parsed, stores)
    assert counters == {"attempted": 1, "loaded": 1, "failed": 0}

    rs = stores["rank_score"].read().collect()
    assert len(rs) == 1 and rs[0]["rank"] == "Hold" and rs[0]["value"] == "A"

    se = {(r["period"]): r for r in stores["sales_estimate"].read().collect()}
    assert len(se) == 4
    cq = se["Current Quarter"]
    assert cq["consensus"] == Decimal("1500000000.000000")
    assert cq["period_end_date"] == D(2024, 12, 31)   # eps date header
    assert cq["count"] == 5
    nq = se["Next Quarter"]
    assert nq["period_end_date"] == D(2025, 3, 31)    # "3/2025" single-digit

    ee = {r["period"]: r for r in stores["eps_estimate"].read().collect()}
    assert ee["Current Quarter"]["recent"] == Decimal("1.120000")
    assert ee["Next Year"]["year_ago"] == Decimal("4.400000")

    rev = {r["period"]: r for r in stores["eps_revision"].read().collect()}
    assert rev["Current Quarter"]["up_7"] == 1
    assert rev["Next Year"]["down_60"] == 1

    per = {r["period"]: r for r in stores["eps_perception"].read().collect()}
    assert per["Current Quarter"]["most_accurate"] == Decimal("1.110000")

    hist = sorted((r["period_end_date"], r["reported"], r["estimate"])
                  for r in stores["eps_history"].read().collect())
    assert len(hist) == 4
    assert hist[-1] == (D(2024, 9, 30), Decimal("1.050000"), Decimal("1.000000"))

    # re-run: no-op everywhere (W1)
    pipe.load_estimates(_parsed(spark, [("AAPL", D(2025, 1, 15), html)]), stores)
    assert stores["eps_history"].read().count() == 4
    assert stores["rank_score"].read().count() == 1


def test_invalid_document_contributes_nothing(spark, stores):
    # rank "NA" -> zacks.rank cast would fail -> whole document rolled back
    bad = estimate_page(rank_text="NANA")  # substring(2) -> "NA"
    good = estimate_page()
    parsed = _parsed(spark, [("BAD", D(2025, 1, 15), bad),
                             ("GOOD", D(2025, 1, 15), good)])
    counters = pipe.load_estimates(parsed, stores)
    assert counters["failed"] == 1 and counters["loaded"] == 1
    assert stores["rank_score"].read().filter("act_symbol = 'BAD'").count() == 0
    assert stores["eps_estimate"].read().filter("act_symbol = 'BAD'").count() == 0
    assert stores["eps_estimate"].read().filter("act_symbol = 'GOOD'").count() == 4
    inv = pipe.invalid_documents(parsed).collect()
    assert [r["act_symbol"] for r in inv] == ["BAD"]


def test_na_cells_are_null_but_document_loads(spark, stores):
    html = estimate_page(eps={
        "consensus": ["NA", "1.20", "4.50", "5.00"],
        "count": ["NA", "7", "8", "8"],
        "recent": ["M", "1.22", "4.55", "5.05"],   # lone M -> NULL
        "high": ["1.20", "1.30", "4.70", "5.20"],
        "low": ["1.00", "1.10", "4.30", "4.80"],
        "year_ago": ["(0.95)", "1.05", "4.00", "4.40"],  # parens stripped
    })
    counters = pipe.load_estimates(
        _parsed(spark, [("AAPL", D(2025, 1, 15), html)]), stores)
    assert counters["loaded"] == 1
    cq = stores["eps_estimate"].read().filter("period = 'Current Quarter'").collect()[0]
    assert cq["consensus"] is None and cq["count"] is None and cq["recent"] is None
    assert cq["year_ago"] == Decimal("0.950000")  # NOT negated


def test_eps_history_conflict_keeps_first(spark, stores):
    h1 = estimate_page(surprise={"reported": ["1.05", "0.98", "0.92", "0.88"],
                                 "estimate": ["1.00", "0.95", "0.90", "0.85"]})
    pipe.load_estimates(_parsed(spark, [("AAPL", D(2025, 1, 15), h1)]), stores)
    # next week: same period_end_dates, different reported values
    h2 = estimate_page(surprise={"reported": ["9.99", "9.99", "9.99", "9.99"],
                                 "estimate": ["9.99", "9.99", "9.99", "9.99"]})
    pipe.load_estimates(_parsed(spark, [("AAPL", D(2025, 1, 22), h2)]), stores)
    hist = stores["eps_history"].read().collect()
    assert len(hist) == 4
    assert all(r["reported"] != Decimal("9.990000") for r in hist)
    # but rank_score gets a second snapshot (date in PK)
    assert stores["rank_score"].read().count() == 2


def test_failed_upsert_releases_loader_caches(spark, stores):
    """A write that raises mid-fan-out must not leave the loader's
    persisted batches cached for the rest of the session."""
    from zacks_estimates_financial_statements_spark.operators.writer import (
        ConcurrentWriteError,
    )
    parsed = _parsed(spark, [("AAPL", D(2025, 1, 15), estimate_page())])
    spark.catalog.clearCache()
    with stores["eps_history"].write_lock():   # another writer holds it
        with pytest.raises(ConcurrentWriteError):
            pipe.load_estimates(parsed, stores)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
