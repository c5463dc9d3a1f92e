"""Estimates lifecycle: 6-table fan-out, document-validity gate, upsert
idempotence (FIXTURES scenarios 1, 6)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from tests.fixtures import estimate_page
from zacks_estimates_financial_statements_spark.functions import expressions as E
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.parse.estimates import (
    DATA_FIELDS,
    SCHEMA,
    parse_estimate_doc,
    parse_estimates,
)
from zacks_estimates_financial_statements_spark.pipelines import estimate_pipeline as pipe
from zacks_estimates_financial_statements_spark.schemas import DEC, RANKS, SCORES

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


#: one of every cell shape the grammar sees, NULL included
CELLS = ["1.5B", "(2.3)", "M", "NA", "1,234", " 7 ", "abc", None]


def _variant_rows():
    """Fixture-page rows whose cells cycle through ``CELLS``: every
    numeric and count cell, a bad cell in either kind, and bad, padded
    and NULL header dates."""
    base = parse_estimate_doc("BASE", D(2025, 1, 15), estimate_page())
    cells = [f for f in DATA_FIELDS[5:] if not f.endswith("_date")]
    dates = [f for f in DATA_FIELDS if f.endswith("_date")]
    good = [c for c in CELLS if c != "abc"]
    rows = [base]
    for k in range(len(CELLS)):
        for pool in (good, CELLS):
            rows.append({**base, **{c: pool[(i + k) % len(pool)]
                                    for i, c in enumerate(cells)}})
    rows.append({**base, "cq_sales_count": "abc"})
    rows.append({**base, dates[0]: "NA"})
    rows.append({**base, dates[1]: None})
    rows.append({**base, dates[2]: " 3/2025 "})
    rows.append({**base, "rank": "NA"})
    return [{**r, "act_symbol": f"R{i}"} for i, r in enumerate(rows)], cells, dates


def _per_cell_gate(cells, dates):
    """The per-cell document gate the array form replaced (reference)."""
    cond = F.col("parse_error").isNull() & F.col("rank").isin(*RANKS)
    for c in ("value", "growth", "momentum", "vgm"):
        cond = cond & F.col(c).isin(*SCORES)
    for c in dates:
        cond = cond & E.month_end_from_mm_yyyy(F.col(c)).isNotNull()
    for c in cells:
        n = E.normalize_numeric_cell(F.col(c))
        cond = cond & (n.isNull() | n.try_cast(DEC).isNotNull())
    return F.coalesce(cond, F.lit(False))


def test_array_form_matches_per_cell_grammar(spark):
    rows, cells, dates = _variant_rows()
    df = spark.createDataFrame(rows, SCHEMA)
    shorts = [c for c in cells
              if c.endswith("_count") or c.split("_", 1)[1].startswith(("up_", "down_"))]
    nums = [c for c in cells if c not in shorts]
    want = df.select(
        "act_symbol", _per_cell_gate(cells, dates).alias("doc_valid"),
        *[E.clean_numeric_cell(F.col(c)).alias(c) for c in nums],
        *[E.na_to_null(F.trim(F.col(c))).try_cast("smallint").alias(c)
          for c in shorts],
        *[E.month_end_from_mm_yyyy(F.col(c)).alias(c) for c in dates])
    got = pipe.typed_estimates(df).select(
        "act_symbol", "doc_valid",
        *[pipe._typed(c).alias(c) for c in nums + shorts + dates])
    want_rows = {r["act_symbol"]: r.asDict() for r in want.collect()}
    got_rows = {r["act_symbol"]: r.asDict() for r in got.collect()}
    assert got_rows == want_rows
    valid = {s for s, r in want_rows.items() if r["doc_valid"]}
    assert {"R0", "R1", "R20"} <= valid
    assert valid.isdisjoint({"R2", "R17", "R18", "R19", "R21"})
    gate = df.select("act_symbol", F.coalesce(pipe.doc_valid_condition(),
                                              F.lit(False)).alias("ok"))
    assert {r["act_symbol"] for r in gate.collect() if r["ok"]} == valid


def regexp_nodes(df) -> int:
    """``regexp_replace`` nodes in the analyzed plan (its JSON form: the
    printed plan truncates long expression lists)."""
    return df._jdf.queryExecution().analyzed().toJSON().count(
        '"class":"org.apache.spark.sql.catalyst.expressions.RegExpReplace"')


def test_typed_plan_holds_one_copy_of_the_grammar(spark):
    one = regexp_nodes(spark.range(1).select(
        E.normalize_numeric_cell(F.lit("1.5B"))))
    # five regexps; nullif keeps its input once plus the replacement's copy
    assert 0 < one <= 10
    typed = pipe.typed_estimates(spark.createDataFrame([], SCHEMA))
    assert regexp_nodes(typed) == one
    valid = typed.filter("doc_valid")
    assert all(regexp_nodes(b(valid)) == one for b in pipe._BUILDERS.values())
