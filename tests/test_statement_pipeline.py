"""Statement lifecycle: typing/scaling, sni copy-bug guard incl. the
intra-batch sequential chain and quarterly IS-NULL logic (FIXTURES
scenario 2), balance three-table transaction."""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from tests.fixtures import _INCOME_FIELDS, balance_sheet_page, income_statement_page
from tests.test_estimate_pipeline import regexp_nodes
from zacks_estimates_financial_statements_spark.functions import expressions as E
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.parse.statements import (
    BALANCE_COLS,
    parse_statement_doc,
    parse_statements,
    statement_schema,
)
from zacks_estimates_financial_statements_spark.pipelines import statement_pipeline as pipe

D = datetime.date

ANNUAL_DATES_Y = ["12/31/23", "12/31/22", "12/31/21", "12/31/20", "12/31/19"]
QTR_DATES_Y = ["3/31/24", "12/31/23", "9/30/23", "6/30/23", "3/31/23"]
ANNUAL_DATES = ["12/31/2023", "12/31/2022", "12/31/2021", "12/31/2020", "12/31/2019"]
QTR_DATES = ["3/31/2024", "12/31/2023", "9/30/2023", "6/30/2023", "3/31/2023"]


def _vals(fields, base=100):
    return {f: [str(base + i * 1000 + c) for c in range(5)]
            for i, f in enumerate(fields)}


def _income_raw(spark, docs):
    df = spark.createDataFrame(
        docs, "act_symbol string, folder_date date, content string")
    return parse_statements(df, "income")


@pytest.fixture()
def income_store(spark, tmp_path):
    return {"income_statement": TableStore(spark, str(tmp_path), "income_statement")}


def test_income_load_types_and_scaling(spark, income_store):
    av, qv = _vals(_INCOME_FIELDS), _vals(_INCOME_FIELDS, 500)
    html = income_statement_page(ANNUAL_DATES_Y, QTR_DATES_Y, av, qv)
    pipe.load_statement(_income_raw(spark, [("AAPL", D(2024, 6, 1), html)]),
                        "income", income_store)
    rows = income_store["income_statement"].read().collect()
    assert len(rows) == 10
    by_key = {(r["period"], r["date"]): r for r in rows}
    a = by_key[("Year", D(2023, 12, 31))]
    assert a["sales"] == Decimal("100000000")             # x1e6
    assert a["diluted_net_eps"] == Decimal("19100")       # unscaled
    q = by_key[("Quarter", D(2024, 3, 31))]
    assert q["income_before_depreciation_and_amortization"] is None
    assert q["average_shares"] == Decimal("17500000000")


def test_sni_suppresses_copied_year_intra_batch(spark, income_store):
    """Two annual columns with identical values: the newer one must be
    suppressed (Zacks copy bug), evaluated within one batch."""
    av = _vals(_INCOME_FIELDS)
    for f in _INCOME_FIELDS:
        av[f][0] = av[f][1]  # most-recent == second-most-recent
    qv = _vals(_INCOME_FIELDS, 500)
    html = income_statement_page(ANNUAL_DATES_Y, QTR_DATES_Y, av, qv)
    pipe.load_statement(_income_raw(spark, [("AAPL", D(2024, 6, 1), html)]),
                        "income", income_store)
    annual = income_store["income_statement"].read() \
        .filter("period = 'Year'").collect()
    dates = sorted(r["date"] for r in annual)
    # 2023-12-31 suppressed; 2019-2022 inserted
    assert dates == [D(2019, 12, 31), D(2020, 12, 31), D(2021, 12, 31),
                     D(2022, 12, 31)]
    # quarterly untouched
    assert income_store["income_statement"].read() \
        .filter("period = 'Quarter'").count() == 5


def test_sni_against_stored_and_one_diff_col_inserts(spark, income_store):
    av, qv = _vals(_INCOME_FIELDS), _vals(_INCOME_FIELDS, 500)
    html1 = income_statement_page(ANNUAL_DATES_Y, QTR_DATES_Y, av, qv)
    pipe.load_statement(_income_raw(spark, [("AAPL", D(2024, 6, 1), html1)]),
                        "income", income_store)
    # next year's page: 2024 column identical to stored 2023 -> suppressed
    av2 = {f: [av[f][0]] + av[f][:4] for f in _INCOME_FIELDS}
    html2 = income_statement_page(
        ["12/31/24"] + ANNUAL_DATES_Y[:4], ["3/31/25"] + QTR_DATES_Y[:4],
        av2, {f: [qv[f][0]] + qv[f][:4] for f in _INCOME_FIELDS})
    pipe.load_statement(_income_raw(spark, [("AAPL", D(2025, 6, 1), html2)]),
                        "income", income_store)
    assert income_store["income_statement"].read() \
        .filter("period = 'Year' and date = '2024-12-31'").count() == 0
    # same page but one column differs -> inserted
    av3 = dict(av2)
    av3["sales"] = ["999"] + av["sales"][:4]
    html3 = income_statement_page(
        ["12/31/24"] + ANNUAL_DATES_Y[:4], ["3/31/25"] + QTR_DATES_Y[:4],
        av3, {f: [qv[f][0]] + qv[f][:4] for f in _INCOME_FIELDS})
    pipe.load_statement(_income_raw(spark, [("AAPL", D(2025, 6, 2), html3)]),
                        "income", income_store)
    got = income_store["income_statement"].read() \
        .filter("period = 'Year' and date = '2024-12-31'").collect()
    assert len(got) == 1 and got[0]["sales"] == Decimal("999000000")


def test_balance_three_table_transaction(spark, tmp_path):
    stores = {t: TableStore(spark, str(tmp_path), t)
              for t in ("balance_sheet_assets", "balance_sheet_liabilities",
                        "balance_sheet_equity")}
    av, qv = _vals(BALANCE_COLS), _vals(BALANCE_COLS, 500)
    # copy bug ONLY in the assets section: most-recent == second-most-recent
    for f in BALANCE_COLS[:13]:
        av[f][0] = av[f][1]
    html = balance_sheet_page(ANNUAL_DATES, QTR_DATES, av, qv)
    df = spark.createDataFrame([("AAPL", D(2024, 6, 1), html)],
                               "act_symbol string, folder_date date, content string")
    pipe.load_statement(parse_statements(df, "balance"), "balance", stores)
    # assets sni fired for 2023-12-31 -> ALL THREE tables lack that row
    for t in stores:
        dates = sorted(r["date"] for r in stores[t].read()
                       .filter("period = 'Year'").collect())
        assert D(2023, 12, 31) not in dates, t
        assert len(dates) == 4, t
    # scaling: book_value_per_share unscaled
    eq = stores["balance_sheet_equity"].read() \
        .filter("period = 'Year' and date = '2022-12-31'").collect()[0]
    assert eq["book_value_per_share"] == Decimal("38101")
    assert eq["shares_outstanding"] == Decimal("37101000000")


def test_uncastable_cell_drops_row_only(spark, income_store):
    av, qv = _vals(_INCOME_FIELDS), _vals(_INCOME_FIELDS, 500)
    av["sales"][0] = "NA"   # most-recent annual has NA -> that row fails
    html = income_statement_page(ANNUAL_DATES_Y, QTR_DATES_Y, av, qv)
    pipe.load_statement(_income_raw(spark, [("AAPL", D(2024, 6, 1), html)]),
                        "income", income_store)
    rows = income_store["income_statement"].read().collect()
    assert len(rows) == 9
    assert not [r for r in rows
                if r["period"] == "Year" and r["date"] == D(2023, 12, 31)]


def test_legacy_cash_flow_load(spark, tmp_path):
    from tests.fixtures import cash_flow_page
    from zacks_estimates_financial_statements_spark.schemas import CASH_FLOW_STATEMENT_COLS
    from decimal import Decimal
    stores = {"cash_flow_statement": TableStore(spark, str(tmp_path), "cash_flow_statement")}
    av = _vals(CASH_FLOW_STATEMENT_COLS)
    html = cash_flow_page(ANNUAL_DATES, QTR_DATES, av, av, legacy=True)
    # a folder before the 2024-02-01 layout change parses as legacy
    df = spark.createDataFrame([("AAPL", D(2024, 1, 20), html)],
                               "act_symbol string, folder_date date, content string")
    pipe.load_statement(parse_statements(df, "cash_flow"), "cash_flow", stores)
    rows = stores["cash_flow_statement"].read().collect()
    assert len(rows) == 5 and {r["period"] for r in rows} == {"Year"}
    r23 = [r for r in rows if r["date"] == D(2023, 12, 31)][0]
    assert r23["net_income"] == Decimal("100000000")
    assert r23["diluted_net_eps"] == Decimal("21100")


FEB_ANNUAL_Y = ["2/29/24", "2/28/23", "2/28/22", "2/28/21", "2/29/20"]
FEB_QTR_Y = ["5/31/24", "2/29/24", "11/30/23", "8/31/23", "5/31/23"]


@pytest.mark.parametrize("copied", [True, False])
def test_sni_prior_key_month_end_edges(spark, tmp_path, copied):
    """F10 through the fold on a February fiscal year: the annual prior of
    2/29/24 is 2/28/23 (add_months clamps) and the quarterly prior of
    5/31/24 is 2/29/24 (+1 day -3 months -1 day). A copied column at
    either key is suppressed; one changed cell lets it in."""
    store = {"income_statement": TableStore(spark, str(tmp_path), "income_statement")}
    av, qv = _vals(_INCOME_FIELDS), _vals(_INCOME_FIELDS, 500)
    for f in _INCOME_FIELDS:
        av[f][0], qv[f][0] = av[f][1], qv[f][1]
    if not copied:
        av["sales"][0], qv["net_income"][0] = "999", "777"
    html = income_statement_page(FEB_ANNUAL_Y, FEB_QTR_Y, av, qv)
    pipe.load_statement(_income_raw(spark, [("AAPL", D(2024, 7, 1), html)]),
                        "income", store)
    got = {(r["period"], r["date"])
           for r in store["income_statement"].read().collect()}
    newest = {("Year", D(2024, 2, 29)), ("Quarter", D(2024, 5, 31))}
    assert len(got) == (8 if copied else 10)
    assert (newest & got) == (set() if copied else newest)
    # the priors themselves always land
    assert {("Year", D(2023, 2, 28)), ("Quarter", D(2024, 2, 29))} <= got


def test_typed_candidates_match_per_cell_grammar(spark):
    """The array form against the per-cell expressions it replaced:
    the same rows survive validity and carry the same ×1e6 values."""
    cells = ["1.5B", "(2.3)", "M", "NA", "1,234", " 7 ", "abc", None, "12.5"]
    good = [" 7 ", "1,234", None, "12.5"]
    html = balance_sheet_page(ANNUAL_DATES, QTR_DATES, _vals(BALANCE_COLS),
                              _vals(BALANCE_COLS, 500))
    base = parse_statement_doc("B", D(2024, 6, 1), html, "balance")
    rows = []
    for k, r in enumerate(base):
        pool = good if k % 2 else cells
        rows.append({**r, "act_symbol": f"R{k}",
                     **{c: pool[(i + k) % len(pool)]
                        for i, c in enumerate(BALANCE_COLS)}})
    rows.append({**base[0], "act_symbol": "BADDATE", "date_raw": "13/45/2023"})
    raw = spark.createDataFrame(rows, statement_schema("balance"))

    unscaled = pipe._UNSCALED["balance"]
    ok = F.col("parse_error").isNull() & \
        E.parse_statement_date(F.col("date_raw"), "M/dd/yyyy").isNotNull()
    for c in BALANCE_COLS:
        ok = ok & (F.col(c).isNull() | E.clean_statement_cell(F.col(c)).isNotNull())
    want = raw.filter(ok).select("act_symbol", *[
        (E.clean_statement_cell(F.col(c)) if c in unscaled
         else E.scale_millions(E.clean_statement_cell(F.col(c)))).alias(c)
        for c in BALANCE_COLS])
    got = pipe.typed_candidates(raw, "balance").select("act_symbol", *BALANCE_COLS)
    want_rows = sorted(tuple(r) for r in want.collect())
    assert sorted(tuple(r) for r in got.collect()) == want_rows
    assert [r[0] for r in want_rows] == [f"R{k}" for k in range(1, len(base), 2)]
    r1 = got.filter("act_symbol = 'R1'").first().asDict()
    assert r1[BALANCE_COLS[0]] == Decimal("1234000000")   # "1,234" ×1e6


def test_typed_candidates_plan_holds_one_copy_of_the_grammar(spark):
    assert len(BALANCE_COLS) == 39
    one = regexp_nodes(spark.range(1).select(
        E.clean_statement_cell(F.lit("1,234"))))
    assert 0 < one <= 2
    raw = spark.createDataFrame([], statement_schema("balance"))
    assert regexp_nodes(pipe.typed_candidates(raw, "balance")) == one


# -- the fold against the Python walk it replaced -------------------------

def _three_valued_all(pairs) -> bool | None:
    """bool_and of SQL equality comparisons: False dominates, else NULL,
    else True."""
    saw_null = False
    for ok in pairs:
        if ok is False:
            return False
        if ok is None:
            saw_null = True
    return None if saw_null else True


def reference_walk(cands, stored, kind, stats):
    """The per-group Python walk ``apply_sni_chain`` ran before it became
    one Catalyst fold, kept as the reference it is tested against:
    ``cands`` and ``stored`` are one (act_symbol, period) group's rows as
    dicts (candidates carry ``folder_date`` and ``prior_date``)."""
    compare_sets = pipe._sni_compare_sets(kind)
    landed = {r["date"]: r for r in stored}
    accepted = []
    for r in sorted(cands, key=lambda r: (r["folder_date"], r["date"])):
        if r["date"] in landed:
            stats["conflict"] += 1
            continue  # ON CONFLICT DO NOTHING
        prior = landed.get(r["prior_date"])
        sni_any = saw_null = False
        if prior is not None:
            for group in compare_sets:
                pairs = []
                for c in group:
                    if (kind == "income" and r["period"] == "Quarter"
                            and c in pipe._INCOME_NULL_QUARTERLY):
                        pairs.append(prior[c] is None)
                        continue
                    a, b = prior[c], r[c]
                    pairs.append(None if (a is None or b is None) else a == b)
                verdict = _three_valued_all(pairs)
                saw_null |= verdict is None
                if verdict is True:
                    sni_any = True
                    break
        if sni_any:
            stats["fired"] += 1
        else:
            stats["null_kept" if saw_null else "kept"] += 1
            accepted.append(r)
            landed[r["date"]] = r
    return accepted


def _period_ends(period):
    """Consecutive period ends, each the F10 prior of the next."""
    if period == "Year":
        return [D(y, 12, 31) for y in range(2016, 2024)]
    return [D(y, m, 31 if m in (3, 12) else 30)
            for y in range(2021, 2024) for m in (3, 6, 9, 12)]


def _random_groups(rng, kind, n):
    """``n`` seeded (act_symbol, period) groups: a group's rows are one
    base vector over {NULL, 1, 2} with a few cells redrawn from it, so
    copies, alternations and NULL comparisons all occur; stored rows,
    and two folders that may offer the same date. Income Quarter bases
    mostly leave the ``IS NULL``-compared columns NULL, as pages do."""
    cols = pipe._KIND_COLS[kind]
    folders = [D(2024, 1, 5), D(2024, 2, 5)]
    stored, cands = [], []
    for g in range(n):
        period = rng.choice(["Year", "Quarter"])
        ends = _period_ends(period)
        p_null = rng.choice([0, 0, 0.05])
        base = {c: None if rng.random() < p_null else rng.choice([1, 2])
                for c in cols}
        if kind == "income" and period == "Quarter":
            for c in pipe._INCOME_NULL_QUARTERLY:
                base[c] = rng.choice([None, None, None, 1])

        def values():
            v = dict(base)
            for c in rng.sample(cols, rng.choice([0, 0, 1, 2])):
                v[c] = rng.choice([None, 1, 2])
            return v

        key = {"act_symbol": f"S{g}", "period": period}
        for d in rng.sample(ends, rng.randint(0, 3)):
            stored.append({**key, "date": d, **values()})
        for f in folders:
            start = rng.randint(0, len(ends) - 5)
            for i in rng.sample(range(start, start + 5), rng.randint(1, 5)):
                cands.append({**key, "folder_date": f, "date": ends[i],
                              "prior_date": ends[i - 1] if i else None,
                              **values()})
    return stored, cands


@pytest.mark.parametrize("kind", ["income", "balance"])
def test_sni_fold_matches_the_python_walk(spark, kind):
    import random

    rng = random.Random(20 if kind == "income" else 21)
    cols = pipe._KIND_COLS[kind]
    stored, cands = _random_groups(rng, kind, 200)
    dec = lambda r: [None if r[c] is None else Decimal(r[c]) for c in cols]  # noqa: E731
    stored_df = spark.createDataFrame(
        [(r["act_symbol"], r["date"], r["period"], *dec(r)) for r in stored],
        pipe.typed_candidates(spark.createDataFrame(
            [], statement_schema(kind)), kind).drop("folder_date").schema)
    cands_df = spark.createDataFrame(
        [(r["act_symbol"], r["folder_date"], r["date"], r["period"], *dec(r))
         for r in cands],
        pipe.typed_candidates(spark.createDataFrame(
            [], statement_schema(kind)), kind).schema)

    stats = {"conflict": 0, "fired": 0, "null_kept": 0, "kept": 0}
    want = {}
    groups = {}
    for r in stored + cands:
        groups.setdefault((r["act_symbol"], r["period"]), ([], []))[
            "folder_date" in r].append(r)
    for st, cs in groups.values():
        for r in reference_walk(cs, st, kind, stats):
            want[(r["act_symbol"], r["period"], r["date"])] = tuple(dec(r))
    # every branch of the walk is exercised, the three-valued one included
    assert min(stats.values()) >= 20, stats

    got = {(r["act_symbol"], r["period"], r["date"]): tuple(r[c] for c in cols)
           for r in pipe.apply_sni_chain(cands_df, stored_df, kind).collect()}
    assert got == want


def test_duplicate_stored_key_fails_the_chain(spark):
    """A store holding two rows under one primary key is corrupt: the
    fold's ``map_concat`` raises instead of keeping one of them."""
    cands = pipe.typed_candidates(
        spark.createDataFrame([], statement_schema("income")), "income")
    row = ("AAPL", D(2023, 12, 31), "Year",
           *[Decimal(1)] * len(pipe._KIND_COLS["income"]))
    stored = spark.createDataFrame([row, row],
                                   cands.drop("folder_date").schema)
    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
        pipe.apply_sni_chain(cands, stored, "income").collect()


def test_sni_chain_plan_runs_no_python(spark, tmp_path):
    """One ``MapInPandas`` — the page parser, once — and no Python in
    the chain itself."""
    html = income_statement_page(ANNUAL_DATES_Y, QTR_DATES_Y,
                                 _vals(_INCOME_FIELDS),
                                 _vals(_INCOME_FIELDS, 500))
    stored = TableStore(spark, str(tmp_path), "income_statement").read()
    chain = pipe.apply_sni_chain(
        pipe.typed_candidates(
            _income_raw(spark, [("AAPL", D(2024, 6, 1), html)]), "income"),
        stored, "income")
    plan = chain._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    for node in ("FlatMapCoGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython"):
        assert node not in plan, plan


def test_income_load_writes_one_file_per_period(spark, income_store):
    """The fold's output is not cached: a cached plan would keep all the
    groupBy's shuffle partitions and the first write would split into a
    file per partition."""
    html = income_statement_page(ANNUAL_DATES_Y, QTR_DATES_Y,
                                 _vals(_INCOME_FIELDS),
                                 _vals(_INCOME_FIELDS, 500))
    docs = [(f"S{i:02d}", D(2024, 6, 1), html) for i in range(16)]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        pipe.load_statement(_income_raw(spark, docs), "income", income_store)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    live = income_store["income_statement"]._live_dir()
    files = {p: [f for f in os.listdir(os.path.join(live, p))
                 if f.endswith(".parquet")]
             for p in os.listdir(live) if p.startswith("period=")}
    assert sorted(files) == ["period=Quarter", "period=Year"]
    assert [len(f) for f in files.values()] == [1, 1], files
    assert income_store["income_statement"].live_rows() == 160
