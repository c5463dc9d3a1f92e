"""Financial-statement page parsers — SURVEY §2.3 T5-T7, one Arrow-batched
``mapInPandas`` pass per statement kind, emitting one RAW-string row per
(document, period, report-date-column): the reference's 10-row unroll
(annual/quarterly × fifth…most-recent, e.g.
income-statement-transform-load.rkt:275-276) happens inside the parser.

Positional maps (file:line in /root/reference/):

- income  (income-statement-transform-load.rkt:14-45): divs
  ``#annual_income_statement`` / ``#quarterly_income_statement``; table 1
  rows 1-15, table 2 rows 1-2 (annual only), table 2+offset rows 1-3
  (offset 1 annual / 0 quarterly); header dates ``M/dd/yy``.
- balance  (balance-sheet-transform-load.rkt:14-78): same div ids (reused
  verbatim by the balance-sheet page!); tables 1/2/3 = assets (rows 2-14) /
  liabilities (rows 1-16) / equity (rows 1-8, 10, 11 — row 9 skipped);
  header dates ``M/dd/yyyy``.
- cash-flow current layout (cash-flow-statement-transform-load.2024-02-01.rkt:
  14-60): divs ``#annual_cash_flow_statement`` /
  ``#quarterly_cash_flow_statement``, sub-div 1 rows 2-12, sub-div 2 rows
  1-11; dates ``M/dd/yyyy``.
- cash-flow legacy layout (cash-flow-statement-transform-load.rkt:14-57):
  sections ``#cash_flow_operation`` / ``#cash_flow_use``, annual columns
  only. The reference keeps both cash-flow loaders and the folder date
  picks one; here ``parse_statement_doc`` picks the extractor per
  document from its folder date (``CASH_FLOW_LEGACY_BEFORE``), like the
  estimate parser's score eras, so a batch may span the layout change.

Recency gate (P8): the whole document is skipped when the gate column's
most-recent date is within 15 days of the folder date ("data most likely
using the wrong date", income-statement-transform-load.rkt:100-105 /
:277). Gate column: income → quarterly, balance → quarterly assets,
cash-flow → annual.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator

from pyspark.sql import DataFrame

from zacks_estimates_financial_statements_spark.parse.html import Node, parse_html
from zacks_estimates_financial_statements_spark.schemas import (
    BALANCE_SHEET_ASSETS_COLS,
    BALANCE_SHEET_EQUITY_COLS,
    BALANCE_SHEET_LIABILITIES_COLS,
    CASH_FLOW_STATEMENT_COLS,
    INCOME_STATEMENT_COLS,
)

DATE_COLS = [2, 3, 4, 5, 6]  # most-recent … fifth-most-recent


def _entry_rows(cols: list[str], start_row: int,
                skip_rows: tuple[int, ...] = ()) -> list[tuple[str, int]]:
    out, r = [], start_row
    for c in cols:
        while r in skip_rows:
            r += 1
        out.append((c, r))
        r += 1
    return out


# income: (field, table_id(period_offset), row); offset 1 annual, 0 quarterly
_INCOME_T1 = _entry_rows(INCOME_STATEMENT_COLS[:15], 1)
_INCOME_T2 = _entry_rows(INCOME_STATEMENT_COLS[15:17], 1)   # annual only
_INCOME_T3 = _entry_rows(INCOME_STATEMENT_COLS[17:], 1)     # table 2+offset

_ASSETS = _entry_rows(BALANCE_SHEET_ASSETS_COLS, 2)
_LIABILITIES = _entry_rows(BALANCE_SHEET_LIABILITIES_COLS, 1)
_EQUITY = _entry_rows(BALANCE_SHEET_EQUITY_COLS, 1, skip_rows=(9,))

_CF_PART1 = _entry_rows(CASH_FLOW_STATEMENT_COLS[:11], 2)
_CF_PART2 = _entry_rows(CASH_FLOW_STATEMENT_COLS[11:], 1)

BALANCE_COLS = (BALANCE_SHEET_ASSETS_COLS + BALANCE_SHEET_LIABILITIES_COLS
                + BALANCE_SHEET_EQUITY_COLS)

_KINDS = {
    # kind: (value fields, gate period, date format)
    "income": (INCOME_STATEMENT_COLS, "quarterly", "%m/%d/%y"),
    "balance": (BALANCE_COLS, "quarterly", "%m/%d/%Y"),
    "cash_flow": (CASH_FLOW_STATEMENT_COLS, "annual", "%m/%d/%Y"),
    "cash_flow_legacy": (CASH_FLOW_STATEMENT_COLS, "annual", "%m/%d/%Y"),
}

#: the legacy cash-flow page layout retired on this folder date
CASH_FLOW_LEGACY_BEFORE = datetime.date(2024, 2, 1)


def statement_fields(kind: str) -> list[str]:
    return _KINDS[kind][0]


def statement_schema(kind: str) -> str:
    fields = ["act_symbol string", "folder_date date", "parse_error string",
              "period string", "date_raw string"]
    fields += [f"`{c}` string" for c in statement_fields(kind)]
    return ", ".join(fields)


# ---------------------------------------------------------------------------
# Per-kind cell lookup
# ---------------------------------------------------------------------------


def _div_section(root: Node, section_id: str) -> Node:
    node = root.find_by_id(section_id)
    if node is None:
        raise ValueError(f"no #{section_id}")
    return node


def _cell(scope: Node, table_index: int, part: str, row: int, col: int) -> str:
    tables = list(scope.descendants("table"))
    if table_index > len(tables):
        raise ValueError(f"no table {table_index}")
    part_node = tables[table_index - 1].nth(part, 1)
    tr = part_node.nth("tr", row)
    return tr.nth("th" if part == "thead" else "td", col).text().strip()


def _income_cells(root: Node, period: str, col: int) -> dict[str, str | None]:
    sec = _div_section(root, f"{'annual' if period == 'annual' else 'quarterly'}_income_statement")
    offset = 1 if period == "annual" else 0
    out: dict[str, str | None] = {"date_raw": _cell(sec, 1, "thead", 1, col)}
    for f, r in _INCOME_T1:
        out[f] = _cell(sec, 1, "tbody", r, col)
    for f, r in _INCOME_T2:
        # annual only; quarterly stores NULL (insert CASE at
        # income-statement-transform-load.rkt:216-223)
        out[f] = _cell(sec, 2, "tbody", r, col) if period == "annual" else None
    for f, r in _INCOME_T3:
        out[f] = _cell(sec, 2 + offset, "tbody", r, col)
    return out


def _balance_cells(root: Node, period: str, col: int) -> dict[str, str | None]:
    sec = _div_section(root, f"{'annual' if period == 'annual' else 'quarterly'}_income_statement")
    out: dict[str, str | None] = {"date_raw": _cell(sec, 1, "thead", 1, col)}
    for f, r in _ASSETS:
        out[f] = _cell(sec, 1, "tbody", r, col)
    for f, r in _LIABILITIES:
        out[f] = _cell(sec, 2, "tbody", r, col)
    for f, r in _EQUITY:
        out[f] = _cell(sec, 3, "tbody", r, col)
    return out


def _cash_flow_cells(root: Node, period: str, col: int,
                     legacy: bool) -> dict[str, str | None]:
    if legacy:
        part1 = _div_section(root, "cash_flow_operation")
        part2 = _div_section(root, "cash_flow_use")
    else:
        sec = _div_section(
            root, f"{'annual' if period == 'annual' else 'quarterly'}_cash_flow_statement")
        part1 = sec.nth("div", 1)
        part2 = sec.nth("div", 2)
    out: dict[str, str | None] = {"date_raw": _cell(part1, 1, "thead", 1, col)}
    for f, r in _CF_PART1:
        out[f] = _cell(part1, 1, "tbody", r, col)
    for f, r in _CF_PART2:
        out[f] = _cell(part2, 1, "tbody", r, col)
    return out


def _gate_date_raw(root: Node, kind: str) -> str:
    if kind == "income":
        return _income_cells(root, "quarterly", 2)["date_raw"]
    if kind == "balance":
        sec = _div_section(root, "quarterly_income_statement")
        return _cell(sec, 1, "thead", 1, 2)
    if kind == "cash_flow":
        sec = _div_section(root, "annual_cash_flow_statement")
        return _cell(sec.nth("div", 1), 1, "thead", 1, 2)
    # legacy
    return _cell(_div_section(root, "cash_flow_operation"), 1, "thead", 1, 2)


def parse_statement_doc(act_symbol: str, folder_date: datetime.date,
                        content: str, kind: str) -> list[dict]:
    """One document → up to 10 raw rows (5 annual + 5 quarterly; legacy
    cash-flow: 5 annual only), or error/skip marker rows. A ``cash_flow``
    document dated before ``CASH_FLOW_LEGACY_BEFORE`` is read with the
    legacy extractor."""
    if kind == "cash_flow" and folder_date < CASH_FLOW_LEGACY_BEFORE:
        kind = "cash_flow_legacy"
    fields, gate_period, date_fmt = _KINDS[kind]
    base = {"act_symbol": act_symbol, "folder_date": folder_date,
            "parse_error": None, "period": None, "date_raw": None,
            **dict.fromkeys(fields)}

    def error_row(msg: str, period: str | None = None) -> dict:
        row = dict(base)
        row["parse_error"] = msg
        row["period"] = period
        return row

    try:
        root = parse_html(content)
        gate_raw = _gate_date_raw(root, kind)
        gate_date = datetime.datetime.strptime(gate_raw, date_fmt).date()
    except Exception as exc:  # noqa: BLE001 — reference: "Failed to extract a date"
        return [error_row(f"date_extract:{type(exc).__name__}: {exc}")]

    if (folder_date - gate_date).days <= 15:
        # P8 recency gate: whole document skipped
        return [error_row("recency_gate")]

    periods = ["annual"] if kind == "cash_flow_legacy" else ["annual", "quarterly"]
    rows: list[dict] = []
    for period in periods:
        for col in DATE_COLS:
            try:
                if kind == "income":
                    cells = _income_cells(root, period, col)
                elif kind == "balance":
                    cells = _balance_cells(root, period, col)
                else:
                    cells = _cash_flow_cells(root, period, col,
                                             kind == "cash_flow_legacy")
                row = dict(base)
                row.update(cells)
                row["period"] = period
                rows.append(row)
            except Exception as exc:  # noqa: BLE001 — per-(period,date) rollback
                rows.append(error_row(f"{type(exc).__name__}: {exc}", period))
    return rows


def parse_statements(docs: DataFrame, kind: str) -> DataFrame:
    """(act_symbol, folder_date, content) → per-(period, report-date) raw
    rows for one statement ``kind`` ∈ {income, balance, cash_flow}; the
    cash-flow layout era is chosen per document from its folder date."""
    import pandas as pd

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(docs.sparkSession)

    fields, _, _ = _KINDS[kind]
    columns = ["act_symbol", "folder_date", "parse_error", "period",
               "date_raw"] + fields

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[dict] = []
            for sym, fdate, content in zip(
                    pdf["act_symbol"], pdf["folder_date"], pdf["content"]):
                rows.extend(parse_statement_doc(sym, fdate, content, kind))
            yield pd.DataFrame(rows, columns=columns)

    return docs.select("act_symbol", "folder_date", "content") \
        .mapInPandas(fn, statement_schema(kind))
