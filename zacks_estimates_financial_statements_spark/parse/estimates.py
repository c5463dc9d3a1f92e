"""Detailed-estimates page parser — SURVEY §2.3 T2-T4, as one Arrow-batched
``mapInPandas`` pass emitting a flat wide row of RAW cell strings per
document. All numeric/enum normalization stays JVM-side
(``functions.expressions``); Python only walks the DOM.

Positional map (estimate-transform-load.rkt:79-125):

- ``#detailed_earnings_estimates``: table 1 = sales, table 2 = EPS; columns
  2-5 = Current Quarter / Next Quarter / Current Year / Next Year; thead
  row 1 = "MM/YYYY" dates; sales rows 1-5 = consensus, count, high, low,
  year-ago; EPS rows 1-6 = consensus, count, recent, high, low, year-ago.
- ``#agreement_estimate``: rows 1-6 = up_7, up_30, up_60, down_7, down_30,
  down_60.
- ``#quote_upside``: row 1 = most_accurate.
- ``#surprised_reported``: columns 2-5 = last quarter … four quarters ago;
  rows 1-2 = reported, estimate.

Rank + style scores come from ``#quote_ribbon_v2`` with layout-era
dispatch keyed on folder date (T3/T4, estimate-transform-load.rkt:13-77):
five eras with different div/span indices, table-driven below.

Failure semantics: the reference wraps the whole document in one handler
and rolls back every table on any error (estimate-transform-load.rkt:
168-177); here any extraction error yields a single row with
``parse_error`` set and all data fields NULL — loaders filter on it.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator

from pyspark.sql import DataFrame

from zacks_estimates_financial_statements_spark.parse.html import Node, parse_html

PERIODS = [("cq", 2), ("nq", 3), ("cy", 4), ("ny", 5)]  # → table column
QUARTERS = [("lq", 2), ("q2", 3), ("q3", 4), ("q4", 5)]

_SALES_ROWS = [("consensus", 1), ("count", 2), ("high", 3), ("low", 4),
               ("year_ago", 5)]
_EPS_ROWS = [("consensus", 1), ("count", 2), ("recent", 3), ("high", 4),
             ("low", 5), ("year_ago", 6)]
_REV_ROWS = [("up_7", 1), ("up_30", 2), ("up_60", 3), ("down_7", 4),
             ("down_30", 5), ("down_60", 6)]

#: layout eras for style scores (T4): (cutoff_date, div_a, div_b, span_stride)
#: span index for score n (1-based) is n*stride - (stride - 1).
_SCORE_ERAS = [
    (datetime.date(2018, 10, 7), 2, 2, 1),   # before 2018-10-07
    (datetime.date(2020, 7, 4), 2, 3, 1),    # before 2020-07-04
    (datetime.date(2020, 9, 20), 2, 3, 2),   # pipe spans appear
    (datetime.date(2024, 11, 10), 2, 2, 2),  # before hero section
    (None, 2, 2, 2),                         # current (hero section era)
]


def _score_era(folder_date: datetime.date):
    for cutoff, a, b, stride in _SCORE_ERAS:
        if cutoff is None or folder_date < cutoff:
            return a, b, stride
    raise AssertionError("unreachable")


def _ribbon(root: Node) -> Node:
    rib = root.find_by_id("quote_ribbon_v2", "section")
    if rib is None:
        raise ValueError("no #quote_ribbon_v2 section")
    return rib


def extract_rank(root: Node, folder_date: datetime.date) -> str:
    """T3 — rank paragraph text like ``"3-Hold"`` → ``"Hold"`` (the loader
    keeps ``substring(…, 2)``, estimate-transform-load.rkt:29)."""
    p = _ribbon(root).nth("div", 2).nth("div", 1).nth("p", 1)
    texts = p.text_children()
    raw = texts[1] if len(texts) >= 2 else texts[0]
    return raw.strip()[2:]


def extract_scores(root: Node, folder_date: datetime.date) -> list[str]:
    """T4 — Value/Growth/Momentum/VGM letters with era-dependent indices."""
    div_a, div_b, stride = _score_era(folder_date)
    p = _ribbon(root).nth("div", div_a).nth("div", div_b).nth("p", 1)
    out = []
    for n in range(1, 5):
        span = p.nth("span", n * stride - (stride - 1))
        out.append(span.text().strip())
    return out


def _section_cell(root: Node, section_id: str, table_index: int,
                  part: str, row: int, col: int) -> str:
    """T2 — ``(// section#id table part (tr row) (cell col))``; tables are
    looked up as descendants of the section (lenient vs the reference's
    child axis — Zacks wraps tables in scroll divs in some eras)."""
    section = root.find_by_id(section_id, "section")
    if section is None:
        raise ValueError(f"no #{section_id} section")
    tables = list(section.descendants("table"))
    if table_index > len(tables):
        raise ValueError(f"#{section_id} has no table {table_index}")
    table = tables[table_index - 1]
    part_node = table.nth(part, 1)
    tr = part_node.nth("tr", row)
    cell_tag = "th" if part == "thead" else "td"
    return tr.nth(cell_tag, col).text().strip()


# ---------------------------------------------------------------------------
# Flat wide output schema
# ---------------------------------------------------------------------------

def _period_fields(p: str) -> list[str]:
    return ([f"{p}_eps_date"]
            + [f"{p}_sales_{e}" for e, _ in _SALES_ROWS]
            + [f"{p}_eps_{e}" for e, _ in _EPS_ROWS]
            + [f"{p}_rev_date"] + [f"{p}_{e}" for e, _ in _REV_ROWS]
            + [f"{p}_up_date", f"{p}_most_accurate"])


DATA_FIELDS: list[str] = (
    ["rank", "value", "growth", "momentum", "vgm"]
    + [f for p, _ in PERIODS for f in _period_fields(p)]
    + [f"{q}_{e}" for q, _ in QUARTERS for e in ("date", "reported", "estimate")]
)

FIELDS: list[str] = ["act_symbol", "folder_date", "parse_error"] + DATA_FIELDS

SCHEMA = ", ".join(
    f"`{f}` date" if f == "folder_date" else f"`{f}` string" for f in FIELDS
)


def parse_estimate_doc(act_symbol: str, folder_date: datetime.date,
                       content: str) -> dict:
    """One document → one flat dict of raw strings (or parse_error)."""
    row = dict.fromkeys(FIELDS)
    row["act_symbol"] = act_symbol
    row["folder_date"] = folder_date
    try:
        root = parse_html(content)
        row["rank"] = extract_rank(root, folder_date)
        row["value"], row["growth"], row["momentum"], row["vgm"] = \
            extract_scores(root, folder_date)
        for p, col in PERIODS:
            row[f"{p}_eps_date"] = _section_cell(
                root, "detailed_earnings_estimates", 2, "thead", 1, col)
            for e, r in _SALES_ROWS:
                row[f"{p}_sales_{e}"] = _section_cell(
                    root, "detailed_earnings_estimates", 1, "tbody", r, col)
            for e, r in _EPS_ROWS:
                row[f"{p}_eps_{e}"] = _section_cell(
                    root, "detailed_earnings_estimates", 2, "tbody", r, col)
            row[f"{p}_rev_date"] = _section_cell(
                root, "agreement_estimate", 1, "thead", 1, col)
            for e, r in _REV_ROWS:
                row[f"{p}_{e}"] = _section_cell(
                    root, "agreement_estimate", 1, "tbody", r, col)
            row[f"{p}_up_date"] = _section_cell(
                root, "quote_upside", 1, "thead", 1, col)
            row[f"{p}_most_accurate"] = _section_cell(
                root, "quote_upside", 1, "tbody", 1, col)
        for q, col in QUARTERS:
            row[f"{q}_date"] = _section_cell(
                root, "surprised_reported", 1, "thead", 1, col)
            row[f"{q}_reported"] = _section_cell(
                root, "surprised_reported", 1, "tbody", 1, col)
            row[f"{q}_estimate"] = _section_cell(
                root, "surprised_reported", 1, "tbody", 2, col)
    except Exception as exc:  # noqa: BLE001 — doc-level rollback semantics
        row = dict.fromkeys(FIELDS)
        row["act_symbol"] = act_symbol
        row["folder_date"] = folder_date
        row["parse_error"] = f"{type(exc).__name__}: {exc}"
    return row


def parse_estimates(docs: DataFrame) -> DataFrame:
    """(act_symbol, folder_date, content) → flat wide raw-string rows.

    Runs as ``mapInPandas`` so each Arrow batch of documents is parsed in
    one Python round-trip; at cluster scale parallelism follows the
    binaryFile scan partitions (one task per file-split bundle).
    """
    import pandas as pd

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(docs.sparkSession)

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                parse_estimate_doc(sym, fdate, content)
                for sym, fdate, content in zip(
                    pdf["act_symbol"], pdf["folder_date"], pdf["content"])
            ]
            yield pd.DataFrame(rows, columns=FIELDS)

    return docs.select("act_symbol", "folder_date", "content") \
        .mapInPandas(fn, SCHEMA)
