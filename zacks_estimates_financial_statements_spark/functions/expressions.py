"""Scalar expression kit — SURVEY §2.4 (F1-F16), pure Column-in/Column-out.

Every function here compiles to built-in Catalyst expressions (string ops,
``when`` chains, date arithmetic) so the hot path stays inside
whole-stage codegen; there are no Python UDFs in this module.

Reference semantics are cited per function (file:line into
``/root/reference/``). The tricky ones:

- cell normalization order matters: lone-``"M"`` must become NA *before*
  ``M``→``e6`` expansion (estimate-transform-load.rkt:118-125);
- parentheses are *stripped, not negated* (estimate-transform-load.rkt:123-124);
- prior-quarter arithmetic replicates Postgres's
  ``+ 1 day - 3 months - 1 day`` month-end behavior
  (income-statement-transform-load.rkt:160-163).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.schemas import (
    DEC,
    RANKS,
    STATEMENT_PERIODS,
    WHENS,
)

# ---------------------------------------------------------------------------
# String cell normalization (F1-F5, F15)
# ---------------------------------------------------------------------------


def trim_cell(col: Column) -> Column:
    """F1 — ``string-trim`` on every extracted cell
    (estimate-transform-load.rkt:118)."""
    return F.trim(col)


def expand_magnitude(col: Column) -> Column:
    """F2 — magnitude-suffix expansion: ``"1.5B"``→``"1.5e9"``, ``"2T"``→
    ``"2e12"``, ``"3.1M"``→``"3.1e6"``; a *lone* ``"M"`` cell becomes
    ``"NA"`` first (estimate-transform-load.rkt:119-122). Order matters."""
    c = F.regexp_replace(col, "^M$", "NA")
    c = F.regexp_replace(c, "T", "e12")
    c = F.regexp_replace(c, "B", "e9")
    c = F.regexp_replace(c, "M", "e6")
    return c


def strip_parens(col: Column) -> Column:
    """F3 — remove ``(`` and ``)`` (NOT a sign flip;
    estimate-transform-load.rkt:123-124)."""
    return F.translate(col, "()", "")


def strip_commas(col: Column) -> Column:
    """F4 — thousands-separator removal
    (estimate-transform-load.rkt:125, income-statement-transform-load.rkt:55)."""
    return F.regexp_replace(col, ",", "")


def na_to_null(col: Column) -> Column:
    """F5 — ``'NA'`` sentinel → NULL; pass anything else through
    (estimate-transform-load.rkt:227-246,
    earnings-calendar-transform-load.rkt:96-100)."""
    return F.nullif(col, F.lit("NA"))


def strip_dollar(col: Column) -> Column:
    """F15 — ``"$0.25"`` → ``"0.25"`` (dividend-calendar-transform-load.rkt:106)."""
    return F.regexp_replace(col, r"[$]", "")


def normalize_numeric_cell(col: Column) -> Column:
    """The estimate-cell grammar up to the cast: trim → lone-M→NA →
    magnitude → paren strip → comma strip → NA→NULL
    (estimate-transform-load.rkt:118-125 + the in-SQL ``case 'NA'`` at
    :227-246). Written once, and applied once per plan: the estimate
    loader runs it as the one lambda of a ``transform`` over the array of
    a page's numeric cells (``estimate_pipeline.typed_estimates``), and
    the document gate and the decimal values read that one normalized
    array."""
    return na_to_null(strip_commas(strip_parens(expand_magnitude(trim_cell(col)))))


def clean_numeric_cell(col: Column) -> Column:
    """The full estimate-cell grammar for one cell:
    ``normalize_numeric_cell`` → decimal cast (the registry's
    ``cell_grammar`` query)."""
    # try_cast: unexpected garbage becomes NULL instead of failing the job
    # (Spark 4 ANSI mode makes plain cast throw on malformed input).
    return normalize_numeric_cell(col).try_cast(DEC)


def clean_statement_cell(col: Column) -> Column:
    """Statement-cell grammar: trim → comma strip → NA→NULL → decimal cast
    (income-statement-transform-load.rkt:54-55, :201-226). No magnitude
    suffixes on statement pages; unit scaling is applied separately
    (``scale_millions``)."""
    c = trim_cell(col)
    c = strip_commas(c)
    c = na_to_null(c)
    return c.try_cast(DEC)


def scale_millions(col: Column) -> Column:
    """F7 — statement money cells are published in millions; stored value is
    ×1e6 (income-statement-transform-load.rkt:201-226). The statement
    loader applies it to every money column; the per-share columns it
    leaves unscaled are listed once, in ``statement_pipeline._UNSCALED``."""
    return (col * F.lit(1_000_000)).cast(DEC)


# ---------------------------------------------------------------------------
# Date arithmetic (F8-F11)
# ---------------------------------------------------------------------------


def month_end_from_mm_yyyy(col: Column) -> Column:
    """F8 — ``"MM/YYYY"`` (or ``"M/YYYY"``) header cell → month-end date:
    ``to_date('01/'||cell) + 1 month - 1 day``
    (estimate-transform-load.rkt:226, 253, 281, 311). Postgres ``DD/MM/YYYY``
    parses single-digit months; Spark needs ``d/M/yyyy`` for that.
    ``try_to_date``: malformed (e.g. "NA") → NULL, checked by the loader's
    document-validity gate instead of throwing (ANSI mode)."""
    return F.last_day(F.try_to_date(F.concat(F.lit("01/"), trim_cell(col)), "d/M/yyyy"))


def parse_statement_date(col: Column, fmt: str = "M/dd/yyyy") -> Column:
    """F9 — statement header date parse; income pages use ``"M/dd/yy"``,
    balance/cash-flow ``"M/dd/yyyy"``
    (income-statement-transform-load.rkt:100-102,
    balance-sheet-transform-load.rkt:123-125)."""
    return F.try_to_date(trim_cell(col), fmt)


def prior_period_date(date_col: Column, period_col: Column) -> Column:
    """F10 — key of the prior-period row for the ``should_not_insert`` guard:

    - ``period = 'Year'``: ``date - interval '1 year'`` → ``add_months(-12)``
    - ``period = 'Quarter'``: ``date + 1 day - 3 months - 1 day`` — the
      +1d/-1d trick maps a quarter-end to the previous quarter-end even
      across different month lengths (Mar 31 → Dec 31, Jun 30 → Mar 31).

    (income-statement-transform-load.rkt:157-164,
    balance-sheet-transform-load.rkt:167-174.)
    """
    return F.when(period_col == "Year", F.add_months(date_col, -12)).otherwise(
        F.date_sub(F.add_months(F.date_add(date_col, 1), -3), 1)
    )


def next_quarter_end(date_col: Column) -> Column:
    """A4's projection — ``date + 1 day + 3 months - 1 day``: next expected
    quarter-end after a reporting date, month-end-safe
    (earnings-calendar-transform-load.rkt:126-139)."""
    return F.date_sub(F.add_months(F.date_add(date_col, 1), 3), 1)


# ---------------------------------------------------------------------------
# Enum codecs (F12, F13)
# ---------------------------------------------------------------------------

_STATEMENT_PERIOD_DECODE = dict(zip(("annual", "quarterly"), STATEMENT_PERIODS))

_WHEN_DECODE = dict(zip(("bmo", "amc"), WHENS))

_RANK_TO_INT = {rank: i for i, rank in enumerate(RANKS, 1)}


def _map_literal(col: Column, mapping: dict) -> Column:
    expr = None
    for k, v in mapping.items():
        expr = F.when(col == k, F.lit(v)) if expr is None else expr.when(col == k, F.lit(v))
    return expr.otherwise(F.lit(None))


def decode_statement_period(col: Column) -> Column:
    """F12 — ``'annual'``/``'quarterly'`` → ``'Year'``/``'Quarter'``
    (income-statement-transform-load.rkt:197-200)."""
    return _map_literal(col, _STATEMENT_PERIOD_DECODE)


def decode_when(col: Column) -> Column:
    """F12/F6 — ``'amc'``/``'bmo'`` → enum; ``'--'`` (or anything else) → NULL
    (earnings-calendar-transform-load.rkt:96-100)."""
    return _map_literal(col, _WHEN_DECODE)


def to_integer_rank(col: Column) -> Column:
    """F13 — ``zacks.to_integer_rank``: 'Strong Buy'→1 … 'Strong Sell'→5,
    anything else NULL (schema.sql:280-293)."""
    return _map_literal(col, _RANK_TO_INT).cast("int")


# ---------------------------------------------------------------------------
# Export casts (F14)
# ---------------------------------------------------------------------------


def export_text(col: Column) -> Column:
    """F14 — dump rendering: ``coalesce(x::text, '')``
    (dump-dolt-estimates.rkt:103-108). Dates/decimals render via Spark's
    canonical string cast, matching Postgres ``::text`` for these types."""
    return F.coalesce(col.cast("string"), F.lit(""))
