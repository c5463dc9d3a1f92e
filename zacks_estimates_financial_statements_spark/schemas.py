"""The 12-table data model as explicit Spark StructTypes.

Derived 1:1 from the reference DDL (``/root/reference/schema.sql:18-278``).
Schemas are always explicit — never inferred — because the model is
fixed-schema and inference drifts on all-NULL columns.

Mapping decisions (SURVEY §1.2/§1.4):

- ``numeric`` → ``DecimalType(38, 6)``: statement money values are stored
  ×1e6 (units of dollars, parsed from millions) so need ≥18 integer digits;
  EPS/ratio values need a few fractional digits. 38,6 covers both exactly.
- ``smallint`` → ``ShortType``.
- enums → ``StringType`` (Spark has no enum type); each domain below
  (``schema.sql:3-16``) is written once and holds where rows are made,
  not at write time: the estimate document gate
  (``estimate_pipeline.doc_valid_condition``) rejects ranks and scores
  outside ``RANKS``/``SCORES``; the decoders build their maps from these
  tuples (``expressions.decode_statement_period``, ``decode_when``,
  ``to_integer_rank``, ``estimate_pipeline._PERIOD_ENUM``), so a period
  or ``when`` is in its domain or NULL.
- NOT NULL → the loaders' own filters: the statement and estimate
  validity gates, and the calendar loaders' NOT-NULL filters
  (``calendar_pipeline.load_earnings_calendar`` /
  ``load_dividend_calendar``).
- PKs → uniqueness contract of the writer (``TableStore.upsert_ignore``),
  matching ``INSERT … ON CONFLICT DO NOTHING``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DateType,
    DecimalType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Enum domains (schema.sql:3-16)
# ---------------------------------------------------------------------------

ESTIMATE_PERIODS = ("Current Quarter", "Next Quarter", "Current Year", "Next Year")
RANKS = ("Strong Buy", "Buy", "Hold", "Sell", "Strong Sell")
SCORES = ("A", "B", "C", "D", "F")
STATEMENT_PERIODS = ("Year", "Quarter")
WHENS = ("Before market open", "After market close")

DEC = DecimalType(38, 6)


def _t(*cols: tuple) -> StructType:
    return StructType([
        StructField(name, dtype, nullable) for name, dtype, nullable in cols
    ])


def _dec_cols(names: list[str]) -> list[tuple]:
    return [(n, DEC, True) for n in names]


# ---------------------------------------------------------------------------
# Tables (schema.sql:18-278) — field order matches the DDL
# ---------------------------------------------------------------------------

BALANCE_SHEET_ASSETS_COLS = [
    "cash_and_equivalents", "receivables", "notes_receivable", "inventories",
    "other_current_assets", "total_current_assets",
    "net_property_and_equipment", "investments_and_advances",
    "other_non_current_assets", "deferred_charges", "intangibles",
    "deposits_and_other_assets", "total_assets",
]

BALANCE_SHEET_EQUITY_COLS = [
    "preferred_stock", "common_stock", "capital_surplus", "retained_earnings",
    "other_equity", "treasury_stock", "total_equity",
    "total_liabilities_and_equity", "shares_outstanding",
    "book_value_per_share",
]

BALANCE_SHEET_LIABILITIES_COLS = [
    "notes_payable", "accounts_payable", "current_portion_long_term_debt",
    "current_portion_capital_leases", "accrued_expenses",
    "income_taxes_payable", "other_current_liabilities",
    "total_current_liabilities", "mortgages", "deferred_taxes_or_income",
    "convertible_debt", "long_term_debt", "non_current_capital_leases",
    "other_non_current_liabilities", "minority_interest", "total_liabilities",
]

CASH_FLOW_STATEMENT_COLS = [
    "net_income", "depreciation_amortization_and_depletion",
    "net_change_from_assets", "net_cash_from_discontinued_operations",
    "other_operating_activities", "net_cash_from_operating_activities",
    "property_and_equipment", "acquisition_of_subsidiaries", "investments",
    "other_investing_activities", "net_cash_from_investing_activities",
    "issuance_of_capital_stock", "issuance_of_debt",
    "increase_short_term_debt",
    "payment_of_dividends_and_other_distributions",
    "other_financing_activities", "net_cash_from_financing_activities",
    "effect_of_exchange_rate_changes", "net_change_in_cash_and_equivalents",
    "cash_at_beginning_of_period", "cash_at_end_of_period",
    "diluted_net_eps",
]

INCOME_STATEMENT_COLS = [
    "sales", "cost_of_goods", "gross_profit",
    "selling_administrative_depreciation_amortization_expenses",
    "income_after_depreciation_and_amortization", "non_operating_income",
    "interest_expense", "pretax_income", "income_taxes", "minority_interest",
    "investment_gains", "other_income", "income_from_continuing_operations",
    "extras_and_discontinued_operations", "net_income",
    "income_before_depreciation_and_amortization",
    "depreciation_and_amortization", "average_shares",
    "diluted_eps_before_non_recurring_items", "diluted_net_eps",
]

TABLES: dict[str, StructType] = {
    # schema.sql:18-41
    "balance_sheet_assets": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        *_dec_cols(BALANCE_SHEET_ASSETS_COLS),
    ),
    # schema.sql:43-63
    "balance_sheet_equity": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        *_dec_cols(BALANCE_SHEET_EQUITY_COLS),
    ),
    # schema.sql:65-91
    "balance_sheet_liabilities": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        *_dec_cols(BALANCE_SHEET_LIABILITIES_COLS),
    ),
    # schema.sql:93-125
    "cash_flow_statement": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        *_dec_cols(CASH_FLOW_STATEMENT_COLS),
    ),
    # schema.sql:127-144
    "eps_estimate": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        ("period_end_date", DateType(), False),
        ("consensus", DEC, True), ("recent", DEC, True),
        ("count", ShortType(), True), ("high", DEC, True), ("low", DEC, True),
        ("year_ago", DEC, True),
    ),
    # schema.sql:146-157
    "eps_history": _t(
        ("act_symbol", StringType(), False),
        ("period_end_date", DateType(), False),
        ("reported", DEC, True), ("estimate", DEC, True),
    ),
    # schema.sql:159-171
    "eps_perception": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        ("period_end_date", DateType(), False),
        ("most_accurate", DEC, True),
    ),
    # schema.sql:173-190
    "eps_revision": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        ("period_end_date", DateType(), False),
        ("up_7", ShortType(), True), ("up_30", ShortType(), True),
        ("up_60", ShortType(), True), ("down_7", ShortType(), True),
        ("down_30", ShortType(), True), ("down_60", ShortType(), True),
    ),
    # schema.sql:192-222
    "income_statement": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        *_dec_cols(INCOME_STATEMENT_COLS),
    ),
    # schema.sql:224-238
    "rank_score": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("rank", StringType(), False), ("value", StringType(), False),
        ("growth", StringType(), False), ("momentum", StringType(), False),
        ("vgm", StringType(), False),
    ),
    # schema.sql:240-256
    "sales_estimate": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("period", StringType(), False),
        ("period_end_date", DateType(), False),
        ("consensus", DEC, True), ("count", ShortType(), True),
        ("high", DEC, True), ("low", DEC, True), ("year_ago", DEC, True),
    ),
    # schema.sql:258-266
    "dividend_calendar": _t(
        ("act_symbol", StringType(), False), ("ex_date", DateType(), False),
        ("amount", DEC, False), ("payable_date", DateType(), True),
    ),
    # schema.sql:268-278
    "earnings_calendar": _t(
        ("act_symbol", StringType(), False), ("date", DateType(), False),
        ("when", StringType(), True),
    ),
}

#: primary key (uniqueness contract of the writer) per table — the PK column
#: order mirrors the DDL's PRIMARY KEY clauses.
PRIMARY_KEYS: dict[str, tuple[str, ...]] = {
    "balance_sheet_assets": ("act_symbol", "date", "period"),
    "balance_sheet_equity": ("act_symbol", "date", "period"),
    "balance_sheet_liabilities": ("act_symbol", "date", "period"),
    "cash_flow_statement": ("act_symbol", "date", "period"),
    "eps_estimate": ("date", "act_symbol", "period"),
    "eps_history": ("act_symbol", "period_end_date"),
    "eps_perception": ("date", "act_symbol", "period"),
    "eps_revision": ("date", "act_symbol", "period"),
    "income_statement": ("act_symbol", "date", "period"),
    "rank_score": ("date", "act_symbol"),
    "sales_estimate": ("date", "act_symbol", "period"),
    "dividend_calendar": ("act_symbol", "ex_date"),
    "earnings_calendar": ("act_symbol", "date"),
}

